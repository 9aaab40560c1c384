#!/usr/bin/env python3
"""Alternating parent/change pairs of the end-to-end benchmark.

Usage:
  tools/ab_perfbench.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed S

PARENT_DIR and CHANGE_DIR are two checkouts (e.g. `git clone` the parent
commit beside the change). Each pair runs

  python3 <dir>/perfbench/run.py --workload W --seed S --seconds 8 --trace 0

once in each checkout, switching which side runs first from one pair to
the next, so a slow phase of a shared host lands on both sides. Every run
prints a progress line on stderr. At the end, for each end-to-end metric
of the change's BENCHMARK.json, it prints each side's median and
quartiles, the change's median as a ratio to the parent's, the parent's
quartile spread, and the fraction of pairs the change won (ties count
for neither side); the same block again over only the quiet pairs, where
both sides' steal is known and at most STEAL_PCT, with their count; then
`fail_frac` per side, each side's median host
steal, and one JSON line holding every sample. Each run's
`host_steal_pct` (from run.py's `env` line: the share of the host's CPU
time the hypervisor took during the run) is shown beside its metrics,
and a pair where either side's steal is above STEAL_PCT is marked, since
its timings say more about the host than about the code. A gain is
claimed only when the change wins at least nine tenths of the pairs and
the medians differ by more than the parent's quartile spread.

Nothing under either checkout's perfbench/ is changed: each run builds
and writes only what run.py itself writes there (.build, .cache, .work).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

# Host steal (percent of CPU time) above which a pair's timings are
# marked as disturbed by the host.
STEAL_PCT = 2.0


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def run_once(checkout, workload, seed):
    """One benchmark run; returns ({metric: value}, host steal % or None,
    ok)."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "8",
           "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True,
                       stdin=subprocess.DEVNULL)
    metrics = {}
    steal = None
    for line in p.stdout.splitlines():
        if line.startswith("env "):
            try:
                steal = json.loads(line[4:]).get("host_steal_pct")
            except ValueError:
                pass
            continue
        parts = line.split()
        if len(parts) == 4 and parts[0] == "metric":
            try:
                metrics[parts[1]] = float(parts[2])
            except ValueError:
                pass
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
    return metrics, steal, p.returncode == 0


def end_to_end(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]


def summarize(metrics, runs):
    """Per end-to-end metric over (parent run, change run) pairs: each
    side's median and quartiles, the ratio of the medians, the parent's
    quartile spread and the change's win share."""
    for name, better in metrics:
        pairs = [(p["metrics"].get(name), c["metrics"].get(name))
                 for p, c in runs]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"{name}: not measured")
            continue
        wins = sum(1 for p, c in pairs
                   if (c < p if better == "lower" else c > p))
        pq = quartiles([p for p, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        print(f"{name}: parent median {pq[1]:.4g} [q1 {pq[0]:.4g}, "
              f"q3 {pq[2]:.4g}]  change median {cq[1]:.4g} [q1 {cq[0]:.4g}, "
              f"q3 {cq[2]:.4g}]  change/parent {ratio:.3f}  parent IQR "
              f"{pq[2] - pq[0]:.4g}  change won {wins}/{len(pairs)} "
              f"({wins / len(pairs):.2f}, {better} is better)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed", required=True, type=int)
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            m, steal, ok = run_once(sides[side], args.workload, args.seed)
            runs[side].append({"metrics": m, "steal": steal, "ok": ok})
            shown = " ".join(f"{k}={m[k]:.4g}" for k in sorted(m))
            print(f"pair {i + 1}/{args.pairs} {side}: "
                  f"{'ok' if ok else 'FAILED'} steal={steal}% {shown}",
                  file=sys.stderr, flush=True)

    print(f"workload {args.workload}, seed {args.seed}, {args.pairs} pairs "
          f"(run.py --seconds 8 --trace 0, alternating order)")
    metrics = end_to_end(sides["change"])
    both = list(zip(runs["parent"], runs["change"]))
    summarize(metrics, both)
    quiet = [(p, c) for p, c in both
             if all(r["steal"] is not None and r["steal"] <= STEAL_PCT
                    for r in (p, c))]
    print(f"quiet pairs (both sides' host steal <= {STEAL_PCT:g}%): "
          f"{len(quiet)}/{len(both)}")
    summarize(metrics, quiet)
    for side in ("parent", "change"):
        fr = [r["metrics"].get("fail_frac") for r in runs[side]]
        failed = sum(1 for r in runs[side] if not r["ok"])
        steals = [r["steal"] for r in runs[side] if r["steal"] is not None]
        med = f"{statistics.median(steals):.1f}%" if steals else "unknown"
        print(f"{side}: fail_frac {fr}  runs failed {failed}/{len(fr)}  "
              f"median host steal {med}")
    for i, (p, c) in enumerate(zip(runs["parent"], runs["change"])):
        high = [s for s in (p["steal"], c["steal"])
                if s is not None and s > STEAL_PCT]
        mark = f"  HOST STEAL > {STEAL_PCT:g}%" if high else ""
        print(f"pair {i + 1}: steal parent {p['steal']}% change "
              f"{c['steal']}%{mark}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "pairs": args.pairs, "runs": runs}))


if __name__ == "__main__":
    main()
