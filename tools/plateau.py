#!/usr/bin/env python3
"""Bench-plateau adjudication table (VERDICT r12 #3).

Usage: tools/plateau.py PASS1.log PASS2.log ... [--ref REF.json]

Each PASS file is one Bench run's stdout (same commit, same host, back
to back). Prints per-query min/median/MAD across the passes, plus the
delta of the 5-pass min vs the reference's per-query reading when
--ref is given (a BENCH_r*.json or a Bench log both work — the JSON
line is regexed out of either). The question this answers: is the
round-9..12 28-30 s board vs the round-8 25.0 s baseline a real creep
(reproduces across consecutive quiet passes) or host contention
(min-of-5 lands at the baseline level and the spread absorbs the rest)?
"""
import json, re, statistics, sys


def load(p):
    txt = open(p).read()
    # last match: a log holding more than one Bench line must report
    # the freshest run (ADVICE r14, same rule as pin_bytes.py)
    ms = re.findall(r'\{"metric".*\}', txt)
    if ms:
        return json.loads(ms[-1])
    # driver BENCH_r*.json files embed the Bench line escape-quoted
    # inside their "tail" string field — unwrap and retry
    try:
        d = json.loads(txt)
        for v in d.values():
            if isinstance(v, str):
                m = re.search(r'\{"metric".*\}', v)
                if m:
                    return json.loads(m.group(0))
    except (json.JSONDecodeError, UnicodeDecodeError):
        pass
    sys.exit(f"no Bench JSON line in {p}")


def main():
    args = sys.argv[1:]
    ref = None
    if "--ref" in args:
        i = args.index("--ref")
        ref = load(args[i + 1])
        args = args[:i] + args[i + 2:]
    if len(args) < 2:
        sys.exit(__doc__)
    runs = [load(a) for a in args]
    # a query that failed in a pass is absent from that pass's map:
    # take every query any pass timed, and its min/median over the
    # passes that timed it
    queries = list(dict.fromkeys(q for r in runs for q in r["queries"]))

    # working set leads (VERDICT r14 item 3): audit tiers are
    # output-bound by design and would otherwise dominate totals
    audit = set(runs[0].get("audit_tiers")
                or {"dedup_prefix_filter", "range_join_bucketed"})

    def ws(r):
        if "working_set" in r:
            return r["working_set"]
        return sum(t for q, t in r["queries"].items() if q not in audit)

    print(f"{len(runs)} passes; working-set totals: " +
          "  ".join(f"{ws(r):.1f}s" for r in runs) +
          f"  (audit tiers {sorted(audit)} excluded)")
    print("full totals: " + "  ".join(f"{r['value']:.1f}s" for r in runs))
    print("failed: " + "  ".join(str(r.get("failed", [])) for r in runs))
    hdr = f"{'query':32s} {'min':>7s} {'median':>7s} {'mad':>6s}"
    if ref:
        hdr += f" {'ref':>7s} {'min/ref':>8s}"
    print(hdr)
    tmin_sum = 0.0
    ref_sum = 0.0
    rows = []
    for q in queries:
        ts = sorted(r["queries"][q] for r in runs if q in r["queries"])
        med = statistics.median(ts)
        mad = statistics.median(abs(t - med) for t in ts)
        row = (q, ts[0], med, mad)
        tmin_sum += ts[0]
        if ref:
            rq = ref["queries"].get(q)
            ref_sum += rq or 0.0
            rows.append(row + (rq, ts[0] / rq if rq else float("nan")))
        else:
            rows.append(row + (None, None))
    # worst min/ref first when a reference exists, else widest mad first
    rows.sort(key=lambda r: -(r[5] if r[5] is not None else r[3]))
    for q, mn, med, mad, rq, ratio in rows:
        line = f"{q:32s} {mn:7.2f} {med:7.2f} {mad:6.2f}"
        if rq is not None:
            line += f" {rq:7.2f} {ratio:8.2f}"
        print(line)
    ws_min_sum = sum(r[1] for r in rows if r[0] not in audit)
    print(f"\nworking-set sum of per-query mins: {ws_min_sum:.1f}s")
    # the baseline/2x verdict stays on the FULL frozen-30 sum —
    # BASELINE.json is defined over that set
    line = f"sum of per-query mins: {tmin_sum:.1f}s"
    if ref:
        line += (f"  ref total {ref['value']:.1f}s"
                 f"  (min-sum/ref = {tmin_sum / ref['value']:.2f})")
    print(line)


if __name__ == "__main__":
    main()
