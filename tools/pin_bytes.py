#!/usr/bin/env python3
"""(Re)generate the shuffle-byte pin file from Bench logs.

Usage:
  tools/pin_bytes.py --cores N LABEL=BENCH_LOG [LABEL=BENCH_LOG ...]

N is the core count the logs were taken with (SPARK_GRAFT_CPUS, the
session's local[N]): shuffle volumes follow the partition count, so
each core count has its own pin set. Each LABEL is the SF-dir last
segment Bench will run under (sf0.1, sf1.0f32, sf3.0f32, sf1.0,
sf3.0, ...); each BENCH_LOG is a file containing one Bench JSON line
with a "resources" map. Pins for (label, cores) pairs NOT named are
carried over from the existing file (the fingerprint pin's carry
rule), so a partial re-pin never silently drops coverage.

The pin records each headliner's shuffle_write_mb; Bench compares its
live numbers against the pin for its SF label and core count and emits
`bytes_drift`, or null when that core count has no pins (see
graft.tools.BytePins for the drift rule). Re-pin whenever a
deliberate plan change moves bytes — the same discipline as
PlanFingerprint regeneration.
"""
import json, os, re, sys

PIN = os.path.join(os.path.dirname(__file__), "..",
                   "src/test/resources/bench_bytes.txt")


def load_log(p):
    # take the LAST Bench JSON line: a log that accumulated more than
    # one (a rerun appended to the same file, a wrapper log) must pin
    # the freshest run, never silently the oldest (ADVICE r14)
    ms = re.findall(r'\{"metric".*\}', open(p).read())
    if not ms:
        sys.exit(f"no Bench JSON line in {p}")
    j = json.loads(ms[-1])
    if "resources" not in j:
        sys.exit(f"Bench line in {p} has no resources map")
    return {q: r["shuffle_write_mb"] for q, r in j["resources"].items()}


def main():
    args = sys.argv[1:]
    if len(args) < 3 or args[0] != "--cores" or not args[1].isdigit():
        sys.exit(__doc__)
    cores = int(args[1])
    new = {}
    for a in args[2:]:
        label, _, path = a.partition("=")
        if not path:
            sys.exit(f"bad arg (want LABEL=LOG): {a}")
        for q, mb in load_log(path).items():
            new[(label, cores, q)] = mb
    carried = 0
    if os.path.exists(PIN):
        fresh = {(l, c) for (l, c, _) in new}
        for line in open(PIN):
            if not line.strip():
                continue
            l, c, q, mb = line.split()
            if (l, int(c)) not in fresh:
                new[(l, int(c), q)] = float(mb)
                carried += 1
    with open(PIN, "w") as f:
        for (l, c, q), mb in sorted(new.items()):
            f.write(f"{l} {c} {q} {mb:.2f}\n")
    print(f"wrote {len(new)} byte pins ({carried} carried) to {PIN}")


if __name__ == "__main__":
    main()
