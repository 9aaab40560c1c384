#!/usr/bin/env python3
"""Scaling-exponent table for SURVEY §7a.1 from Bench JSON lines.

Usage:
  tools/exponents.py P_SF0.1 P_SF1.0 [P_SF3.0|-] [FLAT_SF1.0|-] [FLAT_SF3.0|-]

Each argument is a file containing (anywhere in it) one Bench JSON line
(`{"metric":"total",...}` — raw Bench stdout logs work); `-` marks a
leg that was not run. The first three legs are the PRIMARY curve and
should be the 32-part-file (`GenScale ... 32`) layout — the
cluster-realistic one, where scan parallelism comes from file splits.
The round-12 gate proved flat one-file-per-table exponents are layout
artifacts for scan-bound queries (split starvation read as operator
asymptotics: q1_agg ×5.2 slower flat), so flat legs are the ADVERSARIAL
SIDEBAR: per-query flat-vs-primary delta at sf1.0, and flat e(1→3)
when both flat legs exist.

Exponents (e < 1 is sublinear):
  e(0.1→1) = log10(t_sf1 / t_sf0.1)        (a 10× data step)
  e(1→3)   = log(t_sf3 / t_sf1) / log(3)   (a 3× data step)
The two-step curve separates true asymptotes from the ~0.4-0.6 s fixed
job overhead that flattens small queries' first step.
"""
import json, math, re, sys


def load(p):
    if p is None or p == "-":
        return None
    # take the LAST Bench JSON line: a log that accumulated more than
    # one (a rerun appended, or a wrapper log) must pin/report the
    # freshest run, not silently the oldest (ADVICE r14)
    ms = re.findall(r'\{"metric".*\}', open(p).read())
    if not ms:
        sys.exit(f"no Bench JSON line in {p}")
    return json.loads(ms[-1])


# the declared output-bound audit tiers (Q.auditTier): fallback for
# logs predating the audit_tiers field — current Bench lines carry the
# list themselves
AUDIT_FALLBACK = {"dedup_prefix_filter", "range_join_bucketed"}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    argv = sys.argv[1:] + [None] * 5
    b01, b10, b30, f10, f30 = (load(a) for a in argv[:5])

    # Bench emits %.3f seconds, so a sub-millisecond timing rounds to
    # 0.000; floor ratio denominators at one emit quantum instead of
    # dividing by zero, and test presence with `is not None` so a real
    # 0.0 timing is not misread as missing.
    floor = lambda t: max(t, 0.001)
    rows = []
    for q, t10 in b10["queries"].items():
        t01 = b01["queries"].get(q)
        if t01 is None:
            continue
        e1 = math.log10(floor(t10) / floor(t01))
        t30 = b30["queries"].get(q) if b30 else None
        e3 = (math.log(floor(t30) / floor(t10)) / math.log(3)
              if t30 is not None else float("nan"))
        rows.append((q, t01, t10,
                     t30 if t30 is not None else float("nan"), e1, e3))

    rows.sort(key=lambda r: -(r[5] if r[5] == r[5] else r[4]))
    # the WORKING SET leads (VERDICT r14 item 3): dedup_prefix_filter
    # alone was 91% of the r14 sf3 suite total, so full-suite totals no
    # longer measure the engine — audit tiers report as their own
    # labeled rows after the working set
    audit = set(b10.get("audit_tiers") or AUDIT_FALLBACK)
    w_rows = [r for r in rows if r[0] not in audit]
    a_rows = [r for r in rows if r[0] in audit]

    def leg_total(b, ws=True):
        if b is None:
            return None
        if ws and "working_set" in b:
            return b["working_set"]
        if ws:  # legacy log without the field: derive from queries
            return sum(t for q, t in b["queries"].items() if q not in audit)
        return b["value"]

    hdr = (f"{'query':32s} {'sf0.1':>7s} {'sf1.0':>8s} {'sf3.0':>8s}"
           f" {'e(0.1→1)':>9s} {'e(1→3)':>8s}")
    print("PRIMARY curve — WORKING SET "
          f"({len(w_rows)} queries; audit tiers excluded)\n"
          "(32-part-file layout — cluster-realistic splits)")
    print(hdr)
    for q, t01, t10, t30, e1, e3 in w_rows:
        print(f"{q:32s} {t01:7.2f} {t10:8.2f} {t30:8.2f} {e1:9.2f} {e3:8.2f}")
    w01, w10 = leg_total(b01), leg_total(b10)
    w30 = leg_total(b30)
    line = f"\nworking-set totals: sf0.1 {w01:.1f}s  sf1.0 {w10:.1f}s"
    if w30 is not None:
        line += f"  sf3.0 {w30:.1f}s"
    print(line)
    print(f"working-set ratio 0.1→1 (10× data): {w10 / w01:.2f}"
          f"  (e = {math.log10(w10 / w01):.2f})")
    if w30 is not None:
        print(f"working-set ratio 1→3  (3× data): {w30 / w10:.2f}"
              f"  (e = {math.log(w30 / w10) / math.log(3):.2f})")

    print(f"\nAUDIT TIERS (output-bound by design; scale-safe siblings"
          " are the 100 TB path)")
    for q, t01, t10, t30, e1, e3 in a_rows:
        print(f"{q:32s} {t01:7.2f} {t10:8.2f} {t30:8.2f} {e1:9.2f} {e3:8.2f}")

    line = (f"\nfull-suite totals (incl. audit tiers): sf0.1"
            f" {b01['value']:.1f}s  sf1.0 {b10['value']:.1f}s")
    if b30:
        line += f"  sf3.0 {b30['value']:.1f}s"
    print(line)
    print(f"suite ratio 0.1→1 (10× data): {b10['value'] / b01['value']:.2f}")
    if b30:
        print(f"suite ratio 1→3  (3× data): {b30['value'] / b10['value']:.2f}")

    # resource scaling (round 13): Bench logs carry a per-query
    # "resources" map — shuffle bytes are DETERMINISTIC per (plan,
    # data), so their cross-SF ratio separates the wall-clock exponent's
    # causes: shuffle bytes growing ~linearly while wall clock grows
    # faster = scheduling/spill/skew, not data volume; bytes growing
    # superlinearly = the operator's intermediate really is quadratic.
    if "resources" in b10 and b30 and "resources" in b30:
        print("\nshuffle-write scaling sf1.0 → sf3.0 (3× data; MB and ratio),"
              "\ntop 12 by sf3.0 volume:")
        rows3 = []
        for q, r10 in b10["resources"].items():
            r30 = b30["resources"].get(q)
            if r30 is None:
                continue
            w10, w30 = r10["shuffle_write_mb"], r30["shuffle_write_mb"]
            # gc_ms (round 14): attributes wall inflation the bytes
            # can't — a row whose wall grows superlinearly with linear
            # bytes and ballooning gc is JVM-state contamination, not
            # operator asymptotics
            g30 = r30.get("gc_ms", 0)
            rows3.append((q, w10, w30, w30 / max(w10, 0.01), g30))
        rows3.sort(key=lambda r: -r[2])
        for q, w10, w30, ratio, g30 in rows3[:12]:
            print(f"  {q:32s} {w10:9.1f} {w30:9.1f}  ×{ratio:5.2f}"
                  f"  gc {g30 / 1000.0:6.1f}s")

    # bytes-drift assertion (round 14): each Bench leg carries a
    # "bytes_drift" list — its live shuffle-write compared against the
    # committed per-(label, cores) pin (src/test/resources/bench_bytes.txt;
    # rule in graft.tools.BytePins). Same contract as plan_drift: [] means
    # checked-and-clean, null means the leg's SF label has no pins yet
    # for the core count it ran on.
    # Any non-empty list is a PLAN EVENT (the q5 broadcast->SMJ flip
    # class) — adjudicate it, then re-pin with tools/pin_bytes.py. A
    # nonzero exit here makes the gate fail loudly instead of filing
    # the alarm in a log nobody greps.
    legs = [("sf0.1f32", b01), ("sf1.0f32", b10), ("sf3.0f32", b30),
            ("flat sf1.0", f10), ("flat sf3.0", f30)]
    alarms = []
    print("\nbytes-drift vs committed pins (tools/pin_bytes.py):")
    for name, leg in legs:
        if leg is None:
            continue
        bd = leg.get("bytes_drift")
        state = ("unpinned" if bd is None
                 else "clean" if bd == [] else f"ALARM {bd}")
        print(f"  {name:12s} {state}")
        if bd:
            alarms.append((name, bd))
    if alarms:
        print("BYTES-DRIFT ALARMS — adjudicate before round close, then re-pin")
    else:
        print("bytes-drift alarms: none")

    if f10:
        print("\nFLAT sidebar (adversarial one-file-per-table layout)")
        # working-set totals so the two flat legs stay comparable when
        # the sf3.0 leg excludes the audit tiers (gate leg-shaping)
        print(f"flat working-set totals: sf1.0 {leg_total(f10):.1f}s" +
              (f"  sf3.0 {leg_total(f30):.1f}s" if f30 else ""))
        print("flat vs primary at sf1.0, |delta| > 10% "
              "(positive = flat slower → split-starved):")
        for q, tf in f10["queries"].items():
            tp = b10["queries"].get(q)
            if tp is None:
                continue
            d = (tf - tp) / floor(tp) * 100
            extra = ""
            if f30 and f30["queries"].get(q) is not None:
                ef = math.log(floor(f30["queries"][q]) / floor(tf)) / math.log(3)
                extra = f"  flat e(1→3) {ef:5.2f}"
            if abs(d) > 10:
                print(f"  {q:32s} f32 {tp:7.2f}  flat {tf:7.2f}"
                      f"  ({d:+.0f}%){extra}")

    if alarms:
        sys.exit(2)


if __name__ == "__main__":
    main()
