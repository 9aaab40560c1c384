#!/bin/bash
# The STANDING round-close scaling gate (SURVEY.md §7a.1):
#  - correctness at 10×: regenerate the FK-preserving flat sf1.0 dataset
#    (the driver's one-file-per-table layout, so Tables/parity.py read it
#    unchanged), verify every registered key, DuckDB-parity the board;
#  - the PRIMARY exponent curve on the 32-part-file layout (GenScale
#    `files 32`) — the cluster-realistic one, where scan parallelism
#    comes from file splits: sf0.1f32 and sf1.0f32 always, sf3.0f32 with
#    --sf3 (round-12 finding: flat exponents are split-starvation
#    artifacts for scan-bound queries, so flat is no longer the curve);
#  - the FLAT sidebar (adversarial layout): bench flat sf1.0 always,
#    flat sf3.0 with --sf3.
# Run from the repo root; budget ~75 min without --sf3, ~3h with.
# --reuse-data skips a GenScale step when its target directory already
# exists (GenScale is deterministic from /root/testdata/sf0.1, so an
# existing dir from a previous gate run on the same source is
# bit-identical); default regenerates everything.
#
# Bench legs log to $GATE_OUT (default /tmp/sf1_gate); the gate always
# finishes by regenerating the §7a.1 exponent table with
# tools/exponents.py from whatever legs ran (missing legs pass as `-`),
# so the SURVEY numbers can't drift from the run. The evidence COMMITS
# (VERDICT r14 item 1 — /tmp does not survive the sandbox): each Bench
# leg writes its own tools/bench_last_<label>.json, and the gate copies
# its exponent table to tools/exponents_last.txt at the end.
set -euo pipefail
cd "$(dirname "$0")/.."

SF3=0
REUSE=0
for a in "$@"; do
  case "$a" in
    --sf3) SF3=1 ;;
    --reuse-data) REUSE=1 ;;
    --files32) echo "[gate] note: --files32 is now the default primary leg" ;;
    *) echo "unknown arg: $a" >&2; exit 2 ;;
  esac
done

GATE_OUT=${GATE_OUT:-/tmp/sf1_gate}
mkdir -p "$GATE_OUT"
# ONE pinned heap for every bench leg: the exponent curve compares
# timings across SFs, so differing GC pressure between legs (8g at
# sf1.0 vs 24g at sf3.0) would bias e(1→3). 24g is what the sf3 leg
# needs (GCLocker thrash below that); the smaller legs just get
# headroom they don't consume.
BENCH_MEM=${SPARK_DRIVER_MEM:-24g}
CPUS=${SPARK_GRAFT_CPUS:-32}

gen() { # gen <src> <dst> <k> [files]
  if [ "$REUSE" = 1 ] && [ -e "$2" ]; then
    echo "[gate] --reuse-data: keeping existing $2"
  else
    sbt -batch "runMain graft.tools.GenScale $1 $2 $3 ${4:-}"
  fi
}

bench_leg() { # bench_leg <sf-dir> <log-name>
  SPARK_DRIVER_MEM="$BENCH_MEM" SPARK_GRAFT_SF_DIR="$1" \
    SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "runMain graft.Bench" | tee "$GATE_OUT/$2"
  # stdout now carries the resources-ELIDED line (r16: the driver's
  # 2000-char tail capture must hold the whole line); the byte-drift
  # check in exponents.py needs the resources map, so snapshot the
  # full line Bench committed to tools/bench_last_<label>.json
  cp "tools/bench_last_$(basename "$1").json" "$GATE_OUT/$2"
}

# ---- correctness at 10× (flat layout = the driver's) ----
gen /root/testdata/sf0.1 testdata/sf1.0 10
# 16g driver heap: 4 concurrent queries share one executor-memory pool
# and at 6M-row scale the default 8g can starve the heaviest one
# (Verify also retries failures serially, so the gate is double-covered)
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-16g} SPARK_GRAFT_CPUS="$CPUS" \
  sbt -batch "runMain graft.Verify $PWD/testdata/sf1.0 /tmp/verify_sf10"
python3 tools/parity.py "$PWD/testdata/sf1.0" /tmp/verify_sf10

# ---- primary curve: 32-part-file layout at every point ----
gen /root/testdata/sf0.1 testdata/sf0.1f32 1 32
bench_leg "$PWD/testdata/sf0.1f32" bench_sf0.1f32.log
gen /root/testdata/sf0.1 testdata/sf1.0f32 10 32
bench_leg "$PWD/testdata/sf1.0f32" bench_sf1.0f32.log
if [ "$SF3" = 1 ]; then
  gen /root/testdata/sf0.1 testdata/sf3.0f32 30 32
  # audit tiers (Q.auditTier) get ONE timed pass on this leg: their
  # shuffle bytes are deterministic on the measured pass and their
  # walls are output-bound rows reported outside the working set —
  # min-of-3 on a 26-minute row bought ~52 min of leg budget for
  # evidence the rubric already adjudicates separately
  SPARK_GRAFT_AUDIT_PASSES=1 \
    bench_leg "$PWD/testdata/sf3.0f32" bench_sf3.0f32.log
fi

# ---- flat sidebar: the adversarial single-file layout ----
bench_leg "$PWD/testdata/sf1.0" bench_sf1.0.log
if [ "$SF3" = 1 ]; then
  gen /root/testdata/sf0.1 testdata/sf3.0 30
  # the flat sidebar exists to measure LAYOUT deltas; the audit tiers'
  # flat delta is already measured at flat sf1.0 (+24% prefix_filter,
  # r14) and at sf3 they alone would cost ~35 min/pass — excluded here
  SPARK_GRAFT_BENCH_EXCLUDE=dedup_prefix_filter,range_join_bucketed \
    bench_leg "$PWD/testdata/sf3.0" bench_sf3.0.log
fi

# ---- §7a.1 table from whatever legs ran ----
# exponents.py also asserts every leg's bytes_drift list is empty (the
# shuffle-byte twin of plan_drift — see graft.tools.BytePins) and exits
# nonzero on an alarm, which fails the gate AFTER the table is written:
# adjudicate the flagged queries, re-pin with tools/pin_bytes.py --cores
# "$CPUS", rerun.
P30="-"; F30="-"
[ "$SF3" = 1 ] && P30="$GATE_OUT/bench_sf3.0f32.log" && F30="$GATE_OUT/bench_sf3.0.log"
GATE_RC=0
python3 tools/exponents.py "$GATE_OUT/bench_sf0.1f32.log" \
  "$GATE_OUT/bench_sf1.0f32.log" "$P30" \
  "$GATE_OUT/bench_sf1.0.log" "$F30" | tee "$GATE_OUT/exponents.txt" \
  || GATE_RC=$?
# the exponent table is round evidence — commit it with the per-leg
# bench_last_<label>.json files Bench already wrote into tools/
cp "$GATE_OUT/exponents.txt" tools/exponents_last.txt
echo "[gate] §7a.1 table written to $GATE_OUT/exponents.txt and tools/exponents_last.txt"
if [ "$GATE_RC" != 0 ]; then
  echo "[gate] BYTES-DRIFT ALARM (see $GATE_OUT/exponents.txt)"; exit 1
fi
