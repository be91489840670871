#!/bin/bash
# End-to-end oracle compare on one input-robustness axis's corpus — the
# driver-faithful half of the axis specs, which pin the abort contract and
# the engine-side semantics but cannot see VALUES against DuckDB.
#
#   dev/axis_compare.sh nonfinite   # ~4 min each; RESULT: PASS = every
#   dev/axis_compare.sh temporal    # green oracled query matches
#   dev/axis_compare.sh unicode
#
# Axes (the fixture builders are committed in src/test):
#   nonfinite  NaN/±Inf doubles (NonFiniteInputSpec). Exactly 41 queries
#              abort; every one of the 83 green oracled queries (the 93
#              greens minus the 10 rows-only sketch queries) matches DuckDB,
#              including the NaN-ordering-dependent shapes (q18's quartiles
#              rank the NaN balances first in BOTH engines, q09's NaN>5000
#              membership) that the spec only reaches via oracle_probe pin
#              group 6.
#   temporal   year-1/year-9999/epoch-edge/Julian-gap timestamps
#              (TemporalInputSpec). Exactly one abort, q101_gap_fill's
#              designed spine guard (a 0001..9999 user span would
#              materialize ~87.6M hourly rows in BOTH engines); the other
#              122 oracled queries match, i.e. the engines agree on
#              date_trunc/year/datediff/epoch arithmetic over every calendar
#              class the corpus carries (oracle tier: dev/oracle_probe.py
#              group 8).
#   unicode    astral/ZWJ/bidi/NUL/NFC-vs-NFD/CJK/RTL text
#              (UnicodeInputSpec). Zero aborts — pathological text is legal
#              input end-to-end — and an output-dir census of exactly 123
#              oracled + 11 rows-only before the full compare. The four
#              adjudicated engine asymmetries (full-vs-simple case mapping,
#              code-point-vs-byte levenshtein, ASCII-vs-unicode trim) are
#              excluded from the corpus by design and pinned instead: Spark
#              side in UnicodeInputSpec, oracle side in dev/oracle_probe.py
#              group 7.
#
# Method: build the fixture, run graft.Verify on it (an abort prints
# "[verify] ... failed" and leaves no usable output), assert the abort set
# and the compared-set size, flatten the spark-written table dirs to single
# files for verify_local's views, then compare. An aborted query can leave
# an EMPTY output dir (task-level failure after mkdir), so a query counts
# as green only with at least one parquet part. Every count is ASSERTED, not
# echoed: a green query flipping to abort, or an abort leaving a usable
# output dir, would otherwise shrink or widen the compared set while the
# final compare still printed PASS. A FAIL with the axis spec still green
# means the engines' VALUES diverged on that axis's legal extremes — the
# silent class the axis exists to catch.
set -euo pipefail
cd "$(dirname "$0")/.."

# Per axis: fixture main, the line prefix it prints its dir under, the
# adjudicated abort count and the one abort named by the contract (if any),
# the expected green oracled count, and the rows-only census (unicode only;
# set = compare every output, not just the green oracled ones).
ABORT_NAME="" ROWS_ONLY=""
case "${1:-}" in
  nonfinite) MAIN=graft.NonFiniteFixtureMain DIRKEY=NONFINITE_FIXTURE_DIR
             ABORTS=41 ORACLED=83 ;;
  temporal)  MAIN=graft.TemporalFixtureMain DIRKEY=TEMPORAL_FIXTURE_DIR
             ABORTS=1 ABORT_NAME=q101_gap_fill ORACLED=122 ;;
  unicode)   MAIN=graft.UnicodeFixtureMain DIRKEY=UNICODE_FIXTURE_DIR
             ABORTS=0 ORACLED=123 ROWS_ONLY=11 ;;
  *) echo "usage: dev/axis_compare.sh nonfinite|temporal|unicode"; exit 2 ;;
esac
AXIS=$1

[ -d target/scala-2.13/test-classes/graft ] || {
  echo "REFUSE: run 'sbt Test/compile' first"; exit 1; }

echo "=== [1/4] build the $AXIS fixture"
FDIR=$(SPARK_DRIVER_MEM=8g dev/run.sh "$MAIN" 2>/dev/null \
  | sed -n "s/^$DIRKEY=//p")
[ -n "$FDIR" ] || { echo "REFUSE: fixture build printed no dir"; exit 1; }
echo "fixture at $FDIR"

echo "=== [2/4] graft.Verify on the $AXIS corpus"
OUT=$(mktemp -d "/tmp/verify_$AXIS.XXXXXX")
SPARK_GRAFT_CPUS=8 dev/run.sh graft.Verify "$FDIR" "$OUT" \
  2> "$OUT/verify_err.log" >/dev/null || true
N_ABORT=$(grep -c "\[verify\].*failed" "$OUT/verify_err.log" || true)
echo "$N_ABORT queries aborted (expected: the adjudicated $ABORTS)"
[ "$N_ABORT" -eq "$ABORTS" ] || {
  echo "FAIL: abort count $N_ABORT != the adjudicated $ABORTS — re-adjudicate:"
  grep "\[verify\].*failed" "$OUT/verify_err.log" | sed 's/^/  /'
  exit 1
}
if [ -n "$ABORT_NAME" ]; then
  grep "\[verify\].*$ABORT_NAME.*failed" "$OUT/verify_err.log" >/dev/null || {
    echo "FAIL: the single abort is not $ABORT_NAME:"
    grep "\[verify\].*failed" "$OUT/verify_err.log" | sed 's/^/  /'
    exit 1
  }
fi

echo "=== [3/4] flatten table dirs for the oracle's views"
FLAT=$(mktemp -d "/tmp/${AXIS}_flat.XXXXXX")
for t in region nation customer supplier part orders lineitem events \
         documents embeddings; do
  f=$(ls "$FDIR/$t.parquet"/part-*.parquet | head -1)
  ln -s "$f" "$FLAT/$t.parquet"
done

echo "=== [4/4] compare the green oracled queries against DuckDB"
# Line 1: the green oracled set (comma-joined); line 2: its size and the
# number of green rows-only queries.
CENSUS=$(python3 - "$OUT" <<'EOF'
import json, os, glob, sys
out = sys.argv[1]
oracle = json.load(open(f"{out}/oracle_sql.json"))
green = {d for d in os.listdir(out)
         if os.path.isdir(f"{out}/{d}") and glob.glob(f"{out}/{d}/*.parquet")}
print(",".join(sorted(green & set(oracle))))
print(len(green & set(oracle)), len(green - set(oracle)))
EOF
)
ONLY=$(echo "$CENSUS" | sed -n 1p)
COUNTS=$(echo "$CENSUS" | sed -n 2p)
N_ORACLED=${COUNTS% *}
N_ROWS_ONLY=${COUNTS#* }
[ "$N_ORACLED" -eq "$ORACLED" ] || {
  echo "FAIL: green oracled set has $N_ORACLED entries, expected $ORACLED:"
  echo "$ONLY" | tr ',' '\n' | sed 's/^/  /'
  exit 1
}
if [ -n "$ROWS_ONLY" ]; then
  # verify_local.py FAILs on a missing ORACLED output dir, but a rows-only
  # query that aborts leaves no dir and would silently vanish from the
  # rows-only coverage; assert the census before the full compare.
  [ "$N_ROWS_ONLY" -eq "$ROWS_ONLY" ] || {
    echo "FAIL: output-dir census drifted: $N_ORACLED oracled + $N_ROWS_ONLY rows-only (expected $ORACLED + $ROWS_ONLY)"
    exit 1
  }
  echo "output-dir census: $N_ORACLED oracled + $N_ROWS_ONLY rows-only (as designed)"
  python3 dev/verify_local.py "$FLAT" "$OUT" | tail -1
else
  python3 dev/verify_local.py "$FLAT" "$OUT" --only "$ONLY" | tail -1
fi
