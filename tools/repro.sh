#!/usr/bin/env bash
# One-command reproduction of the repo's whole evidence chain:
#
#   1. build + unit/property specs        (sbt test)
#   2. correctness dump at sf0.01         (graft.Verify)
#   3. DuckDB oracle hash-compare         (tools/check_oracle.py — mirrors
#                                          the driver's CORRECTNESS gate)
#   4. clean-run benchmark at sf0.1       (graft.Bench — JSON with clean
#                                          flag, per-query spreads,
#                                          ceiling-breach list)
#   5. gated-benchmark self-test          (perfbench/run.py --self-test —
#                                          the harness BENCHMARK.json runs)
#
# Usage: tools/repro.sh [sf_dir=/root/testdata/sf0.01] [bench_sf_dir=/root/testdata/sf0.1]
#   REPRO_SKIP_TESTS=1  skip step 1
#   REPRO_SKIP_BENCH=1  skip steps 4-5 (e.g. on a busy host — the bench
#                       stamps contention evidence, but won't be 'clean')
#   REPRO_QUERIES=a,b   restrict steps 2-3 to a comma-separated subset
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
BENCH_SF_DIR="${2:-/root/testdata/sf0.1}"
OUT="$(mktemp -d /tmp/graft_repro.XXXXXX)"

echo "== graft repro: verify=$SF_DIR bench=$BENCH_SF_DIR out=$OUT"

if [[ -z "${REPRO_SKIP_TESTS:-}" ]]; then
  echo "== [1/5] sbt test"
  sbt -batch test
else
  echo "== [1/5] skipped (REPRO_SKIP_TESTS)"
fi

echo "== [2/5] correctness dump -> $OUT"
if [[ -n "${REPRO_QUERIES:-}" ]]; then
  sbt -batch "runMain graft.Verify $SF_DIR $OUT $REPRO_QUERIES"
else
  sbt -batch "runMain graft.Verify $SF_DIR $OUT"
fi

echo "== [3/5] DuckDB oracle compare"
if [[ -n "${REPRO_QUERIES:-}" ]]; then
  # subset mode: queries not dumped report 'no spark output' — show only
  # the dumped ones (their PASS/FAIL lines; the global tally counts the
  # undumped rest as failures, so it's dropped too)
  python3 tools/check_oracle.py "$SF_DIR" "$OUT" \
    | grep -vE "no spark output|pass / " || true
  echo "(subset: $REPRO_QUERIES)"
else
  python3 tools/check_oracle.py "$SF_DIR" "$OUT"
fi

if [[ -z "${REPRO_SKIP_BENCH:-}" ]]; then
  echo "== [4/5] bench at $BENCH_SF_DIR (needs an idle host for clean:true)"
  SPARK_GRAFT_SF_DIR="$BENCH_SF_DIR" SPARK_GRAFT_CPUS=32 \
    sbt -batch 'runMain graft.Bench' | grep -E '^\[info\] \{|^\{' || true
  echo "== [5/5] perfbench self-test"
  python3 perfbench/run.py --self-test
else
  echo "== [4-5/5] skipped (REPRO_SKIP_BENCH)"
fi

echo "== repro complete; correctness artifacts in $OUT"
