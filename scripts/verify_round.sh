#!/usr/bin/env bash
# Pre-snapshot gate: run BEFORE any end-of-round commit.
#
#   bash scripts/verify_round.sh            # full gate (~21 min, 4 cores)
#
# Stages:
#   1. driver-sim  — vanilla SparkSession, every queries() entry vs its
#      DuckDB oracle at sf0.01, zero-cardinality audit (the driver's
#      own contract).
#   2. sf0.1 parity sweep — same oracle comparisons at 10x the rows;
#      rounding-boundary divergence (engine round() semantics on exact
#      .5 products) only manifests with enough rows. This is the net
#      that catches hash bugs that are green at sf0.01.
#   3. full pytest suite — the CLAUDE.md invariant. Includes the
#      misbroadcast canary (tests/test_misbroadcast_canary.py): the
#      scripts/misbroadcast_audit.py classifier over every graded +
#      bench plan at fixture scale, failing on any fact-table
#      broadcast not adjudicated in its allowlists.
#   4. perfbench tests — the benchmark's own suite; it catches breakage
#      of the engine names the benchmark wraps (read_json_document,
#      process_json_document, run_pipeline, get_spark) before a
#      benchmark run does.
#   5. bench smoke — bench.py must print exactly one JSON line, and its
#      BENCH_LOCAL.json must hold engine stats for every headline query.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/5 driver-sim (vanilla session, sf0.01) =="
python scripts/driver_sim.py

echo "== 2/5 oracle parity sweep + tier ANN recall at sf0.1 =="
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1 python -m pytest \
    tests/test_oracle_parity.py "tests/test_ann_recall.py::test_tier_ivf_recall_curve" \
    "tests/test_ann_recall.py::test_tier_pq_rerank_recall_curve" -q

echo "== 3/5 full test suite =="
python -m pytest tests/ -q

echo "== 4/5 perfbench tests =="
python -m pytest perfbench/tests -q

echo "== 5/5 bench smoke (sf0.01) =="
# bench.py rewrites BENCH_LOCAL.json on every run; the smoke's sf0.01
# record is checked, then the committed one is restored on any exit.
if [ -f BENCH_LOCAL.json ]; then
    bench_local_saved=$(mktemp)
    cp BENCH_LOCAL.json "$bench_local_saved"
    trap 'mv "$bench_local_saved" BENCH_LOCAL.json' EXIT
fi
out=$(SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py 2>/dev/null | tail -1)
echo "$out"
python - "$out" <<'EOF'
import json, sys
d = json.loads(sys.argv[1])
assert d["unit"] == "sec" and d["queries"], "bench JSON malformed"
stats = json.load(open("BENCH_LOCAL.json"))["stats"]
missing = [q for q in d["queries"] if stats.get(q, {}).get("jobs", 0) <= 0]
assert not missing, f"no stats entry with jobs > 0: {missing}"
EOF

echo "VERIFY_ROUND: ALL GREEN"
