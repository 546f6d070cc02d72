#!/usr/bin/env bash
# Standard round bench recipe: full local bench -> artifact -> drift gate.
#
#   tools/round_bench.sh <round>            e.g. tools/round_bench.sh r10
#   tools/round_bench.sh <round> <baseline> e.g. tools/round_bench.sh r10 BENCH_LOCAL_r09b.json
#
# Runs the local bench on sf0.1 with a 1200 s budget, up to 5 timed
# headline rounds and up to 3 full rounds (each a default the env
# overrides; Bench admits a round only if it fits the budget), banks
# BENCH_LOCAL_<round>.json from the per-query detail, and runs
# the drift gate against the newest previous BENCH_LOCAL_*.json (or an
# explicit baseline). Exits non-zero when the gate fails, so the recipe
# cannot silently skip it. SPARK_GRAFT_CPUS passes through when set;
# unset, Bench runs at GraftSession's default width.
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: tools/round_bench.sh <round> [baseline.json]}"
OUT="BENCH_LOCAL_${ROUND}.json"
BASELINE="${2:-$(ls -1 BENCH_LOCAL_r*.json 2>/dev/null | grep -v "$OUT" | sort | tail -1 || true)}"

SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_BENCH_BUDGET_S="${SPARK_GRAFT_BENCH_BUDGET_S:-1200}" \
SPARK_GRAFT_BENCH_FULL_ITERS="${SPARK_GRAFT_BENCH_FULL_ITERS:-3}" \
SPARK_GRAFT_BENCH_ITERS="${SPARK_GRAFT_BENCH_ITERS:-5}" \
  sbt -batch "runMain graft.Bench" | tail -20

# bank with the producing commit stamped in, so mid-round vs end-of-round
# artifacts are never ambiguous about which tree produced them
python3 - "$OUT" <<'PY'
import json, subprocess, sys
d = json.load(open("/tmp/bench_full.json"))
d["commit"] = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True).stdout.strip()
json.dump(d, open(sys.argv[1], "w"))
PY
echo "banked $OUT"

# DRIFT_ALLOW=key1,key2 waives documented keys (loudly reported as
# ALLOWED by the gate; per-invocation only, never learned from state)
ALLOW_ARGS=()
[ -n "${DRIFT_ALLOW:-}" ] && ALLOW_ARGS=(--allow "$DRIFT_ALLOW")
if [ -n "$BASELINE" ]; then
  echo "drift gate vs $BASELINE:"
  python3 tools/check_drift.py "${ALLOW_ARGS[@]}" "$BASELINE" "$OUT"
else
  echo "no baseline artifact found - drift gate skipped (first round?)"
fi
