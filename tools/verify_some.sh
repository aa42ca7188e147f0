#!/bin/bash
# Builder-side helper: oracle-verify a comma-separated query list at one or
# both scale factors. Usage: tools/verify_some.sh q154_triangles[,q236_...] [sf0.01|sf0.1|both]
set -e
QUERIES="$1"
SCOPE="${2:-both}"
cd "$(dirname "$0")/.."
run_one() {
  local sf="$1"
  local out="/tmp/verify_some_${sf}"
  rm -rf "$out"
  SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" sbt -batch \
    "runMain graft.Verify /root/testdata/$sf $out" 2>&1 | grep -E "FAILED" || true
  python3 tools/check_correctness.py "/root/testdata/$sf" "$out"
}
if [ "$SCOPE" = "both" ]; then run_one sf0.01; run_one sf0.1; else run_one "$SCOPE"; fi
