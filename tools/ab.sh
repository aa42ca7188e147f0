#!/bin/bash
# Pooled A/B benchmark of a base ref against the working tree.
#
#   tools/ab.sh <base-ref> <workload> <pairs>
#
# Makes two fresh local clones under a temp dir (honours TMPDIR): one of
# <base-ref>, one of the working tree as it is now (tracked and untracked,
# non-ignored files, committed or not). Each side builds once, on its first
# run. Pair i runs seed i on both sides, base first on odd pairs and working
# tree first on even pairs, each run as
#   python3 perfbench/run.py --workload <workload> --seed i --seconds 14 --trace 0
# Prints one line per run (side, seed, 1-minute loadavg before the run, the
# run's correctness and metrics), then the summary and per-metric verdict of
# tools/ab_verdict.py (gain, worse or unresolved). The clones are deleted on
# exit. Exits 1 after the summary when any run printed no result, failed its
# output check or had failed ops: such a side's timings are not comparable.
set -euo pipefail
if [ $# -ne 3 ]; then
  echo "usage: $0 <base-ref> <workload> <pairs>" >&2
  exit 2
fi
BASE="$1"
WORKLOAD="$2"
PAIRS="$3"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
BASE_SHA="$(git -C "$REPO" rev-parse --verify "$BASE^{commit}")"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/graft-ab.XXXXXX")"
trap 'rm -rf "$WORK"' EXIT

# the working tree as a commit object: a throwaway index, so neither the
# real index nor any ref changes
export GIT_INDEX_FILE="$WORK/index"
git -C "$REPO" read-tree HEAD
git -C "$REPO" add -A
TREE_SHA="$(git -C "$REPO" commit-tree "$(git -C "$REPO" write-tree)" -p HEAD -m "working tree")"
unset GIT_INDEX_FILE

# a local clone copies every object, so both commits can be checked out
for side in base tree; do
  sha="$BASE_SHA"; [ "$side" = tree ] && sha="$TREE_SHA"
  git clone -q --no-checkout "$REPO" "$WORK/$side"
  git -C "$WORK/$side" checkout -q --detach "$sha"
done
echo "base $BASE_SHA, working tree $TREE_SHA, $WORKLOAD, $PAIRS pairs, clones in $WORK"

run() {  # side seed
  local load out
  load="$(cut -d' ' -f1 /proc/loadavg)"
  # a run whose output check failed exits 1 but still prints its result
  out="$(cd "$WORK/$1" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$2" \
    --seconds 14 --trace 0 | tail -n 1)" || true
  if [ -z "$out" ]; then
    echo "$1 seed $2: no result (build or JVM failed)" >&2
    out='{}'
  fi
  echo "$1 $2 $load $out" | tee -a "$WORK/runs.txt"
}

for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then run base "$i"; run tree "$i"; else run tree "$i"; run base "$i"; fi
done

python3 "$REPO/tools/ab_verdict.py" "$WORK/runs.txt" "$REPO/BENCHMARK.json"
