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
# run's correctness and metrics), then per metric each side's quartiles, the
# gap between the medians against the base's interquartile range, and how
# many same-seed pairs the working tree won (ties count for neither side;
# the direction is the metric's "better" in BENCHMARK.json). The clones are
# deleted on exit. Exits 1 after the summary when any run printed no result,
# failed its output check or had failed ops: such a side's timings are not
# comparable.
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

python3 - "$WORK/runs.txt" "$REPO/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = {"base": {}, "tree": {}}  # side -> seed -> result
for line in open(sys.argv[1]):
    side, seed, load, body = line.split(" ", 3)
    runs[side][seed] = json.loads(body)
better = {m["name"]: m["better"] for m in json.load(open(sys.argv[2]))["end_to_end"]}

def value(r, m):
    return r.get("metrics", {}).get(m, {}).get("value")

names = sorted({m for rs in runs.values() for r in rs.values() for m in r.get("metrics", {})})
print("base -> working tree: quartiles Q1/median/Q3, median gap vs the base's IQR, pairs won:")
for m in names:
    vals = {s: [v for v in (value(r, m) for r in rs.values()) if v is not None]
            for s, rs in runs.items()}
    if any(len(v) < 2 for v in vals.values()):
        print(f"  {m}: fewer than two runs on one side")
        continue
    q = {s: statistics.quantiles(v, n=4, method="inclusive") for s, v in vals.items()}
    base, tree = q["base"][1], q["tree"][1]
    lower = better.get(m, "lower") == "lower"
    pairs = [(value(runs["base"][seed], m), value(r, m))
             for seed, r in runs["tree"].items() if seed in runs["base"]]
    pairs = [(b, t) for b, t in pairs if b is not None and t is not None]
    won = sum(1 for b, t in pairs if (t < b if lower else t > b))
    change = f" ({(tree / base - 1) * 100:+.1f}%)" if base else ""
    quart = lambda s: "/".join(f"{x:.3f}" for x in q[s])
    print(f"  {m}: {quart('base')} -> {quart('tree')}{change}; "
          f"gap {abs(tree - base):.3f} vs IQR {q['base'][2] - q['base'][0]:.3f}; "
          f"working tree won {won}/{len(pairs)}")
bad = 0
for s, rs in runs.items():
    ok = sum(1 for r in rs.values() if r.get("correct") and r.get("failed") == 0)
    bad += len(rs) - ok
    print(f"  {s}: {ok}/{len(rs)} runs correct with 0 failed ops")
if bad:
    print(f"{bad} run(s) printed no result, failed the output check or had failed ops",
          file=sys.stderr)
    sys.exit(1)
EOF
