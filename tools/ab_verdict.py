#!/usr/bin/env python3
"""Summary and verdict of a tools/ab.sh runs file.

    python3 tools/ab_verdict.py <runs.txt> <BENCHMARK.json>

Each line of the runs file is `<side> <seed> <loadavg> <result JSON>`, the
side `base` or `tree` (the working tree), the JSON the last line
perfbench/run.py prints. Per end-to-end metric it prints each side's
quartiles (Q1/median/Q3), the gap between the medians against the base's
interquartile range, how many same-seed pairs the working tree won (ties
count for neither side; the direction is the metric's "better" in
BENCHMARK.json), and a verdict:

  gain        at least 10 pairs ran, the working tree won at least 9 of
              every 10, and its median is better than the base's by more
              than the base's IQR;
  worse       the working tree's median is worse than the base's by more
              than the metric's relative `bound` in BENCHMARK.json;
  unresolved  anything else, fewer than 10 pairs included.

Exits 1 after the summary when any run printed no result, failed its output
check or had failed ops: such a side's timings are not comparable.
"""
import json
import statistics
import sys

MIN_PAIRS = 10
WIN_SHARE = 0.9


def value(r, m):
    return r.get("metrics", {}).get(m, {}).get("value")


def verdict(base_vals, tree_vals, pairs, lower, bound):
    """'gain', 'worse' or 'unresolved' for one metric (see the module doc)."""
    qb = statistics.quantiles(base_vals, n=4, method="inclusive")
    base, tree = qb[1], statistics.median(tree_vals)
    better_by = (base - tree) if lower else (tree - base)
    if bound is not None and base and -better_by / abs(base) > bound:
        return "worse"
    won = sum(1 for b, t in pairs if (t < b if lower else t > b))
    if len(pairs) >= MIN_PAIRS and won >= WIN_SHARE * len(pairs) and better_by > qb[2] - qb[0]:
        return "gain"
    return "unresolved"


def main(runs_path, benchmark_path):
    runs = {"base": {}, "tree": {}}  # side -> seed -> result
    for line in open(runs_path):
        side, seed, _load, body = line.split(" ", 3)
        runs[side][seed] = json.loads(body)
    spec = {m["name"]: m for m in json.load(open(benchmark_path))["end_to_end"]}

    names = sorted({m for rs in runs.values() for r in rs.values() for m in r.get("metrics", {})})
    print("base -> working tree: quartiles Q1/median/Q3, median gap vs the base's IQR, "
          "pairs won, verdict:")
    for m in names:
        vals = {s: [v for v in (value(r, m) for r in rs.values()) if v is not None]
                for s, rs in runs.items()}
        if any(len(v) < 2 for v in vals.values()):
            print(f"  {m}: fewer than two runs on one side; unresolved")
            continue
        q = {s: statistics.quantiles(v, n=4, method="inclusive") for s, v in vals.items()}
        base, tree = q["base"][1], q["tree"][1]
        lower = spec.get(m, {}).get("better", "lower") == "lower"
        pairs = [(value(runs["base"][seed], m), value(r, m))
                 for seed, r in runs["tree"].items() if seed in runs["base"]]
        pairs = [(b, t) for b, t in pairs if b is not None and t is not None]
        won = sum(1 for b, t in pairs if (t < b if lower else t > b))
        change = f" ({(tree / base - 1) * 100:+.1f}%)" if base else ""
        quart = lambda s: "/".join(f"{x:.3f}" for x in q[s])
        print(f"  {m}: {quart('base')} -> {quart('tree')}{change}; "
              f"gap {abs(tree - base):.3f} vs IQR {q['base'][2] - q['base'][0]:.3f}; "
              f"working tree won {won}/{len(pairs)}; "
              f"{verdict(vals['base'], vals['tree'], pairs, lower, spec.get(m, {}).get('bound'))}")
    bad = 0
    for s, rs in runs.items():
        ok = sum(1 for r in rs.values() if r.get("correct") and r.get("failed") == 0)
        bad += len(rs) - ok
        print(f"  {s}: {ok}/{len(rs)} runs correct with 0 failed ops")
    if bad:
        print(f"{bad} run(s) printed no result, failed the output check or had failed ops",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(f"usage: {sys.argv[0]} <runs.txt> <BENCHMARK.json>")
    sys.exit(main(sys.argv[1], sys.argv[2]))
