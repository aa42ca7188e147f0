#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

From the root of a checkout:

    python3 perfbench/spread.py --workloads cdf_long_history,query_sample --seeds 10

It runs each workload with seeds 1..N and tracing off. For every workload
and end-to-end metric (`setup_s` too) it prints the median of the runs and
the distance between the first and third quartile (`statistics.quantiles`,
n=4) as a share of the median, next to a third of the metric's bound from
BENCHMARK.json: a steady benchmark stays below that third. Raw results are
appended to `.bench_build/spread.jsonl`.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def main() -> int:
    spec = json.loads(Path("BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = Path(".bench_build") / "spread.jsonl"
    log.parent.mkdir(exist_ok=True)
    bad = 0
    for w in args.workloads.split(","):
        values = {}
        for seed in range(1, args.seeds + 1):
            t0 = time.time()
            out = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]),
                                 "--trace", "0"],
                                 capture_output=True, text=True)
            wall = time.time() - t0
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {out.returncode} {out.stderr.strip()[-300:]}")
                bad += 1
                continue
            res = json.loads(lines[-1])
            full = Path(".bench_build") / "results" / f"{w}-seed{seed}-trace0.json"
            steal = json.loads(full.read_text())["provenance"]["cpu_steal_share"]
            with log.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                                    "cpu_steal_share": steal, **res}) + "\n")
            print(f"{w} seed {seed}: {wall:.1f}s steal={steal or 0:.1%} correct={res['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q[2] - q[0]) / med if med else float("inf")
            b = bounds.get(k)
            flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
            print(f"  {w:18s} {k:14s} median={med:.4g} spread={spread:.3f}"
                  f" bound/3={(b or 0) / 3:.3f}{flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
