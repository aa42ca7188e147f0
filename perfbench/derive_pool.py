#!/usr/bin/env python3
"""Derive `perfbench/query_pool.json`, the query_sample workload's pool.

Run once from the root of a checkout, after `perfbench/run.py` has built:

    python3 perfbench/derive_pool.py

1. writes the seed-42 fixture tables with the benchmark's generator (and a
   one-file-per-table copy for DuckDB);
2. runs `graft.Verify` on them for every driver query whose sf0.1 time in
   `tools/bench_prev.json` is at most MAX_PREV_S;
3. keeps the queries that `tools/check_correctness.py` finds equal to their
   DuckDB oracle (queries without an oracle are left out);
4. fingerprints each kept result (its first run) and times three warm runs;
5. picks the sample: per module (parity, event, ext), the PER_MODULE
   slowest queries that take at most MAX_WARM_S warm and MAX_FIRST_S on
   their first run, and writes their fingerprints to the pool (every kept
   query's fingerprint and timings go to .bench_build/pool/candidates.json).

The sample is fixed and the run's seed only orders it. A sample drawn per
seed (one query from each of eight cost strata) moved the median query
time by 29% between seeds on a fresh JVM, far beyond any useful bound.
The slow steps are kept under .bench_build/pool; delete it to redo them.
"""
import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402  (the runner's build and JVM options)

CLASSPATH = ""
MAX_PREV_S = 0.6
# warm seconds of one run, and seconds of the first run in the JVM (the
# query's own staging and code generation): the warm pass of every
# benchmark run pays the second for each sampled query
MAX_WARM_S = 0.4
MAX_FIRST_S = 0.8
PER_MODULE = 2


def java(args, env=None, log=None):
    cmd = ["java", "-Xmx3g", "-Xss4m"]
    for mod in run.ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH] + args
    out = subprocess.run(cmd, cwd=run.ROOT, env=env, capture_output=True, text=True)
    if log:
        Path(log).write_text(out.stdout + out.stderr)
    if out.returncode != 0:
        sys.exit(f"{args[0]} failed: see {log}")
    return out.stdout


def main():
    global CLASSPATH
    CLASSPATH = run.build()
    base = run.BUILD / "pool"
    fixtures, verify = base / "fixtures", base / "verify"
    base.mkdir(parents=True, exist_ok=True)
    if not fixtures.is_dir():
        java(["perfbench.Main", "fixtures", str(fixtures)], log=base / "fixtures.log")
    # Spark writes each table as a directory of part files; the oracle
    # checker reads <table>.parquet as one file
    duck = base / "duck"
    duck.mkdir(exist_ok=True)
    for t in fixtures.glob("*.parquet"):
        pq.write_table(pq.read_table(t), duck / t.name)

    prev = json.loads((run.ROOT / "tools" / "bench_prev.json").read_text())
    prev = next(v for k, v in prev.items() if k.endswith("sf0.1"))
    candidates = sorted(q for q, t in prev.items() if t <= MAX_PREV_S)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(candidates))
    if not (verify / "failed.json").is_file():
        java(["graft.Verify", str(fixtures), str(verify)], env=env, log=base / "verify.log")
    check = subprocess.run([sys.executable, "tools/check_correctness.py", str(duck),
                            str(verify)], cwd=run.ROOT, capture_output=True, text=True)
    (base / "check.log").write_text(check.stdout + check.stderr)
    green = sorted(m.group(1) for m in re.finditer(r"^OK\s+(\S+):", check.stdout, re.M))
    print(f"{len(candidates)} candidates, {len(green)} equal to their oracle")

    fp_log = base / "fingerprint.log"
    if not fp_log.is_file():
        java(["perfbench.Main", "fingerprint", str(fixtures), ",".join(green)], log=fp_log)
    fps = {}
    for line in fp_log.read_text().splitlines():
        if line.startswith("FINGERPRINT "):
            _, q, rows, h, secs, cold = line.split()
            fps[q] = {"rows": int(rows), "hash": h, "ref_s": round(float(secs), 4),
                      "first_s": round(float(cold), 4)}

    modules = module_of(list(fps))
    sample = []
    for mod in ("parity", "event", "ext"):
        qs = sorted((q for q in fps if modules[q] == mod and fps[q]["ref_s"] <= MAX_WARM_S
                     and fps[q]["first_s"] <= MAX_FIRST_S), key=lambda q: fps[q]["ref_s"])
        sample += qs[-PER_MODULE:]
    # every candidate, with its timings, stays with the slow steps' outputs;
    # the pool holds only what the workload reads
    (base / "candidates.json").write_text(json.dumps(
        {q: dict(fp, module=modules[q]) for q, fp in sorted(fps.items())}, indent=1, sort_keys=True))
    doc = {"generated_by": "perfbench/derive_pool.py", "fixture_seed": 42,
           "sample": sorted(sample),
           "queries": {q: {"rows": fps[q]["rows"], "hash": fps[q]["hash"]} for q in sorted(sample)}}
    (run.BENCH / "query_pool.json").write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    print(f"sample {sorted(sample)}; warm pass {sum(fps[q]['ref_s'] for q in sample):.2f} s")


def module_of(names):
    """Module of each query, from the source file that defines it."""
    src = run.ROOT / "src" / "main" / "scala" / "graft"
    files = {"parity": src / "queries" / "ParityQueries.scala",
             "event": src / "queries" / "EventQueries.scala",
             "ext": src / "ext" / "ExtQueries.scala"}
    text = {m: f.read_text() for m, f in files.items()}
    return {q: next((m for m, t in text.items() if f'"{q}"' in t), "ext") for q in names}


if __name__ == "__main__":
    main()
