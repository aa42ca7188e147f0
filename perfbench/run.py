#!/usr/bin/env python3
"""Benchmark runner for the unload engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdf_long_history --seed 1 --seconds 14 --trace 0

It builds the program from source together with the benchmark's own sbt
project (`perfbench/build.sbt`, first run only), runs one workload in a fresh
JVM, and prints one JSON object as the last line of stdout: `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end metrics of `BENCHMARK.json`, with `--trace 1` its per-layer
metrics. The JVM writes its figures to a result file, never to stdout (the
program's run log prints there). The full result, with provenance, the
per-workload detail and the trace, is kept under `.bench_build/results/`.

End-to-end metrics (medians over the run's timed operations):
  op_p50_s    cdf_long_history: one `Unload.run` of a two-commit window;
              query_sample: one query, built and counted
  step_p50_s  cdf_long_history: two commits + the unload + the stream drain;
              query_sample: one pass over the six sampled queries
  setup_s     cdf_long_history: authoring the history and the catalog's
              manifest backfill (median of three) plus the initial stream
              drain; query_sample: the untimed warm pass that fills the
              program's staging caches (median of three, each over a fresh
              copy of the fixtures)

Exit codes: 0 on success; 1 when an output check failed (the result is still
printed); 2 when the program or the build is missing or broken (nothing is
printed).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("cdf_long_history", "query_sample")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, log_path, timeout_s):
    """Run cmd in its own process group, output to log_path; kill the whole
    group on timeout and wait until it has ended."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_digest() -> str:
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile program + benchmark once per source state; return the
    runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no program sources next to the benchmark (build.sbt, src/main/scala/graft)")
    digest = source_digest()
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt not found")
    log = BUILD / "build.log"
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                      "export perfbench/Runtime/fullClasspath"],
                     BENCH, log, BUILD_TIMEOUT_S)
    lines = log.read_text(errors="replace").strip().splitlines() if log.exists() else []
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat. On a
    virtual machine the host's other guests show up as steal."""
    try:
        vals = [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    """HEAD of the checkout, when it is a git work tree of its own."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT.resolve():
        return None
    return lines[1]


def on_term(signum, frame):
    # turn SIGTERM into an exception, so run_group kills and reaps the JVM
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found in the working directory")
    spec = json.loads(spec_path.read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    (BUILD / "logs").mkdir(exist_ok=True)
    (BUILD / "results").mkdir(exist_ok=True)

    load_before = loadavg()
    ticks_before = cpu_ticks()
    t0 = time.time()
    # The JVM sees half the machine's CPUs: Spark's task slots, the JIT
    # compiler and GC threads and the driver thread then stay within nproc
    # together, so a run measures the program rather than the scheduler.
    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-XX:ActiveProcessorCount={max(1, (os.cpu_count() or 2) // 2)}",
           "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    # inputs that do not depend on the seed are generated once per checkout
    # and generator version (the JVM writes them under this directory)
    bench_src = hashlib.sha256(b"".join(p.read_bytes() for p in sorted((BENCH / "src").rglob("*.scala"))))
    cache = BUILD / f"cache-{bench_src.hexdigest()[:16]}"
    for old in BUILD.glob("cache-*"):
        if old != cache:
            shutil.rmtree(old, ignore_errors=True)
    cache.mkdir(exist_ok=True)
    cmd += ["-cp", cp, "perfbench.Main", "run", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(work), str(cache), str(out)]
    code = run_group(cmd, ROOT, BUILD / "logs" / f"{tag}.log", JVM_TIMEOUT_S)
    wall = time.time() - t0
    load_after = loadavg()
    ticks_after = cpu_ticks()
    steal = None
    if ticks_before and ticks_after and ticks_after[1] > ticks_before[1]:
        steal = (ticks_after[0] - ticks_before[0]) / (ticks_after[1] - ticks_before[1])
    if code != 0 or not out.is_file():
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM failed (exit {code}); see .bench_build/logs/{tag}.log")
    res = json.loads(out.read_text())
    shutil.rmtree(work, ignore_errors=True)

    source = res["layers"] if args.trace else res["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    res["provenance"].update({
        "git_commit": git_commit(), "source_sha256": source_digest(),
        "nproc": os.cpu_count(), "loadavg_1m_before": load_before,
        "loadavg_1m_after": load_after, "cpu_steal_share": steal, "jvm_wall_s": wall, "workload": args.workload,
        "seconds": args.seconds, "trace": args.trace,
    })
    (BUILD / "results" / f"{tag}.json").write_text(json.dumps(res, indent=1, sort_keys=True))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
