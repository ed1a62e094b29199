"""Benchmark command: builds the program, runs one workload, checks it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program and the benchmark are
compiled into .bench_build/ on first use (see build.py); each run then
starts one JVM with a local[N] Spark session, N = the CPUs this process
may use, inside a scratch directory under .bench_build/ that is removed
afterwards. The last stdout line is the result object; the lines above
it name every metric with its unit. A traced run (--trace 1) also keeps
its spans in .bench_build/traces/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_many_small", "export_reports", "curate_dedup")
# The JVM runs for at most this long; the build before it is not counted.
JVM_LIMIT_S = 170
# What Spark on JDK 17 needs outside spark-submit (as in build.sbt).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def result_ok(line: str, trace: bool) -> bool:
    """The result object has the four keys and exactly the metrics
    BENCHMARK.json lists for this mode, each a finite number."""
    try:
        r = json.loads(line)
        spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    except (ValueError, OSError):
        return False
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and set(r["metrics"]) == names
            and all(isinstance(m.get("value"), (int, float)) and math.isfinite(m["value"])
                    for m in r["metrics"].values()))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildFailed as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = build.BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-Xss4m"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work), "--cores", str(cores)]
    if a.trace == "1":
        spans = build.BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
        cmd += ["--spans", str(spans)]

    # A terminated run still stops its JVM: SystemExit unwinds to `finally`.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Spark prefers these to spark.local.dir; the run keeps to its directory.
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    timer = threading.Timer(JVM_LIMIT_S, proc.kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or last is None or not result_ok(last, a.trace == "1"):
        if last is not None:
            print(last, file=sys.stderr)
        print(f"[perfbench] run failed (exit {rc})", file=sys.stderr)
        return 1
    print(last, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
