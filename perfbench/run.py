"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <churn|dedup> --seed <n>
                             --seconds <s> --trace <0|1>

Builds the engine from source on first use (see build.py), then starts one
JVM with a ``local[N]`` Spark session (N = min(nproc - 1, 4)) that drives a
single closed-loop client. Everything the run writes stays under
``.bench_build/`` in the repository root. The last line printed is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it stamps the environment: nproc,
``local[N]``, heap, JDK, commit, source hash and the load average before
and after the run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("churn", "dedup")
HEAP = "3g"
# one run (after the build) must end well inside 180 s
JVM_TIMEOUT_S = 165
JVM_FLAGS = [
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    # the engine's build keeps this stock Spark method out of C2 (a JIT crash
    # seen on OpenJDK 17.0.20); the benchmark runs the JVM the same way
    "-XX:CompileCommand=quiet",
    "-XX:CompileCommand=exclude,org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport::consumeGroup",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_threads() -> int:
    """local[N]: one core stays free for the JVM's compiler and collector
    threads and the OS, so they do not preempt task threads; at most 4, so
    a bigger machine runs the same shape."""
    return max(1, min((os.cpu_count() or 1) - 1, 4))


def java_cmd(jars, work: Path):
    # fixed heap: no resizing pauses inside timed sections
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"] + JVM_FLAGS
            + ["-cp", build.classpath(jars), "perfbench.Main"])


def run_jvm(cmd, work: Path, log_path: Path, timeout_s: float, on_line):
    """Run one JVM in `work`, feed its stdout lines to `on_line`, kill it at
    the timeout; returns its exit code. Nothing it starts outlives it."""
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        timer = threading.Timer(timeout_s, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                on_line(line)
            return proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    (path / "tmp").mkdir(parents=True)
    return path


def commit() -> str:
    if not (build.ROOT / ".git").exists():
        return "none"
    try:
        out = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main() -> int:
    # a terminated run still stops its JVM (run_jvm's finally kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_before = os.getloadavg()
    try:
        jars = build.build()
    except (RuntimeError, OSError, subprocess.CalledProcessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    cores = spark_threads()
    work = fresh_dir(build.OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}")
    cmd = java_cmd(jars, work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--work-dir", str(work)]
    log_path = build.OUT / f"last-{args.workload}.log"
    result = None

    def on_line(line: str):
        nonlocal result
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("perfbench:"):
            print(line, end="", flush=True)

    try:
        code = run_jvm(cmd, work, log_path, JVM_TIMEOUT_S, on_line)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if code != 0 or result is None:
        print(f"perfbench: JVM exited with {code}, no result (log: {log_path})", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1

    env_stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "master": f"local[{cores}]",
        "heap": HEAP, "jdk": subprocess.run(["java", "-version"], capture_output=True,
                                            text=True).stderr.splitlines()[0],
        "commit": commit(), "source_sha": "+".join(j.stem.split("-", 1)[1] for j in jars),
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "unix_time": round(time.time(), 1),
    }
    print("perfbench: env " + json.dumps(env_stamp), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
