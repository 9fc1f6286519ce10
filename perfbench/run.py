"""Runs one benchmark workload:

    python3 perfbench/run.py --workload <retrieve|ingest|dedup> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the library and the benchmark from source when needed
(perfbench/build.py), then runs one JVM on local Spark with every core.
Every line the run prints is passed through; the last line is one JSON
object with the keys correct, attempted, failed and metrics. The exit
code is nonzero when a check failed, the build failed or the run timed
out. Everything it writes stays under .bench_build/ in the checkout;
a traced run leaves its span file in .bench_build/perfbench/traces/.
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

WORKLOADS = ("retrieve", "ingest", "dedup")
TIME_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def main():
    args = parse()
    t0 = time.monotonic()
    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java_bin()
    except (RuntimeError, OSError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + TIME_LIMIT_S - min(time.monotonic() - t0, 10)

    work = build.OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = build.OUT / "traces" / f"{args.workload}-seed{args.seed}.json"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--trace-out", str(trace_out)]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)

    def on_deadline():
        timed_out.set()
        stop()

    watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), on_deadline)
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    last = ""
    try:
        for line in proc.stdout:
            print(line, end="", flush=True)
            if line.strip():
                last = line.strip()
        proc.wait()
    finally:
        watchdog.cancel()
        stop()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        print(f"run exceeded {TIME_LIMIT_S} s and was stopped", file=sys.stderr)
        return 3
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print(f"run ended with code {proc.returncode} and no result line", file=sys.stderr)
        return proc.returncode or 4
    if proc.returncode != 0 or not result["correct"]:
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
