"""Run one benchmark workload of the LAS import -> block store ->
filter-refine select -> LAS export pipeline.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--points <n>]

Builds the engine and harness if needed (perfbench/build.py), then runs
one JVM with a fixed heap. Human-readable lines start with '#'; the last
line of standard output is the result object
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Every file the run writes stays under .bench_build/ in the checkout;
traced runs leave their spans in .bench_build/perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("select_small", "select_large_export")
HEAP = "2g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--points", type=int)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.OUT, "work", "%s-%d" % (a.workload, os.getpid()))
    traces = os.path.join(build.OUT, "traces")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap and a stop-the-world collector: no heap resizing and
    # no concurrent GC threads competing with the measured ops
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--traces", traces]
    if a.points:
        cmd += ["--points", str(a.points)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)

    def stop(*_):
        # the JVM runs in its own process group: take all of it down and
        # wait for it before leaving
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        stop()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0:
        sys.exit("perfbench: JVM exited with %d" % proc.returncode)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
