"""Run one graft benchmark workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload vault_cdc --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source on first use (perfbench/build.py),
then runs one JVM holding one local Spark session and one client thread. The
JVM prints a detail line per workload metric and, as its last line, the JSON
result; this wrapper passes both through and exits with the JVM's code
(non-zero when an output check failed). With --trace 1 the span record is
kept at .bench_build/traces/<workload>-seed<seed>.json.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("vault_cdc", "index_lifecycle")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4, help="local[N] session size")
    args = p.parse_args()

    try:
        classes = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2

    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", str(os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_conf = os.path.join(build.BENCH_DIR, "log4j2.properties")
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={log_conf}"]
           + [a for m in ADD_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.classpath_jars(), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(args.cores), "--work", work])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write(f"perfbench: run exceeded {JVM_TIMEOUT_S} s\n")
        shutil.rmtree(work, ignore_errors=True)
        return 3
    lines = out.strip().splitlines()
    trace_file = os.path.join(work, "trace.json")
    if os.path.exists(trace_file):
        traces = os.path.join(build.BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(trace_file, os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write("perfbench: the run printed no result\n")
        return proc.returncode or 4
    sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
