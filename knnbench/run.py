"""kNN benchmark entry point.

    python3 knnbench/run.py --workload search|curate --seed N \
        --seconds S --trace 0|1 [--smoke]

Run from the repository root. Builds the engine from source (see
build.py), runs one workload in one JVM with Spark local[<cores>], checks
its answers and prints one JSON result object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Exits non-zero, without a result line, if the build or the run
fails, and non-zero after the result line if any answer was wrong.
Everything it writes goes under .bench_build/knnbench/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import report  # noqa: E402

JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"knnbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["search", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs, one set-up round (the benchmark's own test)")
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
        jars = os.path.join(build.spark_jars(), "*")
    except build.BuildError as e:
        fail(f"build failed: {e}")

    base = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    log_path = os.path.join(base, f"{args.workload}.log")
    cores = len(os.sched_getaffinity(0))

    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classes + os.pathsep + jars, "knnbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--work", work, "--out", result_path,
        "--trace-out", trace_path,
    ] + (["--smoke"] if args.smoke else [])

    with open(log_path, "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch files inside the work directory too
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    with open(log_path) as log:
        for line in log:
            if line.startswith("knnbench:"):
                print(line.rstrip(), file=sys.stderr)
    if not os.path.isfile(result_path):
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        fail(f"the run produced no result (exit code {code}); log: {log_path}")
    with open(result_path) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if args.trace == 1 and os.path.isfile(trace_path):
        report.print_report(trace_path, out=sys.stderr)
    print(json.dumps(result))
    if code != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
