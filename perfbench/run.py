#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source (cached under .bench_build),
runs one workload in one JVM with local[nproc] and one closed-loop client,
checks the outputs and prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see
perfbench/README.md). The line before it holds the run's detail: sample
count, the CPU regime probe at start and end, and any failures.

Exit status: 0 when every output check passed, 1 when one failed, 2 when
the program could not be built, 3 when the run died or timed out.
Everything a run writes lives under .bench_build/ and is deleted at exit.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["curate_batch", "incremental_daily", "query_suite", "stream_gate"]
HEAP = "3g"
RUN_TIMEOUT_S = 170  # the JVM run, after the build
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm_command(classes, jars, run_dir, main_class, main_args):
    """java with the flags the program's own sbt run uses, plus a fixed
    heap, writing only under run_dir."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # The heap starts at its full size: growing it during the first op made
    # that op's time vary by heap sizing from run to run.
    return cmd + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/hadoop",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        main_class] + main_args


def harness_args(args, run_dir, cores):
    out = [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", run_dir, "--out", os.path.join(run_dir, "result.json"),
        "--cores", str(cores),
        "--data", os.path.join(build.HERE, "data", "sf0.001"),
    ]
    if args.golden:
        out += ["--golden", os.path.abspath(args.golden)]
    return out


def child_env():
    # The program's A/B knobs and a caller's Spark dirs must not leak in:
    # every run uses the program's defaults and its own directories.
    return {k: v for k, v in os.environ.items()
            if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_LOCAL_DIRS"))}


def run_java(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, env=child_env(),
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--golden", help="record the expected counts (query_suite row "
                    "counts, curate_batch stage counts) in this file instead of "
                    "checking them")
    args = ap.parse_args()

    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    os.makedirs(build.BUILD_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=build.BUILD_DIR)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = len(os.sched_getaffinity(0))
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        cmd = jvm_command(classes, jars, run_dir, "perfbench.Main",
                          harness_args(args, run_dir, cores))
        code = run_java(cmd, log_path, RUN_TIMEOUT_S)
        result_path = os.path.join(run_dir, "result.json")
        raw = None
        if os.path.isfile(result_path):
            with open(result_path) as f:
                raw = json.load(f)
        if code != 0 or raw is None or not metrics.complete(raw):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"[perfbench] run failed (jvm exit {code})", file=sys.stderr)
            if raw is not None:
                print(json.dumps(metrics.detail_line(raw)), file=sys.stderr)
            return 3
        print(json.dumps(metrics.detail_line(raw)))
        print(json.dumps(metrics.result_line(raw, args.trace == 1)))
        return 0 if raw["failed"] == 0 else 1
    except subprocess.TimeoutExpired:
        print("[perfbench] run timed out", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
