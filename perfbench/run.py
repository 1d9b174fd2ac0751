"""Benchmark entry point: one run of one workload in a fresh process.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_backlog --seed 1 \\
        --seconds 10 --trace 0

Each run gets a fresh Python process on ``local[<cores>]`` with a bounded
driver heap, and a per-run scratch directory inside the checkout that
holds Spark's local dirs, the temp dir, the warehouse, the control store,
the checkpoints and the generated inputs; it is removed afterwards.  The
last line of standard output is the run's JSON result (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "data_ingestion_worker_spark")
SCRATCH_PARENT = os.path.join(ROOT, ".perfbench-scratch")
#: Well under the RAM of a small host; the package's default is 16g.
DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 170
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def child_env(scratch: str) -> dict[str, str]:
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", f"spark.sql.warehouse.dir={scratch}/warehouse",
            # The traced run reads every stage of the measured window
            # back from the status store; keep them all.
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            # Fixed JIT compiler threads: workload.cpu_seconds subtracts
            # their CPU time, which needs them alive until the run ends.
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch}"
            " -XX:-UseDynamicNumberOfCompilerThreads'",
            "pyspark-shell",
        ]),
    })
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate every process left in the child's process group and wait
    until the group is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            proc.poll()  # reap the child, or it stays in the group as a zombie
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: the package is missing: {PACKAGE}", file=sys.stderr)
        return 2

    # A terminated benchmark still stops its child group and removes its
    # scratch directory: SystemExit unwinds through the finally blocks.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(SCRATCH_PARENT, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=SCRATCH_PARENT)
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scratch", scratch]
    try:
        proc = subprocess.Popen(cmd, cwd=scratch, env=child_env(scratch),
                                stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: run timed out", file=sys.stderr)
            return 3
        finally:
            stop_group(proc)
            proc.wait()
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(out)
            print(f"perfbench: run failed (exit {proc.returncode})",
                  file=sys.stderr)
            return 4
        sys.stderr.write("\n".join(lines[:-1]) + "\n")
        res = json.loads(lines[-1])
        if set(res) != RESULT_KEYS:
            print(f"perfbench: malformed result {lines[-1]}", file=sys.stderr)
            return 5
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_PARENT)
        except OSError:
            pass  # another run is still using it
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
