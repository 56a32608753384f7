"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run gets a fresh worker process
(``worker.py``) with its own scratch directory under
``.perfbench_work/``, wiped first and removed afterwards; ``TMPDIR``,
``SPARK_LOCAL_DIRS``, the JVM's temporary directory and the Spark
warehouse all live there. ``SPARK_GRAFT_CPUS`` is pinned to the
number of usable cores and ``SPARK_DRIVER_MEMORY`` to a fixed size.
The run's report (and, with ``--trace 1``, its spans) are written to
``.perfbench_out/``.

This process prints nothing on standard output itself: the worker's
last line is the run's result. The exit code is the worker's. A
worker still running after ``DEADLINE_S`` is killed with everything
it started, and the run fails without a result.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

DRIVER_MEMORY = "1g"
DEADLINE_S = 170

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the group to end; kill what is left
    after ``grace_s`` seconds."""
    end = time.monotonic() + grace_s
    while _group_alive(pgid) and time.monotonic() < end:
        time.sleep(0.1)
    if _group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
        while _group_alive(pgid):
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)

    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                     "PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS")
    }
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONHASHSEED": "0",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", os.path.join(ROOT, ".perfbench_out"),
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True)
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {run_id} exceeded {DEADLINE_S} s; killed", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = 1
    _reap_group(proc.pid, grace_s=30)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass
    return rc


if __name__ == "__main__":
    sys.exit(main())
