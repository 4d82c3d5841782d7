"""Benchmark entry point: transcripts → KG → taxonomy, timed end to end.

    python3 perfbench/run.py --workload build-wide --seed 1 --seconds 8 --trace 0

Runs from any working directory. The repository root is the parent of
this file's directory; ``sparktax`` reaches the Spark Python workers via
``PYTHONPATH``. Each run gets its own scratch directory under
``<root>/.perfbench/`` for generated inputs, checkpoints, Spark's local
dir and temporary files, deleted at exit; the run record (box snapshot,
metrics, spans) is kept next to it as
``<root>/.perfbench/<workload>-seed<n>-trace<t>.json``.

The run itself (``harness.py``) is a child process in its own process
group. A run that exceeds ``TIME_LIMIT_S`` is killed with every process it
started (the Spark JVM and its Python workers), and this script exits
non-zero without printing a result. The last line of standard output is
the result JSON: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

TIME_LIMIT_S = 170
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")


def _group_alive(pgid: int) -> bool:
    """Any process of the group left that is not a zombie?"""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """SIGKILL the process group and wait until none of it is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("sparktax", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full "
                  "checkout of the repository", file=sys.stderr)
            return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    record = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARKTAX_LOCAL_DIR=os.path.join(scratch, "local"),
        SPARKTAX_DRIVER_MEM="3g",
        # keep the JVM's temp files and perf-data inside the scratch dir
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--record", record,
    ]
    proc = subprocess.Popen(
        cmd, cwd=scratch, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIME_LIMIT_S)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s; killed", file=sys.stderr)
        out, rc = "", 3
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        sys.stderr.write(out)
        print(f"perfbench: run failed with exit code {rc}", file=sys.stderr)
        return rc or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
