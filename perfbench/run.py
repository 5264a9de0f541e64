"""Run one workload of the benchmark in an isolated child process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The child gets its own
environment: a fresh TMPDIR under ``.perfbench_work/`` (so every
``gettempdir()`` store root the catalog entries use starts empty, and is
removed afterwards), SPARK_LOCAL_DIRS and the JVM's temp dir under it,
SPARK_GRAFT_CPUS set to the usable core count, and PYTHONPATH naming the
checkout so Spark's Python workers can import the engine and the benchmark.
The child's last stdout line is the result object; this process relays the
child's output, then stops whatever the child left running and waits for it.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# A safety net, not a budget: a run ends by itself in about a minute.
TIMEOUT_S = 600


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM, Python workers) re-parent to this
    process, so it can wait for every one of them."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap(pgid: int) -> None:
    """Wait for every descendant of the child: first for them to exit on
    their own (the JVM runs its shutdown hooks), then after SIGTERM, then
    after SIGKILL to the child's process group."""
    for sig, grace in ((None, 10), (signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                time.sleep(0.05)


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "map_reduce_ruby_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    workload = argparse.ArgumentParser(add_help=False)
    workload.add_argument("--workload")
    is_catalog = workload.parse_known_args()[0].workload == "catalog"
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=ROOT if not path else ROOT + os.pathsep + path,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    _become_subreaper()
    out_path = os.path.join(work, "stdout.txt")
    try:
        if is_catalog:
            # Once per checkout (a cache hit afterwards): the catalog entries'
            # oracle answers, outside the run and its set-up time.
            prep = subprocess.run([sys.executable, "-m", "perfbench.catalog"], cwd=work,
                                  env=env, stdout=subprocess.DEVNULL, timeout=TIMEOUT_S)
            if prep.returncode != 0:
                return 1
        with open(out_path, "w", encoding="utf-8") as out:
            child = subprocess.Popen(
                [sys.executable, "-m", "perfbench.worker", *sys.argv[1:]],
                cwd=work, env=env, stdout=out, start_new_session=True,
            )
            try:
                code = child.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
                code = 124
            finally:
                _reap(child.pid)
        with open(out_path, encoding="utf-8") as f:
            lines = f.read().splitlines()
        if code != 0:
            sys.stderr.write("\n".join(lines) + "\n")
            return code if code > 0 else 1
        print("\n".join(lines), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
