"""The Python worker daemon that ``get_spark`` selects (worker_daemon.py).

Pins its one rule from inside real workers: an archive on ``sys.path`` when
the daemon started keeps its zip directory for a worker's lifetime, while an
archive added later (``addPyFile``) is still re-read before every task. Also
pins what the daemon needs to start: the package importable on executors
from any driver working directory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
from collections import defaultdict

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tasks(sc):
    """Enough tasks that some worker must run two of them (a worker runs one
    task at a time, and at most one task per core runs at once)."""
    return 4 * sc.defaultParallelism


def _by_pid(pairs):
    """Group (pid, value) task results by worker. Some worker must have run
    two tasks, or a per-worker check would hold vacuously."""
    by_pid = defaultdict(list)
    for pid, ident in pairs:
        by_pid[pid].append(ident)
    assert any(len(ids) >= 2 for ids in by_pid.values()), by_pid
    return by_pid


def test_startup_archives_are_not_reread_per_task(spark):
    sc = spark.sparkContext
    if sc.defaultParallelism < 2:
        pytest.skip("needs at least two concurrent Python workers")

    def pyspark_zip_directory_id(_):
        import os
        import time
        import zipimport

        time.sleep(0.05)  # keep tasks overlapping so several workers run
        ids = [
            id(files)
            for path, files in zipimport._zip_directory_cache.items()
            if path.endswith(os.sep + "pyspark.zip")
        ]
        return os.getpid(), ids[0] if ids else None

    n = _tasks(sc)
    by_pid = _by_pid(sc.parallelize(range(n), n).map(pyspark_zip_directory_id).collect())
    if any(None in ids for ids in by_pid.values()):
        pytest.skip("workers do not import pyspark from pyspark.zip")
    assert len(by_pid) >= 2, by_pid
    for pid, ids in by_pid.items():
        assert len(set(ids)) == 1, (pid, ids)


def test_add_py_file_after_workers_start_is_imported_and_reread(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).count()  # workers are up before the add
    archive = tmp_path / "worker_daemon_late_include.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("worker_daemon_late_include.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def use_include(_):
        import os
        import time
        import zipimport

        import worker_daemon_late_include

        time.sleep(0.05)
        directories = [
            files
            for path, files in zipimport._zip_directory_cache.items()
            if path.endswith(os.sep + "worker_daemon_late_include.zip")
        ]
        # A marker left by an earlier task of this worker survives only in a
        # directory that was not re-read since. (Comparing id()s does not
        # work: a re-read directory can land where a freed one was.)
        marker = "\0marker of an earlier task"
        kept = [marker in files for files in directories]
        for files in directories:
            files[marker] = True
        return os.getpid(), worker_daemon_late_include.VALUE, kept

    n = _tasks(sc)
    results = sc.parallelize(range(n), n).map(use_include).collect()
    assert [value for _, value, _ in results] == [42] * n
    assert all(len(kept) == 1 for _, _, kept in results), results
    # A late archive is outside the daemon's startup path: every task still
    # re-reads its directory, so a worker never holds one for two tasks.
    by_pid = _by_pid((pid, kept[0]) for pid, _, kept in results)
    for pid, kept in by_pid.items():
        assert not any(kept), (pid, kept)


def test_job_runs_from_another_working_directory(tmp_path):
    """No PYTHONPATH, cwd outside the checkout: the Job closures (and the
    daemon) still import the package on the workers."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from map_reduce_ruby_spark.core import Job
        from map_reduce_ruby_spark.session import get_spark

        spark = get_spark(app_name="cwd", master="local[2]", shuffle_partitions=2)
        job = Job(
            map_fn=lambda text: ((w, 1) for w in text.split()),
            reduce_fn=lambda key, a, b: a + b,
            num_partitions=2,
        )
        print(sorted(job.run(spark, ["a b a", "b c"]).collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[('a', 2), ('b', 2), ('c', 1)]"
