"""PySpark's worker daemon, minus the per-task re-read of Spark's zip archives.

``session.get_spark`` selects this module through Spark's
``spark.python.daemon.module`` conf. It is ``pyspark.daemon.manager()`` plus
one change, made in the daemon before it forks any worker.

Why: before every task, pyspark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-parse its archive's whole
central directory: one importer per imported subpackage of ``pyspark.zip``,
plus the py4j zip and the spark-core jar. That costs ~0.2 CPU-s per task,
even for an empty task. CPython 3.12 made the re-read lazy (gh-103200).

The rule: an archive already on ``sys.path`` when the daemon starts is
immutable for the lifetime of every worker it forks, so its importers keep
their directory. Archives added later (the SparkFiles dir, ``addPyFile``
includes) are re-read exactly as before.
"""

import sys
import zipimport


def _freeze_startup_archives() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives on ``sys.path`` now."""
    startup_path = frozenset(sys.path)
    reread_directory = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        if self.archive not in startup_path:
            reread_directory(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    _freeze_startup_archives()
    from pyspark import daemon

    daemon.manager()
