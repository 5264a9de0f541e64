"""SparkSession factory tuned for this engine.

Local mode is the test substrate; the config is written for a real cluster
(AQE on, skew-join handling, sensible shuffle partitioning) so the same code
scales to 100 TB by changing only master/partition counts.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import SparkSession

# Spark 4.1 wants ``spark.python.unix.domain.socket.dir`` "lower than 61"
# characters (INVALID_CONF_VALUE.REQUIREMENT otherwise), and pyspark binds
# ``<dir>/.<uuid>.sock`` (43 more), which must fit ``sun_path``'s 107 bytes.
SOCKET_DIR_MAX_LEN = 60


def python_socket_conf(
    master: str, make_socket_dir: Callable[[], str | None]
) -> dict[str, str]:
    """Spark confs that carry the JVM's traffic with Python workers and the
    driver's accumulator server over Unix sockets in the directory that
    ``make_socket_dir`` returns. None for a non-local master, whose
    executors read the same conf on hosts where the driver's directory does
    not exist (``make_socket_dir`` is not called then), nor when it returns
    ``None``."""
    socket_dir = make_socket_dir() if master.startswith("local") else None
    if socket_dir is None:
        return {}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": socket_dir,
    }


@functools.cache
def _private_socket_dir() -> str | None:
    """This process's 0700 socket directory, removed at exit, or ``None``
    (see ``get_spark`` for the rule)."""
    for root in (tempfile.gettempdir(), "/tmp"):
        try:
            path = tempfile.mkdtemp(prefix="spark-uds-", dir=root)  # mode 0700
        except OSError:
            continue
        if len(path) <= SOCKET_DIR_MAX_LEN:
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            return path
        os.rmdir(path)
    return None


def get_spark(
    app_name: str = "map_reduce_ruby_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``),
    shuffle partitions = cores (not the 200 default, which over-parallelizes
    local data and under-parallelizes 100 TB — on a real cluster set it to
    ~2-3x total executor cores or let AQE coalesce).

    Python workers fork from ``map_reduce_ruby_spark.worker_daemon``
    (``spark.python.daemon.module``). Why: before every task pyspark calls
    ``importlib.invalidate_caches()``, and on CPython 3.11 that re-parses
    the central directory of ``pyspark.zip`` (once per imported subpackage),
    the py4j zip and the spark-core jar: ~0.2 CPU-s per Python task, even
    an empty one. CPython 3.12 made that re-read lazy (gh-103200). The rule
    the daemon applies: archives on ``sys.path`` when it starts are
    immutable for a worker's lifetime and are read once per worker; later
    archives (``addPyFile`` includes, the SparkFiles dir) are re-read per
    task as before. Deployment: the daemon imports this package, so it must
    be importable on every executor, as ``Job`` closures already require.
    ``spark.executorEnv.PYTHONPATH`` carries the package root for that.

    On a local master (``local``, ``local[n]``, ``local-cluster``), Python
    workers and the driver's accumulator server talk to the JVM over Unix
    sockets (``spark.python.unix.domain.socket.enabled``), not loopback
    TCP. Why: no class under ``org.apache.spark.api.python`` sets
    ``TCP_NODELAY``, so after a worker reads its command the JVM's next
    small write waits for the ACK of the previous one, which the worker's
    kernel delays (Nagle against delayed ACK, up to 40 ms on Linux), and
    every Python task pays that stall: 8 trivial tasks on ``local[1]`` take
    0.59 s over TCP and 0.21 s over Unix sockets, ~47 ms a task. The
    sockets live in a private directory, made once per process by
    ``tempfile.mkdtemp`` (mode 0700) and removed at exit: under the temp
    dir when the result has at most 60 characters (Spark's limit), else
    under ``/tmp``; if neither can be made, Spark's TCP default stays. The
    0700 mode is the only guard: over Unix sockets pyspark skips the secret
    handshake it uses over TCP. Removing the directory also removes the
    ``.<uuid>.sock`` files left behind: a process that exits without
    stopping its session, as the test suite's does, leaves one. Not for
    cluster masters: executors read the same conf, and the driver's
    directory does not exist on their hosts. For the same fixed cost per
    Python task, ``Job`` cuts a driver-side list into one slice per core
    (``Job._as_rdd``), not more.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    # Shuffle-partition sizing is by BYTES, not by a fixed count (the sf100
    # knee, SCALING.md round 9: the SNM verify sort at 32 partitions puts
    # ~1.25 GB of candidate rows per task — the sort goes external and the
    # job dies on spill disk; 256 partitions on a 6x-smaller heap wins).
    # Mechanism: every SQL shuffle STARTS at ``initialPartitionNum`` and AQE
    # coalesces down with target size = min(max(stage_bytes/parallelism,
    # minPartitionSize), advisoryPartitionSizeInBytes) — a small-fixture
    # shuffle lands at ~cores partitions while a big one is capped at the
    # advisory post-shuffle bytes per task. BOTH knobs have measured knees
    # on this box (SCALING.md round 10):
    #   - initial count is NOT free: every map task materializes one bucket
    #     per initial partition before AQE can coalesce the read side; 4096
    #     buckets cost ~2.3x at mid-scale (SNM at sf10: 33.5 s warm vs
    #     14-15.6 s at 32 or 256). 256 = 8x cores is the measured plateau:
    #     identical to 32 at sf0.1-sf10 AND past the sf100 knee.
    #   - advisory size must fit the per-task EXECUTION share (heap x 0.6 /
    #     2 / concurrent tasks = ~75 MB at 8g/32 cores): at 128m the sf100
    #     SNM verify sort went external per task and spill amplification
    #     filled the box's 55 GB free disk; at Spark's default 64m the same
    #     job finishes in ~220 s with bounded spill. So the advisory stays
    #     at 64m — on a real cluster with 4-8 GB per core, raise it with
    #     the heap (same rule, bigger share).
    # At real 100 TB scale raise SPARK_GRAFT_INITIAL_PARTITIONS to
    # ~input_bytes/64 MB; the knob scales, the default serves the
    # single-node envelope. ``shuffle.partitions`` itself stays at cores:
    # it is the fallback for AQE-ineligible plans and PINS stateful-
    # streaming state partitioning (state stores can't re-partition across
    # a checkpoint's lifetime).
    initial_parts = int(os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "256"))
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(initial_parts, shuffle_partitions)),
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # Without this, cached-plan materialization pins AQE's OUTPUT
        # partitioning: every .cache() below a shuffle would materialize at
        # the full initialPartitionNum and every downstream scan would pay
        # thousands of empty tasks (measured 10-15x on the iterative
        # entries). Letting the cache build coalesce is safe here — nothing
        # in the engine relies on a cached plan's partition count.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from worker_daemon; see the docstring above.
        .config("spark.python.daemon.module", "map_reduce_ruby_spark.worker_daemon")
        # The daemon and every Job closure import this package on executors,
        # whatever the driver's working directory. Spark merges this with
        # the workers' own PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", package_root)
        # Oracle comparisons (DuckDB is UTC-naive) require a pinned session TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (events.ts) is unsupported by Spark's
        # timestamp type; read it as a raw nanos bigint and let the events
        # loader derive a microsecond timestamp (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # No \r progress bars on stderr: they glue onto stdout lines in
        # captured logs and once clipped the bench's one-line JSON record.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # G1 + Spark's 16 MB memory pages: with an 8g heap G1 picks 4 MB
        # regions, so every HashedRelation/sorter page is a HUMONGOUS
        # allocation racing JNI critical sections (Arrow, parquet) for the
        # GCLocker; JDK-8192647 makes the loser throw a spurious
        # "Java heap space" after 2 retries (observed at sf100: SHJ build
        # OOM at 54 s with a mostly-empty heap, while an identical-plan
        # run stayed clean). 32 MB regions take 16 MB pages out of the
        # humongous path entirely; the retry bump covers allocations that
        # still land there. Applies to executors too in local mode (one
        # JVM); on a real cluster mirror it in executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:G1HeapRegionSize=32m -XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=64",
        )
    )
    for key, value in python_socket_conf(master, _private_socket_dir).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
