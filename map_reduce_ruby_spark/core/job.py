"""The map/reduce Job: the reference's two-class API as one Spark-native runner.

Reference surface being re-expressed (SURVEY.md §2.1):

- O1  user ``map(input) -> yields (key, value)``      -> ``rdd.flatMap``
- O4  combiner iff user has ``reduce``                 -> ``reduceByKey`` map-side combine
- O5  sort-based group-reduce (binary fold)            -> ``reduceByKey`` merge
- O6  SHA1-of-JSON hash partitioning, pluggable        -> ``partitionFunc``
- O14 multi-run final reduce / Enumerator form         -> shuffle reduce / ``toLocalIterator``
- O15 key-sorted output within each partition          -> external sort within partitions
- O16 no-reduce passthrough (duplicates preserved)     -> ``repartitionAndSortWithinPartitions``
- O2/O7-O11/O17 (spill, k-way merge, fan-in caps, temp files) are intentionally
  NOT here: that machinery *is* Spark's sort-based shuffle (SURVEY.md §4).

Contract notes carried over verbatim from the reference:
- ``reduce(key, v1, v2)`` must be associative + commutative; it is applied in
  arbitrary pairing across chunks (reference README.md:42-50) — Spark pairs
  arbitrarily too, so the contract is identical.
- ``reduce`` is optional; without it duplicates are preserved and merely
  partitioned + key-sorted (reference CHANGELOG v2.1.0,
  spec/map_reduce/mapper_spec.rb:89-125).
- Incomparable keys raise at first comparison during the sort/merge, not at
  ingest (reference spec/map_reduce/reducer_spec.rb:15-35).
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable, Iterable, Iterator

from pyspark import RDD, SparkContext
from pyspark.sql import SparkSession

from map_reduce_ruby_spark.core.keys import SortKey
from map_reduce_ruby_spark.core.partitioner import HashPartitioner, PartitionFn
from map_reduce_ruby_spark.sources.chunk_datasource import MANIFEST_NAME


class MapReduceError(Exception):
    """Base error (reference lib/map_reduce.rb:17)."""


class InvalidNumPartitions(MapReduceError):
    """num_partitions must be >= 1 (analog of the reference's InvalidChunkLimit
    guard, lib/map_reduce.rb:18 / mapper.rb:77 — chunk_limit itself dissolves:
    Spark manages merge fan-in internally)."""


MapFn = Callable[[Any], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, Any, Any], Any]


def _hashable(k: Any) -> Any:
    """Dict-key form of a map/reduce key with grouping semantics identical
    to SortKey's: Python's number equality already merges 1 and 1.0 (the
    ruby_cmp normalization), strings hash natively, and (nested) arrays
    become tuples comparing element-wise. Used in the Arrow path's combine
    dicts because a SortKey construction PER PAIR dominates token-sized
    workloads (measured: wordcount's map loop, ~28M pairs at sf1)."""
    if isinstance(k, (list, tuple)):
        return tuple(_hashable(x) for x in k)
    return k


def _kv_batch(pa, steers: list[int], ks: list[str], vs: list[str]):
    return pa.record_batch(
        [
            pa.array(steers, pa.int32()),
            pa.array(ks, pa.string()),
            pa.array(vs, pa.string()),
        ],
        names=["steer", "k", "v"],
    )


# partition index -> a steering int whose Spark hash lands exactly there;
# deterministic for a given Spark version (murmur3, seed 42), computed once
# per num_partitions per process
_STEER_CACHE: dict[int, list[int]] = {}


def _steering_ids(spark: SparkSession, nparts: int) -> list[int]:
    """For each target partition p in [0, nparts), an int32 ``x`` with
    ``pmod(hash(x), nparts) == p`` under Spark's HashPartitioning.

    ``repartition(n, col)`` places a row at ``pmod(murmur3(col), n)`` — it
    cannot be told "put this row at index p" directly. Writing the
    partitioner's pid through this lookup makes the post-shuffle partition
    INDEX equal the pid, which is what lets the Arrow path keep the
    reference's partition->file contract (manifest partition ids == the
    SHA1 placement) while shuffling entirely in the JVM."""
    cached = _STEER_CACHE.get(nparts)
    if cached is not None:
        return cached
    from pyspark.sql import functions as F

    found: dict[int, int] = {}
    base = 0
    while len(found) < nparts:
        probe = (
            spark.range(base, base + max(1024, 64 * nparts))
            .select(
                F.col("id").cast("int").alias("x"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(nparts)).alias("p"),
            )
            .collect()  # bounded artifact: <= a few thousand (x, p) ints
        )
        for r in probe:
            if r.p not in found:
                found[int(r.p)] = int(r.x)
        base += max(1024, 64 * nparts)
    ids = [found[p] for p in range(nparts)]
    _STEER_CACHE[nparts] = ids
    return ids


class Job:
    """A map-reduce job over Spark.

    Parameters
    ----------
    map_fn : input -> iterable of (key, value) pairs (0..n per input); the
        generator replaces the reference's ``yield`` protocol
        (reference README.md:35-41). The input is arbitrary — the map function
        doubles as the source connector, exactly as in the reference where the
        README's mapper fetches a URL.
    reduce_fn : optional binary fold ``(key, v1, v2) -> value``; enables the
        map-side combiner and reduce-side merge.
    partitioner : any callable ``key -> int``; default
        ``HashPartitioner(num_partitions)`` (SHA1-of-canonical-JSON placement).
    """

    def __init__(
        self,
        map_fn: MapFn,
        reduce_fn: ReduceFn | None = None,
        partitioner: PartitionFn | None = None,
        num_partitions: int = 32,
    ):
        if num_partitions < 1:
            raise InvalidNumPartitions(f"num_partitions must be >= 1, got {num_partitions}")
        self.map_fn = map_fn
        self.reduce_fn = reduce_fn
        self.num_partitions = num_partitions
        self.partitioner = partitioner or HashPartitioner(num_partitions)

    # ------------------------------------------------------------------ run

    def run(
        self,
        spark: SparkSession,
        inputs: Any,
        sort_output: bool = True,
        stable: bool = False,
    ) -> RDD:
        """Execute map -> shuffle(partition) -> [reduce] -> [sort] and return
        an ``RDD[(key, value)]`` partitioned by ``self.partitioner`` and, when
        ``sort_output``, key-sorted within each partition (O15).

        ``stable=True`` (no-reduce mode only) additionally makes duplicates of
        equal keys come out in input order — the reference's FIFO-stable merge
        (lib/map_reduce/priority_queue.rb:35,50-53; SURVEY.md §7.4.4). Spark's
        shuffle is not duplicate-order-stable, so stability costs one
        ``zipWithIndex`` pass to attach a sequence tie-break; leave it off
        unless byte-stable output is required.

        ``inputs`` may be an RDD, a DataFrame (rows are passed to ``map_fn``),
        or a plain Python iterable (parallelized).
        """
        rdd = self._as_rdd(spark, inputs)
        map_fn = self.map_fn

        part = self.partitioner
        partition_func = lambda sk: part(sk.key)  # noqa: E731

        if stable and self.reduce_fn is None:
            # (key, seq) composite sort key: seq = (input index, intra-input
            # yield order) — total input order, FIFO within equal keys.
            indexed = rdd.zipWithIndex()
            pairs_seq = indexed.flatMap(
                lambda xi: (
                    ((SortKey(kv[0]), xi[1], j), kv[1])
                    for j, kv in enumerate(map_fn(xi[0]))
                )
            )
            out = pairs_seq.repartitionAndSortWithinPartitions(
                numPartitions=self.num_partitions,
                partitionFunc=lambda key3: part(key3[0].key),
            )
            return out.map(lambda kv: (kv[0][0].key, kv[1]), preservesPartitioning=True)

        pairs = rdd.flatMap(lambda x: ((SortKey(k), v) for k, v in map_fn(x)))

        if self.reduce_fn is not None:
            reduce_fn = self.reduce_fn
            # reduceByKey = map-side combine (O4) + shuffle + reduce-side merge
            # (O5/O14), all memory-bounded by Spark's ExternalMerger — the
            # engine never materializes a partition. The fold receives
            # key=None on this fast path (every reference example ignores the
            # key in reduce); use run_with_key_in_reduce when the fold needs it.
            out = pairs.reduceByKey(
                lambda v1, v2: reduce_fn(None, v1, v2),
                numPartitions=self.num_partitions,
                partitionFunc=partition_func,
            )
        else:
            # No-reduce passthrough (O16): duplicates preserved; the external
            # sort below gives the key-sorted-within-partition guarantee.
            out = pairs.repartitionAndSortWithinPartitions(
                numPartitions=self.num_partitions, partitionFunc=partition_func
            )
            return out.map(lambda kv: (kv[0].key, kv[1]), preservesPartitioning=True)

        if sort_output:
            # Post-aggregation rows are one per distinct key per partition;
            # sorting them reproduces O15. (At 100 TB, distinct-keys-per-
            # partition is shuffle-partition-sized by construction — tune
            # num_partitions, not this sort.)
            out = out.mapPartitions(
                lambda it: iter(sorted(it, key=lambda kv: kv[0])), preservesPartitioning=True
            )
        return out.map(lambda kv: (kv[0].key, kv[1]), preservesPartitioning=True)

    # ------------------------------------------------------------ arrow run

    def run_arrow(
        self,
        spark: SparkSession,
        df: Any,
        sort_output: bool = True,
        combine_flush: int = 200_000,
    ):
        """Arrow-batched execution of the SAME user protocol over a DataFrame:
        returns ``DataFrame(k string, v string)`` of canonical-JSON pairs,
        key-sorted within each partition when ``sort_output`` and placed so
        that partition INDEX == ``self.partitioner(key)`` exactly (see
        ``_steering_ids``).

        Same contract as ``run`` — user ``map_fn`` yields 0..n pairs per
        input, optional binary fold with map-side combine, SHA1-placement —
        but every transport leg is columnar: input rows arrive as Arrow
        batches (no per-row pickle), the shuffle is Spark's Tungsten exchange
        over two string columns (no Python-pickle shuffle), and the output
        stays a DataFrame (no driver/createDataFrame pass). This is the fix
        for the compat path's payload-linear decade ratios (SCALING.md: the
        mr_* entries sat at 6-7x for 10x rows because every pair crossed the
        Python-pickle boundary three times).

        Differences from ``run``, all inherent to the wire format:
        - input is a DataFrame; ``map_fn`` receives the row as a plain tuple
          (or the bare value for single-column frames) — the cheapest
          representation, per the mr_composite_key_agg rule;
        - values must be JSON-representable (the reference's chunk wire
          contract, lib/map_reduce/mapper.rb:115): the reduce-side fold sees
          values after one canonical-JSON roundtrip (tuples arrive as lists);
        - FIFO-stable no-reduce output (``stable=True``) is not offered here;
          use ``run`` when byte-stable duplicate order matters.

        Map-side combine is memory-bounded: the per-task accumulator flushes
        every ``combine_flush`` distinct keys (partial combines are correct
        under the associative+commutative contract and re-fold after the
        shuffle), so the MAP side cannot OOM the Python worker at any input
        size. Reduce-side state is bounded by DISTINCT KEYS PER PARTITION
        when folding (the same bound run()'s O15 in-memory output sort
        already imposes — tune num_partitions, not this path), and by ROWS
        per partition only for the sorted no-reduce passthrough; an
        unsorted no-reduce pass streams through without buffering. For a
        byte-sorted passthrough too large for worker memory, use ``run``
        (its repartitionAndSortWithinPartitions is Spark's spilling
        external sort).
        """
        import pyarrow as pa

        map_fn, reduce_fn = self.map_fn, self.reduce_fn
        nparts = self.num_partitions
        raw_part = self.partitioner
        # pyspark's partitionBy applies partitionFunc(k) % numPartitions, so
        # a partitioner returning values >= nparts is legal on run(); keep
        # the two paths contract-identical
        part = lambda k: raw_part(k) % nparts  # noqa: E731
        steer = _steering_ids(spark, nparts)
        canon = lambda o: json.dumps(  # noqa: E731 — reference byte layout
            o, separators=(",", ":"), ensure_ascii=False
        )

        def _rows(batch):
            cols = [c.to_pylist() for c in batch.columns]
            return iter(cols[0]) if len(cols) == 1 else zip(*cols)

        def map_side(batches):
            if reduce_fn is None:
                steers: list[int] = []
                ks: list[str] = []
                vs: list[str] = []
                for batch in batches:
                    for t in _rows(batch):
                        for k, v in map_fn(t):
                            steers.append(steer[part(k)])
                            ks.append(canon(k))
                            vs.append(canon(v))
                    if len(ks) >= combine_flush:
                        yield _kv_batch(pa, steers, ks, vs)
                        steers, ks, vs = [], [], []
                if ks:
                    yield _kv_batch(pa, steers, ks, vs)
                return

            # combine: dict keyed by the _hashable key form, whose grouping
            # is identical to SortKey's (1 and 1.0 merge; arrays element-
            # wise) at a fraction of the per-pair cost; the first-seen key
            # representative carries to the output and to placement,
            # matching run()'s reduceByKey behavior.
            acc: dict[Any, Any] = {}
            rep: dict[Any, Any] = {}

            def drain():
                steers = [steer[part(rep[hk])] for hk in acc]
                ks = [canon(rep[hk]) for hk in acc]
                vs = [canon(v) for v in acc.values()]
                return _kv_batch(pa, steers, ks, vs)

            for batch in batches:
                for t in _rows(batch):
                    for k, v in map_fn(t):
                        hk = _hashable(k)
                        if hk in acc:
                            acc[hk] = reduce_fn(None, acc[hk], v)
                        else:
                            acc[hk] = v
                            rep[hk] = k
                if len(acc) >= combine_flush:
                    yield drain()
                    acc.clear()
                    rep.clear()
            if acc:
                yield drain()

        def reduce_side(batches):
            if reduce_fn is None:
                if not sort_output:
                    # unsorted passthrough: stream through, zero buffering
                    for batch in batches:
                        yield pa.record_batch(
                            [batch.column(1), batch.column(2)], names=["k", "v"]
                        )
                    return
                # sorted passthrough buffers the partition (the sort needs
                # it); run() is the spilling external-sort alternative
                rows: list[tuple[SortKey, str, str]] = []
                for batch in batches:
                    kc = batch.column(1).to_pylist()
                    vc = batch.column(2).to_pylist()
                    rows.extend((SortKey(json.loads(kj)), kj, vj) for kj, vj in zip(kc, vc))
                rows.sort(key=lambda r: r[0])
                for i in range(0, len(rows), 65536):
                    chunk = rows[i : i + 65536]
                    yield pa.record_batch(
                        [
                            pa.array([r[1] for r in chunk], pa.string()),
                            pa.array([r[2] for r in chunk], pa.string()),
                        ],
                        names=["k", "v"],
                    )
                return

            acc: dict[Any, Any] = {}
            rep: dict[Any, str] = {}
            for batch in batches:
                kc = batch.column(1).to_pylist()
                vc = batch.column(2).to_pylist()
                for kj, vj in zip(kc, vc):
                    hk = _hashable(json.loads(kj))
                    if hk in acc:
                        acc[hk] = reduce_fn(None, acc[hk], json.loads(vj))
                    else:
                        acc[hk] = json.loads(vj)
                        rep[hk] = kj
            items = list(acc.items())
            if sort_output:
                # SortKey only here: once per DISTINCT key, not per pair
                items.sort(key=lambda kv: SortKey(kv[0]))
            for i in range(0, len(items), 65536):
                chunk = items[i : i + 65536]
                yield pa.record_batch(
                    [
                        pa.array([rep[hk] for hk, _ in chunk], pa.string()),
                        pa.array([canon(v) for _, v in chunk], pa.string()),
                    ],
                    names=["k", "v"],
                )

        from pyspark.sql import functions as F

        mapped = df.mapInArrow(map_side, schema="steer int, k string, v string")
        # one JVM Tungsten exchange on the steering id; partition index ==
        # partitioner(key) afterwards (O6 placement preserved end-to-end)
        shuffled = mapped.repartition(nparts, F.col("steer"))
        return shuffled.mapInArrow(reduce_side, schema="k string, v string")

    def run_with_key_in_reduce(self, spark: SparkSession, inputs: Any) -> RDD:
        """Variant for reduce functions that actually use the key argument.

        The common path (run) assumes the fold ignores ``key`` (true for every
        reference spec and README example). This variant carries the key
        through the fold at the cost of one extra tuple per value.
        """
        rdd = self._as_rdd(spark, inputs)
        map_fn, reduce_fn, part = self.map_fn, self.reduce_fn, self.partitioner
        if reduce_fn is None:
            return self.run(spark, inputs)
        pairs = rdd.flatMap(lambda x: ((SortKey(k), (k, v)) for k, v in map_fn(x)))
        reduced = pairs.reduceByKey(
            lambda a, b: (a[0], reduce_fn(a[0], a[1], b[1])),
            numPartitions=self.num_partitions,
            partitionFunc=lambda sk: part(sk.key),
        )
        return (
            reduced.mapPartitions(
                lambda it: iter(sorted(it, key=lambda kv: kv[0])), preservesPartitioning=True
            )
            .map(lambda kv: (kv[0].key, kv[1][1]), preservesPartitioning=True)
        )

    # ------------------------------------------------- enumerator-style API

    def to_local_iterator(self, spark: SparkSession, inputs: Any) -> Iterator[tuple[Any, Any]]:
        """Lazy (key, value) stream — the reference's block-less
        ``Reducer#reduce`` Enumerator form (reference lib/map_reduce/reducer.rb:70)."""
        return self.run(spark, inputs).toLocalIterator()

    # --------------------------------------------------- chunk-file interop

    def shuffle_to_files(
        self,
        spark: SparkSession,
        inputs: Any,
        out_dir: str,
        shared_storage: bool = False,
        stable: bool = False,
        via_arrow: bool = False,
    ) -> dict[int, str]:
        """Materialize the shuffle as the reference's partition->file map
        (reference lib/map_reduce/mapper.rb:76-96 ``Mapper#shuffle``): one
        JSON-lines file per non-empty partition, each line
        ``json([key, value])``, keys sorted within the file
        (reference lib/map_reduce/mapper.rb:115,131-135 chunk format).

        ``stable=True`` (no-reduce mode): equal-key duplicates keep input
        order in the chunk files, matching the reference's FIFO-stable merge
        byte-for-byte (lib/map_reduce/priority_queue.rb:35,50-53, pinned by
        spec/map_reduce/mapper_spec.rb:89-125). Costs one ``zipWithIndex``
        pass; the compat façade turns it on by default because it advertises
        byte-compatible chunk files.

        Two modes:

        - ``shared_storage=False`` (default, the compat-façade fast path):
          each task writes ``partition-<pid>.jsonl`` where it runs. Correct
          on a single node; on a real cluster the files land on
          executor-local disks where driver-returned paths are meaningless.
        - ``shared_storage=True`` (the cluster path): the sorted shuffle
          output is written through the ``mr_chunks`` DataSource writer
          (sources/chunk_datasource.py) — one reference-format sorted run
          per partition, written by the executors directly into ``out_dir``
          on shared storage. ``out_dir`` may be a plain/``file://`` path
          (NFS mount) or any URI whose scheme has a registered backend
          (sources/storage.py — an s3 deployment registers its client
          once). No row ever crosses the driver, and the partition->path
          map is read from the writer's ``_MANIFEST.json`` — built on the
          driver from the tasks' commit messages, never from a directory
          listing — which is what makes the reference's S3 handoff story
          (reference README.md:60-67,78-84) work end-to-end on a real
          cluster.

        ``via_arrow=True`` (requires ``shared_storage`` and a DataFrame
        input; incompatible with ``stable``): the shuffle runs through
        ``run_arrow`` — Arrow transport end-to-end, JVM Tungsten exchange,
        no Python-pickle leg — and the writer receives already-canonical
        (k, v) JSON strings. Steered placement keeps partition index ==
        ``partitioner(key)``, so the manifest's partition ids and each
        file's JSON-lines bytes are identical to the classic path's
        (pinned by tests/test_sources_sinks.py).
        """
        if via_arrow and not shared_storage:
            raise ValueError("via_arrow requires shared_storage=True")
        if via_arrow and stable:
            raise ValueError(
                "via_arrow does not offer FIFO-stable duplicate order; "
                "use the classic path (via_arrow=False) when byte-stable "
                "no-reduce output is required"
            )
        if via_arrow and not hasattr(inputs, "mapInArrow"):
            raise TypeError("via_arrow requires a DataFrame input")
        if shared_storage:
            from map_reduce_ruby_spark.sources.storage import join_uri, storage_for

            backend = storage_for(out_dir)  # raises for unregistered schemes
            manifest_uri = join_uri(out_dir, MANIFEST_NAME)
            # COMPLETED generation only (manifest + _SUCCESS): a manifest
            # without the marker is a crashed half-commit, and rewriting it
            # is the recovery path (mirrors _ChunkWriter's plan-time guard).
            if backend.exists(manifest_uri) and backend.exists(
                join_uri(out_dir, "_SUCCESS")
            ):
                raise ValueError(
                    f"{out_dir!r} already holds a completed chunk generation "
                    f"({MANIFEST_NAME} + _SUCCESS present) — the append-mode "
                    "writer would interleave generations and the path map "
                    "would return stale chunks; write each shuffle to a "
                    "fresh generation directory"
                )
        else:
            os.makedirs(out_dir, exist_ok=True)

        if shared_storage:
            from map_reduce_ruby_spark.sources.chunk_datasource import (
                CHUNK_SCHEMA,
                register_chunk_source,
            )

            register_chunk_source(spark)
            from map_reduce_ruby_spark.sources.storage import pickle_backend

            if via_arrow:
                # already canonical (k, v) JSON strings, key-sorted within
                # partition, partition index == partitioner(key): feed the
                # writer directly — no per-row Python canon pass at all
                # (toDF renames to the writer's field names; narrow, no
                # exchange)
                kv_df = self.run_arrow(spark, inputs, sort_output=True).toDF(
                    "key_json", "value_json"
                )
            else:
                result = self.run(spark, inputs, sort_output=True, stable=stable)
                canon = lambda o: json.dumps(  # noqa: E731 — reference byte layout
                    o, separators=(",", ":"), ensure_ascii=False
                )
                # RDD -> (key_json, value_json) rows is a narrow map: partition
                # ids and in-partition sort order carry through to the writer,
                # which emits chunk-<pid>-<writeid>.jsonl per task
                # (TaskContext.partitionId + the writer's generation token)
                # and reports (partition, file, rows) in its commit message.
                rows = result.map(lambda kv: (canon(kv[0]), canon(kv[1])))
                kv_df = spark.createDataFrame(rows, CHUNK_SCHEMA)
            # the backend resolved above (driver-side registry) rides to the
            # writer's worker processes as a cloudpickle option — see
            # sources/storage.py pickle_backend
            kv_df.write.format("mr_chunks").mode("append").option(
                "backend_pickle", pickle_backend(backend)
            ).save(out_dir)
            manifest = json.loads(backend.read_text(manifest_uri))
            return {
                int(e["partition"]): join_uri(out_dir, e["file"])
                for e in manifest["files"]
            }

        result = self.run(spark, inputs, sort_output=True, stable=stable)

        def write_partition(pid: int, it: Iterator[tuple[Any, Any]]) -> Iterator[tuple[int, str]]:
            path = os.path.join(out_dir, f"partition-{pid}.jsonl")
            wrote = False
            with open(path, "w", encoding="utf-8") as f:
                for k, v in it:
                    f.write(json.dumps([k, v], separators=(",", ":"), ensure_ascii=False))
                    f.write("\n")
                    wrote = True
            if wrote:
                yield (pid, path)
            else:
                os.unlink(path)

        return dict(result.mapPartitionsWithIndex(write_partition).collect())

    @classmethod
    def reduce_files(
        cls,
        spark: SparkSession,
        paths: list[str],
        reduce_fn: ReduceFn | None,
        num_partitions: int = 1,
        partitioner: PartitionFn | None = None,
    ) -> RDD:
        """Reducer-side ingest (reference ``Reducer#add_chunk`` + ``#reduce``,
        lib/map_reduce/reducer.rb:34-100): read reference-format JSON-lines
        chunks and run the merge/reduce. Identity map; same output guarantees
        as ``run``."""
        job = cls(
            map_fn=lambda line: [tuple(json.loads(line))],
            reduce_fn=reduce_fn,
            num_partitions=num_partitions,
            partitioner=partitioner,
        )
        rdd = spark.sparkContext.textFile(",".join(paths))
        return job.run(spark, rdd)

    # ----------------------------------------------------------- internals

    @staticmethod
    def _as_rdd(spark: SparkSession, inputs: Any) -> RDD:
        if isinstance(inputs, RDD):
            return inputs
        if hasattr(inputs, "rdd"):  # DataFrame
            return inputs.rdd
        # One slice per core, never an empty one: every Python task pays a
        # fixed cost, and slices beyond the cores only queue behind them.
        sc: SparkContext = spark.sparkContext
        inputs = list(inputs)
        return sc.parallelize(
            inputs, numSlices=max(1, min(len(inputs), sc.defaultParallelism))
        )
