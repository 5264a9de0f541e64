"""Drop-in ``Mapper`` / ``Reducer`` façade: the reference's EXACT two-class
worker API (reference lib/map_reduce/mapper.rb, lib/map_reduce/reducer.rb),
so a user of the reference can port their worker code by changing imports —
the Spark ``Job`` underneath replaces spill/merge/shuffle mechanics.

Reference worker flow (reference README.md:55-91) and its analog here:

    Ruby                                     Python
    ----                                     ------
    mapper = Mapper.new(impl, partitioner:)  Mapper(impl, spark, partitioner=...)
    mapper.map(input)  # many times          mapper.map(input)
    mapper.shuffle(chunk_limit:) { |parts| } mapper.shuffle(block) or
                                             with-block-less dict return
    reducer = Reducer.new(impl)              Reducer(impl, spark)
    path = reducer.add_chunk  # download     path = reducer.add_chunk()
    reducer.reduce(chunk_limit:) { |k, v| }  for k, v in reducer.reduce(): ...

Fidelity details:
- ``chunk_limit < 2`` raises ``InvalidChunkLimit``
  (reference lib/map_reduce.rb:18, mapper.rb:77, reducer.rb:72); beyond the
  guard the value is ignored — merge fan-in is Spark's concern.
- ``memory_limit`` is HONORED (reference mapper.rb:21,50-52): when set, the
  user ``map`` runs eagerly and yielded pairs accumulate in a driver buffer
  under the reference's exact JSON-size accounting; crossing the limit
  spills the buffer as a sorted (and combined, when the implementation has
  ``reduce``) reference-format chunk file (mapper.rb:123-141 ``write_chunk``),
  so driver memory stays bounded by ``memory_limit`` regardless of input
  volume. ``shuffle`` then merges the spilled chunks THROUGH Spark (the
  chunks become a distributed source; Spark's sort-based shuffle is the
  k-way merge) and produces partition files byte-identical to the
  unbounded path's.
- With ``memory_limit=None`` (default) inputs buffer unmapped and the user
  ``map`` runs lazily inside Spark tasks — the distributed fast path.
- A ``Reducer`` with no ``reduce`` on the implementation works while keys are
  distinct and raises ``AttributeError`` (Ruby ``NoMethodError``) only when
  two equal keys actually meet — lazily, exactly like the reference
  (spec/map_reduce/reducer_spec.rb:37-62).
- Partition files are the reference's JSON-lines chunk format
  (``json([key, value])`` per line, key-sorted), byte-compatible both ways.

SCALE NOTE: the façade is the reference's single-WORKER surface — inputs
arrive through driver-side ``map`` calls either way, exactly like the
reference worker process. ``memory_limit`` bounds the driver's MEMORY the
way the reference bounds the worker's; the 100 TB path remains handing
``Job.run`` an RDD/DataFrame directly (the map function then runs inside
Spark tasks against a distributed source), or writing reference-format
chunks to shared storage via ``Job.shuffle_to_files(shared_storage=True)``.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from typing import Any, Callable, Iterator

from pyspark.sql import SparkSession

from map_reduce_ruby_spark.core.job import Job, MapReduceError
from map_reduce_ruby_spark.core.keys import SortKey, canonical_json
from map_reduce_ruby_spark.core.partitioner import HashPartitioner


class InvalidChunkLimit(MapReduceError):
    """chunk_limit must be >= 2 (reference lib/map_reduce.rb:18)."""


def _check_chunk_limit(chunk_limit: int) -> None:
    if chunk_limit < 2:
        raise InvalidChunkLimit(f"chunk_limit must be >= 2, got {chunk_limit}")


class Mapper:
    """Reference ``MapReduce::Mapper`` (lib/map_reduce/mapper.rb): buffer
    inputs via ``map``, then ``shuffle`` to a partition->file map."""

    def __init__(
        self,
        implementation: Any,
        spark: SparkSession,
        partitioner: Callable[[Any], int] | None = None,
        memory_limit: int | None = None,
    ):
        self._impl = implementation
        self._spark = spark
        self._partitioner = partitioner or HashPartitioner(32)
        self._inputs: list[Any] = []
        # memory_limit honored (reference mapper.rb:21): None = the lazy
        # distributed path (map runs inside Spark tasks); an int = the
        # reference's bounded-buffer spill path (map runs eagerly, pairs
        # spill to sorted chunk files at the JSON-size threshold).
        self._memory_limit = None if memory_limit is None else int(memory_limit)
        # spill state (reference mapper.rb:28-30): buffered (partition,
        # key, value) items, their reference-accounted JSON byte size, and
        # the spilled chunk paths in write order.
        self._buffer: list[tuple[int, Any, Any]] = []
        self._buffer_size = 0
        self._spill_chunks: list[str] = []
        # O19 thread-safe ingestion: the reference's Mapper is a monitor
        # (reference lib/map_reduce/mapper.rb:7 MonitorMixin, :45 synchronize)
        # so workers may feed one mapper from many threads. CPython's GIL
        # makes a bare list.append atomic, but that is an implementation
        # detail — an explicit lock pins the contract.
        self._ingest_lock = threading.Lock()

    def map(self, *args: Any, **kwargs: Any) -> None:
        """Feed one input; ALL args of one call reach ONE
        ``implementation.map(*args, **kwargs)`` invocation (reference
        mapper.rb:43 forwards the full argument list). Safe to call
        concurrently from multiple threads (reference mapper.rb:45
        ``synchronize``).

        Without ``memory_limit`` the input is buffered and the user's
        ``map`` runs lazily at shuffle time, inside Spark tasks. With
        ``memory_limit`` the user's ``map`` runs NOW and each yielded pair
        lands in the bounded buffer under the reference's JSON-size
        accounting (mapper.rb:44-54): ``[[partition, key], value]`` costs
        its ``JSON.generate`` bytesize, and crossing the limit spills the
        sorted (and pre-combined, when the implementation has ``reduce``)
        buffer to a reference-format chunk file — driver memory is bounded
        by ``memory_limit`` at any input volume."""
        if self._memory_limit is None:
            with self._ingest_lock:
                self._inputs.append((args, kwargs))
            return
        part = self._partitioner
        for key, value in self._impl.map(*args, **kwargs):
            pid = part(key)
            item_bytes = len(canonical_json([[pid, key], value]).encode("utf-8"))
            with self._ingest_lock:
                self._buffer.append((pid, key, value))
                self._buffer_size += item_bytes
                if self._buffer_size >= self._memory_limit:
                    self._write_chunk()

    def _write_chunk(self) -> None:
        """Spill the buffer as ONE sorted reference-format chunk file
        (reference mapper.rb:123-141 ``write_chunk``): items sorted by
        (partition, key) — Python's stable sort preserves FIFO within
        equal keys like Ruby's sort_by — combined with the implementation's
        ``reduce`` when present (consecutive equal keys fold pairwise,
        reference reduceable.rb:18-34), one ``json([[partition, key],
        value])`` line per surviving item. Caller holds the ingest lock."""
        if not self._buffer:
            return
        self._buffer.sort(key=lambda it: (it[0], SortKey(it[1])))
        items: Iterator[tuple[int, Any, Any]] | list[tuple[int, Any, Any]]
        reduce_fn = getattr(self._impl, "reduce", None)
        if reduce_fn is not None:

            def _combined() -> Iterator[tuple[int, Any, Any]]:
                prev = None
                for cur in self._buffer:
                    if prev is None:
                        prev = cur
                    elif prev[0] == cur[0] and SortKey(prev[1]) == SortKey(cur[1]):
                        prev = (prev[0], prev[1], reduce_fn(prev[1], prev[2], cur[2]))
                    else:
                        yield prev
                        prev = cur
                if prev is not None:
                    yield prev

            items = _combined()
        else:
            items = self._buffer
        fd, path = tempfile.mkstemp(prefix="mr_spill_", suffix=".jsonl")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            for pid, key, value in items:
                f.write(canonical_json([[pid, key], value]))
                f.write("\n")
        self._spill_chunks.append(path)
        self._buffer = []
        self._buffer_size = 0

    def shuffle(
        self,
        block: Callable[[dict[int, str]], None] | None = None,
        chunk_limit: int = 32,
        out_dir: str | None = None,
    ) -> dict[int, str] | None:
        """Run map -> [combine] -> partition -> sort and materialize one
        JSON-lines file per non-empty partition (reference mapper.rb:76-96).

        With ``block``: call it with {partition: path} then DELETE the files
        (the reference's yield-then-cleanup ``ensure``). Without: return the
        map; the caller owns the files.

        With ``memory_limit`` set, the pairs live in spilled sorted chunk
        files (plus the final in-memory buffer, flushed here — reference
        mapper.rb:81); the chunks become a distributed Spark source and
        Spark's sort-based shuffle replaces the reference's k-way merge
        (mapper.rb:83-96). The spilled chunks are deleted afterwards even
        on error (the reference's ``ensure``), and the partition files are
        byte-identical to the unbounded path's (pinned by
        tests/test_compat.py::test_memory_limit_output_byte_identical_with_reduce
        and ..._no_reduce_fifo).
        """
        _check_chunk_limit(chunk_limit)
        impl_map = self._impl.map
        reduce_fn = getattr(self._impl, "reduce", None)
        n_parts = getattr(self._partitioner, "num_partitions", 32)
        out = out_dir or tempfile.mkdtemp(prefix="mr_shuffle_")
        if self._memory_limit is not None:
            partitions = self._shuffle_from_spills(reduce_fn, n_parts, out)
        else:
            job = Job(
                map_fn=lambda ak: impl_map(*ak[0], **ak[1]),
                reduce_fn=reduce_fn,
                partitioner=self._partitioner,
                num_partitions=n_parts,
            )
            # shuffle CONSUMES the mapper state (reference mapper.rb:88-93
            # ensure: spilled chunks deleted, buffer already reset — a
            # second shuffle on the same mapper yields EMPTY partitions);
            # the spill path gets this for free, the lazy path must take
            # the inputs out of the mapper here.
            with self._ingest_lock:
                inputs, self._inputs = self._inputs, []
            # No-reduce mode defaults to FIFO-stable duplicates: the façade
            # advertises byte-compatible chunk files, and the reference's
            # merge keeps equal-key duplicates in input order
            # (lib/map_reduce/priority_queue.rb:35,50-53, pinned by
            # spec/map_reduce/mapper_spec.rb:89-125). With a reduce impl the
            # flag is moot (keys are unique after the fold) and costs nothing.
            partitions = job.shuffle_to_files(
                self._spark, inputs, out, stable=reduce_fn is None
            )
        if block is None:
            return partitions
        try:
            block(partitions)
            return None
        finally:
            for path in partitions.values():
                if os.path.exists(path):
                    os.unlink(path)

    def _shuffle_from_spills(
        self, reduce_fn: Callable | None, n_parts: int, out: str
    ) -> dict[int, str]:
        """Shuffle from the spilled chunk files: the chunk list is sliced
        like any driver list (``Job._as_rdd``: one slice per core), each
        task streams its slice's chunks one after another, line by line (a
        chunk is at most ~memory_limit bytes by construction — no task
        re-buffers the whole dataset), lines parse back to (key, value),
        and the SAME Job machinery as the unbounded path
        partitions/sorts/folds them. FIFO stability holds end-to-end:
        chunks spill in input order, slices are contiguous runs of the
        list, and the spill sort is stable, so (chunk index, line number) —
        the order the flattened RDD yields and ``stable=True`` sequences —
        preserves input order among equal keys, matching the reference's
        FIFO k-way merge (priority_queue.rb:35,50-53). Single-process
        façade contract: the spill files live on the worker-local
        filesystem, shared with local[k] executors; a porting user on a
        real cluster hands Job.run a distributed source instead."""
        with self._ingest_lock:
            self._write_chunk()  # flush the tail buffer (mapper.rb:81)
            chunks, self._spill_chunks = self._spill_chunks, []
        try:
            paths = Job._as_rdd(self._spark, chunks)

            def _lines(path: str) -> Iterator[str]:
                with open(path, encoding="utf-8") as f:
                    for line in f:
                        if line.strip():
                            yield line

            def _parse(line: str) -> list[tuple[Any, Any]]:
                (_pid, key), value = json.loads(line)
                return [(key, value)]

            job = Job(
                map_fn=_parse,
                reduce_fn=reduce_fn,
                partitioner=self._partitioner,
                num_partitions=n_parts,
            )
            return job.shuffle_to_files(
                self._spark, paths.flatMap(_lines), out,
                stable=reduce_fn is None,
            )
        finally:
            for p in chunks:
                if os.path.exists(p):
                    os.unlink(p)


class Reducer:
    """Reference ``MapReduce::Reducer`` (lib/map_reduce/reducer.rb):
    register chunk files, then stream the merged+reduced pairs."""

    def __init__(self, implementation: Any, spark: SparkSession):
        self._impl = implementation
        self._spark = spark
        self._chunks: list[str] = []

    def add_chunk(self) -> str:
        """Allocate and register an empty temp path for the caller to fill
        (reference reducer.rb:34-42 — e.g. with a downloaded partition
        chunk)."""
        fd, path = tempfile.mkstemp(prefix="mr_chunk_", suffix=".jsonl")
        os.close(fd)
        self._chunks.append(path)
        return path

    def reduce(self, chunk_limit: int = 32) -> Iterator[tuple[Any, Any]]:
        """Merge all registered chunks and yield key-sorted (key, value)
        pairs (reference reducer.rb:69-100; Enumerator form == this
        generator). Temp chunks are deleted when the stream is exhausted or
        closed, even on error (the reference's ``ensure``)."""
        _check_chunk_limit(chunk_limit)
        reduce_fn = getattr(self._impl, "reduce", None)
        try:
            paths = [p for p in self._chunks if os.path.getsize(p) > 0]
            if paths:
                rdd = Job.reduce_files(
                    self._spark, paths, reduce_fn, num_partitions=1
                )
                prev_key, have_prev = None, False
                for key, value in rdd.toLocalIterator():
                    if reduce_fn is None and have_prev and prev_key == key:
                        # Lazy NoMethodError parity: only when duplicates meet
                        raise AttributeError(
                            "implementation has no 'reduce' but duplicate "
                            f"keys met in the reducer (key={key!r}) — "
                            "reference raises NoMethodError here "
                            "(spec/map_reduce/reducer_spec.rb:37-62)"
                        )
                    prev_key, have_prev = key, True
                    yield key, value
        finally:
            for p in self._chunks:
                if os.path.exists(p):
                    os.unlink(p)
            self._chunks.clear()
