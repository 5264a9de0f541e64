"""End-to-end Job semantics, porting the reference's spec behaviors
(SURVEY.md §5 table) onto the Spark-native engine.

The spill/merge mechanics themselves (memory_limit cuts, chunk_limit cascades,
temp cleanup) are Spark's shuffle and are not re-asserted; what IS asserted is
every user-visible contract those specs pin: combine results, composite-key
numeric ordering, duplicate-preserving no-reduce mode, partition placement,
sorted output, multi-chunk reduce correctness, lazy incomparable-key errors.
"""

import json
import os

import pytest

from map_reduce_ruby_spark.core import HashPartitioner, IncomparableKeyError, Job
from map_reduce_ruby_spark.core.job import InvalidNumPartitions


def collect_by_partition(rdd):
    """{partition_index: [(key, value), ...]} preserving in-partition order."""
    out = {}
    for pid, pairs in rdd.mapPartitionsWithIndex(
        lambda i, it: [(i, list(it))]
    ).collect():
        if pairs:
            out[pid] = pairs
    return out


class TestWordCount:
    # The README's canonical job (reference README.md:35-45).
    def test_wordcount(self, spark):
        job = Job(
            map_fn=lambda text: ((w, 1) for w in text.split()),
            reduce_fn=lambda key, a, b: a + b,
            num_partitions=4,
        )
        pairs = dict(job.run(spark, ["the quick fox", "the lazy dog", "the fox"]).collect())
        assert pairs == {"the": 3, "quick": 1, "fox": 2, "lazy": 1, "dog": 1}


class TestCombinerAndCompositeKeys:
    # Ports spec/map_reduce/mapper_spec.rb:47-87: composite [str, int] keys,
    # map-side combine, numeric ordering ["key3",2] < ["key3",11].
    def test_composite_key_reduce_sorted(self, spark):
        inputs = [
            (["key3", 11], 1),
            (["key3", 2], 1),
            (["key1", 1], 1),
            (["key3", 2], 1),
            (["key2", 5], 1),
            (["key3", 11], 2),
        ]
        job = Job(
            map_fn=lambda kv: [kv],
            reduce_fn=lambda key, a, b: a + b,
            num_partitions=1,
        )
        result = job.run(spark, inputs).collect()
        assert result == [
            (["key1", 1], 1),
            (["key2", 5], 1),
            (["key3", 2], 2),
            (["key3", 11], 3),
        ]


class TestNoReducePassthrough:
    # Ports spec/map_reduce/mapper_spec.rb:89-125 (v2.1.0): without a reduce
    # implementation duplicates are preserved and merely partitioned + sorted.
    def test_duplicates_preserved_sorted(self, spark):
        inputs = [("b", 1), ("a", 1), ("b", 2), ("a", 2), ("b", 1)]
        job = Job(map_fn=lambda kv: [kv], num_partitions=1)
        result = job.run(spark, inputs).collect()
        keys = [k for k, _ in result]
        assert keys == sorted(keys)
        assert len(result) == 5
        assert sorted(v for k, v in result if k == "b") == [1, 1, 2]


class TestPartitionPlacement:
    # Ports spec/map_reduce/mapper_spec.rb shuffle spec: HashPartitioner(4)
    # sends ["key1"]..["key5"] to partitions 3,2,0,2,3.
    def test_placement(self, spark):
        inputs = [(["key%d" % i], {"value": chr(96 + i) * 10}) for i in range(1, 6)]
        job = Job(map_fn=lambda kv: [kv], num_partitions=4)
        by_part = collect_by_partition(job.run(spark, inputs))
        assert set(by_part) == {0, 2, 3}
        assert [k for k, _ in by_part[0]] == [["key3"]]
        assert [k for k, _ in by_part[2]] == [["key2"], ["key4"]]
        assert [k for k, _ in by_part[3]] == [["key1"], ["key5"]]

    def test_partitions_sorted_within(self, spark):
        # O15: final output key-sorted within each partition
        # (spec/map_reduce/mapper_spec.rb:75-87, reducer_spec.rb:86-97).
        inputs = [(f"k{i:03d}", i) for i in range(200, 0, -1)]
        job = Job(map_fn=lambda kv: [kv], reduce_fn=lambda k, a, b: a + b, num_partitions=4)
        for pid, pairs in collect_by_partition(job.run(spark, inputs)).items():
            keys = [k for k, _ in pairs]
            assert keys == sorted(keys), f"partition {pid} not sorted"


class TestMultiChunkReduce:
    # Ports spec/map_reduce/reducer_spec.rb:99-138: values spread across many
    # chunks reduce to one per key regardless of chunk/run boundaries.
    def test_many_partitions_many_slices(self, spark):
        inputs = [(f"key{i % 7}", 1) for i in range(1000)]
        rdd = spark.sparkContext.parallelize(inputs, 16)
        job = Job(map_fn=lambda kv: [kv], reduce_fn=lambda k, a, b: a + b, num_partitions=3)
        result = dict(job.run(spark, rdd).collect())
        assert result == {f"key{i}": (143 if i < 6 else 142) for i in range(7)}

    def test_key_passed_to_reduce(self, spark):
        inputs = [("a", 1), ("a", 2), ("bb", 3), ("bb", 4)]
        job = Job(
            map_fn=lambda kv: [kv],
            reduce_fn=lambda key, a, b: a + b + len(key),
            num_partitions=2,
        )
        result = dict(job.run_with_key_in_reduce(spark, inputs).collect())
        assert result == {"a": 4, "bb": 9}


class TestDriverListSlices:
    # A driver-side list is cut into one slice per core, never an empty one:
    # each slice is a Python task with a fixed cost.
    def test_one_slice_per_core(self, spark):
        cores = spark.sparkContext.defaultParallelism
        assert Job._as_rdd(spark, range(1200)).getNumPartitions() == cores
        assert Job._as_rdd(spark, ["a", "b", "c"]).getNumPartitions() == min(3, cores)


class TestDistinctKeysNoReduce:
    # Ports spec/map_reduce/reducer_spec.rb:37-62: reduce impl only needed
    # when duplicate keys actually meet.
    def test_distinct_keys_ok_without_reduce(self, spark):
        inputs = [("a", 1), ("b", 2), ("c", 3)]
        job = Job(map_fn=lambda kv: [kv], num_partitions=2)
        assert dict(job.run(spark, inputs).collect()) == {"a": 1, "b": 2, "c": 3}


class TestIncomparableKeys:
    # Ports spec/map_reduce/reducer_spec.rb:15-35: illegal (hash) keys raise
    # at merge/compare time.
    def test_dict_keys_raise_lazily(self, spark):
        inputs = [({"v": 1}, 1), ({"v": 2}, 2)]
        job = Job(map_fn=lambda kv: [kv], num_partitions=1)
        with pytest.raises(Exception) as exc_info:
            job.run(spark, inputs).collect()
        assert "IncomparableKeyError" in str(exc_info.value) or isinstance(
            exc_info.value, IncomparableKeyError
        )


class TestEmptyInput:
    # Ports spec/map_reduce/reducer_spec.rb:140-142.
    def test_empty(self, spark):
        job = Job(map_fn=lambda kv: [kv], reduce_fn=lambda k, a, b: a + b)
        assert job.run(spark, []).collect() == []


class TestEnumeratorForm:
    # Reducer#reduce without a block returns a lazy Enumerator
    # (reference lib/map_reduce/reducer.rb:70) == toLocalIterator.
    def test_to_local_iterator(self, spark):
        job = Job(
            map_fn=lambda t: ((w, 1) for w in t.split()),
            reduce_fn=lambda k, a, b: a + b,
            num_partitions=2,
        )
        it = job.to_local_iterator(spark, ["x y", "y z"])
        assert dict(it) == {"x": 1, "y": 2, "z": 1}


class TestInvalidConfig:
    # Analog of InvalidChunkLimit (reference lib/map_reduce.rb:18).
    def test_invalid_partitions(self):
        with pytest.raises(InvalidNumPartitions):
            Job(map_fn=lambda x: [], num_partitions=0)


class TestChunkFileInterop:
    # Chunk format: one json([key, value]) per line, keys sorted in-file
    # (reference lib/map_reduce/mapper.rb:115,131-135).
    def test_shuffle_to_files_roundtrip(self, spark, tmp_path):
        inputs = [(["key%d" % i], {"value": "x"}) for i in range(1, 6)]
        job = Job(map_fn=lambda kv: [kv], num_partitions=4)
        files = job.shuffle_to_files(spark, inputs, str(tmp_path))
        assert set(files) == {0, 2, 3}  # same placement as the reference spec
        lines = [
            json.loads(line)
            for line in open(files[2], encoding="utf-8").read().splitlines()
        ]
        assert lines == [[["key2"], {"value": "x"}], [["key4"], {"value": "x"}]]

    def test_reduce_files(self, spark, tmp_path):
        # Reducer-side ingest (Reducer#add_chunk + #reduce).
        p1, p2 = str(tmp_path / "c1.jsonl"), str(tmp_path / "c2.jsonl")
        from map_reduce_ruby_spark.sources.jsonlines import write_chunk

        write_chunk(p1, [("a", 1), ("b", 1)])
        write_chunk(p2, [("a", 2), ("c", 5)])
        result = Job.reduce_files(
            spark, [p1, p2], reduce_fn=lambda k, a, b: a + b, num_partitions=2
        )
        assert dict(result.collect()) == {"a": 3, "b": 1, "c": 5}


class TestStableNoReduce:
    """FIFO-stable duplicate order (reference priority_queue.rb:35 stability;
    O10/P8): with stable=True, equal keys keep input order."""

    def test_duplicates_in_input_order(self, spark):
        inputs = [("k", f"v{i}") for i in range(50)] + [("a", "first"), ("a", "second")]
        job = Job(map_fn=lambda kv: [kv], num_partitions=4)
        out = job.run(spark, inputs, stable=True).collect()
        k_vals = [v for k, v in out if k == "k"]
        assert k_vals == [f"v{i}" for i in range(50)]
        assert [v for k, v in out if k == "a"] == ["first", "second"]

    def test_still_key_sorted_within_partition(self, spark):
        inputs = [("b", 1), ("a", 2), ("b", 3), ("a", 4)]
        job = Job(map_fn=lambda kv: [kv], num_partitions=1)
        out = job.run(spark, inputs, stable=True).collect()
        assert out == [("a", 2), ("a", 4), ("b", 1), ("b", 3)]

    def test_intra_input_yield_order(self, spark):
        # one input yields several pairs with the same key: yield order kept
        job = Job(map_fn=lambda x: [("k", x * 10 + j) for j in range(3)], num_partitions=2)
        out = job.run(spark, [1, 2], stable=True).collect()
        assert [v for _, v in out] == [10, 11, 12, 20, 21, 22]
