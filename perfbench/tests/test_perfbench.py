"""The benchmark's own tests: python3 -m pytest perfbench/tests -q

They start one small local Spark session (2 cores) for the status-store and
reference-model tests.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# Spark's Python workers unpickle the benchmark's mapper classes by import path.
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")

from perfbench import mapreduce, worker  # noqa: E402
from perfbench.checksum import frame_checksum  # noqa: E402
from perfbench.runner import Ctx, Tracer, median_layer, run_pass  # noqa: E402
from perfbench.sparkstatus import SparkStatus, covered_s  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from map_reduce_ruby_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()


def _ctx(spark, tmp_path, traced=False) -> Ctx:
    ctx = Ctx(spark=spark, seed=7, tmp=str(tmp_path), tracer=Tracer(traced), cpu=lambda: 0.0)
    if traced:
        ctx.status = SparkStatus(spark)
    return ctx


def test_status_reader_counts_jobs_and_bounds_executor_time(spark):
    st = SparkStatus(spark)
    mark = st.mark()
    t0 = time.time()
    spark.range(0, 200_000, numPartitions=4).selectExpr("id % 13 AS k", "id").groupBy("k").sum(
        "id").toPandas()
    t1 = time.time()
    got = st.read(mark, t0, t1)
    assert got["jobs"] >= 1
    assert got["stages"] >= 1 and got["tasks"] >= 1
    assert 0 < got["exec_run_s"] <= (t1 - t0) * st.cores
    assert 0 <= got["driver_gap_s"] <= t1 - t0


def test_covered_s_is_the_clipped_union():
    assert covered_s([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4)
    assert covered_s([(0, 5)], 2, 4) == pytest.approx(2)
    assert covered_s([], 0, 1) == 0


def test_mapreduce_reference_agrees_with_engine(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(mapreduce, "DOCS", 60)
    monkeypatch.setattr(mapreduce, "SPILL_DOCS", 40)
    monkeypatch.setattr(mapreduce, "MEMORY_LIMIT", 4 << 10)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ctx = _ctx(spark, tmp_path, traced=True)
    ops = mapreduce.setup(ctx)
    rec = run_pass(ctx, ops, 0)
    problems = {n: o["problems"] for n, o in rec["ops"].items() if o["problems"]}
    assert problems == {}
    assert rec["attempted"] == 3 and rec["failed"] == 0
    layer = rec["layer"]
    assert layer["spark.jobs.compat_wordcount"] >= 1
    assert layer["compat.partition_skew"] >= 1.0
    assert layer["compat.map_s"] > 0 and layer["job.reduce_files_s"] > 0
    assert 0 < layer["spark.busy_frac"] <= 1.0
    # every metric the workload declares is reported by a traced pass
    names = [k for k in worker.exercised(ops, worker.declared_metrics()[1])
             if k not in ("session.start_s", "trace.pass_s")]
    assert set(median_layer([rec], names)) == set(names)


def test_stream_listener_sees_every_micro_batch(spark, tmp_path):
    src = tmp_path / "drop"
    src.mkdir()
    for i in range(3):
        spark.range(i * 10, i * 10 + 10, numPartitions=1).write.parquet(str(tmp_path / f"w{i}"))
        os.replace(next((tmp_path / f"w{i}").glob("*.parquet")), src / f"f{i}.parquet")
    st = SparkStatus(spark)
    q = (spark.readStream.schema("id long").option("maxFilesPerTrigger", "1")
         .parquet(str(src)).writeStream.foreachBatch(lambda df, _: df.count())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    progress = st.stream_progress()
    assert len(progress) == 3
    assert all(p["addBatch"] >= 0 and p["walCommit"] >= 0 for p in progress)
    assert st.stream_progress() == []


def test_reference_model_matches_the_reference_spec():
    # spec/map_reduce/mapper_spec.rb: HashPartitioner(4) places ["key1"]..["key5"]
    keys = [[f"key{i}"] for i in range(1, 6)]
    assert [mapreduce.sha1_partition(k, 4) for k in keys] == [3, 2, 0, 2, 3]
    # Ruby <=>: numbers numerically inside arrays, strings bytewise
    assert sorted([["a", 11], ["a", 2], ["B", 5]], key=mapreduce.ruby_order) == [
        ["B", 5], ["a", 2], ["a", 11]]
    assert sorted(["é", "z", "Z"], key=mapreduce.ruby_order) == ["Z", "z", "é"]


def test_one_row_change_flips_the_checksum():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["x", "y", "z"]})
    b = a.copy()
    b.loc[1, "v"] = 1.5000001
    shuffled = a.sample(frac=1.0, random_state=1)
    assert frame_checksum(a) == frame_checksum(shuffled)
    assert frame_checksum(a) != frame_checksum(b)
    assert frame_checksum(a) != frame_checksum(a.iloc[:2])


class _Ok:
    name = "ok"

    def run(self, ctx):
        return 1

    def check(self, ctx, out):
        return [] if out == 1 else ["wrong"]


class _Raises(_Ok):
    name = "raises"

    def run(self, ctx):
        raise RuntimeError("injected")


class _Wrong(_Ok):
    name = "wrong"

    def run(self, ctx):
        return 2


def test_injected_failures_land_in_failed_frac(tmp_path):
    ctx = Ctx(spark=None, seed=0, tmp=str(tmp_path), tracer=Tracer(False), cpu=lambda: 0.0)
    rec = run_pass(ctx, [_Ok(), _Raises(), _Wrong()], 0)
    assert rec["attempted"] == 3 and rec["failed"] == 2
    assert "injected" in rec["ops"]["raises"]["problems"][0]
    assert rec["ops"]["wrong"]["problems"] == ["wrong"]


def test_a_layer_that_stops_reporting_fails_the_run():
    passes = [{"pass": 0, "layer": {"a": 1.0, "b": 2.0}}, {"pass": 1, "layer": {"a": 3.0}}]
    assert median_layer(passes, ["a"]) == {"a": 2.0}
    with pytest.raises(RuntimeError, match=r"\[1\] did not report b"):
        median_layer(passes, ["a", "b"])
