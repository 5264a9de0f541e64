"""Catalog-entry ops, checked against the engine's DuckDB oracle.

Each op builds one catalog entry's DataFrame (``plans.build``; entries that
truncate lineage eagerly launch jobs here) and then pulls every row and
column to the driver with ``toPandas`` (``plans.action``). The warm-up pass
compares that frame with the entry's DuckDB oracle through
``tools/check_correctness.py``'s ``compare`` and records an order-independent
checksum; every timed pass must reproduce it.

The entries read ``perfbench/data/documents.parquet``, a byte copy of the
engine's sf0.1 ``documents`` fixture. The oracle answers depend only on that
file and the oracle SQL, so they are computed once per checkout
(``python3 -m perfbench.catalog``) and kept under ``.perfbench_cache/``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import statistics
from typing import Any

import pandas as pd

from perfbench.checksum import frame_checksum
from perfbench.runner import Ctx

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data")
ENTRIES = ("dedup_clusters_incremental", "streaming_dedup_probe")
# Run in traced runs only: the streaming layer is measured per layer, but
# its ~10 s of warm-up and ~4 s a pass do not fit the untraced run's budget.
TRACED_ONLY = ("streaming_dedup_probe",)


def _check_correctness() -> Any:
    """tools/check_correctness.py, loaded read-only by path."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_path(name: str, sql: str) -> str:
    with open(os.path.join(DATA_DIR, "documents.parquet"), "rb") as f:
        key = hashlib.sha1(f.read() + sql.encode()).hexdigest()[:12]
    return os.path.join(ROOT, ".perfbench_cache", "oracle", f"{name}-{key}.parquet")


def prepare(cpus: int, tmp: str) -> None:
    """Compute the oracle answer of every entry in ENTRIES that the cache
    lacks. Files are written under a temporary name and renamed, so an
    interrupted run leaves no partial cache entry."""
    import duckdb

    from map_reduce_ruby_spark.plans import all_entries

    entries = all_entries()
    con = None
    for name in ENTRIES:
        path = _oracle_path(name, entries[name].oracle)
        if os.path.exists(path):
            continue
        if con is None:
            con = duckdb.connect()
            con.sql(f"SET threads = {cpus}")
            con.sql("SET memory_limit = '4GB'")
            con.sql(f"SET temp_directory = '{os.path.join(tmp, 'duckdb')}'")
            con.sql("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{DATA_DIR}/documents.parquet')")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        staged = f"{path}.tmp-{os.getpid()}"
        con.sql(entries[name].oracle).df().to_parquet(staged)
        os.replace(staged, path)
    if con is not None:
        con.close()


class CatalogOp:
    layers = ("plans.build_s", "plans.build_jobs", "plans.action_s")

    def __init__(self, entry: Any, compare: Any):
        self.name = entry.name
        self.fn = entry.fn
        self.oracle = pd.read_parquet(_oracle_path(entry.name, entry.oracle))
        self.compare = compare
        self.verified: str | None = None  # checksum of the oracle-checked result

    def run(self, ctx: Ctx) -> pd.DataFrame:
        tr, st = ctx.tracer, ctx.status
        mark = st.mark() if st is not None else None
        with tr.span("plans.build", "plans.build_s"):
            df = self.fn(ctx.spark, DATA_DIR)
        if mark is not None:
            tr.add("plans.build_jobs", st.jobs_since(mark))
        with tr.span("plans.action", "plans.action_s"):
            return df.toPandas()

    def check(self, ctx: Ctx, out: pd.DataFrame) -> list[str]:
        got = frame_checksum(out)
        if self.verified is None:
            problems = self.compare(self.name, out, self.oracle)
            self.verified = "oracle mismatch" if problems else got
            return problems
        if got != self.verified:
            return [f"checksum {got} != verified {self.verified}"]
        return []


class StreamingOp(CatalogOp):
    """A catalog entry that runs a streaming query: traced, the progress
    events a ``spark.streams`` listener saw during the op become the
    ``streaming.*`` metrics."""

    layers = CatalogOp.layers + (
        "streaming.batches", "streaming.batch_ms_p50",
        "streaming.add_batch_ms", "streaming.wal_commit_ms",
    )

    def probe(self, ctx: Ctx, out: Any) -> None:
        progress = ctx.status.stream_progress()
        tr = ctx.tracer
        tr.put("streaming.batches", len(progress))
        if progress:
            for metric, key in (("batch_ms_p50", "triggerExecution"),
                                ("add_batch_ms", "addBatch"),
                                ("wal_commit_ms", "walCommit")):
                tr.put(f"streaming.{metric}",
                       statistics.median(p.get(key, 0) for p in progress))


def ops(traced: bool) -> list[CatalogOp]:
    """One op per entry in ENTRIES (TRACED_ONLY ones only when ``traced``),
    each with its cached oracle answer."""
    from map_reduce_ruby_spark.plans import all_entries

    compare = _check_correctness().compare
    entries = all_entries()
    return [
        (StreamingOp if "streaming" in entries[n].tags else CatalogOp)(entries[n], compare)
        for n in ENTRIES
        if traced or n not in TRACED_ONLY
    ]


if __name__ == "__main__":
    # run.py builds the cache in a process of its own before a catalog run,
    # so DuckDB's memory never counts toward the run's driver peak RSS.
    import tempfile

    prepare(len(os.sched_getaffinity(0)), tempfile.gettempdir())
