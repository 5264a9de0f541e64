"""The durable-store op of the ``catalog`` workload: one fresh IVF store per
pass, driven through ``operators/ann_index.py``'s public functions.

write_ivf_index -> append_ivf_batch -> compact_ivf_index -> vacuum_index ->
load_ivf_index twice (a memo miss, then a hit) -> ivf_search.

Inputs are seeded: a base set and an appended batch of unit vectors, and
queries that are exact copies of base vectors under ids outside the corpus.
The check recomputes the search with NumPy from the loaded centroids.
"""

from __future__ import annotations

import os
import shutil
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.runner import Ctx

N_BASE = 500
N_BATCH = 125
N_QUERIES = 16
DIM = 32
TOP_K = 5
N_CELLS = 4  # k-means cells; the adaptive default makes 3x the files and ~30% more time
QID0 = 10_000_000


def _vectors(seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    e = rng.standard_normal((N_BASE + N_BATCH, DIM))
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    ids = rng.permutation(N_BASE + N_BATCH).astype(np.int64)
    return ids, e


def _write(path: str, ids: np.ndarray, e: np.ndarray, id_col: str = "id", e_col: str = "e") -> int:
    pq.write_table(
        pa.table({id_col: pa.array(ids, pa.int64()), e_col: pa.array(list(e), pa.list_(pa.float64()))}),
        path,
    )
    return os.path.getsize(path)


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def reference_search(vectors: dict[int, np.ndarray], cells: dict[int, int],
                     centroids: np.ndarray, queries: dict[int, np.ndarray],
                     nprobe: int) -> dict[int, list[float]]:
    """Top-k cosine similarities (rounded to 4 places) over the nprobe
    nearest cells of each query, as ivf_search defines them."""
    ids = np.array(sorted(vectors))
    mat = np.stack([vectors[i] for i in ids])
    cell_of = np.array([cells[i] for i in ids])
    out = {}
    for qid, q in queries.items():
        d = ((centroids - q) ** 2).sum(axis=1)
        probed = np.lexsort((np.arange(len(d)), d))[:nprobe]
        m = np.isin(cell_of, probed) & (ids != qid)
        sims = mat[m] @ q / (np.linalg.norm(mat[m], axis=1) * np.linalg.norm(q))
        out[qid] = sorted(np.round(sims, 4).tolist(), reverse=True)[:TOP_K]
    return out


class IvfStoreLifecycle:
    name = "ivf_store_lifecycle"
    layers = ("stores.write_s", "stores.append_s", "stores.compact_s", "stores.attach_cold_s",
              "stores.attach_warm_s", "stores.probe_s", "stores.files",
              "stores.bytes_per_input_byte")

    def __init__(self, ctx: Ctx):
        ids, e = _vectors(ctx.seed)
        self.vectors = {int(i): v for i, v in zip(ids, e)}
        self.queries = {QID0 + int(i): self.vectors[int(i)] for i in ids[:N_QUERIES]}
        base = os.path.join(ctx.tmp, "ivf_input")
        os.makedirs(base, exist_ok=True)
        self.input_bytes = _write(os.path.join(base, "base.parquet"), ids[:N_BASE], e[:N_BASE])
        self.input_bytes += _write(os.path.join(base, "batch.parquet"), ids[N_BASE:], e[N_BASE:])
        q = np.array(list(self.queries))
        _write(os.path.join(base, "queries.parquet"), q, np.stack(list(self.queries.values())), "qid", "qe")
        self.base = base
        self._n = 0

    def _root(self, ctx: Ctx) -> str:
        return os.path.join(ctx.tmp, "ivf_store", f"pass-{self._n}")

    def run(self, ctx: Ctx) -> Any:
        from map_reduce_ruby_spark.operators import (
            adaptive_nprobe, append_ivf_batch, compact_ivf_index, ivf_search,
            load_ivf_index, vacuum_index, write_ivf_index,
        )

        spark, tr = ctx.spark, ctx.tracer
        self._n += 1
        path = self._root(ctx)
        read = lambda f: spark.read.parquet(os.path.join(self.base, f))  # noqa: E731
        with tr.span("stores.write", "stores.write_s"):
            write_ivf_index(spark, read("base.parquet"), path, k=N_CELLS)
        with tr.span("stores.append", "stores.append_s"):
            append_ivf_batch(spark, read("batch.parquet"), path, batch_id=f"batch-{self._n}")
        with tr.span("stores.compact", "stores.compact_s"):
            compact_ivf_index(spark, path)
            vacuum_index(path, grace_sec=0.0)
        with tr.span("stores.attach_cold", "stores.attach_cold_s"):
            cells, centroids = load_ivf_index(spark, path)
        with tr.span("stores.attach_warm", "stores.attach_warm_s"):
            again = load_ivf_index(spark, path)
        with tr.span("stores.probe", "stores.probe_s"):
            nprobe = adaptive_nprobe(len(centroids))
            res = ivf_search(cells, centroids, read("queries.parquet"), top_k=TOP_K,
                             nprobe=nprobe).toPandas()
        return {"cells": cells, "centroids": centroids, "memo_hit": again[0] is cells,
                "nprobe": nprobe, "result": res}

    def check(self, ctx: Ctx, out: Any) -> list[str]:
        problems = []
        if not out["memo_hit"]:
            problems.append("second load_ivf_index missed the memo")
        stored = out["cells"].select("id", "cell").toPandas()
        if sorted(stored["id"]) != sorted(self.vectors):
            problems.append("store rows differ from base + batch after compaction")
            return problems
        cells = dict(zip(stored["id"].tolist(), stored["cell"].tolist()))
        want = reference_search(self.vectors, cells, np.array(out["centroids"]),
                                self.queries, out["nprobe"])
        res = out["result"]
        for qid, sims in want.items():
            got = res[res["query_id"] == qid].sort_values("rn")
            top = got.iloc[0] if len(got) else None
            if top is None or top["neighbor_id"] != qid - QID0 or top["cos_sim"] < 0.9999:
                problems.append(f"query {qid}: top hit is not its source vector")
            elif not np.allclose(got["cos_sim"].tolist(), sims, atol=2e-4):
                problems.append(f"query {qid}: similarities differ from the NumPy reference")
        return problems

    def probe(self, ctx: Ctx, out: Any) -> None:
        files, size = _dir_stats(self._root(ctx))
        ctx.tracer.put("stores.files", files)
        ctx.tracer.put("stores.bytes_per_input_byte", size / self.input_bytes)

    def cleanup(self, ctx: Ctx, out: Any) -> None:
        shutil.rmtree(self._root(ctx), ignore_errors=True)
