"""The ``mapreduce`` workload: the reference's worker surface on a seeded
Zipf-vocabulary corpus, checked against a pure-Python model of the reference.

Ops (one pass runs each once):

- ``compat_wordcount``: ``Mapper`` with ``reduce`` -> ``shuffle`` -> one
  ``Reducer`` per partition file (``add_chunk``, then drain ``reduce()``);
- ``compat_spill_sort``: ``Mapper`` without ``reduce`` and with a
  ``memory_limit`` far below the op's data, so it spills several times;
  composite ``[word, position]`` keys with duplicates, FIFO-stable output;
- ``arrow_shared_shuffle``: ``Job.shuffle_to_files(shared_storage=True,
  via_arrow=True)`` over a DataFrame of the corpus, then ``Job.reduce_files``
  on the manifest paths.

The model computes every partition file byte for byte: SHA1 placement
(``sha1(json)[:5] % n``), key order under Ruby ``<=>`` (strings bytewise,
arrays element-wise) and FIFO order of duplicate keys all follow from it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter
from typing import Any

import numpy as np

from perfbench.runner import Ctx
from perfbench.userfns import PositionPairs, WordCount, add, count_words, position_pairs

N_PARTS = 4
DOCS = 1200             # wordcount / arrow corpus
SPILL_DOCS = 250        # spill-sort input (a prefix of the corpus)
MEMORY_LIMIT = 32 << 10
VOCAB = 4000
ZIPF_S = 1.1
DOC_LEN = (20, 60)
_ALPHABET = "abcdefghijklmnopqrstuvwxyz"
_ACCENTED = "éüßçñ"


def make_corpus(seed: int, n_docs: int = DOCS) -> list[str]:
    """``n_docs`` documents of Zipf-distributed words over a seeded
    vocabulary; about 2% of the words carry a non-ASCII letter."""
    rng = np.random.default_rng(seed)
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < VOCAB:
        n = int(rng.integers(2, 11))
        w = "".join(_ALPHABET[i] for i in rng.integers(0, 26, n))
        if rng.random() < 0.02:
            w += _ACCENTED[int(rng.integers(0, len(_ACCENTED)))]
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, n_docs)
    ids = rng.choice(VOCAB, size=int(lens.sum()), p=p / p.sum())
    docs, at = [], 0
    for n in lens:
        docs.append(" ".join(vocab[k] for k in ids[at : at + n]))
        at += n
    return docs


# --- the reference model -----------------------------------------------------


def _json(o: Any) -> str:
    return json.dumps(o, separators=(",", ":"), ensure_ascii=False)


def sha1_partition(key: Any, n: int) -> int:
    """Reference placement: SHA1 of the canonical JSON, first 5 hex digits."""
    return int(hashlib.sha1(_json(key).encode("utf-8")).hexdigest()[:5], 16) % n


def ruby_order(key: Any) -> Any:
    """Sort key reproducing Ruby ``<=>`` on strings (bytewise) and arrays of
    strings and integers (element-wise)."""
    if isinstance(key, str):
        return key.encode("utf-8")
    return tuple(ruby_order(k) for k in key) if isinstance(key, list) else key


def wordcount_files(docs: list[str], n: int = N_PARTS) -> tuple[Counter, dict[int, str]]:
    counts = Counter(w for d in docs for w in d.split())
    parts: dict[int, list[str]] = {}
    for w in counts:
        parts.setdefault(sha1_partition(w, n), []).append(w)
    files = {
        pid: "".join(_json([w, counts[w]]) + "\n" for w in sorted(ws, key=ruby_order))
        for pid, ws in parts.items()
    }
    return counts, files


def spill_sort_files(docs: list[str], n: int = N_PARTS) -> dict[int, str]:
    """Partition files of the no-reduce op: pairs in input order, placed by
    SHA1, then stably sorted by key, so equal keys keep input order."""
    parts: dict[int, list[tuple[Any, Any]]] = {}
    for d, text in enumerate(docs):
        for k, v in position_pairs(d, text):
            parts.setdefault(sha1_partition(k, n), []).append((k, v))
    return {
        pid: "".join(_json([k, v]) + "\n" for k, v in sorted(kvs, key=lambda kv: ruby_order(kv[0])))
        for pid, kvs in parts.items()
    }


# --- ops -------------------------------------------------------------------


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def _compare_files(got: dict[int, str], want: dict[int, str]) -> list[str]:
    if sorted(got) != sorted(want):
        return [f"partitions {sorted(got)} != expected {sorted(want)}"]
    bad = [pid for pid in want if _read(got[pid]) != want[pid]]
    return [f"partition files differ from the reference model: {bad}"] if bad else []


class _Op:
    def __init__(self, name: str):
        self.name = name
        self._n = 0

    def _out_dir(self, ctx: Ctx) -> str:
        self._n += 1
        return os.path.join(ctx.tmp, "mr", f"{self.name}-{self._n}")

    def cleanup(self, ctx: Ctx, out: Any) -> None:
        shutil.rmtree(os.path.join(ctx.tmp, "mr", f"{self.name}-{self._n}"), ignore_errors=True)


class CompatWordcount(_Op):
    layers = ("compat.map_s", "compat.shuffle_s", "compat.reduce_s",
              "compat.partition_skew", "partitioner.sha1_keys_per_s")

    def __init__(self, docs: list[str], want: dict[int, str], counts: Counter):
        super().__init__("compat_wordcount")
        self.docs, self.want, self.counts = docs, want, counts

    def run(self, ctx: Ctx) -> Any:
        from map_reduce_ruby_spark.core import HashPartitioner, Mapper, Reducer

        tr = ctx.tracer
        mapper = Mapper(WordCount(), ctx.spark, partitioner=HashPartitioner(N_PARTS))
        with tr.span("compat.map", "compat.map_s"):
            for d in self.docs:
                mapper.map(d)
        with tr.span("compat.shuffle", "compat.shuffle_s"):
            parts = mapper.shuffle(out_dir=self._out_dir(ctx))
        reduced: dict[int, list[tuple[Any, Any]]] = {}
        with tr.span("compat.reduce", "compat.reduce_s"):
            for pid in sorted(parts):
                reducer = Reducer(WordCount(), ctx.spark)
                shutil.copyfile(parts[pid], reducer.add_chunk())
                reduced[pid] = list(reducer.reduce())
        return parts, reduced

    def check(self, ctx: Ctx, out: Any) -> list[str]:
        parts, reduced = out
        problems = _compare_files(parts, self.want)
        for pid, kvs in reduced.items():
            keys = [k for k, _ in kvs]
            if keys != sorted(keys, key=ruby_order):
                problems.append(f"reducer {pid} output is not key-sorted")
            if any(self.counts.get(k) != v for k, v in kvs):
                problems.append(f"reducer {pid} counts differ from the reference")
        if sum(len(kvs) for kvs in reduced.values()) != len(self.counts):
            problems.append("reducers did not return every distinct word once")
        return problems

    def probe(self, ctx: Ctx, out: Any) -> None:
        from map_reduce_ruby_spark.core import HashPartitioner

        sizes = [os.path.getsize(p) for p in out[0].values()]
        ctx.tracer.put("compat.partition_skew", max(sizes) / (sum(sizes) / len(sizes)))
        keys, part = list(self.counts), HashPartitioner(N_PARTS)
        t = time.perf_counter()
        for k in keys:
            part(k)
        ctx.tracer.put("partitioner.sha1_keys_per_s", len(keys) / (time.perf_counter() - t))


class CompatSpillSort(_Op):
    layers = ("compat.map_s", "compat.shuffle_s", "keys.sortkey_sort_s")

    def __init__(self, docs: list[str], want: dict[int, str]):
        super().__init__("compat_spill_sort")
        self.docs, self.want = docs, want
        self.keys = [list(k) for k in {tuple(k) for d, t in enumerate(docs) for k, _ in position_pairs(d, t)}]

    def run(self, ctx: Ctx) -> Any:
        from map_reduce_ruby_spark.core import HashPartitioner, Mapper

        tr = ctx.tracer
        mapper = Mapper(PositionPairs(), ctx.spark, partitioner=HashPartitioner(N_PARTS),
                        memory_limit=MEMORY_LIMIT)
        with tr.span("compat.map", "compat.map_s"):
            for d, text in enumerate(self.docs):
                mapper.map(d, text)
        spills = sum(1 for f in os.listdir(ctx.tmp) if f.startswith("mr_spill_"))
        with tr.span("compat.shuffle", "compat.shuffle_s"):
            parts = mapper.shuffle(out_dir=self._out_dir(ctx))
        return parts, spills

    def check(self, ctx: Ctx, out: Any) -> list[str]:
        parts, spills = out
        problems = _compare_files(parts, self.want)
        if spills < 2:
            problems.append(f"memory_limit caused {spills} spills, expected several")
        return problems

    def probe(self, ctx: Ctx, out: Any) -> None:
        from map_reduce_ruby_spark.core.keys import SortKey

        t = time.perf_counter()
        sorted(self.keys, key=SortKey)
        ctx.tracer.put("keys.sortkey_sort_s", time.perf_counter() - t)


class ArrowSharedShuffle(_Op):
    layers = ("job.shuffle_to_files_s", "job.reduce_files_s")

    def __init__(self, df: Any, want: dict[int, str], counts: Counter):
        super().__init__("arrow_shared_shuffle")
        self.df, self.want, self.counts = df, want, counts

    def run(self, ctx: Ctx) -> Any:
        from map_reduce_ruby_spark.core import Job

        tr = ctx.tracer
        job = Job(map_fn=count_words, reduce_fn=add, num_partitions=N_PARTS)
        with tr.span("job.shuffle_to_files", "job.shuffle_to_files_s"):
            parts = job.shuffle_to_files(ctx.spark, self.df, self._out_dir(ctx),
                                         shared_storage=True, via_arrow=True)
        with tr.span("job.reduce_files", "job.reduce_files_s"):
            rows = Job.reduce_files(ctx.spark, [parts[p] for p in sorted(parts)], add,
                                    num_partitions=N_PARTS).collect()
        return parts, rows

    def check(self, ctx: Ctx, out: Any) -> list[str]:
        parts, rows = out
        problems = _compare_files(parts, self.want)
        if len(rows) != len(self.counts) or dict(rows) != self.counts:
            problems.append("reduce_files result differs from the reference counts")
        return problems


def setup(ctx: Ctx) -> list[Any]:
    """Seeded inputs and the reference model; returns the pass's ops."""
    docs = make_corpus(ctx.seed)
    counts, wc_files = wordcount_files(docs)
    spill_docs = docs[:SPILL_DOCS]
    df = ctx.spark.createDataFrame([(d,) for d in docs], "text string")
    return [
        CompatWordcount(docs, wc_files, counts),
        CompatSpillSort(spill_docs, spill_sort_files(spill_docs)),
        ArrowSharedShuffle(df, wc_files, counts),
    ]
