"""Per-op Spark figures from the application status store.

Job and stage ids are allocated from two counters in the DAG scheduler, so
the ids handed out between two ``mark()`` calls belong to exactly the work
launched in between, from any thread and any job group. The stage figures
come from ``AppStatusStore.lastStageAttempt``, which works with the UI
disabled; each stage is fetched as one JSON document, two py4j round trips
per stage.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass
from functools import wraps

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

_MB = 1024.0 * 1024.0


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _timed(fn):
    @wraps(fn)
    def call(self, *args):
        t = time.perf_counter()
        try:
            return fn(self, *args)
        finally:
            self.spent += time.perf_counter() - t

    return call


class _Progress(StreamingQueryListener):
    """Keeps the ``durationMs`` map of every progress event. Events arrive on
    py4j's callback thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict[str, int]] = []

    def take(self) -> list[dict[str, int]]:
        with self._lock:
            out, self._events = self._events, []
        return out

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        durations = dict(event.progress.durationMs)
        with self._lock:
            self._events.append(durations)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class SparkStatus:
    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.cores = sc.defaultParallelism
        scala = sc._jvm.com.fasterxml.jackson.module.scala
        self._json = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._progress = _Progress()
        spark.streams.addListener(self._progress)
        self.spent = 0.0

    @_timed
    def mark(self) -> Mark:
        return Mark(self._dag.nextJobId(), self._dag.nextStageId())

    @_timed
    def jobs_since(self, mark: Mark) -> int:
        return self._dag.nextJobId() - mark.job

    @_timed
    def stream_progress(self) -> list[dict[str, int]]:
        """``durationMs`` of every streaming progress event since the last
        call (trigger, addBatch, walCommit, ... in milliseconds)."""
        self.drain()
        return self._progress.take()

    def drain(self) -> None:
        """Wait until every listener (the status store among them) has
        seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def stages_since(self, mark: Mark) -> list[dict]:
        out = []
        for sid in range(mark.stage, self._dag.nextStageId()):
            try:
                info = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never submitted, or already evicted from the store
            out.append(json.loads(self._json.writeValueAsString(info)))
        return out

    @_timed
    def read(self, mark: Mark, t_start: float, t_end: float) -> dict[str, float]:
        """Figures for the work launched since ``mark``; ``t_start``/``t_end``
        bound the op's wall window in epoch seconds."""
        self.drain()
        jobs = self._dag.nextJobId() - mark.job
        ran = [s for s in self.stages_since(mark) if s.get("status") == "COMPLETE"]
        wall = max(t_end - t_start, 1e-9)
        spans = [
            (s["submissionTime"] / 1000.0, s["completionTime"] / 1000.0)
            for s in ran
            if s.get("submissionTime") and s.get("completionTime")
        ]
        run_s = sum(s["executorRunTime"] for s in ran) / 1000.0
        return {
            "jobs": float(jobs),
            "stages": float(len(ran)),
            "tasks": float(sum(s["numCompleteTasks"] for s in ran)),
            "exec_run_s": run_s,
            "exec_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in ran) / 1000.0,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / _MB,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / _MB,
            "spill_disk_mb": sum(s["diskBytesSpilled"] for s in ran) / _MB,
            "busy_frac": run_s / (wall * self.cores),
            "driver_gap_s": wall - covered_s(spans, t_start, t_end),
        }
