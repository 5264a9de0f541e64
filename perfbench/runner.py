"""Closed-loop pass runner, span tracer and per-pass bookkeeping.

A workload is a fixed list of ops. One pass runs every op once, back to
back, from one client thread. Each op's ``run`` is the timed region; its
``check`` runs after the timer stops, and a failed check or a raised
exception counts the op as failed instead of aborting the run.
"""

from __future__ import annotations

import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable, Iterator, Protocol

from perfbench.procstat import host_wait_s


class Tracer:
    """Spans (id, name, parent, pass, start, end) kept in memory, plus the
    per-layer values of the current pass. Disabled, every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list[Any]] = []
        self.layer: dict[str, float] = {}
        self.pass_id: Any = None
        self._stack: list[int] = []

    def begin_pass(self, pass_id: Any) -> dict[str, float]:
        self.pass_id, self.layer = pass_id, {}
        return self.layer

    @contextmanager
    def span(self, name: str, metric: str | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        rec = [len(self.spans), name, self._stack[-1] if self._stack else None,
               self.pass_id, time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(rec[0])
        try:
            yield
        finally:
            rec[5] = time.perf_counter()
            self._stack.pop()
            if metric is not None:
                self.add(metric, rec[5] - rec[4])

    def add(self, metric: str, value: float) -> None:
        if self.enabled:
            self.layer[metric] = self.layer.get(metric, 0.0) + value

    def put(self, metric: str, value: float) -> None:
        if self.enabled:
            self.layer[metric] = value

    def dump(self) -> list[dict[str, Any]]:
        keys = ("id", "name", "parent", "pass", "start", "end")
        return [dict(zip(keys, s)) for s in self.spans]


@dataclass
class Ctx:
    """What every op sees: the session, the run's scratch root, the tracer
    and (traced runs only) the status-store reader."""

    spark: Any
    seed: int
    tmp: str
    tracer: Tracer
    cpu: Callable[[], float]
    status: Any = None


class Op(Protocol):
    """``layers`` names the per-layer metrics a traced pass of the op must
    emit besides the ``spark.*``, ``wall_s.*`` and ``trace.*`` ones."""

    name: str
    layers: tuple[str, ...]

    def run(self, ctx: Ctx) -> Any: ...

    def check(self, ctx: Ctx, out: Any) -> list[str]: ...


def run_pass(ctx: Ctx, ops: list[Op], pass_id: Any) -> dict[str, Any]:
    """Run every op once. Returns the pass record: summed op wall and CPU
    (checks excluded), per-op records, and, traced, the per-layer values."""
    layer = ctx.tracer.begin_pass(pass_id)
    rec: dict[str, Any] = {"pass": pass_id, "wall_s": 0.0, "cpu_s": 0.0,
                           "attempted": 0, "failed": 0, "ops": {}}
    host0 = host_wait_s()
    with ctx.tracer.span("pass"):
        for op in ops:
            rec["ops"][op.name] = o = _run_op(ctx, op)
            rec["wall_s"] += o["wall_s"]
            rec["cpu_s"] += o["cpu_s"]
            rec["attempted"] += 1
            rec["failed"] += bool(o["problems"])
            if ctx.tracer.enabled:
                ctx.tracer.add(f"wall_s.{op.name}", o["wall_s"])
                ctx.tracer.add("trace.overhead_s", o["overhead_s"])
                for k, v in o.get("spark", {}).items():
                    if k != "busy_frac":
                        ctx.tracer.add(f"spark.{k}", v)
                if "spark" in o:
                    ctx.tracer.put(f"spark.jobs.{op.name}", o["spark"]["jobs"])
    rec["host"] = {k: v - host0[k] for k, v in host_wait_s().items()}
    if ctx.tracer.enabled and ctx.status is not None:
        cores = ctx.status.cores
        layer["spark.busy_frac"] = layer["spark.exec_run_s"] / (rec["wall_s"] * cores)
    rec["layer"] = dict(layer)
    return rec


def _run_op(ctx: Ctx, op: Op) -> dict[str, Any]:
    cpu0 = ctx.cpu()
    mark = ctx.status.mark() if ctx.status is not None else None
    spent0 = ctx.status.spent if ctx.status is not None else 0.0
    t_epoch, t0 = time.time(), time.perf_counter()
    out, problems = None, []
    with ctx.tracer.span(op.name):
        try:
            out = op.run(ctx)
        except Exception:  # an op failure is a result, not an abort
            problems.append(traceback.format_exc(limit=3).strip().splitlines()[-1])
    wall = time.perf_counter() - t0
    rec: dict[str, Any] = {"wall_s": wall, "cpu_s": ctx.cpu() - cpu0, "overhead_s": 0.0}
    if mark is not None:
        # status-store calls the op made inside its timed region
        rec["overhead_s"] = ctx.status.spent - spent0
        with ctx.tracer.span("trace.read"):
            rec["spark"] = ctx.status.read(mark, t_epoch, t_epoch + wall)
    if not problems:
        try:
            problems = list(op.check(ctx, out))
        except Exception:
            problems.append("check raised: " + traceback.format_exc(limit=3).strip().splitlines()[-1])
    if ctx.tracer.enabled and not problems and hasattr(op, "probe"):
        with ctx.tracer.span("trace.probe"):
            op.probe(ctx, out)
    cleanup = getattr(op, "cleanup", None)
    if cleanup is not None:
        cleanup(ctx, out)
    rec["problems"] = problems
    return rec


def median_layer(passes: list[dict[str, Any]], names: list[str]) -> dict[str, float]:
    """Median over the passes of each metric in ``names``; a metric missing
    from any pass raises, so a layer that stops reporting cannot pass as 0."""
    out = {}
    for k in names:
        missing = [p["pass"] for p in passes if k not in p["layer"]]
        if missing:
            raise RuntimeError(f"traced passes {missing} did not report {k}")
        out[k] = statistics.median(p["layer"][k] for p in passes)
    return out
