"""One benchmark run inside the isolated child process that run.py starts.

Set-up (timed as ``setup_s``, from before the engine and Spark are
imported): Spark session start, seeded input generation, one warm-up pass
that also makes the oracle checks and the cold builds of every standing
store. Then closed-loop passes until ``--seconds``
have elapsed (at least one). The last stdout line is the result object.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up starts before the engine is imported

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from typing import Any  # noqa: E402

from perfbench.procstat import peak_rss_mb, reset_peak_rss, tree_cpu_s  # noqa: E402
from perfbench.runner import Ctx, Tracer, median_layer, run_pass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("catalog", "mapreduce")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def git_commit(root: str) -> str | None:
    """HEAD of the checkout when it is a git work tree; None otherwise.
    Reads .git directly, never a parent directory."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head, encoding="ascii") as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref = ref[5:]
        path = os.path.join(root, ".git", ref)
        if os.path.exists(path):
            with open(path, encoding="ascii") as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs"), encoding="ascii") as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def make_ops(ctx: Ctx, workload: str) -> list[Any]:
    if workload == "mapreduce":
        from perfbench import mapreduce

        return mapreduce.setup(ctx)
    from perfbench import catalog
    from perfbench.stores import IvfStoreLifecycle

    # A fixed order: with the order drawn from the seed, pass_cpu_s moved ~12%
    # with the order alone (garbage and JIT work land in whichever op is next).
    return catalog.ops(ctx.tracer.enabled) + [IvfStoreLifecycle(ctx)]


def exercised(ops: list[Any], per_layer: dict[str, str]) -> list[str]:
    """The per-layer metrics a traced pass of ``ops`` must report."""
    names = [k for k in per_layer if k.startswith(("spark.", "trace.", "session."))
             and not k.startswith("spark.jobs.")]
    for op in ops:
        names += [f"spark.jobs.{op.name}", f"wall_s.{op.name}", *op.layers]
    unknown = sorted(set(names) - set(per_layer))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    return sorted(set(names))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    traced = bool(args.trace)
    tmp = tempfile.gettempdir()
    record: dict[str, Any] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": traced, "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "load1_start": os.getloadavg()[0], "python": platform.python_version(),
        "git_commit": git_commit(ROOT),
    }

    end_to_end, per_layer = declared_metrics()

    import pyspark

    from map_reduce_ruby_spark.session import get_spark

    tracer = Tracer(traced)
    t_session = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_session
    ctx = Ctx(spark=spark, seed=args.seed, tmp=tmp, tracer=tracer, cpu=tree_cpu_s)
    if traced:
        from perfbench.sparkstatus import SparkStatus

        ctx.status = SparkStatus(spark)
    record.update(spark=pyspark.__version__,
                  java=spark.sparkContext._jvm.System.getProperty("java.version"),
                  master=spark.sparkContext.master)
    try:
        ops = make_ops(ctx, args.workload)
        record["ops"] = [op.name for op in ops]
        warmup = run_pass(ctx, ops, "warmup")
        setup_s = time.perf_counter() - T_START
        record["peak_rss_reset"] = reset_peak_rss()
        passes = []
        t_run = time.perf_counter()
        while not passes or time.perf_counter() - t_run < args.seconds:
            passes.append(run_pass(ctx, ops, len(passes)))
        rss = peak_rss_mb()
    finally:
        spark.stop()
    record["load1_end"] = os.getloadavg()[0]

    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    pass_s = statistics.median(p["wall_s"] for p in passes)
    if traced:
        # Metrics of layers this workload does not run are reported as 0.
        names = exercised(ops, per_layer)
        per_run = {"session.start_s": session_s, "trace.pass_s": pass_s}
        values = dict.fromkeys(per_layer, 0.0)
        values.update(median_layer(passes, [k for k in names if k not in per_run]), **per_run)
        units = per_layer
        record["not_exercised"] = sorted(set(per_layer) - set(names))
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "driver_peak_rss_mb": rss,
        }
        units = end_to_end
    out = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    record.update(metrics=out, attempted=attempted, failed=failed,
                  failed_frac=failed / attempted, passes=len(passes),
                  warmup=warmup, pass_records=passes)
    _save(record, tracer, args)

    print(f"perfbench {args.workload} seed={args.seed} traced={int(traced)} "
          f"nproc={record['nproc']} master={record['master']} spark={record['spark']} "
          f"java={record['java']} python={record['python']} "
          f"load1={record['load1_start']:.2f}->{record['load1_end']:.2f} "
          f"commit={record['git_commit']}")
    for k, m in out.items():
        print(f"  {k:34s} {m['value']:.6g} {m['unit']}")
    print(f"  {'failed_frac':34s} {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} ops, {len(passes)} passes)")
    for p in [warmup] + passes:
        for name, o in p["ops"].items():
            for problem in o["problems"]:
                print(f"  FAILED pass={p['pass']} {name}: {problem}")
    print(json.dumps({"correct": failed == 0 and warmup["failed"] == 0,
                      "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def _save(record: dict[str, Any], tracer: Tracer, args: argparse.Namespace) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer.enabled:
        with open(stem + "-spans.json", "w", encoding="utf-8") as f:
            json.dump(tracer.dump(), f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
