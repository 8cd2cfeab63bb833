"""The engine's benchmark: one seeded command per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json and perfbench/NOTES.md): ``egv`` and
``curation_batch``.

Runs on ``local[nproc]``, generates every input from ``--seed``, warms
up, measures for ``--seconds``, then checks every output against an
independent reference. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the run's full detail: load and version
stamps, failed checks, the end-to-end metrics, and the workload's own
metrics under the names NOTES.md uses.
"""

from __future__ import annotations

import time

PROCESS_START_MS = time.time() * 1000.0

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402

import common  # noqa: E402

WORKLOADS = ("egv", "curation_batch")
PER_LAYER = {
    "session.start_s": "s",
    "op.wall_ms": "ms",
    "op.driver_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_run_ms_per_op": "ms",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.sql_executions_per_op": "count",
    "traced.latency_ms": "ms",
    "traced.throughput_per_s": "1/s",
}


def _workload(name: str):
    import curation
    import egv

    return {"egv": egv.run, "curation_batch": curation.run}[name]


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _per_layer(ctx: common.Ctx, session_s: float) -> dict[str, tuple[float, str]]:
    """The per-layer metrics: what Spark's status store recorded inside
    each timed operation (live micro-batch or query), and the
    traced run's own end-to-end figures, whose difference from the
    untraced run's is the tracing overhead."""
    res = ctx.res
    ops = common.per_op_spark(ctx.spark, res.ops)
    vals = {
        "session.start_s": session_s,
        "op.wall_ms": ops["wall_ms"],
        "op.driver_ms": ops["driver_ms"],
        "spark.jobs_per_op": ops["jobs"],
        "spark.stages_per_op": ops["stages"],
        "spark.tasks_per_op": ops["tasks"],
        "spark.task_run_ms_per_op": ops["task_run_ms"],
        "spark.shuffle_write_mb_per_op": ops["shuffle_write_mb"],
        "spark.sql_executions_per_op": ops["sql_executions"],
        "traced.latency_ms": res.e2e["latency_ms"][0],
        "traced.throughput_per_s": res.e2e["throughput_per_s"][0],
    }
    res.put("spark.spill_mb_per_op", ops["spill_mb"], "MB")
    return {k: (v, PER_LAYER[k]) for k, v in vals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=common.nproc(), help="local[N]; default: every usable core")
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    a = ap.parse_args(argv)
    if not (common.PACKAGE / "__init__.py").is_file() or not (common.ROOT / "gen_testdata.py").is_file():
        print(f"perfbench: the engine sources are not next to the benchmark ({common.ROOT})", file=sys.stderr)
        return 2

    load1_start, steal_start = common.load1(), common.cpu_steal_s()
    run = common.RunDir(a.workload, a.seed)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = common.start_spark(run, a.cores)
        session_s = time.perf_counter() - t0
        ctx = common.Ctx(spark, run, a.seed, a.seconds, common.Tracer(bool(a.trace)), common.Result(), a.tiny)
        _workload(a.workload)(ctx)
        res = ctx.res
        setup_s = (res.setup_done_ms - PROCESS_START_MS) / 1000.0 - res.setup_excluded_s
        res.e2e["setup_s"] = (setup_s, "s")
        res.put("setup_s", setup_s, "s")
        res.put("peak_rss_mb", common.peak_rss_mb(spark), "MB")
        res.put("error_rate", res.failed / max(res.attempted, 1), "ratio")
        res.put("session.start_s", session_s, "s")
        layers = _per_layer(ctx, session_s) if a.trace else {}
        res.stamps.update({
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "nproc": a.cores,
            "spark_version": spark.version, "load1_start": load1_start, "load1_end": common.load1(),
            "load_flag": load1_start >= 1.0, "input_generation_s": res.setup_excluded_s,
        })
        wall_s = (common.now_ms() - PROCESS_START_MS) / 1000.0
        res.stamps["cpu_steal_share"] = (common.cpu_steal_s() - steal_start) / (wall_s * common.nproc())
        res.mark("reported")
    finally:
        if spark is not None:
            _stop_jvm(spark)
        run.close()
    res.mark("stopped")
    res.stamps["timeline_s"] = {k: (v - PROCESS_START_MS) / 1000.0 for k, v in res.marks.items()}

    detail = {
        **res.stamps,
        "checks_failed": res.checks,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in res.e2e.items()},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(res.named.items())},
    }
    print(json.dumps(detail))
    metrics = layers if a.trace else res.e2e
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
