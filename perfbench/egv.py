"""The ``egv`` workload: the reference's P3/P4/P5 topologies run
together in one foreachBatch, each output written through
``IdempotentParquetSink``, used the two ways the reference is used, one
after the other in one Spark session.

- Live stream (open loop, gives the latency): a separate generator
  process lands one file every 0.5 s; latency runs from each record's
  ``created_ms`` to the moment its micro-batch's sink writes complete.
  Small batches: per-batch fixed cost dominates.
- Backfill (closed loop, gives the throughput): a pre-landed history
  drained with ``availableNow`` in one large micro-batch per drain, a
  fixed number of times. Per-record work is a far larger share of each
  batch than in the live stream.

Outputs are read back after timing and must equal a DuckDB computation
over the generated files, batch by batch, with no duplicates."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import duckdb
import numpy as np

import common
import egv_data
import ingest

RATE_EPS = 10_000
TICK_MS = 500
WARM_TICKS = 4
SINKS = ("p3", "p4_integer_values", "p4_in_range", "p5")
EGV_SCHEMA = "key string, value string, created_ms bigint"
BACKLOG_FILES = 8
BACKLOG_ROWS = 12_500
DRAINS = 3  # timed backfill drains after the live stream
LATE_VOID_MS = TICK_MS / 2  # a generator this late voids the live stream


class EgvPipeline:
    """foreachBatch handler: the batch is persisted once, then P3, both
    P4 branches and P5 run against it, each through its own sink."""

    def __init__(self, spark, out_root: str, tracer: common.Tracer) -> None:
        from pyspark.sql import functions as F

        from kafka_streams_dexcom_spark.queries.core import ranges_df
        from kafka_streams_dexcom_spark.streaming import jobs
        from kafka_streams_dexcom_spark.streaming.sinks import IdempotentParquetSink

        self.F = F
        self.jobs = jobs
        self.tracer = tracer
        self.out_root = out_root
        self.sinks = {n: IdempotentParquetSink(os.path.join(out_root, n)) for n in SINKS}
        self.p4 = jobs.categorize_simple_branches()
        self.p5 = jobs.ktable_lookup_topology(lambda: ranges_df(spark))
        self.done_ms: dict[int, float] = {}

    def _write(self, sink: str, df, batch_id: int) -> None:
        with self.tracer.span("streaming.sinks.write"):
            self.sinks[sink](df, batch_id)

    def __call__(self, batch_df, batch_id: int) -> None:
        F, tr = self.F, self.tracer
        batch_df.persist()
        try:
            with tr.span("streaming.jobs.p3"):
                self._write("p3", self.jobs.filter_high_topology(batch_df), batch_id)
            with tr.span("streaming.jobs.p4"):
                self._write("p4_integer_values", self.p4["integer-values"](batch_df), batch_id)
                self._write("p4_in_range", self.p4["are-values-in-range"](batch_df), batch_id)
            with tr.span("streaming.jobs.p5"):
                typed = batch_df.select(
                    "key",
                    F.get_json_object("value", "$.systemTime").alias("systemTime"),
                    F.get_json_object("value", "$.value").cast("int").alias("value"),
                    "created_ms",
                )
                self._write("p5", self.p5(typed, batch_id), batch_id)
        finally:
            batch_df.unpersist()
        self.done_ms[batch_id] = common.now_ms()


def start_query(spark, source_dir: str, pipeline: EgvPipeline, ckpt: str, files_per_batch: int | None = None,
                available_now: bool = False):
    reader = spark.readStream.schema(EGV_SCHEMA)
    if files_per_batch:
        reader = reader.option("maxFilesPerTrigger", files_per_batch)
    w = reader.parquet(source_dir).writeStream.foreachBatch(pipeline).option("checkpointLocation", ckpt)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def file_batches(ckpt: str) -> dict[str, int]:
    """Input file name -> micro-batch id, from the file source's own log
    in the checkpoint (read after the query stopped)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


# The reference computation, written against the Egv JSON directly.
_PARSED = """
CREATE OR REPLACE TEMP VIEW ev AS
SELECT fb.batch, i.key, i.value AS raw, i.created_ms,
       CASE WHEN json_valid(i.value) THEN json_extract_string(i.value, '$.value') END AS v_str,
       CASE WHEN json_valid(i.value) THEN json_extract_string(i.value, '$.systemTime') END AS st
FROM read_parquet('{inputs}', filename = true) i
JOIN fb ON fb.fname = string_split(i.filename, '/')[-1]
"""
_REFS = {
    "p3": ("key, value, created_ms",
           "SELECT batch, key, raw AS value, created_ms FROM ev WHERE coalesce(TRY_CAST(v_str AS BIGINT), 0) >= 200"),
    "p4_integer_values": ("key, value", "SELECT batch, key, TRY_CAST(v_str AS INTEGER) AS value FROM ev"),
    "p4_in_range": ("key, in_range",
                    "SELECT batch, key, CASE WHEN TRY_CAST(v_str AS INTEGER) BETWEEN 75 AND 180 "
                    "THEN 'true' ELSE 'false' END AS in_range FROM ev"),
    "p5": ("key, systemTime, value, created_ms, range_id, start_time, end_time, lower_bound, upper_bound, in_range",
           """SELECT e.batch, e.key, e.st AS systemTime, e.v AS value, e.created_ms, r.range_id, r.start_time,
                     r.end_time, r.lower_bound, r.upper_bound,
                     CASE WHEN r.range_id IS NULL THEN NULL
                          WHEN e.v >= r.lower_bound AND e.v <= r.upper_bound THEN 'true' ELSE 'false' END
              FROM (SELECT *, TRY_CAST(v_str AS INTEGER) AS v, split_part(st, 'T', 2) AS tod FROM ev) e
              LEFT JOIN ranges r ON r.range_id = (
                  SELECT min(range_id) FROM ranges q WHERE e.tod >= q.start_time AND e.tod <= q.end_time)"""),
}


def check_outputs(inputs_glob: str, runs: list[tuple[dict[str, int], str]]) -> list[set[int]]:
    """For each ``(file -> batch, sink root)`` run over the same inputs,
    the micro-batches whose sink outputs differ from the reference in
    any row: missing, extra (a duplicate counts) or different."""
    from kafka_streams_dexcom_spark.schemas import GOLDEN_RANGES

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE ranges (range_id INTEGER, start_time VARCHAR, end_time VARCHAR, "
                    "lower_bound INTEGER, upper_bound INTEGER)")
        con.executemany("INSERT INTO ranges VALUES (?, ?, ?, ?, ?)", GOLDEN_RANGES)
        refs: dict[tuple, int] = {}  # one reference per distinct file -> batch assignment
        out = []
        for batches, out_root in runs:
            key = tuple(sorted(batches.items()))
            if key not in refs:
                refs[key] = n = len(refs)
                con.execute("CREATE OR REPLACE TABLE fb (fname VARCHAR, batch BIGINT)")
                con.executemany("INSERT INTO fb VALUES (?, ?)", list(batches.items()))
                con.execute(_PARSED.format(inputs=inputs_glob))
                for sink, (_, ref) in _REFS.items():
                    con.execute(f"CREATE TABLE ref{n}_{sink} AS {ref}")
            n = refs[key]
            bad: set[int] = set()
            for sink, (cols, _) in _REFS.items():
                ref = f"SELECT * FROM ref{n}_{sink}"
                if not glob.glob(os.path.join(out_root, sink, "*", "*.parquet")):
                    got = f"{ref} WHERE false"
                else:
                    got = (f"SELECT __batch_id AS batch, {cols} FROM read_parquet('{out_root}/{sink}/*/*.parquet', "
                           "hive_partitioning = true)")
                diff = f"(({got}) EXCEPT ALL ({ref})) UNION ALL (({ref}) EXCEPT ALL ({got}))"
                bad |= {int(r[0]) for r in con.execute(f"SELECT DISTINCT batch FROM ({diff})").fetchall()}
            out.append(bad)
        return out
    finally:
        con.close()


def _warm(ctx: common.Ctx, backlog: str) -> None:
    """Untimed: one drain of the backlog, a file per micro-batch. A
    fresh JVM pays class loading and code generation on its first
    micro-batch, and runs the per-batch driver path and the per-row
    paths slower until it has run each for a while."""
    pipe = EgvPipeline(ctx.spark, ctx.run.sub("warm_out"), common.Tracer(False))
    start_query(ctx.spark, backlog, pipe, ctx.run.sub("warm_ckpt"), files_per_batch=1,
                available_now=True).awaitTermination()


def _stream_layers(ctx: common.Ctx, prefix: str, progress: list, pipes: list[EgvPipeline],
                   tracer: common.Tracer) -> None:
    """Per-batch phase medians from ``StreamingQueryProgress``, sink
    files per batch, and the traced per-topology and sink times and
    Spark's own per-batch counts."""
    res = ctx.res
    common.put_progress(res, prefix, progress)
    batches = sum(len(p.done_ms) for p in pipes)
    files = sum(len(glob.glob(os.path.join(p.out_root, s, "*", "*.parquet"))) for p in pipes for s in SINKS)
    res.put(f"{prefix}streaming.sinks.files", files / max(batches, 1), "count")
    if not tracer.enabled:
        return
    for t in ("p3", "p4", "p5"):
        res.put(f"{prefix}streaming.jobs.{t}_ms", common.median(tracer.durations(f"streaming.jobs.{t}")), "ms")
    res.put(f"{prefix}streaming.sinks.write_ms", sum(tracer.durations("streaming.sinks.write")) / max(batches, 1),
            "ms")
    ops = common.per_op_spark(ctx.spark, [(lo, hi) for lo, hi, _ in common.progress_windows(progress)])
    for k in ("jobs", "stages", "tasks"):
        res.put(f"{prefix}spark.{k}_per_batch", ops[k], "count")
    res.put(f"{prefix}spark.shuffle_write_mb_per_batch", ops["shuffle_write_mb"], "MB")


def _live(ctx: common.Ctx, seconds: float) -> None:
    """Open loop: the generator lands a file every tick while the query
    runs with the default trigger; latency counts only records created
    after the first WARM_TICKS ticks."""
    spark, run, res = ctx.spark, ctx.run, ctx.res
    live = run.sub("live_in")
    os.makedirs(live)
    pipe = EgvPipeline(spark, run.sub("live_out"), ctx.tracer)
    ckpt = run.sub("live_ckpt")
    q = start_query(spark, live, pipe, ckpt)
    ticks = WARM_TICKS + round(seconds * 1000 / TICK_MS)
    rate = ctx.size(RATE_EPS, 2_000)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "egv_gen.py"),
         "--out", live, "--seed", str(ctx.seed), "--ticks", str(ticks), "--rows", str(rate * TICK_MS // 1000),
         "--tick-ms", str(TICK_MS)],
        stdout=subprocess.PIPE, text=True)
    try:
        out, _ = gen.communicate(timeout=seconds + 120)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        q.stop()
        raise RuntimeError(f"EGV generator exited with {gen.returncode}")
    report = json.loads(out.strip().splitlines()[-1])
    q.processAllAvailable()
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()

    batches = file_batches(ckpt)
    win_lo = report["t0_ms"] + WARM_TICKS * TICK_MS
    win_hi = report["t0_ms"] + ticks * TICK_MS
    lat_ms, done_in_window = [], 0
    for f in report["files"]:
        done = pipe.done_ms[batches[f["name"]]]
        if win_lo <= f["due_ms"] < win_hi:
            lat_ms.append(done - egv_data.created_ms(f["due_ms"], TICK_MS, f["rows"]))
        if win_lo <= done < win_hi:
            done_in_window += f["rows"]
    lat_ms = np.concatenate(lat_ms)
    late = [f["landed_ms"] - f["due_ms"] for f in report["files"]]
    timed = [(lo, hi, rows) for lo, hi, rows in common.progress_windows(progress) if lo >= win_lo]

    res.mark("live")
    res.attempted += len(pipe.done_ms)
    if max(late) >= LATE_VOID_MS:
        # the schedule slipped, so the latency is not an open-loop one
        res.fail(f"EGV generator ran {max(late):.0f} ms late", len(pipe.done_ms))
    else:
        for b in sorted(check_outputs(os.path.join(live, "*.parquet"), [(batches, pipe.out_root)])[0]):
            res.fail(f"live stream batch {b} output differs from the reference")
    res.mark("live_checked")

    p50 = float(np.median(lat_ms))
    res.e2e["latency_ms"] = (p50, "ms")
    res.put("egv_latency_p50_ms", p50, "ms")
    res.put("egv_latency_p99_ms", float(np.percentile(lat_ms, 99)), "ms")
    res.put("egv_latency_samples", len(lat_ms), "count")
    res.put("egv_processed_eps", done_in_window / ((win_hi - win_lo) / 1000.0), "events/s")
    res.put("egv_offered_eps", rate, "events/s")
    res.put("egv_capacity_eps", sum(r for _, _, r in timed) / (sum(hi - lo for lo, hi, _ in timed) / 1000.0),
            "events/s")
    res.put("generator.late_max_ms", max(late), "ms")
    res.put("generator.late_p50_ms", common.median(late), "ms")
    _stream_layers(ctx, "", progress, [pipe], ctx.tracer)
    res.ops = [(lo, hi) for lo, hi, _ in timed]


def _backfill(ctx: common.Ctx, backlog: str, events: int) -> None:
    """Closed loop: drain the landed history with ``availableNow`` in
    one large micro-batch, each drain into fresh sinks and a fresh
    checkpoint, DRAINS times; the figure is the median drain. The first
    drain after the live stream reads slower than later ones, so the
    count is fixed, not set by how fast the drains run."""
    run, res = ctx.run, ctx.res
    tracer = common.Tracer(ctx.tracer.enabled)
    drains, pipes, progress = [], [], []
    for i in range(DRAINS):
        pipe = EgvPipeline(ctx.spark, run.sub(f"drain_out{i}"), tracer)
        t0 = time.perf_counter()
        q = start_query(ctx.spark, backlog, pipe, run.sub(f"drain_ckpt{i}"), available_now=True)
        q.awaitTermination()
        drains.append(time.perf_counter() - t0)
        pipes.append(pipe)
        progress += [json.loads(p.json) for p in q.recentProgress]
    res.mark("backfill")

    runs = [(file_batches(run.sub(f"drain_ckpt{i}")), pipe.out_root) for i, pipe in enumerate(pipes)]
    for i, (pipe, bad) in enumerate(zip(pipes, check_outputs(os.path.join(backlog, "*.parquet"), runs))):
        res.attempted += len(pipe.done_ms)
        for b in sorted(bad):
            res.fail(f"backfill drain {i} batch {b} output differs from the reference")
    res.mark("backfill_checked")

    eps = events / common.median(drains)
    res.e2e["throughput_per_s"] = (eps, "1/s")
    res.put("backfill_eps", eps, "events/s")
    res.put("backfill.events", events, "count")
    res.put("backfill.drains", len(drains), "count")
    _stream_layers(ctx, "backfill.", progress, pipes, tracer)


def run(ctx: common.Ctx) -> None:
    """Warm up, then the live stream for the measured seconds, then
    DRAINS backfill drains. A traced run then also measures index
    ingest, so that the maintainer and commit log layers are measured
    without lengthening the untraced runs."""
    backlog = ctx.run.sub("backlog")
    with ctx.inputs():
        events = egv_data.land_backlog(ctx.seed + 1, backlog, BACKLOG_FILES, ctx.size(BACKLOG_ROWS, 1_000))
    _warm(ctx, backlog)
    ctx.setup_done()
    _live(ctx, ctx.seconds)
    _backfill(ctx, backlog, events)
    if ctx.tracer.enabled:
        phase = ingest.Ingest(ctx)
        phase.prepare()
        phase.measure(ctx.seconds / 2)
