"""Curation queries (closed loop, one client): passes in seeded order
over a fixed mix of curation queries, each run to Spark's ``noop`` sink.
Streaming is not involved.

The mix holds construction-bound queries (eager lineage cuts and
artifact reads before the DataFrame is returned) and execution-bound
ones: shuffle joins, Python/Arrow workers and a trained tokenizer.
Set-up is an untimed first pass, which pays every artifact's cold
build. After timing, each query's result is compared with its DuckDB
oracle through the repository's own parity helper."""

from __future__ import annotations

import contextlib
import io
import math
import os
import random
import statistics
import sys
import time

import common

MIX = (
    # construction-bound: eager lineage cuts before the DataFrame returns
    "pagerank_centrality",
    # execution-bound: codegen'd span hashing, decimal moment sums
    "eval_span_scrub", "numeric_corr",
    # shuffle joins
    "shipping_priority",
    # a tokenizer trained into a session artifact in set-up
    "wordpiece_encode",
    # Python/Arrow workers
    "multimodal_decode",
)
SF = 0.01
PASS_S = 9.0  # one timed pass's seconds on the parent, 4 vCPUs
MIN_PASSES = 2


def generate_corpus(out: str, sf: float, seed: int) -> None:
    import gen_testdata

    with contextlib.redirect_stdout(io.StringIO()):
        gen_testdata.generate(sf, out, seed)


@contextlib.contextmanager
def artifact_timer(times: dict[str, float]):
    """Time every cold ``session_artifact`` build, per tag, by wrapping
    the function where each package module imported it."""
    from kafka_streams_dexcom_spark.sources import files

    orig = files.session_artifact

    def timed(spark, tag, key_parts, build):
        built = []

        def b():
            built.append(True)
            return build()

        t0 = time.perf_counter()
        out = orig(spark, tag, key_parts, b)
        if built:
            times[tag] = times.get(tag, 0.0) + time.perf_counter() - t0
        return out

    patched = [m for name, m in list(sys.modules.items())
               if name.startswith("kafka_streams_dexcom_spark") and getattr(m, "session_artifact", None) is orig]
    for m in patched:
        m.session_artifact = timed
    try:
        yield
    finally:
        for m in patched:
            m.session_artifact = orig


class CurationMix:
    def __init__(self, ctx: common.Ctx, data: str) -> None:
        from kafka_streams_dexcom_spark.queries import all_queries

        self.ctx = ctx
        self.spark = ctx.spark
        self.data = data
        self.rng = random.Random(ctx.seed)
        queries = all_queries()
        missing = [q for q in MIX if q not in queries]
        if missing:
            raise KeyError(f"curation mix names unknown queries: {missing}")
        self.queries = {q: queries[q] for q in MIX}
        self.per_query: dict[str, list[tuple[float, float]]] = {q: [] for q in MIX}
        self.construct_windows: list[tuple[float, float]] = []
        self.last: dict[str, object] = {}

    def _one(self, q: str) -> tuple[float, float, float, object]:
        """Build and run one query: (start_ms, construct_s, exec_s, df)."""
        start = common.now_ms()
        t0 = time.perf_counter()
        df = self.queries[q](self.spark, self.data)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return start, t1 - t0, time.perf_counter() - t1, df

    def warm(self) -> None:
        """The untimed first pass: every artifact's cold build."""
        res = self.ctx.res
        artifacts: dict[str, float] = {}
        with artifact_timer(artifacts) if self.ctx.tracer.enabled else contextlib.nullcontext():
            for q in MIX:
                _, c, e, _ = self._one(q)
                res.put(f"setup.queries.{q}_s", c + e, "s")
        for tag, s in artifacts.items():
            res.put(f"sources.artifact.{tag}_s", s, "s")

    def measure(self, seconds: float) -> None:
        """``seconds / PASS_S`` whole passes in seeded order, at least
        MIN_PASSES. Queries still get faster on their second timed run,
        so the count is fixed: were it set by how many passes fit in
        ``seconds``, a faster engine would also drop its slow first runs
        from the medians."""
        for _ in range(max(MIN_PASSES, round(seconds / PASS_S))):
            order = list(MIX)
            self.rng.shuffle(order)
            for q in order:
                start, c, e, df = self._one(q)
                self.per_query[q].append((c, e))
                self.construct_windows.append((start, start + c * 1000.0))
                self.ctx.res.ops.append((start, start + (c + e) * 1000.0))
                self.last[q] = df

    def check(self) -> None:
        """Each query's last result against its DuckDB oracle."""
        from kafka_streams_dexcom_spark.queries import all_oracles

        res = self.ctx.res
        oracles = all_oracles()
        os.environ.setdefault("SPARK_GRAFT_ORACLE_MEM", "2GB")
        os.environ.setdefault("SPARK_GRAFT_ORACLE_THREADS", "2")
        from tests.compare import compare, duckdb_con

        con = duckdb_con(self.data)
        try:
            for q in MIX:
                res.attempted += len(self.per_query[q])
                r = compare(self.last[q], con, oracles[q])
                if not (r["values_match"] and r["types_match"]):
                    res.fail(f"{q} differs from its DuckDB oracle", len(self.per_query[q]))
        finally:
            con.close()

    def report(self, sf: float) -> None:
        """A pass's time is the sum of each query's median construction
        plus execution time; the mix's latency is the geometric mean of
        those medians (the median of six unlike queries jumps between
        the two in the middle)."""
        res = self.ctx.res
        per_q = {q: common.median([c + e for c, e in self.per_query[q]]) for q in MIX}
        mix_s = sum(per_q.values())
        res.e2e["latency_ms"] = (math.exp(statistics.fmean(math.log(s) for s in per_q.values())) * 1000.0, "ms")
        res.e2e["throughput_per_s"] = (len(MIX) / mix_s, "1/s")
        res.put("curation_mix_s", mix_s, "s")
        res.put("curation.passes", len(self.per_query[MIX[0]]), "count")
        res.put("curation.sf", sf, "sf")
        for q in MIX:
            res.put(f"queries.{q}.construct_s", common.median([c for c, _ in self.per_query[q]]), "s")
            res.put(f"queries.{q}.exec_s", common.median([e for _, e in self.per_query[q]]), "s")
        if self.ctx.tracer.enabled:
            self._mix_totals()

    def _mix_totals(self) -> None:
        """Spark-side totals per pass, the eager SQL executions that ran
        while queries were being built, and Catalyst's own phases."""
        res = self.ctx.res
        jobs, stages, sql = common.spark_activity(self.spark)
        lo, hi = res.ops[0][0], res.ops[-1][1]
        passes = len(res.ops) / len(MIX)
        inside = [s for s in stages if lo <= s.submitted_ms <= hi]
        res.put("spark.jobs", sum(1 for a, _ in jobs if lo <= a <= hi) / passes, "count")
        res.put("spark.stages", len(inside) / passes, "count")
        res.put("spark.shuffle_write_mb", sum(s.shuffle_write_b for s in inside) / 2**20 / passes, "MB")
        res.put("spark.spill_mb", sum(s.spill_b for s in inside) / 2**20 / passes, "MB")
        eager = sum(1 for t in sql for a, b in self.construct_windows if a <= t <= b)
        res.put("queries.eager_sql_executions", eager / passes, "count")
        res.put("queries.plan_ms", sum(common.plan_phases_ms(self.last[q]) for q in MIX), "ms")


def run(ctx: common.Ctx) -> None:
    data = ctx.run.sub("corpus")
    sf = ctx.size(SF, 0.001)
    with ctx.inputs():
        generate_corpus(data, sf, ctx.seed)
    mix = CurationMix(ctx, data)
    mix.warm()
    ctx.setup_done()
    mix.measure(ctx.seconds)
    ctx.res.mark("measured")
    mix.check()
    ctx.res.mark("checked")
    mix.report(sf)
