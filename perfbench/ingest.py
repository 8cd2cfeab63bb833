"""Index ingest (closed loop, one client): generated documents drained
through ``ClusterMapMaintainer`` in fixed-size foreachBatch
micro-batches. It runs inside the traced ``egv`` run. Each batch grows
the stored near-dup index and commits through the append-granular
commit log. The next file lands only when the previous batch has
committed. The number of batches is fixed by the measured seconds, so
that a faster engine does not ingest more, ever larger, batches.

After timing, the maintained labels must give the same partition of the
ingested documents as one-shot ``minhash_lsh_dedup`` plus
``connected_components`` over them."""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow.parquet as pq

import common
import curation

BATCH_DOCS = 250
WARM_BATCHES = 1
SF = 0.1  # corpus scale: 5,000 documents
BATCH_S = 2.9  # one batch's seconds on the parent, 4 vCPUs
MIN_BATCHES = 2


def _stage_files(docs_path: str, staging: str, batch_docs: int) -> list[str]:
    t = pq.read_table(docs_path, columns=["doc_id", "text"])
    os.makedirs(staging)
    out = []
    for i in range(t.num_rows // batch_docs):
        p = os.path.join(staging, f"docs-{i:05d}.parquet")
        pq.write_table(t.slice(i * batch_docs, batch_docs), p)
        out.append(p)
    return out


class Feeder:
    """foreachBatch wrapper around the maintainer: times each batch,
    then lands the next staged file until every one has been fed."""

    def __init__(self, maintainer, staged: list[str], source: str) -> None:
        self.maintainer = maintainer
        self.staged = list(staged)
        self.source = source
        self.batch_s: list[float] = []
        self.fed = 0
        self.stopped = threading.Event()

    def feed(self) -> None:
        p = self.staged[self.fed]
        os.rename(p, os.path.join(self.source, os.path.basename(p)))
        self.fed += 1

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        self.maintainer(batch_df, batch_id)
        self.batch_s.append(time.perf_counter() - t0)
        if self.fed < len(self.staged):
            self.feed()
        else:
            self.stopped.set()


def _drain(spark, feeder: Feeder, ckpt: str, timeout_s: float):
    q = (spark.readStream.schema("doc_id long, text string").option("maxFilesPerTrigger", 1)
         .parquet(feeder.source).writeStream.foreachBatch(feeder).option("checkpointLocation", ckpt).start())
    feeder.feed()
    if not feeder.stopped.wait(timeout_s):
        q.stop()
        raise TimeoutError("index ingest did not drain its batches in time")
    q.processAllAvailable()
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    return progress


def _partition(pairs) -> set[frozenset]:
    groups: dict[int, set] = {}
    for node, comp in pairs:
        groups.setdefault(comp, set()).add(node)
    return {frozenset(g) for g in groups.values()}


class Ingest:
    """The ingest phase: ``prepare`` generates the corpus and warms a
    separate view with one batch; ``measure`` drains a fixed number of
    batches through the measured view, checks its labels and puts the
    ingest metrics."""

    def __init__(self, ctx: common.Ctx) -> None:
        self.ctx = ctx
        self.batch_docs = ctx.size(BATCH_DOCS, 50)
        self.staged: list[str] = []

    def prepare(self) -> None:
        from kafka_streams_dexcom_spark.streaming.cluster_map_stream import ClusterMapMaintainer

        ctx, run_dir = self.ctx, self.ctx.run
        corpus = run_dir.sub("ingest_corpus")
        with ctx.inputs():
            curation.generate_corpus(corpus, ctx.size(SF, 0.01), ctx.seed)
            staged = _stage_files(os.path.join(corpus, "documents.parquet"), run_dir.sub("staged"), self.batch_docs)
        warm_src = run_dir.sub("ingest_warm_src")
        os.makedirs(warm_src)
        warm = Feeder(ClusterMapMaintainer(ctx.spark, run_dir.sub("ingest_warm_view"), lineage_id="warm"),
                      staged[-WARM_BATCHES:], warm_src)
        self.staged = staged[:-WARM_BATCHES]
        _drain(ctx.spark, warm, run_dir.sub("ingest_warm_ckpt"), timeout_s=300)

    def measure(self, seconds: float) -> None:
        """``seconds / BATCH_S`` batches, at least MIN_BATCHES."""
        from pyspark.sql import functions as F

        from kafka_streams_dexcom_spark.operators import dedup as dd
        from kafka_streams_dexcom_spark.operators.graph import connected_components
        from kafka_streams_dexcom_spark.streaming.cluster_map_stream import ClusterMapMaintainer

        ctx, spark, run_dir, res = self.ctx, self.ctx.spark, self.ctx.run, self.ctx.res
        source = run_dir.sub("ingest_source")
        os.makedirs(source)
        m = ClusterMapMaintainer(spark, run_dir.sub("ingest_view"), lineage_id="bench")
        n = min(len(self.staged), max(MIN_BATCHES, round(seconds / BATCH_S)))
        feeder = Feeder(m, self.staged[:n], source)
        progress = _drain(spark, feeder, run_dir.sub("ingest_ckpt"), timeout_s=seconds + 120)
        docs = len(feeder.batch_s) * self.batch_docs
        res.mark("ingest")

        got = _partition((r.node, r.component) for r in m.labels().collect())
        d = spark.read.parquet(source)
        pairs = dd.minhash_lsh_dedup(d).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        want = _partition((r.node, r.component) for r in connected_components(pairs).collect())
        res.attempted += len(feeder.batch_s)
        if got != want or d.count() != docs:
            res.fail("index ingest labels differ from the one-shot partition", len(feeder.batch_s))
        res.mark("ingest_checked")

        res.put("ingest_docs_per_s", docs / sum(feeder.batch_s), "docs/s")
        res.put("ingest.batches", len(feeder.batch_s), "count")
        res.put("ingest.clusters", len(got), "count")
        common.put_progress(res, "ingest.", progress)
        if m.timings:
            res.put("streaming.maintainer.stage_s", common.median([t["stage_sec"] for t in m.timings]), "s")
            res.put("streaming.commitlog.commit_ms", common.median([t["commit_sec"] * 1000 for t in m.timings]),
                    "ms")
        res.put("streaming.maintainer.batch_s", common.median(feeder.batch_s), "s")
        ops = common.per_op_spark(spark, [(lo, hi) for lo, hi, _ in common.progress_windows(progress)])
        for k in ("jobs", "stages", "tasks"):
            res.put(f"ingest.spark.{k}_per_batch", ops[k], "count")

