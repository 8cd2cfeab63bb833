#!/usr/bin/env python
"""Micro-batch throughput bench for the reference's streaming topologies
(P3 filter, P4 fan-out, P5 KTable-lookup join) and the streaming
maintainers around them, under Structured Streaming. Input: tables at
$SPARK_GRAFT_SF_DIR rendered into each topology's stream shape,
delivered as NUM_CHUNKS files with maxFilesPerTrigger=1 (one
micro-batch per file). Outputs are counted per batch (not collected)
so the measurement is the engine's transform throughput, not driver
serialization.

Each topology is one TOPOLOGIES entry ``(name, build, drive)``; one
loop runs them all through the one timed ``drain``. Prints ONE JSON
line: {"metric": "streaming_rows_per_sec", "topologies": {...},
"sf": ..., plus bench.start_stamp's load stamps}.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from bench import start_stamp  # noqa: E402
from kafka_streams_dexcom_spark.functions import url as ux  # noqa: E402
from kafka_streams_dexcom_spark.operators import dedup, dq  # noqa: E402
from kafka_streams_dexcom_spark.operators import similarity  # noqa: E402
from kafka_streams_dexcom_spark.queries.core import ranges_df  # noqa: E402
from kafka_streams_dexcom_spark.queries.dedup import SEMDEDUP_TAU  # noqa: E402
from kafka_streams_dexcom_spark.schemas import GOLDEN_RANGES  # noqa: E402
from kafka_streams_dexcom_spark.session import get_spark  # noqa: E402
from kafka_streams_dexcom_spark.sources import corpus  # noqa: E402
from kafka_streams_dexcom_spark.sources.files import load_table  # noqa: E402
from kafka_streams_dexcom_spark.streaming import (  # noqa: E402
    ann_ingest,
    bloom_ingest,
    cluster_map_stream,
    dim_state,
    jobs,
    line_census,
    phash_index,
    quality_gate,
    semdedup_stream,
)
from kafka_streams_dexcom_spark.streaming.sinks import fan_out  # noqa: E402

NUM_CHUNKS = 10
N_BUCKETS = 8  # state buckets of the P5 stateful-dimension variant
BURST = 200  # invalid JSON lines planted in the quarantine-alarm input
ROUTES = ("accept", "reject", "quarantine")  # curation-gate sinks, in order
GATE_SCHEMA = (
    T.StructType()
    .add("doc_id", "long")
    .add("text", "string")
    .add("lang", "string")
    .add("source", "string")
)


def _write_chunks(df: DataFrame, path: str, chunks: int) -> int:
    """Materialize df as `chunks` equal files (one micro-batch each).

    Round-robin repartition(chunks), NOT repartition(chunks, key):
    hash-partitioning `chunks` distinct key values collides (murmur3 on
    0..9 mod 10 hits only ~7 partitions — measured), which would write
    fewer, skewed files and distort the per-micro-batch throughput."""
    df.repartition(chunks).write.mode("overwrite").parquet(path)
    _in_part_order(path)
    # count AFTER the write, from parquet footer metadata — a pre-write
    # df.count() would evaluate the whole transform twice
    return df.sparkSession.read.parquet(path).count()


def _in_part_order(path: str) -> None:
    """Stamp the part files of one write with strictly increasing
    mtimes, in part-index order, all in the past. The file source feeds
    files oldest first; the tasks of one write finish in no fixed order,
    often in the same millisecond, so micro-batch k held a different
    file from run to run (the part files' contents do not change), and
    with it every per-batch figure. A file landed later stays last."""
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    t0 = time.time() - 60 - len(parts)
    for k, name in enumerate(parts):
        os.utime(os.path.join(path, name), (t0 + k, t0 + k))


# -- the one drain, its sinks and summaries ---------------------------


def drain(writer) -> float:
    """Start a foreachBatch writer (checkpoint set) with availableNow and
    return its wall seconds to termination: the one timed drain."""
    t0 = time.time()
    writer.trigger(availableNow=True).start().awaitTermination()
    return time.time() - t0


def foreach_batch(stream: DataFrame, sink, ckpt: str):
    """The writer ``drain`` starts (streaming.sinks.fan_out returns the
    same shape): ``sink`` on every micro-batch, checkpointed at ckpt."""
    return stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", ckpt
    )


def counting_sink(rows: dict, name: str, per_batch=None):
    """foreachBatch sink that only counts: adds the rows of
    ``per_batch(batch, batch_id)`` (default: the batch) to
    ``rows[batch_id][name]``."""

    def sink(df: DataFrame, batch_id: int) -> None:
        out = per_batch(df, batch_id) if per_batch else df
        epoch = rows.setdefault(batch_id, {})
        epoch[name] = epoch.get(name, 0) + out.count()

    return sink


def timed(fn, secs: list):
    """Wrap a foreachBatch function to append each batch's seconds."""

    def sink(df: DataFrame, batch_id: int) -> None:
        b0 = time.time()
        fn(df, batch_id)
        secs.append(round(time.time() - b0, 2))

    return sink


def summing(total: list, col: str):
    """``screened=`` callback adding each batch's sum of ``col`` to
    ``total[0]`` (an empty micro-batch sums to NULL, counted as 0)."""

    def screened(df: DataFrame, batch_id: int) -> None:
        total[0] += df.agg(F.coalesce(F.sum(col), F.lit(0))).collect()[0][0]

    return screened


def first_last_max(secs: list) -> dict:
    """Per-batch seconds as first/last/max: a flat profile means the
    cost does not grow with the stored index."""
    if not secs:
        return dict.fromkeys(("first", "last", "max"))
    return {"first": secs[0], "last": secs[-1], "max": max(secs)}


def commit_secs(maintainer) -> dict:
    """The commit leg (manifest link) per batch: the append-granular
    contract keeps it flat while the table grows; the stage leg is
    proportional to the batch."""
    return first_last_max([t["commit_sec"] for t in maintainer.timings])


def no_report(rate: float) -> dict:
    return {}


# -- inputs (build): (input stream, rows/s numerator) -------------------


class Run:
    """One bench run: the session, its scratch directory, and each input
    written once and shared by the topologies that read it."""

    def __init__(self, spark, sf_dir: str, work: str) -> None:
        self.spark, self.sf_dir, self.work = spark, sf_dir, work
        self.rows: dict[str, int] = {}

    def table(self, name: str, *cols) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name).select(*cols)

    def chunks(self, key: str, make) -> tuple[DataFrame, int]:
        """The micro-batch source over input ``key`` (``make()`` written
        on first use as NUM_CHUNKS parquet files) and its row count. One
        definition of the source (schema + maxFilesPerTrigger=1), so an
        option change cannot skew one topology against another."""
        path = f"{self.work}/{key}"
        if key not in self.rows:
            self.rows[key] = _write_chunks(make(), path, NUM_CHUNKS)
        schema = self.spark.read.parquet(path).schema
        stream = self.spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        )
        return stream.parquet(path), self.rows[key]

    @functools.cached_property
    def centroids(self) -> DataFrame:
        """The frozen IVF quantizer ANN and SemDeDup assign against."""
        emb = self.table("embeddings", "vec_id", "embedding", "label")
        return similarity.ivf_centroids(
            dedup.with_embedding_norm(emb, "embedding").select("vec", "label"),
            "label",
        ).select(F.col("label").alias("cid"), F.col("centroid").alias("cvec"))


def json_egvs(r: Run):
    """P3/P4 input: (key, raw JSON value), the egv topic wire format."""
    stream, n = r.chunks("json_in", lambda: r.table(
        "events",
        F.col("user_id").cast("string").alias("key"),
        # reference egvs are integral mg/dL values; the JSON filter
        # casts with ANSI semantics, so render ints
        F.to_json(
            F.struct(F.col("value").cast("int").alias("value"))
        ).alias("value"),
    ))
    assert stream.columns == ["key", "value"], stream.columns
    return stream, n


def typed_egvs(r: Run):
    """P5 input: typed egvs with ISO systemTime for the KTable join."""
    return r.chunks("typed_in", lambda: r.table(
        "events",
        F.col("user_id").cast("string").alias("key"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("systemTime"),
        F.col("value").cast("int").alias("value"),
    ))


def tagged_egvs(r: Run):
    """P5 stateful-dimension input: the typed egvs tagged into the
    changelog-union shape (golden ranges as the seq-0..2 changelog
    prefix). The numerator is the EVENT rows, comparable with
    p5_ktable_join: replicated changelog rows produce no output."""
    _, n_typed = typed_egvs(r)

    def make() -> DataFrame:
        dims = r.spark.createDataFrame(
            [
                (rid - 1, rid, dim_state.range_json(st, et, lo, hi))
                for rid, st, et, lo, hi in GOLDEN_RANGES
            ],
            "seq long, range_id int, range_json string",
        )
        egvs = r.spark.read.parquet(f"{r.work}/typed_in").select(
            (F.col("value").cast("long") + 100).alias("seq"),  # any order
            "key",
            F.col("systemTime").alias("system_time"),
            F.col("value").cast("int").alias("value"),
        )
        return dim_state.tag_range_updates(dims, N_BUCKETS).unionByName(
            dim_state.tag_egvs(egvs, N_BUCKETS)
        )

    return r.chunks("tagged_in", make)[0], n_typed


def documents(r: Run):
    return r.chunks("docs_in", lambda: r.table("documents", "doc_id", "text"))


def embeddings(r: Run):
    return r.chunks(
        "emb_in", lambda: r.table("embeddings", "vec_id", "embedding")
    )


def host_pages(r: Run):
    """Line-census input: each document's canonical host and page text."""
    return r.chunks("lc_in", lambda: r.table(
        "documents",
        "doc_id",
        F.expr(
            ux.host_sql(ux.canonical_url_sql(ux.messy_url_sql()))
        ).alias("host"),
        F.expr(ux.page_text_sql()).alias("text"),
    ))


def fingerprints(r: Run):
    """Perceptual-dup input synthesized scan-side in the planted
    re-encode geometry (group g = doc_id div 3; two exact twins + a 1-bit
    near-dup), so the leg measures the MAINTAINER's fold (pairing, CC
    delta, commit), not a codec pass."""
    return r.chunks("fp_in", lambda: r.table(
        "documents",
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(substr(md5(concat('bfp:', "
                f"CAST(doc_id div 3 AS STRING))), {1 + 4 * i}, 4), "
                f"16, 10) AS BIGINT)"
                + (" ^ CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END"
                   if i == 0 else "")
            ).alias(f"b{i}")
            for i in range(4)
        ],
    ))


def landing(key: str, burst: int = 0):
    """Curation-gate input: the documents as NUM_CHUNKS JSONL landing
    files, parsed PERMISSIVE one file per micro-batch. With ``burst``, a
    producer lands one more file with a broken format (one valid row,
    then ``burst`` invalid lines): its micro-batch is the hot epoch. A
    new file, not an append: the local FS keeps CRC sidecars for
    Spark-written files, and a real landing zone receives whole files."""

    def build(r: Run):
        docs = r.table("documents", "doc_id", "text", "lang", "source")
        path = f"{r.work}/{key}"
        docs.repartition(NUM_CHUNKS).write.mode("overwrite").json(path)
        _in_part_order(path)
        n = docs.count()
        if burst:
            with open(os.path.join(path, "part-zz-burst.json"), "w") as fh:
                fh.write('{"doc_id": -1, "text": "ok", "lang": "en", '
                         '"source": "s"}\n')
                for i in range(burst):
                    fh.write('{"doc_id": broken line %d\n' % i)
            n += burst + 1
        stream = corpus.read_jsonl_stream(
            r.spark, path, GATE_SCHEMA, max_files_per_trigger=1
        )
        return stream, n

    return build


# -- topologies (drive): (writer, report(rate) -> extra fields) ---------


def count_output(transform):
    """Drive that counts ``transform(stream)``'s output per batch."""

    def drive(r: Run, stream: DataFrame, n: int, ckpt: str):
        sink = counting_sink({}, "out")
        return foreach_batch(transform(stream), sink, ckpt), no_report

    return drive


def p4_drive(r: Run, stream: DataFrame, n: int, ckpt: str):
    """One pass, two sinks (integer-values + are-values-in-range)."""
    branches = jobs.categorize_simple_branches()
    writers = {name: counting_sink({}, name) for name in branches}
    return fan_out(stream, branches, writers, ckpt), no_report


def p5_drive(r: Run, stream: DataFrame, n: int, ckpt: str):
    run_batch = jobs.ktable_lookup_topology(lambda: ranges_df(r.spark))
    sink = counting_sink({}, "out", run_batch)
    return foreach_batch(stream, sink, ckpt), no_report


def timed_maintainer(make, batch_key: str, commit_key: str, **counts):
    """Drive for a commit-log maintainer ``make(run)`` with each batch
    timed. Reports the batch seconds (first/last/max, n_batches, and
    each ``counts`` figure read off the maintainer after the drain) and
    the commit seconds."""

    def drive(r: Run, stream: DataFrame, n: int, ckpt: str):
        m, secs = make(r), []

        def report(rate: float) -> dict:
            figures = {k: count(m) for k, count in counts.items()}
            return {
                batch_key: {
                    **first_last_max(secs), "n_batches": len(secs), **figures
                },
                commit_key: commit_secs(m),
            }

        return foreach_batch(stream, timed(m, secs), ckpt), report

    return drive


def cluster_map(r: Run):
    """The corpus-scale dedup-index builder: per-batch cost grows with
    the stored index, so the batch seconds matter as much as rows/s."""
    return cluster_map_stream.ClusterMapMaintainer(
        r.spark, f"{r.work}/cluster_view", lineage_id="bench"
    )


def ann_index(r: Run):
    """The live IVF index build: per-batch argmin assignment of new
    embeddings to the frozen quantizer plus a commit-log publish."""
    return ann_ingest.IvfPostingsMaintainer(
        r.spark, f"{r.work}/ann_index", r.centroids, lineage_id="bench"
    )


def sem_clusters(r: Run):
    """SemDeDup: within-cell cosine candidates vs batch+stored members,
    labels folded through cc_incremental_delta."""
    return semdedup_stream.SemClusterMaintainer(
        r.spark, f"{r.work}/sem_index", r.centroids,
        lineage_id="bench", tau=SEMDEDUP_TAU,
    )


def phash(r: Run):
    """Perceptual-dup index: banded probe against the stored
    fingerprints + incremental CC changelog."""
    return phash_index.PhashIndexMaintainer(
        r.spark, f"{r.work}/phash_index", lineage_id="bench-fp"
    )


def capped_drive(r: Run, stream: DataFrame, n: int, ckpt: str):
    """SemDeDup with the hot-cell probe cap BINDING: capped at ONE
    BATCH's per-cell share of the dense synthetic corpus, the stored
    probe never exceeds what batch 1 saw, so the fold must stay FLAT."""
    cap = max(1, n // NUM_CHUNKS // max(1, r.centroids.count()))
    m = semdedup_stream.SemClusterMaintainer(
        r.spark, f"{r.work}/sem_index_cap", r.centroids,
        lineage_id="bench-cap", tau=SEMDEDUP_TAU, max_cell_probe=cap,
    )
    secs: list[float] = []
    return foreach_batch(stream, timed(m, secs), ckpt), lambda rate: {
        "semdedup_capped_batch_sec": {**first_last_max(secs), "cap": cap},
    }


def bloom_drive(r: Run, stream: DataFrame, n: int, ckpt: str):
    """Per batch, screen against the width-bounded stored bit set
    (broadcast) and commit the batch's bits O(batch): the screen is
    bounded by the FIXED width however many batches have streamed."""
    flagged = [0]
    m = bloom_ingest.BloomFilterMaintainer(
        r.spark, f"{r.work}/bloom_filter", m_bits=8 * n,
        screened=summing(flagged, "probably_seen"),
        lineage_id="bench-bloom",
    )
    return foreach_batch(stream, m, ckpt), lambda rate: {
        "bloom_commit_sec": commit_secs(m),
        "bloom_flagged": {
            "probable_seen": int(flagged[0]),
            "fill_ratio": round(m.fill_ratio(), 4),
            # the O(1) manifest counter a monitor reads instead of
            # scanning the bit set — must track the exact scan above
            "fill_ratio_meta": round(m.fill_ratio_meta(), 4),
            "fill_trajectory": [t["fill_ratio"] for t in m.timings],
            "rebuild_due": m.rebuild_due(),
        },
    }


def census_drive(r: Run, stream: DataFrame, n: int, ckpt: str):
    """Per batch, commit the batch's (host, line-hash) distinct-doc
    counts O(batch) and screen it against the PRE-batch chrome set; the
    stored census is only read by the screen, never rewritten."""
    hits = [0]
    m = line_census.HostLineCensusMaintainer(
        r.spark, f"{r.work}/line_census",
        screened=summing(hits, "n_chrome_lines"), lineage_id="bench-lc",
    )
    return foreach_batch(stream, m, ckpt), lambda rate: {
        "line_census_commit_sec": commit_secs(m),
        "line_census_chrome": {
            "provisional_chrome_line_hits": int(hits[0]),
            "chrome_lines_final": m.chrome().count(),
        },
    }


def gate_drive(r: Run, stream: DataFrame, n: int, ckpt: str):
    """PERMISSIVE parse -> three-way corrupt/rejected/accepted routing
    with the gopher flags riding the landing scan, counted per sink."""
    rows: dict = {}
    sinks = (counting_sink(rows, k) for k in ROUTES)
    gate = quality_gate.curation_gate_writer(*sinks)

    def report(rate: float) -> dict:
        routed = {k: sum(e[k] for e in rows.values()) for k in ROUTES}
        assert routed["accept"] + routed["reject"] == n
        return {"curation_gate_routed": routed}

    return foreach_batch(stream, gate, ckpt), report


def alarm_drive(r: Run, stream: DataFrame, n: int, ckpt: str):
    """The gate fed the planted break; the per-epoch sink counts are the
    ledger the shared alarm tail (dq.quarantine_alarm_from_counts) reads.
    The ops contract: exactly the burst epoch alarms."""
    rows: dict = {}
    sinks = (counting_sink(rows, k) for k in ROUTES)
    gate = quality_gate.curation_gate_writer(*sinks)

    def report(rate: float) -> dict:
        ledger = r.spark.createDataFrame(
            [
                (e, sum(c.values()), c["quarantine"])
                for e, c in sorted(rows.items())
            ],
            "epoch bigint, n_rows bigint, n_quarantined bigint",
        )
        alarms = {
            a["epoch"]: a
            for a in dq.quarantine_alarm_from_counts(ledger).collect()
            if a["alarm"] == 1
        }
        assert len(alarms) == 1, f"expected 1 alarm epoch: {alarms}"
        (hot,) = alarms.values()
        assert hot["n_quarantined"] == BURST, hot
        return {"quarantine_alarm": {
            "rows_per_sec": rate,
            "burst_rows": BURST,
            "alarm_epochs": 1,
            "alarm_rate_ppm": hot["rate_ppm"],
            "n_epochs": len(rows),
        }}

    return foreach_batch(stream, gate, ckpt), report


# (name, build, drive), run in this order: ``name`` keys the rows/s
# figure, ``build(run)`` gives the input stream and the numerator,
# ``drive(run, stream, n, ckpt)`` the writer and its report.
TOPOLOGIES = [
    ("p3_filter", json_egvs, count_output(jobs.filter_high_topology)),
    ("p4_fanout", json_egvs, p4_drive),
    ("p5_ktable_join", typed_egvs, p5_drive),
    # the dimension maintained in engine state per bucket
    ("p5_stateful_dim", tagged_egvs,
     count_output(dim_state.ktable_lookup_stateful)),
    ("cluster_map_stream", documents, timed_maintainer(
        cluster_map, "cluster_map_batch_sec", "cluster_map_commit_sec",
        labels=lambda m: m.labels().count(),
    )),
    ("ann_ingest_stream", embeddings, timed_maintainer(
        ann_index, "ann_ingest_batch_sec", "ann_commit_sec",
        postings=lambda m: m.postings().count(),
    )),
    ("semdedup_stream", embeddings, timed_maintainer(
        sem_clusters, "semdedup_batch_sec", "semdedup_commit_sec",
        clusters=lambda m: m.labels().select("component").distinct().count(),
    )),
    ("semdedup_capped_stream", embeddings, capped_drive),
    ("bloom_ingest_stream", documents, bloom_drive),
    ("line_census_stream", host_pages, census_drive),
    ("phash_index_stream", fingerprints, timed_maintainer(
        phash, "phash_index_batch_sec", "phash_index_commit_sec",
        dup_docs=lambda m: m.survivors_view()
        .filter(~F.col("is_survivor")).count(),
    )),
    ("curation_gate_stream", landing("gate_in"), gate_drive),
    ("quarantine_alarm", landing("gate_burst_in", BURST), alarm_drive),
]


def main() -> None:
    stamp = start_stamp()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench_streaming")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="bench_streaming_")
    r = Run(spark, sf_dir, work)
    results: dict = {}
    try:
        for name, build, drive in TOPOLOGIES:
            stream, n = build(r)
            writer, report = drive(r, stream, n, f"{work}/ckpt_{name}")
            results[name] = round(n / drain(writer), 1)
            # a report may replace the bare rate with a record nesting it
            results.update(report(results[name]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "metric": "streaming_rows_per_sec",
        "unit": "rows/s",
        "chunks": NUM_CHUNKS,
        "input_rows": r.rows["json_in"],
        "topologies": results,
        "sf": sf_dir,
        **stamp(),
    }))


if __name__ == "__main__":
    main()
