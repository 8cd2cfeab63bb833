"""End-to-end streaming curation pipeline: ONE topology from a
WebDataset shard drop zone to the two published corpus indexes.

    shard drop zone (read_webdataset_stream, exactly-once file pickup)
        │  txt members
        ├─ corrupt member (bad key / invalid UTF-8) → quarantine ledger
        ├─ robots-blocked URL (optional crawl stage 0: scan-side
        │    RFC 9309 fold vs the FROZEN per-host rule table built once
        │    per robots snapshot)                   → robots_blocked ledger
        ├─ duplicate canonical address (optional crawl stage 1:
        │    UrlFirstSeenMaintainer — exact first-seen index through
        │    the commit log; screen verdicts        → url_screen ledger)
        ├─ parsed doc failing gopher_rules          → rejected ledger
        ├─ accepted doc containing an eval item     → contaminated ledger
        │    (broadcast eval n-gram fingerprints, integer-exact
        │     containment ≥ τ — operators/dedup.contamination_flags)
        └─ clean doc ─┬─ HostLineCensusMaintainer (optional chrome leg,
                      │    chrome_host_expr=...: per-(host, line)
                      │    distinct-doc census + the per-epoch chrome
                      │    verdict ledger; the REWRITE applies at
                      │    publish time against the converged census —
                      │    census(...).rewrite() ≡ batch
                      │    host_line_dedup, the line_census contract)
                      ├─ ClusterMapMaintainer  (near-dup cluster map)
                      ├─ IvfPostingsMaintainer (ANN postings, frozen
                      │    quantizer, deterministic text featurizer)
                      └─ SemClusterMaintainer  (optional semantic-dedup
                           leg: incremental SemDeDup clusters on the
                           same frozen quantizer — semantic_tau=...)

The reference composes its five programs only through Kafka topics
(P1 ingests, P3/P4/P5 transform, P6 sinks — StreamsFilterEgvs.java,
ElasticSearchConsumer.java); this module is that composition as one
Spark topology: a single foreachBatch epoch drives the three-way gate
(streaming/quality_gate.py routing) and folds the accepted documents
into BOTH maintained views, each published through the optimistic
commit log.

One lineage / replay story across the chain: the pipeline binds one
``lineage_id`` to the source query; each maintainer records the applied
batch watermark in its own commit manifest, so a crash ANYWHERE in the
epoch — including between the two maintainer publishes — replays the
batch and every already-committed leg no-ops while the interrupted leg
applies. The ledgers are idempotent per-epoch overwrites (batch=N
subdirs). The end-to-end pytest crashes the query mid-epoch between the
cluster-map commit and the postings commit, restarts from the same
checkpoint, and asserts both final views bit-equal the one-shot batch
run — the strongest composition claim short of a real cluster.

Scale: every epoch stage is the tested component's own shape — one
task per shard at parse, scan-side gate flags, batch-∝ cluster fold,
broadcast-assign postings append. Nothing here adds a join or a
corpus rescan; composition is routing, not recomputation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.dedup import (
    TOKENS_TPL,
    contamination_flags,
    eval_fingerprints,
)
from kafka_streams_dexcom_spark.operators.text import gopher_rules
from kafka_streams_dexcom_spark.streaming.ann_ingest import (
    IvfPostingsMaintainer,
)
from kafka_streams_dexcom_spark.streaming.cluster_map_stream import (
    ClusterMapMaintainer,
)
from kafka_streams_dexcom_spark.streaming.line_census import (
    HostLineCensusMaintainer,
)
from kafka_streams_dexcom_spark.streaming.semdedup_stream import (
    SemClusterMaintainer,
)

FEATURE_DIM = 8


def text_feature_vector(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int = FEATURE_DIM,
) -> DataFrame:
    """Deterministic hashed bag-of-words featurizer: dim j is the fold
    of pmod(xxhash64(token, j), 997) over the tokens. A stand-in for a
    real encoder with the properties the pipeline needs — pure JVM
    expression (no UDF), byte-stable across engines and runs, nonzero
    for any non-empty text — so streamed assignments can be asserted
    EXACTLY equal to one-shot ones."""
    toks = TOKENS_TPL.format(x=text_col)
    vec = (
        f"transform(sequence(0, {dim - 1}), "
        f"j -> CAST(aggregate({toks}, 0L, "
        "(acc, t) -> acc + pmod(xxhash64(t, j), 997)) AS FLOAT))"
    )
    return df.withColumn(out_col, F.expr(vec))


def parse_txt_members(members: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(docs, quarantine) from WebDataset member rows: txt members with
    a numeric key and valid UTF-8 payload become (doc_id, text); the
    rest of the txt members are the quarantine leg (kept as raw member
    coordinates (shard, key) + payload — a queryable incident dataset, the same
    contract as split_quarantine). Non-txt members are ignored here
    (image/audio legs have their own consumers)."""
    txt = members.filter(F.col("ext") == "txt").select(
        "shard",
        "key",
        F.col("payload"),
        F.expr("try_cast(key AS LONG)").alias("doc_id"),
        # CAST reinterprets the bytes without validating (decode() under
        # ANSI RAISES on malformed input — a whole-task failure, not a
        # quarantine); is_valid_utf8 then flags the bad rows
        F.expr("CAST(payload AS STRING)").alias("text"),
    )
    corrupt = F.col("doc_id").isNull() | ~F.expr("is_valid_utf8(text)")
    docs = txt.filter(~corrupt).select("doc_id", "text")
    quarantine = txt.filter(corrupt).select("shard", "key", "payload")
    return docs, quarantine


class CurationPipeline:
    """foreachBatch sink wiring gate + both maintainers over one epoch.

    ``root`` holds the commit-log views (``cluster_map/``,
    ``ann_postings/``, optional ``line_census/``) and the per-epoch
    ledgers (``quarantine/``, ``rejected/``, optional ``chrome/``).
    ``centroids`` is the FROZEN quantizer frame (cid, cvec).
    ``chrome_host_expr`` (a SQL expression over the accepted doc
    columns yielding the registrable host) enables the chrome-census
    leg between the quarantine/contamination gates and the cluster
    map."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        centroids: DataFrame,
        lineage_id: str,
        threshold: float = 0.2,
        eval_docs: DataFrame | None = None,
        contamination_threshold: tuple[int, int] = (4, 5),
        semantic_tau: float | None = None,
        chrome_host_expr: str | None = None,
        robots: DataFrame | None = None,
        url_expr: str | None = None,
    ) -> None:
        from kafka_streams_dexcom_spark.streaming.url_index import (
            UrlFirstSeenMaintainer,
        )

        self.spark = spark
        self.root = root
        # crawl stages 0-1 (round 12, ahead of the quality gate — the
        # crawl_manifest stage order): ``url_expr`` (SQL over the
        # parsed doc columns yielding the RAW address) enables BOTH
        # legs; ``robots`` is the (host, body) robots.txt snapshot,
        # folded ONCE here into the frozen per-host rule table that
        # every epoch broadcasts (a crawl refreshes robots bodies on
        # their own cadence — a new snapshot is a new pipeline run,
        # exactly like the frozen quantizer).
        self.url_expr = url_expr
        if robots is not None and url_expr is None:
            raise ValueError("robots leg needs url_expr")
        if robots is not None:
            from kafka_streams_dexcom_spark.operators.robots import (
                robots_rules_by_host,
            )

            self.robots_by_host = robots_rules_by_host(
                robots
            ).localCheckpoint()
        else:
            self.robots_by_host = None
        self.url_index = (
            UrlFirstSeenMaintainer(
                spark,
                os.path.join(root, "url_index"),
                screened=lambda df, bid: self._ledger(
                    "url_screen", df, bid
                ),
                lineage_id=lineage_id,
            )
            if url_expr is not None
            else None
        )
        self.cluster = ClusterMapMaintainer(
            spark,
            os.path.join(root, "cluster_map"),
            lineage_id=lineage_id,
            threshold=threshold,
        )
        # optional chrome leg: incremental per-(host, line) census with
        # the per-epoch provisional verdict ledger (monotone-sound, see
        # line_census.py); the rewrite is applied at PUBLISH time
        # against the converged census, so downstream legs here keep
        # the raw accepted text
        self.chrome_host_expr = chrome_host_expr
        self.census = (
            HostLineCensusMaintainer(
                spark,
                os.path.join(root, "line_census"),
                screened=lambda df, bid: self._ledger("chrome", df, bid),
                lineage_id=lineage_id,
            )
            if chrome_host_expr is not None
            else None
        )
        self.index = IvfPostingsMaintainer(
            spark,
            os.path.join(root, "ann_postings"),
            centroids,
            lineage_id=lineage_id,
        )
        # optional semantic-dedup leg: incremental SemDeDup clusters on
        # the SAME frozen quantizer the postings index assigns against
        self.sem = (
            SemClusterMaintainer(
                spark,
                os.path.join(root, "sem_clusters"),
                centroids,
                lineage_id=lineage_id,
                tau=semantic_tau,
            )
            if semantic_tau is not None
            else None
        )
        # the contamination screen's broadcast side: eval suites are
        # tiny and FROZEN (like the quantizer), so fingerprint once at
        # construction — per batch it's one broadcast hash join
        self.eval_fp = (
            eval_fingerprints(eval_docs).localCheckpoint()
            if eval_docs is not None
            else None
        )
        self.contamination_threshold = contamination_threshold

    def _ledger(self, name: str, df: DataFrame, batch_id: int) -> None:
        # idempotent per-epoch publish: a replayed batch overwrites its
        # own subdir with identical content
        df.write.mode("overwrite").parquet(
            os.path.join(self.root, name, f"batch={batch_id}")
        )

    def ledger(self, name: str) -> DataFrame:
        p = os.path.join(self.root, name)
        return self.spark.read.parquet(p)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            docs, quarantine = parse_txt_members(batch_df)
            self._ledger("quarantine", quarantine, batch_id)
            # crawl stage 0: robots verdicts against the FROZEN per-host
            # rule table (broadcast join + scan-side RFC 9309 fold);
            # blocked docs land in the robots_blocked/ ledger and never
            # reach the quality gate
            if self.url_expr is not None:
                from kafka_streams_dexcom_spark.functions import url as ux

                docs = docs.withColumn(
                    "url",
                    F.expr(
                        ux.canonical_url_sql(f"({self.url_expr})")
                    ),
                )
            if self.robots_by_host is not None:
                from kafka_streams_dexcom_spark.operators.robots import (
                    apply_robots_verdicts,
                )

                sides = docs.select(
                    "doc_id",
                    F.expr(ux.host_sql("url")).alias("host"),
                    F.coalesce(
                        F.expr(ux.path_sql("url")), F.lit("")
                    ).alias("path"),
                )
                rv = apply_robots_verdicts(
                    sides, self.robots_by_host
                ).localCheckpoint()
                self._ledger(
                    "robots_blocked",
                    rv.filter("NOT allowed").select(
                        "doc_id", "host", "path", "matched_rule"
                    ),
                    batch_id,
                )
                docs = docs.join(
                    F.broadcast(
                        rv.filter("NOT allowed").select("doc_id")
                    ),
                    "doc_id",
                    "left_anti",
                )
            # crawl stage 1: canonical-URL first-seen dedup through the
            # commit log (exact index; screen verdicts -> url_screen/
            # ledger); duplicates never reach the quality gate
            if self.url_index is not None:
                docs = docs.localCheckpoint()
                self.url_index(docs, batch_id)
                # THIS epoch's screen verdicts (the ledger subdir the
                # maintainer just published — re-published identically
                # on replay, so the downstream filter is replay-stable)
                dup_ids = self.spark.read.parquet(
                    os.path.join(
                        self.root, "url_screen", f"batch={batch_id}"
                    )
                )
                docs = docs.join(
                    F.broadcast(
                        dup_ids.filter("url_dup = 1").select("doc_id")
                    ),
                    "doc_id",
                    "left_anti",
                ).select("doc_id", "text")
            flagged = gopher_rules(docs, carry_cols=("text",)).persist()
            try:
                self._ledger(
                    "rejected",
                    flagged.filter("keep = 0").select("doc_id", "text"),
                    batch_id,
                )
                accepted = (
                    flagged.filter("keep = 1")
                    .select("doc_id", "text")
                    .localCheckpoint()
                )
            finally:
                flagged.unpersist()
            # contamination gate: an accepted doc CONTAINING an eval
            # item routes to the contaminated ledger and never reaches
            # either training index — screened at ingest, the one place
            # every document passes exactly once
            if self.eval_fp is not None:
                num, den = self.contamination_threshold
                hits = contamination_flags(
                    accepted,
                    self.eval_fp,
                    threshold_num=num,
                    threshold_den=den,
                ).localCheckpoint()
                self._ledger("contaminated", hits, batch_id)
                accepted = accepted.join(
                    F.broadcast(hits.select("doc_id").distinct()),
                    "doc_id",
                    "left_anti",
                ).localCheckpoint()
            # leg 0 (optional): chrome census — counts commit through
            # the commit log (replay-guarded: counts are NOT
            # idempotent), provisional verdicts land in the chrome/
            # ledger via the screened callback
            if self.census is not None:
                hosted = accepted.withColumn(
                    "host", F.expr(self.chrome_host_expr)
                )
                self.census(hosted, batch_id)
            # leg 1: near-dup cluster map (commit-log publish, replay
            # no-op on its own manifest watermark)
            self.cluster(accepted, batch_id)
            # leg 2: ANN postings over the deterministic featurization
            featurized = text_feature_vector(accepted).select(
                F.col("doc_id").alias("vec_id"), "embedding"
            )
            self.index(featurized, batch_id)
            # leg 3 (optional): incremental semantic-dedup clusters —
            # same featurization, same frozen quantizer, own replay
            # watermark in its own commit manifest
            if self.sem is not None:
                self.sem(featurized, batch_id)
        finally:
            batch_df.unpersist()
