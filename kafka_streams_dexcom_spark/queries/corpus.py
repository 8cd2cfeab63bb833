"""Bulk-ingestion queries: JSONL schema-on-read with corrupt-record
quarantine, and WARC crawl-archive parsing — the batch front door of a
training-data pipeline (the reference's ingestion boundary is Kafka
topics, StreamsFilterEgvs.java:27-38; at 100 TB the same records arrive
as files).

Fixture discipline: the component under test here IS the file reader,
so unlike the multimodal family (payloads derived in-plan from
documents.text) these queries must round-trip real files. Each fixture
is derived from the documents table once per (session, corpus
fingerprint) into the session temp root — the JSONL corpus via a
DISTRIBUTED ``df.write.json`` (plus one small planted corrupt shard,
driver-written, 3 lines), the WARC archives via the vendored writer
(driver-side over DuckDB: fixture generation stands in for the crawler,
which is not an engine component; the engine component — the reader —
runs fully distributed). The oracles never see the files: they recompute
the same statistics from the documents view, so a reader that drops,
duplicates, or mis-decodes records fails the hash gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_dexcom_spark.functions import html as hx
from kafka_streams_dexcom_spark.operators.dedup import TOKENS_TPL
from kafka_streams_dexcom_spark.queries.duck import DUCK_TOKENS
from kafka_streams_dexcom_spark.sources import corpus as cs
from kafka_streams_dexcom_spark.sources.files import (
    corpus_fingerprint,
    load_table,
    session_temp_dir,
    session_value,
)

N_CORRUPT_LINES = 3

DOCS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _jsonl_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the documents table as a JSONL directory (distributed
    Spark JSON write, 4 shards) plus one planted corrupt shard; built
    once per (session, corpus)."""
    fp = corpus_fingerprint(os.path.join(sf_dir, "documents.parquet"))

    def build() -> str:
        out = os.path.join(
            session_temp_dir("jsonl_corpus"), fp.replace(os.sep, "_")
        )
        (
            load_table(spark, sf_dir, "documents")
            .repartition(4)
            .write.mode("overwrite")
            .json(out)
        )
        bad = [
            '{"doc_id": 1, "text": "unterminated',
            '{"doc_id": "not-a-number", "text": "bad type"}',
            "]",
        ]
        assert len(bad) == N_CORRUPT_LINES
        with open(os.path.join(out, "part-corrupt.json"), "w") as f:
            f.write("\n".join(bad) + "\n")
        return out

    return session_value(spark, "jsonl_corpus", (os.path.abspath(sf_dir), fp), build)


def q_jsonl_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL round-trip + quarantine: read the corpus dump with an
    explicit schema in PERMISSIVE mode, split valid rows from the 3
    planted malformed lines, and aggregate per (source, lang) — doc
    count, actual text chars, metadata char total — with the global
    quarantine count carried on every row (broadcast of a 1-row
    aggregate; the contractual-flag discipline of approx_sketches). A
    reader that silently dropped valid rows, let corrupt lines through
    as nulls, or mangled int64/string values fails the hash."""
    path = _jsonl_fixture(spark, sf_dir)
    raw = cs.read_jsonl(spark, path, DOCS_JSONL_SCHEMA)
    valid, quarantine = cs.split_quarantine(raw)
    nq = quarantine.agg(F.count(F.lit(1)).cast("int").alias("n_quarantined"))
    stats = valid.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum("n_chars").alias("sum_meta_chars"),
    )
    return stats.crossJoin(F.broadcast(nq))


N_CSV_CORRUPT_LINES = 2


def _csv_fixture(spark: SparkSession, sf_dir: str) -> str:
    """documents as a CSV directory (distributed write, 4 shards) plus
    one planted corrupt shard: a bad-type line and a wrong-arity line."""
    fp = corpus_fingerprint(os.path.join(sf_dir, "documents.parquet"))

    def build() -> str:
        out = os.path.join(
            session_temp_dir("csv_corpus"), fp.replace(os.sep, "_")
        )
        cs.write_csv(
            load_table(spark, sf_dir, "documents")
            .select([f.name for f in DOCS_JSONL_SCHEMA.fields])
            .repartition(4),
            out,
        )
        bad = ["not_a_number,foo,bar,baz,qux", "1,too,short"]
        assert len(bad) == N_CSV_CORRUPT_LINES
        with open(os.path.join(out, "part-corrupt.csv"), "w") as f:
            f.write("\n".join(bad) + "\n")
        return out

    return session_value(spark, "csv_corpus", (os.path.abspath(sf_dir), fp), build)


def q_csv_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip + quarantine: same contract as
    ``jsonl_corpus_stats`` on the third format leg — explicit schema,
    PERMISSIVE quarantine of the 2 planted malformed lines (bad type,
    wrong arity), per-lang aggregation, global quarantine count as a
    contractual flag on every row. Quoting/escaping fidelity is part of
    what the hash checks: a reader that mangled quoted fields or
    confused empty-vs-null changes sum_chars."""
    path = _csv_fixture(spark, sf_dir)
    raw = cs.read_csv(spark, path, DOCS_JSONL_SCHEMA)
    valid, quarantine = cs.split_quarantine(raw)
    nq = quarantine.agg(F.count(F.lit(1)).cast("int").alias("n_quarantined"))
    stats = valid.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum("n_chars").alias("sum_meta_chars"),
    )
    return stats.crossJoin(F.broadcast(nq))


# every WARC_OPTOUT-th doc's HTTP response carries "X-Robots-Tag:
# noai, noimageai" — the published opt-out convention a compliant
# training-data crawler must honor at ingestion time
WARC_OPTOUT = 13


def _duck_path(table_path: str) -> str:
    """DuckDB needs an explicit glob for Spark-written parquet
    DIRECTORIES (the driver's testdata tables are single files, but the
    ×10 probe copies are directories); read_parquet('<dir>') raises."""
    if os.path.isdir(table_path):
        return os.path.join(table_path, "*.parquet")
    return table_path


def _warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build 8 per-record-gzipped WARC archives (Common Crawl layout)
    from the documents table: one warcinfo + per-doc request/response
    records, bucketed by doc_id over a corpus-scaled archive count. Driver-side DuckDB read — fixture
    generation stands in for the crawler; see module docstring."""
    import gzip

    import duckdb

    fp = corpus_fingerprint(os.path.join(sf_dir, "documents.parquet"))

    def build() -> str:
        out = os.path.join(
            session_temp_dir("warc_corpus"), fp.replace(os.sep, "_")
        )
        os.makedirs(out, exist_ok=True)
        rows = duckdb.sql(
            "SELECT doc_id, text, source FROM read_parquet($p) ORDER BY doc_id",
            params={"p": _duck_path(os.path.join(sf_dir, "documents.parquet"))},
        ).fetchall()
        date = "2026-01-01T00:00:00Z"
        # archive count scales with the corpus (~700 docs per archive,
        # floor 8): crawls ship MORE archives for more data, not bigger
        # ones — a fixed shard count would serialize the ×10 probe on 8
        # tasks and misrepresent the format's real parallelism contract
        n_shards = max(8, len(rows) // 700)
        buckets: dict[int, list[bytes]] = {b: [] for b in range(n_shards)}
        for b in range(n_shards):
            buckets[b].append(
                cs.warc_record_bytes(
                    "warcinfo",
                    {
                        "WARC-Record-ID": f"<urn:warcinfo:{b}>",
                        "WARC-Date": date,
                        "Content-Type": "application/warc-fields",
                    },
                    b"software: spark-graft-fixture\r\n",
                )
            )
        for doc_id, text, source in rows:
            b = doc_id % n_shards
            uri = f"https://{source}.example/doc/{doc_id}"
            buckets[b].append(
                cs.warc_record_bytes(
                    "request",
                    {
                        "WARC-Record-ID": f"<urn:req:{doc_id}>",
                        "WARC-Date": date,
                        "WARC-Target-URI": uri,
                        "Content-Type": "application/http;msgtype=request",
                    },
                    f"GET /doc/{doc_id} HTTP/1.1\r\n\r\n".encode(),
                )
            )
            buckets[b].append(
                cs.warc_record_bytes(
                    "response",
                    {
                        "WARC-Record-ID": f"<urn:resp:{doc_id}>",
                        "WARC-Date": date,
                        "WARC-Target-URI": uri,
                        "Content-Type": "application/http;msgtype=response",
                    },
                    cs.http_response_bytes(
                        text.encode("utf-8"),
                        status=200,
                        content_type="text/plain; charset=utf-8",
                        # planted opt-out directives: every WDS_OPTOUT-th
                        # origin serves an AI-training opt-out header the
                        # compliance gate must honor
                        extra_headers=(
                            {"X-Robots-Tag": "noai, noimageai"}
                            if doc_id % WARC_OPTOUT == 0
                            else None
                        ),
                    ),
                )
            )
        for b, recs in buckets.items():
            # one gzip member per record — the Common Crawl layout the
            # reader's concatenated-member decompress handles
            data = b"".join(
                gzip.compress(r, mtime=0) for r in recs
            )
            with open(os.path.join(out, f"crawl-{b}.warc.gz"), "wb") as f:
                f.write(data)
        return out

    return session_value(spark, "warc_corpus", (os.path.abspath(sf_dir), fp), build)


def q_warc_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive ingestion: parse the per-record-gzipped
    archives, keep ONLY 'response' records (a parser that failed to
    skip the warcinfo/request records would inflate every count), lift
    the origin out of the target URI, decode the HTTP body, and
    aggregate per source — doc count, decoded text chars, HTTP-200
    count. The oracle recomputes all three from the documents view, so
    record loss, duplication, header/body mis-splits, and UTF-8 damage
    all fail the hash."""
    path = _warc_fixture(spark, sf_dir)
    recs = cs.read_warc(spark, os.path.join(path, "*.warc.gz"))
    resp = recs.filter(F.col("warc_type") == "response").select(
        F.regexp_extract(
            "target_uri", r"^https://([^.]+)\.example/", 1
        ).alias("source"),
        F.length(F.decode("payload", "UTF-8")).alias("n_chars"),
        (F.col("http_status") == 200).cast("int").alias("is_200"),
    )
    return resp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("is_200").alias("n_http_200"),
    )


# every doc contributes a .txt member; docs with doc_id % WDS_GAP == 0
# omit their .cls member — planted INCOMPLETE samples, so the
# completeness count discriminates (a reader that dropped or duplicated
# members shifts it)
WDS_GAP = 97


def _wds_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build 8 WebDataset .tar shards from the documents table: per doc
    a `{doc_id:08d}.txt` member (text bytes) and — unless planted
    incomplete — a `.cls` member (lang bytes), consecutive per key as
    the spec requires, bucketed by doc_id over a corpus-scaled shard count. Driver-side DuckDB read;
    fixture generation stands in for the shard writer (see module
    docstring), the reader runs fully distributed."""
    import duckdb

    fp = corpus_fingerprint(os.path.join(sf_dir, "documents.parquet"))

    def build() -> str:
        out = os.path.join(
            session_temp_dir("wds_corpus"), fp.replace(os.sep, "_")
        )
        os.makedirs(out, exist_ok=True)
        rows = duckdb.sql(
            "SELECT doc_id, text, lang FROM read_parquet($p) ORDER BY doc_id",
            params={"p": _duck_path(os.path.join(sf_dir, "documents.parquet"))},
        ).fetchall()
        n_shards = max(8, len(rows) // 700)  # see _warc_fixture note
        buckets: dict[int, list[bytes]] = {b: [] for b in range(n_shards)}
        for doc_id, text, lang in rows:
            b = doc_id % n_shards
            key = f"{doc_id:08d}"
            buckets[b].append(
                cs.tar_member_bytes(f"{key}.txt", text.encode("utf-8"))
            )
            if doc_id % WDS_GAP != 0:
                buckets[b].append(
                    cs.tar_member_bytes(
                        f"{key}.cls", lang.encode("utf-8")
                    )
                )
        for b, members in buckets.items():
            with open(os.path.join(out, f"shard-{b}.tar"), "wb") as f:
                f.write(b"".join(members) + cs.tar_end_bytes())
        return out

    return session_value(
        spark, "wds_corpus", (os.path.abspath(sf_dir), fp), build
    )


def q_webdataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard ingestion: parse the .tar shards, aggregate per
    extension (member count, byte mass), and carry the number of
    COMPLETE samples (both .txt and .cls present) on every row — the
    dataset-integrity flag a multimodal training job checks before it
    trusts a shard set. The oracle recomputes everything from the
    documents view including the planted incomplete keys, so member
    loss, duplication, name mis-parsing, or payload damage all fail the
    hash. Payload bytes never reach the aggregation — stats ride the
    lifted n_bytes column."""
    path = _wds_fixture(spark, sf_dir)
    rows = cs.read_webdataset(spark, os.path.join(path, "*.tar"))
    per_ext = rows.groupBy("ext").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_bytes").alias("sum_bytes"),
    )
    complete = (
        rows.groupBy("key")
        .agg(F.count_distinct("ext").alias("ne"))
        .filter(F.col("ne") == 2)
        .agg(F.count(F.lit(1)).alias("n_complete"))
    )
    return per_ext.crossJoin(F.broadcast(complete))


def q_warc_optout_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-out-aware crawl ingestion — the compliance gate: responses
    whose HTTP head carries an AI-training opt-out directive
    (X-Robots-Tag containing `noai`) are EXCLUDED from the corpus and
    counted per source, so the release manifest can prove what was
    honored. The directive is filtered on the LIFTED string column
    before any body byte is decoded (the gate costs a scan predicate,
    not a parse). The oracle recomputes kept/opted-out counts and kept
    char mass from the documents view with the planted rule, so a
    reader that dropped the header, matched it on the wrong records,
    or let opted-out bodies through fails the hash."""
    path = _warc_fixture(spark, sf_dir)
    recs = cs.read_warc(spark, os.path.join(path, "*.warc.gz"))
    resp = recs.filter(F.col("warc_type") == "response").select(
        F.regexp_extract(
            "target_uri", r"^https://([^.]+)\.example/", 1
        ).alias("source"),
        F.coalesce(
            F.col("x_robots_tag").contains("noai"), F.lit(False)
        )
        .cast("int")
        .alias("opted_out"),
        F.length(F.decode("payload", "UTF-8")).alias("n_chars"),
    )
    return resp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("opted_out").alias("n_opted_out"),
        F.sum(
            F.when(F.col("opted_out") == 0, F.col("n_chars")).otherwise(
                F.lit(0)
            )
        ).alias("kept_chars"),
    )


def q_format_matrix_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format ingest integrity: the SAME corpus read through
    parquet, JSONL, and CSV must agree byte-for-byte — one row per
    (format, lang) with doc count and char mass, all three formats'
    rows present. Any reader that drops rows, mangles quoting, or
    confuses NULL/empty breaks its format's rows against the others
    (and against the oracle, which states the invariant directly: the
    per-lang stats are format-independent). This is the audit a
    pipeline runs after adding an ingest path — correctness evidence
    that survives the format matrix growing."""
    pq = load_table(spark, sf_dir, "documents").select("lang", "text")
    jl, _ = cs.split_quarantine(
        cs.read_jsonl(
            spark, _jsonl_fixture(spark, sf_dir), DOCS_JSONL_SCHEMA
        )
    )
    cv, _ = cs.split_quarantine(
        cs.read_csv(
            spark, _csv_fixture(spark, sf_dir), DOCS_JSONL_SCHEMA
        )
    )
    out = None
    for fmt, df in (
        ("parquet", pq),
        ("jsonl", jl.select("lang", "text")),
        ("csv", cv.select("lang", "text")),
    ):
        agg = df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("sum_chars"),
        ).select(F.lit(fmt).alias("format"), "lang", "n_docs", "sum_chars")
        out = agg if out is None else out.unionByName(agg)
    return out


def _warc_html_fixture(spark: SparkSession, sf_dir: str) -> str:
    """WARC archives whose responses serve text/html — each document
    rendered through the planted-page template
    (functions/html.py:wrap_html_py): nav/share/related/footer
    boilerplate, script/style bodies, comments, and entities around the
    real text in one <p>. The crawl corpus as it actually arrives —
    BEFORE the extraction stage the reference's pre-extracted Kafka
    values never needed. Same archive-count scaling as _warc_fixture."""
    import gzip

    import duckdb

    fp = corpus_fingerprint(os.path.join(sf_dir, "documents.parquet"))

    def build() -> str:
        out = os.path.join(
            session_temp_dir("warc_html_corpus"), fp.replace(os.sep, "_")
        )
        os.makedirs(out, exist_ok=True)
        rows = duckdb.sql(
            "SELECT doc_id, text, source FROM read_parquet($p) ORDER BY doc_id",
            params={"p": _duck_path(os.path.join(sf_dir, "documents.parquet"))},
        ).fetchall()
        date = "2026-01-01T00:00:00Z"
        n_shards = max(8, len(rows) // 700)  # see _warc_fixture note
        buckets: dict[int, list[bytes]] = {b: [] for b in range(n_shards)}
        for doc_id, text, source in rows:
            b = doc_id % n_shards
            uri = f"https://{source}.example/doc/{doc_id}"
            buckets[b].append(
                cs.warc_record_bytes(
                    "response",
                    {
                        "WARC-Record-ID": f"<urn:resp:{doc_id}>",
                        "WARC-Date": date,
                        "WARC-Target-URI": uri,
                        "Content-Type": "application/http;msgtype=response",
                    },
                    cs.http_response_bytes(
                        hx.wrap_html_py(doc_id, source, text).encode(
                            "utf-8"
                        ),
                        status=200,
                        content_type="text/html; charset=utf-8",
                    ),
                )
            )
        for b, recs in buckets.items():
            data = b"".join(gzip.compress(r, mtime=0) for r in recs)
            with open(os.path.join(out, f"crawl-{b}.warc.gz"), "wb") as f:
                f.write(data)
        return out

    return session_value(
        spark, "warc_html_corpus", (os.path.abspath(sf_dir), fp), build
    )


def _html_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, doc_id, html) off the HTML crawl archives — the shared
    head of both extraction queries."""
    path = _warc_html_fixture(spark, sf_dir)
    recs = cs.read_warc(spark, os.path.join(path, "*.warc.gz"))
    return recs.filter(F.col("warc_type") == "response").select(
        F.regexp_extract(
            "target_uri", r"^https://([^.]+)\.example/", 1
        ).alias("source"),
        F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.decode("payload", "UTF-8").alias("html"),
    )


def q_warc_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text main-content extraction over the crawl archives — the
    missing middle of every crawl-to-training-corpus pipeline
    (trafilatura/jusText's slot between the WARC reader and the Gopher
    gates). Per source: doc count, EXACT roundtrip count (extracted
    text == whitespace-normalized original — ground truth via a join
    back to the documents table, so a leaked nav link or a dropped
    sentence fails the hash), extracted char mass, and the audit
    columns pricing what was dropped: blocks seen/kept, anchor-text
    chars, visible-text chars (their ratio is the corpus link
    density). Extraction is pure scan-side SQL (functions/html.py) —
    the only shuffle is the per-source aggregate + the audit join."""
    pages = _html_pages(spark, sf_dir)
    ex = hx.extract_cols(pages, "html")
    orig = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")).alias(
            "__orig"
        ),
    )
    j = ex.join(orig, "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("text") == F.col("__orig")).cast("int")).alias(
            "n_roundtrip_ok"
        ),
        F.sum(F.length("text")).alias("sum_text_chars"),
        F.sum("n_blocks").alias("sum_blocks"),
        F.sum("n_kept").alias("sum_kept"),
        F.sum("link_chars").alias("sum_link_chars"),
        F.sum("block_chars").alias("sum_block_chars"),
    )


def _warc_text_extract_oracle() -> str:
    """Rebuild the SAME pages in SQL (shared template segments —
    functions/html.py:wrap_html_sql), replay the extractor's DuckDB
    twin, aggregate identically. The roundtrip column compares against
    the raw documents text, so the oracle is anchored to ground truth,
    not just to a second copy of the algorithm."""
    d = hx.extract_cols_duck("html")
    return f"""
        WITH h AS (
            SELECT doc_id, source, text, {hx.wrap_html_sql()} AS html
            FROM documents
        ),
        b AS (
            SELECT doc_id, source, text, {d["stats"]} AS __st FROM h
        ),
        e AS (
            SELECT doc_id, source, text,
                   {d["text"]} AS etext,
                   {d["n_blocks"]} AS nb,
                   {d["n_kept"]} AS nk,
                   {d["link_chars"]} AS lc,
                   {d["block_chars"]} AS bc
            FROM b
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN etext =
                       trim(regexp_replace(text, '\\s+', ' ', 'g'))
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
               CAST(sum(length(etext)) AS BIGINT) AS sum_text_chars,
               CAST(sum(nb) AS BIGINT) AS sum_blocks,
               CAST(sum(nk) AS BIGINT) AS sum_kept,
               CAST(sum(lc) AS BIGINT) AS sum_link_chars,
               CAST(sum(bc) AS BIGINT) AS sum_block_chars
        FROM e
        GROUP BY source
    """


def q_html_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY the extraction stage exists, stated as a query: the Gopher
    rules run twice over the same crawl — once on raw tag soup, once on
    extracted text — and the per-source keep counts + word masses price
    the distortion markup causes (at sf0.01: word mass inflates 27k →
    42k from tag tokens, and ~11% of keep verdicts flip — every flip a
    doc the gates would mis-route without the stage). Composition is
    zero-copy: gopher_rules (operators/text.py:162) consumes the
    extractor's output columns directly."""
    from kafka_streams_dexcom_spark.operators import text as tx

    pages = _html_pages(spark, sf_dir)
    ex = hx.extract_cols(pages, "html").select("doc_id", "source", "text")
    clean = tx.gopher_rules(ex, carry_cols=("source",))
    soup = tx.gopher_rules(
        pages.select("doc_id", "source", F.col("html").alias("text")),
        carry_cols=("source",),
    )
    cagg = clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_keep_clean"),
        F.sum("n_words").alias("sum_words_clean"),
    )
    sagg = soup.groupBy("source").agg(
        F.sum("keep").alias("n_keep_soup"),
        F.sum("n_words").alias("sum_words_soup"),
    )
    return cagg.join(sagg, "source")


def _html_quality_gate_oracle() -> str:
    """Clean side replays Gopher over the RAW documents text (ground
    truth — valid because warc_text_extract pins exact roundtrip);
    soup side replays Gopher over the SQL-rebuilt pages. One shared
    rule replay (queries/text.py:gopher_duck_sql) serves both."""
    from kafka_streams_dexcom_spark.queries.text import gopher_duck_sql

    soup_src = (
        f"(SELECT doc_id, {hx.wrap_html_sql()} AS text FROM documents)"
    )
    return f"""
        WITH g1 AS ({gopher_duck_sql("documents")}),
        g2 AS ({gopher_duck_sql(soup_src)})
        SELECT d.source,
               count(*) AS n_docs,
               CAST(sum(g1.keep) AS BIGINT) AS n_keep_clean,
               CAST(sum(g1.n_words) AS BIGINT) AS sum_words_clean,
               CAST(sum(g2.keep) AS BIGINT) AS n_keep_soup,
               CAST(sum(g2.n_words) AS BIGINT) AS sum_words_soup
        FROM documents d
        JOIN g1 ON g1.doc_id = d.doc_id
        JOIN g2 ON g2.doc_id = d.doc_id
        GROUP BY d.source
    """


def q_compliance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document compliance table a release audit actually wants
    — BOTH crawl-consent signals unified in one row: the RFC 9309
    robots.txt verdict for our agent (operators/robots.py — group
    selection, wildcard/anchor matching, Allow tie-break) and the
    HTTP-level X-Robots-Tag `noai` opt-out lifted from the WARC
    response head (the warc_optout_filter signal). ``compliant`` is the
    conjunction: a document enters the corpus only if its host's
    robots.txt allows the fetch AND the response itself didn't opt out.
    A release ships this table as provenance; either signal alone
    under-reports exclusions (they fire on different documents by
    construction here: robots blocks by path geometry, the opt-out by
    origin header).

    Scale shape: the robots side is the broadcast scan-side fold
    (zero fact-side shuffles); the header side reads the LIFTED
    x_robots_tag column (no body decode); the unifying join is one
    doc_id hash join of two narrow projections."""
    from kafka_streams_dexcom_spark.queries.dedup import (
        _robots_docs,
        robots_verdicts_shared,
    )

    d = _robots_docs(spark, sf_dir)
    rv = robots_verdicts_shared(spark, sf_dir, d)
    path = _warc_fixture(spark, sf_dir)
    recs = cs.read_warc(spark, os.path.join(path, "*.warc.gz"))
    # aggregate to one row per doc (a duplicate response record must
    # not duplicate audit rows) and LEFT-join: a verdict row survives
    # even when the WARC has no response record for the doc — a
    # missing fetch is "no opt-out seen", not "drop from the audit"
    optout = (
        recs.filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.coalesce(
                F.col("x_robots_tag").contains("noai"), F.lit(False)
            ).alias("header_optout"),
        )
        .groupBy("doc_id")
        .agg(F.max("header_optout").alias("header_optout"))
    )
    return rv.join(optout, "doc_id", "left").select(
        "doc_id",
        "host",
        "path",
        F.col("allowed").alias("robots_allowed"),
        "matched_rule",
        F.coalesce("header_optout", F.lit(False)).alias("header_optout"),
        (
            F.col("allowed") & ~F.coalesce("header_optout", F.lit(False))
        ).alias("compliant"),
    )


def _compliance_report_oracle() -> str:
    """Robots replay (the shared rep_rules CTE chain) + the planted
    WARC_OPTOUT origin rule."""
    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.operators.robots import (
        robots_rules_duck_sql,
    )
    from kafka_streams_dexcom_spark.queries.dedup import (
        _robots_docs_duck,
    )

    bodies = (
        "SELECT host, "
        f"{ux.robots_txt_sql('host', duck=True)} AS body "
        "FROM (SELECT DISTINCT host FROM d)"
    )
    return f"""
        WITH {_robots_docs_duck()},
        {robots_rules_duck_sql(bodies)},
        cand AS (
            SELECT d.doc_id, r.allow, r.pattern,
                   row_number() OVER (
                       PARTITION BY d.doc_id
                       ORDER BY r.prio DESC, r.allow DESC, r.pattern
                   ) AS rn
            FROM d JOIN rep_rules r
              ON d.host = r.host AND regexp_matches(d.path, r.rx)
        )
        SELECT d.doc_id, d.host, d.path,
               coalesce(c.allow, true) AS robots_allowed,
               coalesce(c.pattern, '') AS matched_rule,
               d.doc_id % {WARC_OPTOUT} = 0 AS header_optout,
               coalesce(c.allow, true)
                   AND NOT d.doc_id % {WARC_OPTOUT} = 0 AS compliant
        FROM d LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
          USING (doc_id)
    """


def _tok_spark(c: str):
    return F.expr(
        f"size({TOKENS_TPL.format(x=c)})"
    ).cast("bigint")


def q_crawl_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed batch crawl pipeline as ONE plan, reported as the
    per-stage ROI ledger a dataset card ships — every stage is the
    already-oracle-pinned operator, chained on the previous stage's
    survivors:

      1 robots     RFC 9309 verdicts (operators/robots.py) on the url
                   fixture — docs whose host's robots.txt blocks the
                   fetch never enter the corpus
      2 url_dedup  canonical-URL dedup among allowed docs (min-id
                   survivor per canonical address)
      3 extract    HTML→text main-content extraction over the crawl
                   archives (tokens drop from tag soup to clean text —
                   the stage's ROI)
      4 chrome     per-domain line-wise dedup over the planted page
                   chrome (page_text_sql wraps the extracted text in
                   the host's nav header — the fixture seam standing in
                   for chrome extraction leaves behind)
      5 quality    Gopher rules on the chrome-cleaned text
      6 neardup    near-dup cluster map; min-id survivor per cluster
                   among quality keepers

    One row per stage: docs_in/docs_out and tokens_in/tokens_out in
    that stage's own text representation (soup tokens for 1–2, clean
    tokens out of 3, nav-wrapped page tokens into 4). This is the
    table nothing else surfaces: what each stage actually cost and
    saved, composed, not estimated.

    Scale shape: composition adds NO new heavy operator — robots is
    the broadcast fold, url/neardup winners are map-side-combinable
    min-aggregates joined back on their keys, extraction is scan-side,
    the chrome census shuffles (host, hash) pairs, and the ledger
    itself is two single-row aggregates stacked to 6 rows."""
    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.operators.text import (
        gopher_rules,
        host_line_dedup,
    )
    from kafka_streams_dexcom_spark.queries.dedup import (
        _robots_docs,
        cluster_map,
        robots_verdicts_shared,
        url_map,
    )

    d = _robots_docs(spark, sf_dir)
    rv = robots_verdicts_shared(spark, sf_dir, d).select(
        "doc_id", "host", "allowed"
    )
    urls = url_map(spark, sf_dir).select("doc_id", "url")
    pages = _html_pages(spark, sf_dir)
    soup = pages.select("doc_id", _tok_spark("html").alias("tk_soup"))
    # Stage-output checkpoints (lazy): every stage below has MULTIPLE
    # consumers (winners + join-back + ledger aggregates; the line
    # census's three passes; the neardup winners + join-back), so
    # without a lineage cut Catalyst re-derives the robots fold, url
    # regexes, and extraction once PER consumer — the composed plan
    # multiplies to 300+ scans. A production crawl pipeline checkpoints
    # stage outputs between stages for exactly this reason; the
    # relational.py:682 discipline.
    base = (
        rv.join(urls, "doc_id")
        .join(soup, "doc_id")
        .localCheckpoint(eager=False)
    )
    winners = (
        base.filter("allowed")
        .groupBy("url")
        .agg(F.min("doc_id").alias("__w"))
    )
    base = base.join(winners, "url", "left").withColumn(
        "url_keep",
        F.coalesce(
            F.col("allowed") & (F.col("doc_id") == F.col("__w")),
            F.lit(False),
        ),
    )
    ex = hx.extract_cols(pages, "html").select("doc_id", "source", "text")
    a2 = (
        base.filter("url_keep")
        .select("doc_id", "host", "tk_soup")
        .join(ex, "doc_id")
        .withColumn("tk_clean", _tok_spark("text"))
        .withColumn("page", F.expr(ux.page_text_sql()))
        .withColumn("tk_page", _tok_spark("page"))
        .localCheckpoint(eager=False)
    )
    hld = host_line_dedup(
        a2.select("doc_id", "host", "page"),
        host_col="host",
        text_col="page",
    ).select("doc_id", "clean_text")
    a2 = (
        a2.join(hld, "doc_id")
        .withColumn("tk_chrome", _tok_spark("clean_text"))
        .localCheckpoint(eager=False)
    )
    g = gopher_rules(
        a2.select("doc_id", F.col("clean_text").alias("text"))
    ).select("doc_id", F.col("keep").alias("qkeep"))
    a2 = a2.join(g, "doc_id").join(cluster_map(spark, sf_dir), "doc_id")
    ndw = (
        a2.filter("qkeep = 1")
        .groupBy("cluster")
        .agg(F.min("doc_id").alias("__c"))
    )
    a2 = a2.join(ndw, "cluster", "left").withColumn(
        "nd_keep",
        F.coalesce(
            (F.col("qkeep") == 1) & (F.col("doc_id") == F.col("__c")),
            F.lit(False),
        ).cast("int"),
    )
    zero = F.lit(0).cast("bigint")
    agg1 = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(F.col("allowed").cast("int")).cast("bigint").alias("n_a1"),
        F.sum(F.col("url_keep").cast("int")).cast("bigint").alias("n_a2"),
        F.sum("tk_soup").cast("bigint").alias("tks_all"),
        F.sum(F.when(F.col("allowed"), F.col("tk_soup")).otherwise(zero))
        .cast("bigint")
        .alias("tks_a1"),
        F.sum(F.when(F.col("url_keep"), F.col("tk_soup")).otherwise(zero))
        .cast("bigint")
        .alias("tks_a2"),
    )
    agg2 = a2.agg(
        F.sum("tk_clean").cast("bigint").alias("tkc_a2"),
        F.sum("tk_page").cast("bigint").alias("tkp_a2"),
        F.sum("tk_chrome").cast("bigint").alias("tkh_a2"),
        F.sum("qkeep").cast("bigint").alias("n_a3"),
        F.sum(
            F.when(F.col("qkeep") == 1, F.col("tk_chrome")).otherwise(zero)
        )
        .cast("bigint")
        .alias("tkh_a3"),
        F.sum("nd_keep").cast("bigint").alias("n_a4"),
        F.sum(
            F.when(F.col("nd_keep") == 1, F.col("tk_chrome")).otherwise(
                zero
            )
        )
        .cast("bigint")
        .alias("tkh_a4"),
    )
    row = agg1.crossJoin(F.broadcast(agg2))
    return row.selectExpr(
        """stack(6,
           1L, 'robots',    n_all, n_a1, tks_all, tks_a1,
           2L, 'url_dedup', n_a1,  n_a2, tks_a1,  tks_a2,
           3L, 'extract',   n_a2,  n_a2, tks_a2,  tkc_a2,
           4L, 'chrome',    n_a2,  n_a2, tkp_a2,  tkh_a2,
           5L, 'quality',   n_a2,  n_a3, tkh_a2,  tkh_a3,
           6L, 'neardup',   n_a3,  n_a4, tkh_a3,  tkh_a4
        ) AS (stage, name, docs_in, docs_out, tokens_in, tokens_out)"""
    )


def _crawl_manifest_oracle() -> str:
    """Zero-glue composition of the stage oracles: the rep_rules chain
    (robots), canonical-URL winners, the extractor twin over the
    SQL-rebuilt pages, the per-host line census over the nav-wrapped
    extracted text, gopher_duck_sql over the chrome-cleaned text, and
    the pointer-doubling CC chain — aggregated to the same 6-row
    ledger (a missing 6th row = unconverged CC, the loud cc_bad
    guard).

    CC is the MATERIALIZED-pairs doubling chain, NOT _cc_oracle: the
    recursive reach CTE re-derives its inlined shingle-self-join edge
    list per iteration, which standalone (dedup_clusters) fits the
    oracle memory cap but INSIDE this composition — coexisting with
    the extraction/census materializations — spilled past the disk at
    sf1 (measured: >78 GB of DuckDB temp at the 48 GB cap; the
    er_customer_golden chain form passes)."""
    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.operators.robots import (
        robots_rules_duck_sql,
    )
    from kafka_streams_dexcom_spark.operators.text import HOST_LINE_MIN_DOCS
    from kafka_streams_dexcom_spark.queries.dedup import (
        _ngram_jaccard_oracle,
        _robots_docs_duck,
        cc_doubling_sql,
        host_lines_sql,
    )
    from kafka_streams_dexcom_spark.queries.text import gopher_duck_sql

    def tokd(c: str) -> str:
        return f"CAST(len({DUCK_TOKENS.format(x=c)}) AS BIGINT)"

    dd_ = hx.extract_cols_duck("html")
    bodies = (
        "SELECT host, "
        f"{ux.robots_txt_sql('host', duck=True)} AS body "
        "FROM (SELECT DISTINCT host FROM d)"
    )
    canon = ux.canonical_url_sql(ux.messy_url_sql(duck=True), duck=True)
    return f"""
        WITH {_robots_docs_duck()},
        {robots_rules_duck_sql(bodies)},
        cand AS (
            SELECT d.doc_id, r.allow,
                   row_number() OVER (
                       PARTITION BY d.doc_id
                       ORDER BY r.prio DESC, r.allow DESC, r.pattern
                   ) AS rn
            FROM d JOIN rep_rules r
              ON d.host = r.host AND regexp_matches(d.path, r.rx)
        ),
        rv AS (
            SELECT d.doc_id, d.host,
                   coalesce(c.allow, true) AS allowed
            FROM d LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
              USING (doc_id)
        ),
        uc AS (SELECT doc_id, {canon} AS curl FROM documents),
        hpage AS MATERIALIZED (
            SELECT doc_id, source, text, {hx.wrap_html_sql()} AS html
            FROM documents
        ),
        soup AS (SELECT doc_id, {tokd('html')} AS tk_soup FROM hpage),
        w2 AS (
            SELECT curl, min(doc_id) AS w
            FROM uc JOIN rv USING (doc_id)
            WHERE rv.allowed GROUP BY curl
        ),
        flags AS MATERIALIZED (
            SELECT uc.doc_id, rv.host, rv.allowed, soup.tk_soup,
                   coalesce(rv.allowed AND uc.doc_id = w2.w, false)
                       AS url_keep
            FROM uc
            JOIN rv USING (doc_id)
            JOIN soup USING (doc_id)
            LEFT JOIN w2 ON w2.curl = uc.curl
        ),
        stx AS (
            SELECT doc_id, source, {dd_["stats"]} AS __st FROM hpage
        ),
        exd AS MATERIALIZED (
            SELECT doc_id, source, {dd_["text"]} AS etext FROM stx
        ),
        a2 AS MATERIALIZED (
            SELECT f.doc_id, f.host, f.tk_soup,
                   {tokd('e.etext')} AS tk_clean,
                   concat('nav ', e.source,
                          ' home about contact privacy terms login ',
                          e.etext) AS page
            FROM flags f JOIN exd e USING (doc_id)
            WHERE f.url_keep
        ),
        ptk AS MATERIALIZED (
            SELECT doc_id, host, tk_soup, tk_clean,
                   {DUCK_TOKENS.format(x='page')} AS tk
            FROM a2
        ),
        pl AS MATERIALIZED ({host_lines_sql("ptk")}),
        pb AS (
            SELECT host, lh FROM pl
            GROUP BY host, lh
            HAVING count(DISTINCT doc_id) >= {HOST_LINE_MIN_DOCS}
        ),
        pkc AS MATERIALIZED (
            SELECT pl.doc_id, count(*) AS n_kept,
                   string_agg(pl.line, ' ' ORDER BY pl.ln) AS clean
            FROM pl LEFT JOIN pb
              ON pl.host = pb.host AND pl.lh = pb.lh
            WHERE pb.lh IS NULL
            GROUP BY pl.doc_id
        ),
        chrome AS MATERIALIZED (
            SELECT p.doc_id, p.tk_soup, p.tk_clean,
                   CAST(len(p.tk) AS BIGINT) AS n_page_toks,
                   coalesce(k.clean, '') AS clean
            FROM ptk p LEFT JOIN pkc k USING (doc_id)
        ),
        gq AS MATERIALIZED (
            {gopher_duck_sql("(SELECT doc_id, clean AS text FROM chrome)")}
        ),
        ngp AS MATERIALIZED ({_ngram_jaccard_oracle()}),
        cc_edges AS MATERIALIZED (
            SELECT doc_a AS u, doc_b AS v FROM ngp
            UNION
            SELECT doc_b AS u, doc_a AS v FROM ngp
        ),
        {cc_doubling_sql("cc_edges")},
        clu AS (
            SELECT c2.doc_id,
                   coalesce(comp.component, c2.doc_id) AS cluster
            FROM chrome c2 LEFT JOIN comp ON comp.node = c2.doc_id
        ),
        ndw AS (
            SELECT cluster, min(doc_id) AS w
            FROM clu JOIN gq USING (doc_id)
            WHERE gq.keep = 1 GROUP BY cluster
        ),
        perdoc AS MATERIALIZED (
            SELECT c2.doc_id, c2.n_page_toks, c2.tk_clean,
                   {tokd('c2.clean')} AS tk_chrome,
                   gq.keep AS qkeep,
                   CASE WHEN gq.keep = 1 AND c2.doc_id = ndw.w
                        THEN 1 ELSE 0 END AS nd_keep
            FROM chrome c2
            JOIN gq USING (doc_id)
            JOIN clu USING (doc_id)
            LEFT JOIN ndw ON ndw.cluster = clu.cluster
        ),
        agg1 AS (
            SELECT CAST(count(*) AS BIGINT) AS n_all,
                   CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_a1,
                   CAST(sum(CASE WHEN url_keep THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_a2,
                   CAST(sum(tk_soup) AS BIGINT) AS tks_all,
                   CAST(sum(CASE WHEN allowed THEN tk_soup ELSE 0 END)
                       AS BIGINT) AS tks_a1,
                   CAST(sum(CASE WHEN url_keep THEN tk_soup ELSE 0 END)
                       AS BIGINT) AS tks_a2
            FROM flags
        ),
        agg2 AS (
            SELECT CAST(sum(tk_clean) AS BIGINT) AS tkc_a2,
                   CAST(sum(n_page_toks) AS BIGINT) AS tkp_a2,
                   CAST(sum(tk_chrome) AS BIGINT) AS tkh_a2,
                   CAST(sum(qkeep) AS BIGINT) AS n_a3,
                   CAST(sum(CASE WHEN qkeep = 1 THEN tk_chrome
                       ELSE 0 END) AS BIGINT) AS tkh_a3,
                   CAST(sum(nd_keep) AS BIGINT) AS n_a4,
                   CAST(sum(CASE WHEN nd_keep = 1 THEN tk_chrome
                       ELSE 0 END) AS BIGINT) AS tkh_a4
            FROM perdoc
        )
        SELECT CAST(1 AS BIGINT) AS stage, 'robots' AS name,
               n_all AS docs_in, n_a1 AS docs_out,
               tks_all AS tokens_in, tks_a1 AS tokens_out
        FROM agg1, agg2
        UNION ALL
        SELECT 2, 'url_dedup', n_a1, n_a2, tks_a1, tks_a2
        FROM agg1, agg2
        UNION ALL
        SELECT 3, 'extract', n_a2, n_a2, tks_a2, tkc_a2
        FROM agg1, agg2
        UNION ALL
        SELECT 4, 'chrome', n_a2, n_a2, tkp_a2, tkh_a2
        FROM agg1, agg2
        UNION ALL
        SELECT 5, 'quality', n_a2, n_a3, tkh_a2, tkh_a3
        FROM agg1, agg2
        UNION ALL
        SELECT 6, 'neardup', n_a3, n_a4, tkh_a3, tkh_a4
        FROM agg1, agg2 WHERE (SELECT n FROM cc_bad) = 0
    """


N_EPOCHS = 8
BURST_EPOCH = 5
BURST_EXTRA = 24  # burst epoch gets 1 + 24 corrupt lines, others 1


def _jsonl_epoch_fixture(spark: SparkSession, sf_dir: str) -> str:
    """An epoch-partitioned JSONL drop zone (epoch=K/ dirs, K = doc_id %
    N_EPOCHS) with a baseline corrupt trickle (1 malformed line per
    epoch — real feeds are never perfectly clean) and a planted corrupt
    BURST in epoch BURST_EPOCH — the upstream-format-break incident the
    rate alarm exists to catch."""
    fp = corpus_fingerprint(os.path.join(sf_dir, "documents.parquet"))

    def build() -> str:
        out = os.path.join(
            session_temp_dir("jsonl_epochs"), fp.replace(os.sep, "_")
        )
        (
            load_table(spark, sf_dir, "documents")
            .withColumn(
                "epoch", (F.col("doc_id") % N_EPOCHS).cast("int")
            )
            .write.mode("overwrite")
            .partitionBy("epoch")
            .json(out)
        )
        for k in range(N_EPOCHS):
            n_bad = 1 + (BURST_EXTRA if k == BURST_EPOCH else 0)
            with open(
                os.path.join(out, f"epoch={k}", "part-corrupt.json"), "w"
            ) as f:
                f.write('{"doc_id": "boom", "text": truncated\n' * n_bad)
        return out

    return session_value(
        spark, "jsonl_epochs", (os.path.abspath(sf_dir), fp), build
    )


def q_quarantine_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine rate over time with burst alarm
    (operators/dq.py:quarantine_rate_alarm): per-epoch quarantine
    counts + ppm rate over the epoch-partitioned JSONL drop zone, alarm
    firing exactly on the planted burst epoch. The corrupt-record twin
    of value_drift_psi — a quarantine spike is an upstream format
    break, distinct from value-rule rejections (the quality gate's
    corrupt-vs-rejected distinction made queryable over time)."""
    from kafka_streams_dexcom_spark.operators.dq import (
        quarantine_rate_alarm,
    )

    path = _jsonl_epoch_fixture(spark, sf_dir)
    # bronze-landing persist: the corrupt column may not be queried
    # straight off the file scan (SPARK-26224) — same discipline as
    # split_quarantine(materialize=True). Persist ONCE per session via
    # the session_value memo: re-persisting per invocation leaks a
    # cached RDD per bench rep / parity run until LRU eviction.
    raw = session_value(
        spark,
        "jsonl_epochs_persisted",
        (path,),
        lambda: cs.read_jsonl(spark, path, DOCS_JSONL_SCHEMA).persist(),
    )
    return quarantine_rate_alarm(raw, epoch_col="epoch")


QUERIES = {
    "jsonl_corpus_stats": q_jsonl_corpus_stats,
    "quarantine_rate": q_quarantine_rate,
    "csv_corpus_stats": q_csv_corpus_stats,
    "warc_corpus_stats": q_warc_corpus_stats,
    "warc_optout_filter": q_warc_optout_filter,
    "warc_text_extract": q_warc_text_extract,
    "html_quality_gate": q_html_quality_gate,
    "webdataset_stats": q_webdataset_stats,
    "format_matrix_consistency": q_format_matrix_consistency,
    "compliance_report": q_compliance_report,
    "crawl_manifest": q_crawl_manifest,
}

ORACLES = {
    "quarantine_rate": f"""
        WITH v AS (
            SELECT CAST(doc_id % {N_EPOCHS} AS INTEGER) AS epoch,
                   CAST(count(*) AS BIGINT) AS n_valid
            FROM documents GROUP BY 1
        ),
        q AS (
            SELECT CAST(e AS INTEGER) AS epoch,
                   CAST(1 + CASE WHEN e = {BURST_EPOCH}
                       THEN {BURST_EXTRA} ELSE 0 END AS BIGINT) AS n_q
            FROM generate_series(0, {N_EPOCHS - 1}) t(e)
        ),
        per AS (
            SELECT q.epoch,
                   coalesce(v.n_valid, 0) + q.n_q AS n_rows,
                   q.n_q AS n_quarantined
            FROM q LEFT JOIN v ON v.epoch = q.epoch
        ),
        g AS (
            SELECT CAST(sum(n_rows) AS BIGINT) AS g_rows,
                   CAST(sum(n_quarantined) AS BIGINT) AS g_quarantined
            FROM per
        )
        SELECT epoch, n_rows, n_quarantined,
               n_quarantined * 1000000 // n_rows AS rate_ppm,
               CAST(n_quarantined * g_rows >
                        3 * g_quarantined * n_rows
                    AND n_quarantined >= 5 AS INTEGER) AS alarm
        FROM per, g
    """,
    "jsonl_corpus_stats": f"""
        SELECT source, lang,
               count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS sum_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_meta_chars,
               CAST({N_CORRUPT_LINES} AS INTEGER) AS n_quarantined
        FROM documents
        GROUP BY source, lang
    """,
    "csv_corpus_stats": f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS sum_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_meta_chars,
               CAST({N_CSV_CORRUPT_LINES} AS INTEGER) AS n_quarantined
        FROM documents
        GROUP BY lang
    """,
    "format_matrix_consistency": """
        SELECT fmt.format, s.lang, s.n_docs, s.sum_chars
        FROM (VALUES ('parquet'), ('jsonl'), ('csv')) fmt(format)
        CROSS JOIN (
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
        ) s
    """,
    "warc_optout_filter": f"""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id % {WARC_OPTOUT} = 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_opted_out,
               CAST(sum(CASE WHEN doc_id % {WARC_OPTOUT} = 0
                   THEN 0 ELSE length(text) END) AS BIGINT)
                   AS kept_chars
        FROM documents
        GROUP BY source
    """,
    "webdataset_stats": f"""
        WITH m AS (
            SELECT doc_id, 'txt' AS ext,
                   octet_length(encode(text)) AS nb
            FROM documents
            UNION ALL
            SELECT doc_id, 'cls', octet_length(encode(lang))
            FROM documents WHERE doc_id % {WDS_GAP} != 0
        ),
        c AS (
            SELECT CAST(count(*) AS BIGINT) AS n_complete
            FROM documents WHERE doc_id % {WDS_GAP} != 0
        )
        SELECT ext, count(*) AS n_members,
               CAST(sum(nb) AS BIGINT) AS sum_bytes, n_complete
        FROM m, c GROUP BY ext, n_complete
    """,
    "warc_corpus_stats": """
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS sum_chars,
               CAST(count(*) AS BIGINT) AS n_http_200
        FROM documents
        GROUP BY source
    """,
    "warc_text_extract": _warc_text_extract_oracle(),
    "html_quality_gate": _html_quality_gate_oracle(),
    "compliance_report": _compliance_report_oracle(),
    "crawl_manifest": _crawl_manifest_oracle(),
}
