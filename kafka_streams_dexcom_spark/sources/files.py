"""Parquet table loaders for the driver testdata (TESTDATA.md).

Columnar parquet scans are the batch stand-in for the reference's Kafka
topic sources; Catalyst pushes filters and prunes columns into the scan,
which is the property the 100 TB design depends on (tests/test_plans.py
asserts it with plans.explain_str and plans.scan_read_schema).
"""

from __future__ import annotations

import os
import threading
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_dexcom_spark.schemas import TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.parquet has carried parquet TIMESTAMP(NANOS) in some driver
    # testdata generations; without this conf a vanilla session (e.g. an
    # external driver's) fails that read outright with PARQUET_TYPE_ILLEGAL.
    # Runtime-settable, so set it here rather than depend on the session
    # having been built by session.get_spark(). Harmless on µs data.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # date_trunc/hour/date→timestamp casts are session-timezone dependent;
    # the DuckDB oracle treats timestamps as naive UTC, so pin the session
    # TZ at load time too instead of assuming the caller built the session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if isinstance(field.dataType, T.LongType) and field.name == "ts":
            # parquet TIMESTAMP(NANOS) read as long (see session.py);
            # truncate to µs exactly as DuckDB does so oracles agree.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # parquet timestamp[us] with isAdjustedToUTC=false arrives as
            # TIMESTAMP_NTZ, which unix_micros/window-frame arithmetic
            # reject. With the session TZ pinned to UTC above, the cast to
            # TIMESTAMP_LTZ preserves the wall-clock value (same instant
            # DuckDB sees as a naive timestamp), so oracle parity holds.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


# Above this input size the scan already yields ample partitions via
# spark.sql.files.maxPartitionBytes; below it, one shuffle to unlock all
# cores is the right trade for CPU-bound pipelines.
_FAN_OUT_MAX_BYTES = 256 * 1024 * 1024


def fan_out_small(df: DataFrame) -> DataFrame:
    """Repartition a *small* input before a compute-heavy stage.

    Small parquet files arrive as one partition, which serializes
    CPU-bound pipelines (higher-order array functions, Pandas UDF decode)
    onto one core. A 2 MB shuffle that unlocks 32 cores is the right
    trade. On real cluster data (many input splits) the partition count
    already exceeds the target and this is a no-op — so the shuffle cost
    never appears at 100 TB scale, where repartitioning would be wrong.
    """
    if df.isStreaming:  # partitioning is the source's business in streaming
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # File heuristic instead of df.rdd.getNumPartitions(): building the
    # RDD materializes the physical plan driver-side on every call, while
    # inputFiles() only consults the already-cached file index. Fan out
    # only inputs that are verifiably SMALL: many files, a non-local
    # store, or enough local bytes all mean the scan already splits into
    # plenty of partitions (maxPartitionBytes), and repartitioning big
    # data here would be the real scale bug.
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if files:
        total = 0
        for p in files:
            if not p.startswith("file:"):
                return df  # remote store: can't cheaply verify smallness
            # inputFiles() returns percent-encoded URIs; a file can also
            # vanish between planning and this stat (compaction). Either
            # way the heuristic must degrade to "don't repartition",
            # never crash the query build.
            try:
                total += os.path.getsize(
                    urllib.parse.unquote(p[len("file:"):])
                )
            except OSError:
                return df
        if total > _FAN_OUT_MAX_BYTES:
            return df
    return df.repartition(target)


def corpus_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a local table file/directory: md5
    over the sorted (relative path, size, mtime_ns) listing. Used to key
    per-session materialized artifacts (cluster map, trained quantizer)
    so an in-session rewrite of the source table recomputes the artifact
    instead of silently serving stale labels. Listing-only — never reads
    data bytes — so it costs microseconds at any table size; on a real
    cluster the same role is played by the table format's snapshot id.

    Raises ``FileNotFoundError`` when the listing is empty (missing
    path, or a non-local URI ``os.stat`` can't see): a constant
    empty-listing digest would silently DISABLE the stale-artifact
    detection this function exists to provide — every corpus would key
    to the same fingerprint and rewrites would serve stale artifacts."""
    import hashlib

    h = hashlib.md5()
    p = os.path.abspath(path)
    entries: list[tuple[str, int, int]] = []
    if os.path.isdir(p):
        for root, _dirs, names in os.walk(p):
            for n in names:
                fp = os.path.join(root, n)
                try:
                    st = os.stat(fp)
                except OSError:
                    continue
                entries.append(
                    (os.path.relpath(fp, p), st.st_size, st.st_mtime_ns)
                )
    else:
        try:
            st = os.stat(p)
            entries.append((os.path.basename(p), st.st_size, st.st_mtime_ns))
        except OSError:
            pass
    if not entries:
        raise FileNotFoundError(
            f"corpus_fingerprint: no stat-able entries under {path!r} — "
            "a fingerprint over an empty listing cannot detect staleness "
            "(missing path, or a non-local URI; fingerprint the table "
            "format's snapshot id instead)"
        )
    for rel, size, mtime in sorted(entries):
        h.update(f"{rel}\x00{size}\x00{mtime}\x00".encode())
    return h.hexdigest()[:16]


_ARTIFACT_CACHE: dict[tuple, DataFrame] = {}
# reentrant: cluster_map's build nests into ngram_pairs_map's
# session_artifact call on the same thread
_ARTIFACT_LOCK = threading.RLock()


def _session_key(spark: SparkSession) -> str:
    """Stable per-application cache-key component; sparkContext raises
    under Spark Connect, where the session object itself is the scope."""
    try:
        return spark.sparkContext.applicationId
    except Exception:
        return f"connect_{id(spark)}"


def session_artifact(
    spark: SparkSession,
    tag: str,
    key_parts: tuple,
    build,
) -> DataFrame:
    """Materialize a DataFrame ONCE per (Spark application, ``tag``,
    ``key_parts``) and share the parquet-backed result with every
    consumer — the publish-once contract for expensive shared
    computations (near-dup cluster map, trained k-means quantizer, PQ
    codebooks). At 100 TB these are published table artifacts every
    downstream policy reads, never subqueries each consumer recomputes;
    this mirrors that contract at test scale.

    ``build`` is a zero-arg callable returning the DataFrame to
    materialize; it runs only on a cache miss. Include a
    ``corpus_fingerprint`` of the source table in ``key_parts`` so an
    in-session rewrite recomputes instead of serving stale rows. The
    parquet round-trip also cuts lineage: consumers plan against a flat
    scan, not the builder pipeline. Artifacts live under a per-process
    temp root removed at interpreter exit (session_temp_dir)."""
    key = (_session_key(spark), tag, *key_parts)
    # hold the (reentrant) lock across the build so concurrent callers
    # can't double-write the same parquet path; builds are
    # once-per-(session, corpus), so the serialization cost is nil
    with _ARTIFACT_LOCK:
        cached = _ARTIFACT_CACHE.get(key)
        if cached is not None:
            return cached
        path = os.path.join(
            session_temp_dir(f"artifact_{tag}"), f"{abs(hash(key))}"
        )
        build().write.mode("overwrite").parquet(path)
        out = spark.read.parquet(path)
        _ARTIFACT_CACHE[key] = out
        return out


def session_artifacts(
    spark: SparkSession,
    tags: tuple[str, ...],
    key_parts: tuple,
    train,
) -> tuple[DataFrame, ...]:
    """Several artifacts from ONE training run (a tokenizer's merges and
    vocabulary, PQ codebooks and codes): ``train`` is a zero-arg callable
    returning one DataFrame per tag, in order. Each leg is published
    through :func:`session_artifact` under its own tag; ``train`` runs
    at most once, and only if some leg misses the cache. The lock is
    held across all legs so a concurrent caller cannot find the first
    leg cached and the second missing, and retrain."""
    trained: list[tuple[DataFrame, ...]] = []

    def leg(i: int):
        def build() -> DataFrame:
            if not trained:
                trained.append(tuple(train()))
            return trained[0][i]

        return build

    with _ARTIFACT_LOCK:
        return tuple(
            session_artifact(spark, tag, key_parts, leg(i))
            for i, tag in enumerate(tags)
        )


_VALUE_CACHE: dict[tuple, object] = {}


def session_value(
    spark: SparkSession,
    tag: str,
    key_parts: tuple,
    build,
):
    """Scalar sibling of session_artifact: compute a plain Python value
    ONCE per (Spark application, ``tag``, ``key_parts``) and cache it
    in-process. Used for cheap corpus-shape probes that gate an
    artifact's validity (e.g. 'did the hot-bucket cap bind at the base
    threshold?') — the probe must run BEFORE deciding whether the
    artifact is exact, so it can't live inside the artifact build."""
    key = (_session_key(spark), tag, *key_parts)
    with _ARTIFACT_LOCK:
        if key not in _VALUE_CACHE:
            _VALUE_CACHE[key] = build()
        return _VALUE_CACHE[key]


_TMP_ROOTS: dict[str, str] = {}
_TMP_ROOTS_LOCK = threading.Lock()


def session_temp_dir(tag: str) -> str:
    """Per-process temp root for engine-internal disk artifacts
    (iteration hard cuts, materialized cluster maps): created lazily on
    first use, one root per ``tag``, removed recursively at interpreter
    exit. Single lifecycle implementation so cleanup-policy fixes land
    everywhere at once. Local-mode only by construction — on a cluster
    these artifacts go through the distributed checkpoint dir or an
    explicit table path instead of process-local disk."""
    import atexit
    import shutil
    import tempfile

    with _TMP_ROOTS_LOCK:
        root = _TMP_ROOTS.get(tag)
        if root is None:
            root = tempfile.mkdtemp(prefix=f"spark_graft_{tag}_")
            atexit.register(shutil.rmtree, root, True)
            _TMP_ROOTS[tag] = root
        return root
