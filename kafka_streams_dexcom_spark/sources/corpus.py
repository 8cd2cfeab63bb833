"""Bulk corpus file-format sources: JSONL with corrupt-record
quarantine, and a vendored WARC/1.0 (ISO 28500) reader for web-crawl
archives.

The reference ingests records from Kafka topics
(StreamsFilterEgvs.java:27-38, RawConsumer.java); a training-data
pipeline's batch equivalent is bulk files — JSONL dumps and WARC crawl
archives (the Common Crawl shape). Spark-first split of the work:

- **JSONL** is ``spark.read.json`` schema-on-read: JVM-side parsing,
  block-splittable on uncompressed/zstd input, PERMISSIVE mode captures
  malformed lines into a corrupt-record column instead of failing the
  job — at 100 TB a reader that dies on line 48 billion is useless; the
  quarantine split makes bad records a *dataset* you can count, sample,
  and re-crawl rather than an exception.
- **WARC** has no native Spark reader, so it rides ``binaryFile`` +
  Arrow-batched ``mapInPandas``: one task per archive file, which is
  exactly the parallelism production crawl pipelines use — WARC is not
  block-splittable (records are back-to-back, per-record-gzipped in the
  Common Crawl layout), but crawls ship as tens of thousands of ~1 GB
  files, so file-level parallelism saturates any cluster. Payload bytes
  stay executor-side end to end (the multimodal discipline:
  operators/multimodal.py).

The WARC *writer* here exists for fixtures and golden tests only — in
production the crawler writes the archives; the engine component is the
reader.
"""

from __future__ import annotations

import gzip
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_dexcom_spark.functions.hashing import HASH60_TPL

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = CORRUPT_COL,
) -> DataFrame:
    """Schema-on-read JSONL with PERMISSIVE corrupt-record capture.

    The caller passes the EXPLICIT value schema (schema inference is a
    full extra pass over 100 TB — never pay it in production); the
    corrupt column is appended here. Malformed lines land with all value
    columns NULL and the raw line preserved in ``corrupt_col``;
    well-formed lines carry NULL there. Split the two with
    :func:`split_quarantine`.
    """
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"schema already contains {corrupt_col!r}")
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def split_quarantine(
    df: DataFrame, corrupt_col: str = CORRUPT_COL, materialize: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(valid rows without the corrupt column, quarantined raw lines).

    Spark disallows queries whose scan references ONLY the internal
    corrupt-record column (SPARK-26224: the parser would need a second
    full pass to know which lines failed) — the documented contract is
    to cache or save the parsed results first. That is also the 100 TB
    production shape: the raw read lands in a bronze table once, and
    both the valid flow and the quarantine triage read the materialized
    parse, never re-parsing the source. ``materialize=True`` stands in
    for that bronze landing with a persist; pass False only when the
    caller has already written the parsed frame to a table.
    """
    if materialize:
        df = df.persist()
    valid = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return valid, quarantine


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = CORRUPT_COL,
    header: bool = False,
    sep: str = ",",
    null_value: str = "\\N",
) -> DataFrame:
    """Schema-on-read CSV with the same PERMISSIVE corrupt-record
    quarantine contract as :func:`read_jsonl` — the third leg of the
    delimited-text format matrix (JSONL / CSV / WARC). Explicit schema
    only (inference is an extra full pass); malformed lines — unclosed
    quotes, type-cast failures — land in the corrupt column with value
    fields NULL, split downstream via :func:`split_quarantine`.

    Dialect decisions, each load-bearing:

    - ``escape='"'``: RFC-4180 doubles quotes inside quoted fields
      (``""``); Spark's default escape is backslash, under which a
      doubled-quote file parses to garbage-with-quotes via the
      STOP_AT_DELIMITER unescaped-quote fallback instead of failing.
    - ``nullValue='\\N'`` (the MySQL-dump sentinel): with the default
      ``nullValue=""``, a quoted empty field (``""``) and a missing
      field both read as NULL. Moving the null sentinel off the empty
      string restores the distinction — unquoted-empty → NULL,
      ``""`` → empty string — which :func:`write_csv` round-trips.
      The cost: a literal ``\\N`` field reads as NULL even when quoted
      (univocity matches the sentinel after unquoting), so that one
      string value is unrepresentable in this dialect. Fine for a
      null-vs-empty-faithful interchange format; data that must carry
      arbitrary bytes belongs in JSONL or parquet.
    - Deliberately NOT multiLine mode: multiLine CSV is unsplittable (a
      record boundary can hide inside any quoted field, so one task
      must own the whole file). Corpora with embedded newlines belong
      in JSONL or parquet; line-oriented CSV stays block-splittable at
      100 TB.
    """
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"schema already contains {corrupt_col!r}")
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("escape", '"')
        .option("nullValue", null_value)
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, null_value: str = "\\N") -> None:
    """Write ``df`` as CSV in the exact dialect :func:`read_csv` reads:
    RFC-4180 doubled quotes, NULL as the ``\\N`` sentinel (so NULL and
    empty string survive a round trip distinctly — except a literal
    ``\\N`` string, which reads back as NULL; see :func:`read_csv`),
    no header. Column order is the frame's order — pin it with a
    select before calling when the reader's schema is fixed."""
    (
        df.write.mode("overwrite")
        .option("escape", '"')
        .option("nullValue", null_value)
        .option("emptyValue", '""')
        .csv(path)
    )


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = CORRUPT_COL,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`read_jsonl`: the file-source stream a
    continuously-landing corpus drop zone feeds (the batch/stream dual
    the engine keeps for every source — sources/kafka.py discipline).
    Same explicit schema + PERMISSIVE corrupt capture; pair with
    :func:`jsonl_quarantine_writer` to split per micro-batch."""
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"schema already contains {corrupt_col!r}")
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    reader = (
        spark.readStream.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def jsonl_quarantine_writer(valid_write, quarantine_write,
                            corrupt_col: str = CORRUPT_COL):
    """foreachBatch function landing each parsed micro-batch once and
    delivering the valid/quarantine split to two idempotent epoch
    writers — the streaming form of the bronze-landing contract in
    :func:`split_quarantine` (the micro-batch persist is the landing;
    both sides read it, the source is parsed exactly once per epoch)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            valid, quarantine = split_quarantine(
                batch_df, corrupt_col, materialize=False
            )
            valid_write(valid, batch_id)
            quarantine_write(quarantine, batch_id)
        finally:
            batch_df.unpersist()

    return apply


# --------------------------------------------------------------------------
# WARC/1.0 — vendored pure-Python record codec (ISO 28500). The format:
# each record is a header block of CRLF lines ("WARC/1.0", then
# "Name: value" pairs), a blank CRLF line, Content-Length payload bytes,
# then a CRLF CRLF record separator. Common Crawl gzips each record as
# its own gzip member; Python's gzip.decompress handles concatenated
# members natively, so one decompress yields the plain stream.
# --------------------------------------------------------------------------

_CRLF = b"\r\n"


def warc_record_bytes(
    warc_type: str, headers: dict[str, str], payload: bytes
) -> bytes:
    """Serialize one WARC/1.0 record (writer side: fixtures + goldens)."""
    lines = [b"WARC/1.0"]
    lines.append(f"WARC-Type: {warc_type}".encode())
    for k, v in headers.items():
        lines.append(f"{k}: {v}".encode())
    lines.append(f"Content-Length: {len(payload)}".encode())
    head = _CRLF.join(lines) + _CRLF + _CRLF
    return head + payload + _CRLF + _CRLF


def http_response_bytes(
    body: bytes,
    status: int = 200,
    content_type: str = "text/plain",
    extra_headers: dict[str, str] | None = None,
) -> bytes:
    """Serialize the HTTP response message a 'response' record wraps.
    ``extra_headers`` carries e.g. the X-Robots-Tag opt-out directives
    a compliance-aware reader must honor."""
    reason = {200: "OK", 404: "Not Found", 500: "Server Error"}.get(
        status, "Unknown"
    )
    lines = [
        f"HTTP/1.1 {status} {reason}",
        f"Content-Type: {content_type}",
        f"Content-Length: {len(body)}",
    ]
    for k, v in (extra_headers or {}).items():
        lines.append(f"{k}: {v}")
    head = ("\r\n".join(lines) + "\r\n\r\n").encode()
    return head + body


def iter_warc_records(
    data: bytes,
) -> Iterator[tuple[dict[str, str], bytes]]:
    """Parse a plain (decompressed) WARC stream into (headers, payload)
    pairs. Header names are lower-cased; the version line is kept under
    ``warc-version``. Raises ValueError on a malformed stream — a
    truncated archive should fail loudly, not yield silently fewer
    records (the convergence-guard lesson: plausible-but-short output is
    worse than an error)."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            return
        end = data.find(_CRLF + _CRLF, pos)
        if end < 0:
            raise ValueError("WARC: unterminated header block")
        head = data[pos:end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"WARC: bad version line {lines[0]!r}")
        headers: dict[str, str] = {"warc-version": lines[0]}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC: missing/invalid Content-Length")
        body_start = end + 4
        if body_start + clen > n:
            raise ValueError("WARC: truncated payload")
        yield headers, data[body_start : body_start + clen]
        pos = body_start + clen


def parse_http_response(payload: bytes) -> tuple[int, str | None, bytes]:
    """(status, content_type, body) from an HTTP response message."""
    status, headers, body = parse_http_response_full(payload)
    return status, headers.get("content-type"), body


def parse_http_response_full(
    payload: bytes,
) -> tuple[int, dict[str, str], bytes]:
    """(status, lower-cased header map, body) — the full-header variant
    compliance filtering needs (X-Robots-Tag lives in the HTTP head,
    not the WARC record headers)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return 0, {}, payload
    head = payload[:sep].decode("utf-8", errors="replace")
    lines = head.split("\r\n")
    parts = lines[0].split(" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = 0
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    return status, headers, payload[sep + 4 :]


WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("x_robots_tag", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC archives (plain or gzipped) into one row per record.

    ``binaryFile`` hands each archive to one task; the Arrow-batched
    parser emits every record with its headers lifted to columns. For
    'response' records the wrapped HTTP message is split: ``payload`` is
    the HTTP *body* and ``http_status``/``content_type`` come from the
    message head; other record types carry their raw payload and the
    record's own Content-Type. Filtering/pruning happens downstream on
    the lifted columns — at crawl scale you filter on warc_type and
    content_type long before touching body bytes.
    """
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WARC_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":
                    data = gzip.decompress(data)
                for headers, payload in iter_warc_records(data):
                    wtype = headers.get("warc-type", "")
                    status: int | None = None
                    ctype = headers.get("content-type")
                    robots: str | None = None
                    body = payload
                    if wtype == "response" and (ctype or "").startswith(
                        "application/http"
                    ):
                        status, hh, body = parse_http_response_full(
                            payload
                        )
                        ctype = hh.get("content-type")
                        # lifted so opt-out filtering happens on a
                        # string column BEFORE anything touches body
                        # bytes (the compliance gate is a scan filter)
                        robots = hh.get("x-robots-tag")
                    rows.append(
                        (
                            fpath,
                            wtype,
                            headers.get("warc-target-uri"),
                            headers.get("warc-date"),
                            status,
                            ctype,
                            robots,
                            body,
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(parse, WARC_SCHEMA)


# --------------------------------------------------------------------------
# POSIX ustar / WebDataset — vendored pure-Python tar member codec. The
# WebDataset convention (Breuel et al.; the shard format LAION-scale
# image-text corpora ship in): each .tar shard holds samples as groups
# of CONSECUTIVE members sharing a basename key — `000042.txt`,
# `000042.jpg` — so one sequential read yields complete samples. The
# member layout is plain ustar: 512-byte header blocks (NUL-padded
# name, octal size, checksum over the header with the checksum field
# spaced out), payload padded to block size, two zero blocks at end.
# --------------------------------------------------------------------------

_TAR_BLOCK = 512


def tar_member_bytes(name: str, payload: bytes) -> bytes:
    """Serialize one ustar regular-file member (writer side: fixtures,
    goldens, and the shard builders in tests)."""
    nb = name.encode("utf-8")
    if len(nb) > 100:
        raise ValueError("ustar name limit is 100 bytes")
    hdr = bytearray(_TAR_BLOCK)
    hdr[0 : len(nb)] = nb
    hdr[100:108] = b"0000644\x00"  # mode
    hdr[108:116] = b"0000000\x00"  # uid
    hdr[116:124] = b"0000000\x00"  # gid
    hdr[124:136] = f"{len(payload):011o}".encode() + b"\x00"
    hdr[136:148] = b"00000000000\x00"  # mtime 0: deterministic bytes
    hdr[148:156] = b" " * 8  # checksum field spaces during the sum
    hdr[156] = ord("0")  # typeflag: regular file
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    hdr[148:156] = f"{sum(hdr):06o}".encode() + b"\x00 "
    pad = (-len(payload)) % _TAR_BLOCK
    return bytes(hdr) + payload + b"\x00" * pad


def tar_end_bytes() -> bytes:
    """The end-of-archive marker: two zero blocks."""
    return b"\x00" * (2 * _TAR_BLOCK)


def iter_tar_members(data: bytes) -> Iterator[tuple[str, bytes]]:
    """Parse a ustar stream into (name, payload) pairs for regular
    files (directories and other typeflags are skipped by size, like
    the WARC reader skips non-response records). Verifies the magic
    and the header checksum, and raises ValueError on truncation or a
    missing end-of-archive marker — a short shard must fail loudly,
    never yield silently fewer samples."""
    pos, n = 0, len(data)
    while pos + _TAR_BLOCK <= n:
        hdr = data[pos : pos + _TAR_BLOCK]
        if hdr.count(0) == _TAR_BLOCK:
            return  # end-of-archive marker
        if hdr[257:262] != b"ustar":
            raise ValueError("tar: bad ustar magic")
        stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        calc = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != calc:
            raise ValueError("tar: header checksum mismatch")
        name = hdr[0:100].split(b"\x00", 1)[0].decode("utf-8")
        size = int(hdr[124:136].split(b"\x00")[0].strip(), 8)
        body_at = pos + _TAR_BLOCK
        if body_at + size > n:
            raise ValueError(f"tar: truncated member {name!r}")
        if hdr[156:157] in (b"0", b"\x00"):
            yield name, data[body_at : body_at + size]
        pos = body_at + size + ((-size) % _TAR_BLOCK)
    raise ValueError("tar: missing end-of-archive marker")


WEBDATASET_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("ext", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Read WebDataset .tar shards into one row per member, with the
    sample key and extension lifted out of the member name (basename
    split at the FIRST dot — `000042.seg.png` → key `000042`, ext
    `seg.png`, per the WebDataset spec).

    One task per shard (binaryFile + Arrow mapInPandas — tar offers no
    block-splittable entry points; shard-level parallelism is the
    format's own design: training jobs shuffle SHARDS, not rows).
    Filtering happens on the lifted key/ext columns before payload
    bytes are touched downstream."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WEBDATASET_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":
                    data = gzip.decompress(data)
                for name, payload in iter_tar_members(data):
                    base = name.rsplit("/", 1)[-1]
                    key, _, ext = base.partition(".")
                    rows.append(
                        (fpath, key, ext, len(payload), payload)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(
        parse, WEBDATASET_SCHEMA
    )


def read_webdataset_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`read_webdataset`: a binaryFile
    file-source stream over a shard drop zone — the arrival-driven
    ingestion a continuously-crawled multimodal corpus feeds (each
    micro-batch = newly landed .tar shards; one task per shard, same
    vendored parse). Pair with foreachBatch for per-epoch member
    processing; the file-source checkpoint gives exactly-once shard
    pickup."""
    import pandas as pd

    reader = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed; streaming sources must declare it
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", max_files_per_trigger
        )
    files = reader.load(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WEBDATASET_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":
                    data = gzip.decompress(data)
                for name, payload in iter_tar_members(data):
                    base = name.rsplit("/", 1)[-1]
                    key, _, ext = base.partition(".")
                    rows.append(
                        (fpath, key, ext, len(payload), payload)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(
        parse, WEBDATASET_SCHEMA
    )


def write_webdataset(
    members: DataFrame,
    out_dir: str,
    n_shards: int = 8,
) -> "list":
    """Distributed WebDataset export — the endpoint of a multimodal
    curation pipeline: member rows (key, ext, payload) become .tar
    shards with same-key members CONSECUTIVE (the spec's streaming
    contract), one shard per task, payload bytes never on the driver.

    Sharding: the repo's portable md5-derived hash of the key STRING
    (functions/hashing.py discipline — engine-independent and stable
    across writers and key shapes, unlike a bigint cast that would
    reject non-numeric keys), so a sample's members land in one shard
    by construction. Each task sorts its shard by (key, ext) and
    writes `shard-%05d.tar` via the vendored ustar codec. Returns the
    manifest rows [(shard, n_members, n_samples, n_bytes)] — the
    caller publishes them (and the directory) through the commit log
    for an atomic release; at object-store scale the open() below
    becomes a PUT."""
    import os as _os

    _os.makedirs(out_dir, exist_ok=True)
    shard = F.expr(HASH60_TPL.format(x="key")) % n_shards

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        pdf = pdf.sort_values(["key", "ext"], kind="mergesort")
        sid = int(pdf["shard"].iloc[0])
        blob = b"".join(
            tar_member_bytes(f"{k}.{e}", bytes(p))
            for k, e, p in zip(pdf["key"], pdf["ext"], pdf["payload"])
        ) + tar_end_bytes()
        path = _os.path.join(out_dir, f"shard-{sid:05d}.tar")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        _os.replace(tmp, path)  # atomic per-shard publish
        return pd.DataFrame(
            {
                "shard": [sid],
                "n_members": [len(pdf)],
                "n_samples": [int(pdf["key"].nunique())],
                "n_bytes": [len(blob)],
            }
        )

    manifest = (
        members.withColumn("shard", shard.cast("int"))
        .groupBy("shard")
        .applyInPandas(
            build,
            schema=(
                "shard int, n_members long, n_samples long, "
                "n_bytes long"
            ),
        )
    )
    return manifest.collect()  # manifest is |shards| rows — bounded
