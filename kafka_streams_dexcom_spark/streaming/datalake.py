"""Partitioned data-lake writer: the batch sink a 100 TB pipeline lands
in (date/hour-partitioned parquet; Delta/Iceberg need jars not in this
container — the layout and idempotency pattern are identical).

Partition column choice is the scale lever: low-cardinality, time-based
(dt, hour) so writes append new partitions and reads prune old ones.
`overwrite_partitions` gives idempotent backfills: re-running a day
replaces exactly that day's partitions (dynamic overwrite), never the
whole table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_date_partitions(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    return df.withColumn(
        "dt", F.date_format(F.col(ts_col), "yyyy-MM-dd")
    ).withColumn("hour", F.hour(F.col(ts_col)).cast("int"))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("dt",),
    mode: str = "append",
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("dt",),
) -> None:
    """Idempotent backfill: replaces only the partitions present in df.

    One backfill writes many partitions, which only a dynamic overwrite
    replaces and no others, so this keeps it. The streaming sinks write
    one batch into one known directory and use a plain overwrite of that
    directory instead (``sinks.batch_dir``)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def filter_ts_range(
    df: DataFrame,
    lo: str,
    hi: str,
    ts_col: str = "ts",
    dt_col: str = "dt",
) -> DataFrame:
    """Timestamp-range filter with the partition-pruning discipline: a
    raw ts predicate CANNOT prune dt= directories (Spark doesn't infer
    bounds on a derived partition column), so every temporal query over
    a partitioned table must carry the implied dt bounds alongside the
    ts range. dt = date_format(ts) is monotone in ts, so the extra
    predicate is lossless — same rows, but the scan lists only the
    covered directories (PartitionFilters) and pushes the ts residual
    into the row groups it still opens (PushedFilters). ``hi`` is
    exclusive, matching the usual [start, end) backfill window."""
    lo_c = F.lit(lo).cast("timestamp")
    hi_c = F.lit(hi).cast("timestamp")
    return df.filter(
        (F.col(ts_col) >= lo_c)
        & (F.col(ts_col) < hi_c)
        & (F.col(dt_col) >= F.date_format(lo_c, "yyyy-MM-dd"))
        & (F.col(dt_col) <= F.date_format(hi_c, "yyyy-MM-dd"))
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Partition-pruning read: filters on dt/hour prune directories before
    any file is opened (verify via PartitionFilters in the scan plan)."""
    return spark.read.parquet(path)
