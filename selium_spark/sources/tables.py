"""Canonical loaders for the driver testdata tables.

One normalization: ``events.ts`` is written as parquet TIMESTAMP(NANOS),
which Spark's reader surfaces as a nanosecond long (with
``spark.sql.legacy.parquet.nanosAsLong=true``). We truncate to
microseconds (integer ``div 1000`` — no double round-trip, lossless for
the int64 range) to match DuckDB's microsecond timestamps, so oracle
comparisons agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Runtime-settable conf required to scan TIMESTAMP(NANOS) parquet
    (events.ts) on sessions not built by selium_spark.session.get_spark.
    A failure to set it is not swallowed: the scan it guards would
    otherwise fail later with an opaque parquet type error."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def ts_from_nanos(df: DataFrame, col: str = "ts") -> DataFrame:
    """Decode a TIMESTAMP(NANOS) column read as a nanosecond long into
    a microsecond TIMESTAMP; any other type passes through unchanged."""
    if isinstance(df.schema[col].dataType, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def norm_stream_ts(ev: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) inside a
    streaming transform. The testdata ships ts as either
    TIMESTAMP(NANOS) (read as long under nanosAsLong) or plain
    timestamp[us] with isAdjustedToUTC=false (read as TIMESTAMP_NTZ) —
    and watermark-backed operators (dropDuplicatesWithinWatermark,
    stream-stream joins) hard-require LTZ. Session tz is UTC, so the
    NTZ->LTZ cast is instant-preserving."""
    if isinstance(ev.schema[col].dataType, T.TimestampNTZType):
        return ev.withColumn(col, F.col(col).cast("timestamp"))
    return ts_from_nanos(ev, col)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        ensure_nanos_as_long(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = ts_from_nanos(df)
    # NOTE: no blanket repartition here. Joins/aggs shuffle on their own
    # keys anyway, so a round-robin exchange ahead of them is a wasted
    # extra shuffle (measured: q2 2x slower). CPU-per-row operators that
    # DO deserve the fan-out call sources.layout.fan_out at their own
    # entry points, where it's gated to be a no-op at real scale.
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (for the SQL surface)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
