"""Streaming M4 downsampling: the live-dashboard mirror of
`operators/hyperfunctions.py::m4_downsample`.

The reference's Grafana panels re-query TimescaleDB on refresh
(reference ``PurpleAirPSQLQueryStatements.py:564-580`` read path); a
streaming deployment maintains the downsampled series incrementally
instead. M4's four extremes are plain typed min/max aggregates of
(ts, value) structs, so they fold into Structured Streaming's windowed
aggregation state directly — state per (key, window) is FOUR structs +
a count, O(1) regardless of reading rate, evicted by the watermark.

Batch and streaming share the aggregate expressions (built here,
reused by the batch operator's test for equivalence), the same
guarantee `continuous_aggregate.py` makes for the hourly rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from purpleair_data_logger_spark.streaming.filestream import run_file_stream


def m4_aggs(ts_col: str, value_col: str) -> list:
    """The M4 extreme set as aggregate expressions — identical tie
    rules to the batch operator (smallest/largest (ts, value) pair for
    first/last; earliest min, latest max)."""
    t, v = F.col(ts_col), F.col(value_col)
    return [
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct(t.alias("t"), v.alias("v"))).alias("_first"),
        F.max(F.struct(t.alias("t"), v.alias("v"))).alias("_last"),
        F.min(F.struct(v.alias("v"), t.alias("t"))).alias("_lo"),
        F.max(F.struct(v.alias("v"), t.alias("t"))).alias("_hi"),
    ]


def _finish(selected: DataFrame, key_col: str) -> DataFrame:
    return selected.select(
        "bucket_ts",
        key_col,
        "n",
        F.col("_first.v").alias("v_first"),
        F.col("_last.v").alias("v_last"),
        F.col("_lo.v").alias("v_min"),
        F.col("_lo.t").alias("t_at_min"),
        F.col("_hi.v").alias("v_max"),
        F.col("_hi.t").alias("t_at_max"),
    )


def m4_stream_plan(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """The shared logical plan: windowed M4 aggregate over a stream
    (or a batch frame — `window()` aligns identically to the batch
    operator's epoch floor, asserted in tests)."""
    agg = (
        stream.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.window(ts_col, f"{int(bucket_seconds)} seconds").alias("_w"),
            key_col,
        )
        .agg(*m4_aggs(ts_col, value_col))
        .withColumn("bucket_ts", F.col("_w.start"))
    )
    return _finish(agg, key_col)


def streaming_m4_downsample(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    *,
    ts_col: str,
    key_col: str,
    value_col: str,
    bucket_seconds: int,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Incrementally-maintained M4 chart: file-source stream →
    watermarked windowed M4 aggregate → append-mode parquet. A bucket
    emits once its window passes the watermark (final, immutable
    pixels — the property a cached dashboard tile needs)."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: m4_stream_plan(
            stream.withWatermark(ts_col, watermark),
            ts_col,
            key_col,
            value_col,
            bucket_seconds,
        ),
        sink_path=sink_path,
        checkpoint_path=checkpoint_path,
    )
