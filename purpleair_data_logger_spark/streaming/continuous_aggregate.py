"""Continuous-aggregate maintenance (SURVEY.md §2.4 A1, §2.9 R5/R7).

The reference's TimescaleDB continuous aggregate
(``PurpleAirPSQLQueryStatements.py:564-571``) buckets the station table
to 1 hour and refreshes hourly over the window (now−3 h, now−1 h],
retaining 8 h. Spark-native equivalents, both provided:

* `streaming_hourly_aggregate` — Structured Streaming: file-source
  stream over the stored table, 2 h watermark (reproducing the
  1-3 h refresh-lag semantics), 1 h tumbling window, append-mode
  parquet sink with checkpointing; each run drains the new files with
  ``trigger(availableNow=True)`` (incremental catch-up).
* `batch_hourly_refresh` — the scheduled-batch formulation: recompute
  only buckets inside the refresh window and overwrite them — what the
  Timescale refresh policy does, expressed as partition-scoped work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from purpleair_data_logger_spark.streaming.filestream import run_file_stream


def hourly_aggregate_plan(df: DataFrame, *, value_cols: list[str] | None = None) -> DataFrame:
    """The shared logical plan: 1 h bucket × sensor grouping.

    Batch and streaming share this exact plan — only source/sink wiring
    differs, which is what keeps the two refresh modes consistent.
    """
    aggs = [F.count(F.lit(1)).alias("n_readings")]
    for c in value_cols or []:
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(
        F.window("data_time_stamp", "1 hour").alias("bucket"),
        "sensor_index",
    ).agg(*aggs).select(
        F.col("bucket.start").alias("bucket_hour"),
        "sensor_index",
        *[c for c in ["n_readings"] + [f"max_{c}" for c in (value_cols or [])]],
    )


def streaming_hourly_aggregate(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    *,
    value_cols: list[str] | None = None,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Incrementally-maintained hourly rollup via Structured Streaming."""
    from ..io import normalize_timestamps

    return run_file_stream(
        spark,
        source_path,
        lambda stream: hourly_aggregate_plan(
            normalize_timestamps(stream).withWatermark("data_time_stamp", watermark),
            value_cols=value_cols,
        ),
        sink_path=sink_path,
        checkpoint_path=checkpoint_path,
    )


def batch_hourly_refresh(
    spark: SparkSession,
    source_df: DataFrame,
    *,
    start_offset_hours: int = 3,
    end_offset_hours: int = 1,
    now=None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Scheduled-batch refresh over (now−start_offset, now−end_offset].

    Matches the reference policy window
    (PurpleAirPSQLQueryStatements.py:575-581). The time predicate
    partition-prunes the source scan, so each refresh touches only the
    partitions inside the window regardless of total table size.
    """
    now_expr = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    windowed = source_df.filter(
        (F.col("data_time_stamp") > now_expr - F.make_interval(hours=F.lit(start_offset_hours)))
        & (F.col("data_time_stamp") <= now_expr - F.make_interval(hours=F.lit(end_offset_hours)))
    )
    return hourly_aggregate_plan(windowed, value_cols=value_cols)
