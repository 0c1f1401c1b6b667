"""Streaming PK dedup: the R6 exactly-once guarantee, stream-native.

The batch side of R6 (reference behavior: plain INSERT crashes on PK
duplicates, `PurpleAirPSQLDataLogger.py:153-347`; this repo instead
dedups idempotently — `sinks/tables.py` append/upsert,
`operators/dedup.py` PK dedup) covers re-delivery *within and against
stored batches*. This module is the continuous formulation: Spark's
native ``dropDuplicatesWithinWatermark`` keeps per-key state in the
state store and drops any duplicate arriving within the watermark
delay — across micro-batches, without rescanning the sink.

Scale posture: state is hash-partitioned on the PK and bounded by the
watermark (keys older than the event-time watermark are evicted), so
state size tracks the key arrival rate × watermark horizon, never
history. This is the piece `append_wide(dedup_against_existing=True)`
cannot give a high-rate stream: that anti-join re-probes the sink's
touched partitions every batch, while the state store answers from
memory/RocksDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from purpleair_data_logger_spark.streaming.filestream import run_file_stream


def dedup_within_watermark(
    stream: DataFrame, key_cols: list[str], ts_col: str, *, watermark: str
) -> DataFrame:
    """Drop PK duplicates that arrive within ``watermark`` of the first
    occurrence (native state-store operator; no sink round-trip).

    Event time is cast to TIMESTAMP first: watermarks reject
    TIMESTAMP_NTZ, and parquet naive-microsecond inputs arrive as NTZ.
    """
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_pk_dedup(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → dedup-within-watermark → parquet append sink.

    ``max_files_per_trigger=1`` forces one micro-batch per input file —
    used by the cross-batch re-delivery test to prove dedup state
    survives between triggers."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: dedup_within_watermark(
            stream, key_cols, ts_col, watermark=watermark
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
