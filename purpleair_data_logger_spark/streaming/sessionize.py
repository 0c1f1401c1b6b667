"""Streaming sessionization via Spark's native ``session_window``.

North-star R4 (the reference has no session concept, SURVEY.md §2.9):
gap-based session windows as an incrementally-maintained streaming
aggregate. The batch/SQL-portable formulation lives in
`operators.sessionize` (gaps-and-islands, DuckDB-oracled); this module
is the Structured Streaming formulation, and the two agree row-for-row
because both use half-open gap semantics — a new session starts when
an event arrives ≥ gap after the latest one (sessions span
``[first_ts, last_ts + gap)``).

Scale posture: session state is partitioned by the grouping key and
merged incrementally per micro-batch; the watermark bounds state (a
session older than watermark − gap can never merge again and is
evicted/emitted). At 100 TB-scale streams the state store grows with
ACTIVE keys only, not history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from purpleair_data_logger_spark.streaming.filestream import run_file_stream


def session_window_stats(
    df: DataFrame, key_col: str, ts_col: str, *, gap_seconds: int
) -> DataFrame:
    """Per-session aggregates via native ``session_window``.

    The same logical plan works on batch and streaming frames — batch
    runs validate streaming semantics (and vice versa). Output matches
    `operators.sessionize.session_stats` minus the ordinal session_id
    (streaming state has no stable per-key ordinal).
    """
    return (
        df.groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds"),
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (
                F.unix_micros(F.max(ts_col).cast("timestamp"))
                - F.unix_micros(F.min(ts_col).cast("timestamp"))
            )
            .cast("long")
            .alias("duration_us"),
        )
        .select(key_col, "session_start", "session_end", "n_events", "duration_us")
    )


def streaming_session_stats(
    spark: SparkSession,
    source_path: str,
    *,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    watermark: str = "1 hour",
    sink_path: str | None = None,
    checkpoint_path: str | None = None,
    query_name: str = "sessions",
    output_mode: str = "append",
) -> StreamingQuery:
    """File-source stream → session_window agg → sink.

    ``sink_path`` set: append-mode parquet sink with checkpointing
    (only watermark-finalized sessions are emitted — the production
    shape). ``sink_path`` None: in-memory table ``query_name`` (use
    ``output_mode='complete'`` to see every open session — the test
    shape).
    """
    from ..io import normalize_timestamps

    return run_file_stream(
        spark,
        source_path,
        lambda stream: session_window_stats(
            normalize_timestamps(stream).withWatermark(ts_col, watermark),
            key_col,
            ts_col,
            gap_seconds=gap_seconds,
        ),
        sink_path=sink_path,
        checkpoint_path=checkpoint_path,
        query_name=query_name,
        output_mode=output_mode,
    )
