"""Custom stateful streaming operator: per-key EWMA via
``applyInPandasWithState``.

The reference recomputes its pm2.5 pseudo-averages from raw readings
on every poll (SURVEY.md A4); the streaming-native formulation keeps a
per-sensor exponentially-weighted moving average as state and updates
it incrementally per micro-batch. An EWMA is order-dependent and
recursive (``ewma_t = α·x_t + (1−α)·ewma_{t−1}``), so no built-in
streaming aggregate expresses it — this is the
``applyInPandasWithState`` case: Arrow-batched pandas per key group,
explicit state schema, watermark-driven state lifecycle.

Scale posture: state is one (double, bool) pair per ACTIVE key,
hash-partitioned by the group key in the state store; per batch each
key's rows arrive as pandas chunks and the update is vectorized numpy
(one pass per chunk, no per-row Python). Late data beyond the
watermark is dropped by the upstream filter, so the recursion never
rewinds; in-batch ordering is restored by an explicit sort on event
time.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from purpleair_data_logger_spark.streaming.filestream import run_file_stream


def _out_schema(key_field: T.StructField, ts_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            key_field,
            ts_field,
            T.StructField("value", T.DoubleType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ewma", T.DoubleType()),
        T.StructField("initialized", T.BooleanType()),
    ]
)


def ewma_pandas(values: np.ndarray, alpha: float, seed: float | None) -> np.ndarray:
    """Sequential EWMA over a sorted value array, optionally seeded by
    the carried-over state. Kept separate so batch tests can call the
    exact arithmetic the stateful operator runs."""
    out = np.empty(len(values), dtype=np.float64)
    prev = seed
    for i, v in enumerate(values):
        prev = v if prev is None else alpha * v + (1.0 - alpha) * prev
        out[i] = prev
    return out


def ewma_stateful_func(alpha: float):
    """Build the applyInPandasWithState update function."""

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([pdf.columns[1]], kind="stable")  # event time
        seed: float | None = None
        if state.exists:
            ewma0, initialized = state.get
            if initialized:
                seed = float(ewma0)
        vals = pdf.iloc[:, 2].to_numpy(dtype=np.float64)
        ew = ewma_pandas(vals, alpha, seed)
        state.update((float(ew[-1]) if len(ew) else (seed or 0.0), True))
        out = pdf.iloc[:, :3].copy()
        out["ewma"] = ew
        yield out

    return update


def ewma_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    alpha: float = 0.3,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key streaming EWMA: one output row per input event, carrying
    the running average; state survives across micro-batches."""
    src = stream.select(
        key_col,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(value_col).cast("double").alias("value"),
    ).withWatermark(ts_col, watermark)
    key_field = src.schema[key_col]
    ts_field = src.schema[ts_col]
    return src.groupBy(key_col).applyInPandasWithState(
        ewma_stateful_func(alpha),
        outputStructType=_out_schema(key_field, ts_field),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ewma(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → stateful EWMA → parquet append sink."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: ewma_by_key(
            stream, key_col, ts_col, value_col, alpha=alpha, watermark=watermark
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
