"""Streaming incremental linear trend: the stateful mirror of
`operators/hyperfunctions.py::trend_stats`.

The Gram sums (n, Σc, Σdt, Σc·dt, Σdt²) are associative, so the batch
operator's exact-BIGINT statistics fold into per-key state and update
per micro-batch — an incrementally-maintained ``stats_agg`` without
ever rescanning history (the same argument as the HLL sketch table,
applied to regression). Each micro-batch emits one row per touched key
with the key's CURRENT slope/intercept, computed with the identical
fixed-order float expressions the batch operator uses, so a streaming
estimate equals the batch answer over the same prefix bit-for-bit.

Rebase note: the batch operator rebases timestamps to the key's global
minimum; the stream rebases to the first reading it SAW. The slope is
rebase-invariant (least squares under an affine shift of x), so
slopes agree regardless of arrival order within the watermark; the
intercept is defined "value at t0" where t0 is the state's basis and
matches batch when data arrives in time order.

Scale posture: six BIGINTs + a flag per active key; per-batch update
is one vectorized numpy pass per key chunk. Overflow contract is the
batch operator's (SCALE.md §linear-trend) with range measured from the
key's first seen reading.
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

from purpleair_data_logger_spark.streaming.counter import scale_half_up
from purpleair_data_logger_spark.streaming.filestream import run_file_stream

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t0", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sc", T.LongType()),
        T.StructField("st", T.LongType()),
        T.StructField("sct", T.LongType()),
        T.StructField("stt", T.LongType()),
    ]
)


def solve_trend(
    n: int, sc: int, st: int, sct: int, stt: int, scale: int
) -> tuple[float | None, float]:
    """The fixed-order float tail shared with the batch operator:
    slope in value-units/hour (None when degenerate) and intercept in
    value units at the t0 basis."""
    num = float(n) * float(sct) - float(sc) * float(st)
    den = float(n) * float(stt) - float(st) * float(st)
    if den == 0.0:
        return None, float(sc) / float(n) / scale
    slope = num / den
    return slope * 3600.0 / scale, (float(sc) - slope * float(st)) / float(
        n
    ) / scale


def trend_stateful_func(decimals: int, key_name: str):
    scale = 10**decimals

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, ts, id, value
        pdf = pdf.sort_values([pdf.columns[1], pdf.columns[2]], kind="stable")
        t = (
            pdf.iloc[:, 1].to_numpy().astype("datetime64[s]").astype("int64")
        )
        c = scale_half_up(pdf.iloc[:, 3].to_numpy(dtype=np.float64), scale)
        if state.exists:
            t0, n, sc, st, sct, stt = (int(v) for v in state.get)
        else:
            t0, n, sc, st, sct, stt = int(t[0]), 0, 0, 0, 0, 0
        dt = t - t0
        n += len(t)
        sc += int(c.sum())
        st += int(dt.sum())
        sct += int((c * dt).sum())
        stt += int((dt * dt).sum())
        state.update((t0, n, sc, st, sct, stt))
        slope, intercept = solve_trend(n, sc, st, sct, stt, scale)
        yield pd.DataFrame(
            {
                key_name: [key[0]],
                "n": [n],
                "t0": [pd.Timestamp(t0, unit="s")],
                "slope_per_hour": [slope],
                "intercept": [intercept],
            }
        )

    return update


def trend_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    *,
    decimals: int = 2,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key incremental trend: one row per touched key per
    micro-batch carrying the current slope/intercept over everything
    seen so far."""
    src = stream.select(
        key_col,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(id_col),
        F.col(value_col).cast("double").alias("value"),
    ).filter(F.col("value").isNotNull()).withWatermark(ts_col, watermark)
    out_schema = T.StructType(
        [
            src.schema[key_col],
            T.StructField("n", T.LongType()),
            T.StructField("t0", T.TimestampType()),
            T.StructField("slope_per_hour", T.DoubleType()),
            T.StructField("intercept", T.DoubleType()),
        ]
    )
    return src.groupBy(key_col).applyInPandasWithState(
        trend_stateful_func(decimals, key_col),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_trend(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    decimals: int = 2,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → incremental Gram state → parquet append sink."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: trend_by_key(
            stream,
            key_col,
            ts_col,
            id_col,
            value_col,
            decimals=decimals,
            watermark=watermark,
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
