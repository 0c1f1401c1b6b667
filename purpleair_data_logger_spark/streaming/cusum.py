"""Streaming CUSUM drift alarms: the stateful mirror of
`operators/hyperfunctions.py::cusum_scan`.

The batch operator derives each key's target from the data (the
truncated mean of the whole series) and resolves the recurrence with
two-tier windows. On a live stream the target is CALIBRATION — the
monitored baseline is computed offline (e.g. by the batch operator, or
fleet provisioning) and joined onto the stream as a per-key column;
the detector state is one scaled-BIGINT statistic per key carried
across micro-batches via ``applyInPandasWithState`` (the
`counter.py` pattern: Arrow-batched pandas per key, explicit state
schema, vectorized update).

Within a batch the recurrence S_i = max(0, S_{i-1} + d_i) is NOT
looped row-by-row: with prefix sums P and carried seed s0 it closes to

    S_i = max(s0 + P_i,  P_i − min_{0≤j≤i} P_j)

(either the statistic never floored at 0 since the carry — first arm —
or it floored at the prefix minimum — second arm), one ``np.cumsum``
and one ``np.minimum.accumulate`` per key chunk.

Cross-batch disorder contract (shared by the heartbeat/downtime/state
mirrors): append mode cannot retract an emitted alarm, so a reading
at-or-before the key's last processed timestamp is DROPPED — the
detector advances monotonically in event time across batches and
relies on the watermark-bounded source ordering within the stated
tolerance. Arithmetic is exact scaled-BIGINT (``scale_half_up``, the
half-away-from-zero rule Spark's ``F.round`` uses), so an alarm fires
on the stream exactly when the batch operator fires it.

Scale posture: state is one (long, long, bool) triple per ACTIVE key
in the hash-partitioned state store; per batch the update is one
sorted cumsum pass per key chunk, no per-row Python.
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
        T.StructField("s_scaled", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("initialized", T.BooleanType()),
    ]
)


def cusum_batch_kernel(
    ds: np.ndarray, seed_s: int
) -> tuple[np.ndarray, int]:
    """Vectorized CUSUM over one key's sorted scaled deviations with a
    carried-in statistic. Returns (per-row statistics, final state).
    Importable so tests can cross-check against a sequential loop."""
    if not len(ds):
        return ds.astype(np.int64), seed_s
    p = np.cumsum(ds, dtype=np.int64)
    # min over prefixes P_0=0, P_1..P_i
    pmin = np.minimum.accumulate(np.minimum(p, 0))
    s = np.maximum(seed_s + p, p - pmin)
    return s, int(s[-1])


def cusum_stateful_func(slack: float, threshold: float, decimals: int):
    scale = 10**decimals
    k_s = int(round(slack * scale))
    h_s = int(round(threshold * scale))

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, ts, id, value, target, _ts_us
        pdf = pdf.sort_values(["_ts_us", pdf.columns[2]], kind="stable")
        seed_s, last_ts = 0, np.iinfo(np.int64).min
        if state.exists:
            s_scaled, last_ts_us, initialized = state.get
            if initialized:
                seed_s, last_ts = int(s_scaled), int(last_ts_us)
        # disorder contract: at-or-before the held timestamp → dropped
        pdf = pdf[pdf["_ts_us"].to_numpy() > last_ts]
        if len(pdf):
            vs = scale_half_up(
                pdf.iloc[:, 3].to_numpy(dtype=np.float64), scale
            )
            mu = scale_half_up(
                pdf.iloc[:, 4].to_numpy(dtype=np.float64), scale
            )
            ds = vs - mu - k_s
            s, final_s = cusum_batch_kernel(ds, seed_s)
            state.update((final_s, int(pdf["_ts_us"].iloc[-1]), True))
            out = pdf.iloc[:, :4].copy()
            out["cusum"] = s.astype(np.float64) / float(scale)
            yield out[s > h_s]
        else:
            state.update((seed_s, last_ts, True))

    return update


def cusum_alarms_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    target_col: str,
    *,
    slack: float,
    threshold: float,
    decimals: int = 2,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key CUSUM alarm rows; the detector statistic survives across
    micro-batches. ``target_col`` is the key's calibrated baseline (a
    per-key constant column, typically joined on from a static
    calibration table — values in the same units as ``value_col``; the
    batch `cusum_scan` derives it as the truncated mean). Output:
    (key, ts, id, value, cusum) — alarm rows only, matching the batch
    operator's output contract."""
    src = (
        stream.select(
            key_col,
            F.col(ts_col).cast("timestamp").alias(ts_col),
            F.col(id_col),
            F.col(value_col).cast("double").alias("value"),
            F.col(target_col).cast("double").alias("_target"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
        )
        # NULL contract matches the batch operator: a NULL reading
        # carries no sample (and NaN→int64 would poison the state).
        .filter(F.col("value").isNotNull() & F.col("_target").isNotNull())
        .withWatermark(ts_col, watermark)
    )
    out_schema = T.StructType(
        [
            src.schema[key_col],
            src.schema[ts_col],
            src.schema[id_col],
            T.StructField("value", T.DoubleType()),
            T.StructField("cusum", T.DoubleType()),
        ]
    )
    return src.groupBy(key_col).applyInPandasWithState(
        cusum_stateful_func(slack, threshold, decimals),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_STATE_SCHEMA_2S = T.StructType(
    [
        T.StructField("s_hi_scaled", T.LongType()),
        T.StructField("s_lo_scaled", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("initialized", T.BooleanType()),
    ]
)


def cusum_twosided_stateful_func(slack: float, threshold: float, decimals: int):
    """Two-sided detector update (VERDICT r5 #4): the downward
    accumulator S⁻_i = max(0, S⁻_{i−1} + (μ − v_i − k)) is the SAME
    recurrence as the upward one on negated-deviation input, so
    `cusum_batch_kernel` runs twice per key chunk — one cumsum +
    min-accumulate each — and the state carries both statistics."""
    scale = 10**decimals
    k_s = int(round(slack * scale))
    h_s = int(round(threshold * scale))

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, ts, id, value, target, _ts_us
        pdf = pdf.sort_values(["_ts_us", pdf.columns[2]], kind="stable")
        seed_hi, seed_lo, last_ts = 0, 0, np.iinfo(np.int64).min
        if state.exists:
            s_hi, s_lo, last_ts_us, initialized = state.get
            if initialized:
                seed_hi, seed_lo, last_ts = int(s_hi), int(s_lo), int(last_ts_us)
        # disorder contract: at-or-before the held timestamp → dropped
        pdf = pdf[pdf["_ts_us"].to_numpy() > last_ts]
        if len(pdf):
            vs = scale_half_up(
                pdf.iloc[:, 3].to_numpy(dtype=np.float64), scale
            )
            mu = scale_half_up(
                pdf.iloc[:, 4].to_numpy(dtype=np.float64), scale
            )
            s_hi, final_hi = cusum_batch_kernel(vs - mu - k_s, seed_hi)
            s_lo, final_lo = cusum_batch_kernel(mu - vs - k_s, seed_lo)
            state.update(
                (final_hi, final_lo, int(pdf["_ts_us"].iloc[-1]), True)
            )
            hi_alarm = s_hi > h_s
            lo_alarm = s_lo > h_s
            out = pdf.iloc[:, :4].copy()
            out["cusum_high"] = s_hi.astype(np.float64) / float(scale)
            out["cusum_low"] = s_lo.astype(np.float64) / float(scale)
            out["alarm_side"] = np.select(
                [hi_alarm & lo_alarm, hi_alarm], ["both", "up"], "down"
            )
            yield out[hi_alarm | lo_alarm]
        else:
            state.update((seed_hi, seed_lo, last_ts, True))

    return update


def cusum_twosided_alarms_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    target_col: str,
    *,
    slack: float,
    threshold: float,
    decimals: int = 2,
    watermark: str = "1 hour",
) -> DataFrame:
    """Two-sided mirror of `cusum_alarms_by_key`: same calibration
    join, same disorder contract, state carries (S⁺, S⁻). Output:
    (key, ts, id, value, cusum_high, cusum_low, alarm_side) — alarm
    rows only, matching `hf.cusum_scan_twosided`'s contract."""
    src = (
        stream.select(
            key_col,
            F.col(ts_col).cast("timestamp").alias(ts_col),
            F.col(id_col),
            F.col(value_col).cast("double").alias("value"),
            F.col(target_col).cast("double").alias("_target"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
        )
        .filter(F.col("value").isNotNull() & F.col("_target").isNotNull())
        .withWatermark(ts_col, watermark)
    )
    out_schema = T.StructType(
        [
            src.schema[key_col],
            src.schema[ts_col],
            src.schema[id_col],
            T.StructField("value", T.DoubleType()),
            T.StructField("cusum_high", T.DoubleType()),
            T.StructField("cusum_low", T.DoubleType()),
            T.StructField("alarm_side", T.StringType()),
        ]
    )
    return src.groupBy(key_col).applyInPandasWithState(
        cusum_twosided_stateful_func(slack, threshold, decimals),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA_2S,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_cusum_twosided_alarms(
    spark: SparkSession,
    source_path: str,
    targets: DataFrame,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    target_col: str,
    slack: float,
    threshold: float,
    decimals: int = 2,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source wrapper for the two-sided detector (the
    `streaming_cusum_alarms` template)."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: cusum_twosided_alarms_by_key(
            stream.join(targets, on=key_col),
            key_col,
            ts_col,
            id_col,
            value_col,
            target_col,
            slack=slack,
            threshold=threshold,
            decimals=decimals,
            watermark=watermark,
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_cusum_alarms(
    spark: SparkSession,
    source_path: str,
    targets: DataFrame,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    target_col: str,
    slack: float,
    threshold: float,
    decimals: int = 2,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → static calibration join → stateful CUSUM →
    parquet append sink. ``targets`` is the static per-key calibration
    table (key_col, target_col); the stream-static equi-join
    broadcasts it when small, per ordinary join planning."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: cusum_alarms_by_key(
            stream.join(targets, on=key_col),
            key_col,
            ts_col,
            id_col,
            value_col,
            target_col,
            slack=slack,
            threshold=threshold,
            decimals=decimals,
            watermark=watermark,
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
