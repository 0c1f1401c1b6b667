"""Streaming MAD outlier flags: the stateful mirror of
`operators/aggregations.py::mad_outliers` (VERDICT r5 #8).

The batch operator computes EXACT per-group medians (center and MAD)
over the whole table — O(group) working data, fine for a scan,
impossible for unbounded streaming state. The streaming formulation
swaps the exact medians for Robbins–Monro QUANTILE TRACKERS, the
robust-statistics analogue of `anomaly.py`'s EWMA-moments trade (an
exact trailing window becomes a soft one; here an exact median
becomes a stochastically-tracked one):

    m_t = m_{t−1} + η_m · sign(x_t − m_{t−1})          (median track)
    d_t = max(0, d_{t−1} + η_d · sign(|x_t − m| − d))  (MAD track)

A sign-step tracker converges on the true median/MAD for stationary
input (each is the SGD solution of the pinball loss at q = 0.5) with
steady-state bias O(η), and inherits the median's robustness: a
single outlier moves the estimate by at most η, never by its own
magnitude. Each reading is judged BEFORE it updates the trackers
(``|x − m| > k·d``), so a spike cannot drag its own threshold — the
same pre-update discipline as the EWMA z-test — and flags only fire
once ``min_samples`` readings have seeded the trackers.

APPROXIMATE-CARRY CONTRACT (documented, per the r5 VERDICT ask): the
streaming flag set is NOT bit-equal to the batch operator's — state
is two floats, not a value table. What IS pinned in pytest:
(1) machinery parity — the streamed flags/estimates across
micro-batch boundaries equal a sequential replay of the same kernel
on the same readings, bit-for-bit; (2) statistical behavior —
planted spikes over a stationary baseline flag, the baseline does
not, and the trackers land within O(η) of the exact median/MAD.
A deployment that needs exact medians refreshes them offline (the
batch operator) and streams against the calibrated values — the
`cusum.py` calibration-join pattern.

Cross-batch disorder contract (the heartbeat/downtime/cusum
template): a reading at-or-before the key's held timestamp is
DROPPED — append mode cannot retract, and the trackers are
order-dependent.

Scale posture: state is (median, mad, n, last_ts) per ACTIVE key in
the hash-partitioned state store; per batch one numpy pass per key
chunk, no per-row Python.
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

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("median", T.DoubleType()),
        T.StructField("mad", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def mad_track_pandas(
    values: np.ndarray,
    median_step: float,
    mad_step: float,
    k: float,
    min_samples: int,
    seed: tuple[float, float, int] | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, tuple[float, float, int]]:
    """Sequential tracker pass. Returns (flags, median_est per row,
    mad_est per row — the PRE-update values each row was judged
    against) and the final (median, mad, n) state. Separate so tests
    replay the exact arithmetic."""
    flags = np.zeros(len(values), dtype=bool)
    meds = np.empty(len(values), dtype=np.float64)
    mads = np.empty(len(values), dtype=np.float64)
    if seed is None:
        m, d, n = 0.0, 0.0, 0
    else:
        m, d, n = seed
    for i, x in enumerate(values):
        x = float(x)
        if n == 0:
            m, d, n = x, 0.0, 1
            meds[i], mads[i] = m, d
            continue
        meds[i], mads[i] = m, d
        adev = abs(x - m)
        flags[i] = n >= min_samples and d > 0.0 and adev > k * d
        m += median_step if x > m else (-median_step if x < m else 0.0)
        d = max(0.0, d + (mad_step if adev > d else (-mad_step if adev < d else 0.0)))
        n += 1
    return flags, meds, mads, (m, d, n)


def mad_stateful_func(
    median_step: float, mad_step: float, k: float, min_samples: int
):
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, ts, id, value, _ts_us
        pdf = pdf.sort_values(["_ts_us", pdf.columns[2]], kind="stable")
        seed, last_ts = None, np.iinfo(np.int64).min
        if state.exists:
            med, mad, n, last_ts_us = state.get
            seed, last_ts = (float(med), float(mad), int(n)), int(last_ts_us)
        # disorder contract: at-or-before the held timestamp → dropped
        pdf = pdf[pdf["_ts_us"].to_numpy() > last_ts]
        if len(pdf):
            vals = pdf.iloc[:, 3].to_numpy(dtype=np.float64)
            flags, meds, mads, (m, d, n) = mad_track_pandas(
                vals, median_step, mad_step, k, min_samples, seed
            )
            state.update(
                (float(m), float(d), int(n), int(pdf["_ts_us"].iloc[-1]))
            )
            out = pdf.iloc[:, :4].copy()
            out["median_est"] = meds
            out["mad_est"] = mads
            with np.errstate(divide="ignore", invalid="ignore"):
                out["robust_z"] = np.where(
                    mads > 0.0, (vals - meds) / mads, np.nan
                )
            yield out[flags]
        elif seed is not None:
            state.update((seed[0], seed[1], seed[2], last_ts))

    return update


def mad_outlier_flags_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    *,
    median_step: float,
    mad_step: float,
    k: float = 3.5,
    min_samples: int = 8,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key streaming MAD outliers: flagged rows only —
    (key, ts, id, value, median_est, mad_est, robust_z), matching the
    batch operator's output contract with tracker estimates in place
    of exact medians. ``median_step``/``mad_step`` set the trackers'
    adaptation rate in value units (≈ the resolution of the
    estimates; a few percent of the typical spread is the standard
    choice)."""
    src = (
        stream.select(
            key_col,
            F.col(ts_col).cast("timestamp").alias(ts_col),
            F.col(id_col),
            F.col(value_col).cast("double").alias("value"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
        )
        # NULL contract matches the batch operator: a NULL reading
        # carries no observation.
        .filter(F.col("value").isNotNull())
        .withWatermark(ts_col, watermark)
    )
    out_schema = T.StructType(
        [
            src.schema[key_col],
            src.schema[ts_col],
            src.schema[id_col],
            T.StructField("value", T.DoubleType()),
            T.StructField("median_est", T.DoubleType()),
            T.StructField("mad_est", T.DoubleType()),
            T.StructField("robust_z", T.DoubleType()),
        ]
    )
    return src.groupBy(key_col).applyInPandasWithState(
        mad_stateful_func(median_step, mad_step, k, min_samples),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_mad_outliers(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    median_step: float,
    mad_step: float,
    k: float = 3.5,
    min_samples: int = 8,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → stateful MAD trackers → parquet append sink (the
    `streaming_cusum_alarms` template)."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: mad_outlier_flags_by_key(
            stream,
            key_col,
            ts_col,
            id_col,
            value_col,
            median_step=median_step,
            mad_step=mad_step,
            k=k,
            min_samples=min_samples,
            watermark=watermark,
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
