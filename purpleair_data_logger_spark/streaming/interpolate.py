"""Streaming gap-fill + linear interpolation: the stateful mirror of
`operators/aggregations.py::gapfill_interpolate` — the continuous-
signal companion to `streaming/gapfill.py`'s LOCF (temperature and
pressure trend between readings; carrying the last value would
misrepresent them).

Interpolation is harder to stream than LOCF because a gap bucket's
fill depends on its NEXT observed neighbor, and that neighbor is only
final once the event-time watermark closes it (a late-but-legal row
could still raise the bucket's max — or land INSIDE the gap and become
a nearer neighbor). So the drain rule is: emit buckets in order up to
the last WATERMARK-CLOSED OBSERVED bucket. For each closed observed
bucket c in ascending order, the interior gaps since the previous
observed bucket emit
``prev_v + (c_v − prev_v) · (i − prev_i)/(c_i − prev_i)`` — the batch
operator's exact expression shape, evaluated in float64 with the same
operation order, so values are bit-identical — then c itself emits.

Edge semantics mirror batch: no leading rows before a key's first
observed bucket, and the TRAILING edge (closed buckets awaiting a
future right neighbor) emits nothing — batch leaves those NULL, and a
NULL fill row carries no information a dashboard can draw. A key dark
for more than ``max_gap_buckets`` has its state dropped (the pending
trailing buckets are abandoned, exactly batch's NULL edge), so state
never grows with silence.

Scale posture: per-key state = previous observed (idx, value) + the
open-bucket arrays; one numpy merge + in-order drain per batch.
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
        T.StructField("prev_idx", T.LongType()),
        T.StructField("prev_v", T.DoubleType()),
        T.StructField("open_idx", T.ArrayType(T.LongType())),
        T.StructField("open_max", T.ArrayType(T.DoubleType())),
    ]
)


def _out(key_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            key_field,
            T.StructField("bucket_idx", T.LongType()),
            T.StructField("value_filled", T.DoubleType()),
            T.StructField("is_gapfilled", T.BooleanType()),
        ]
    )


def interpolate_stateful_func(bucket_us: int, max_gap: int, key_name: str):
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            prev_idx, prev_v, oi, om = state.get
            open_d = dict(zip(oi or [], om or []))
        else:
            prev_idx, prev_v, open_d = None, None, {}

        if not state.hasTimedOut:
            pdf = pd.concat(list(pdfs), ignore_index=True)
            ts_us = (
                pdf.iloc[:, 1]
                .to_numpy()
                .astype("datetime64[us]")
                .astype("int64")
            )
            vals = pdf.iloc[:, 2].to_numpy(dtype=np.float64)
            ok = ~np.isnan(vals)
            for t, v in zip(ts_us[ok] // bucket_us, vals[ok]):
                b = int(t)
                cur = open_d.get(b)
                open_d[b] = float(v) if cur is None else max(cur, float(v))

        rows = []
        for c in sorted(open_d):
            if (c + 1) * bucket_us > wm_us:
                break  # c (and everything after) still open
            c_v = open_d.pop(c)
            if prev_idx is not None:
                for i in range(prev_idx + 1, c):
                    frac = float(i - prev_idx) / float(c - prev_idx)
                    rows.append(
                        (key[0], i, prev_v + (c_v - prev_v) * frac, True)
                    )
            rows.append((key[0], c, c_v, False))
            prev_idx, prev_v = c, c_v

        # horizon: nothing open and the watermark is max_gap buckets
        # past the last observed bucket -> the trailing edge can only
        # ever be batch's NULL rows; drop the key's state
        done = (
            not open_d
            and prev_idx is not None
            and wm_us >= (prev_idx + 1 + max_gap) * bucket_us
        )
        if done:
            state.remove()
        else:
            idx = sorted(open_d)
            state.update(
                (prev_idx, prev_v, idx, [open_d[b] for b in idx])
            )
            if open_d:
                nxt_ms = (min(open_d) + 1) * bucket_us // 1000
            elif prev_idx is not None:
                nxt_ms = (prev_idx + 1 + max_gap) * bucket_us // 1000
            else:
                nxt_ms = None
            if nxt_ms is not None:
                state.setTimeoutTimestamp(
                    max(nxt_ms + 1, state.getCurrentWatermarkMs() + 1)
                )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[key_name, "bucket_idx", "value_filled", "is_gapfilled"],
            )

    return update


def gapfill_interpolate_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    bucket_seconds: int,
    max_gap_buckets: int = 24,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermark-closed interpolated rows per key: observed buckets
    with their max, interior gaps linearly interpolated between their
    closed observed neighbors; leading/trailing edges emit nothing
    (batch's NULL edges)."""
    src = stream.select(
        key_col,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(value_col).cast("double").alias(value_col),
    ).withWatermark(ts_col, watermark)
    out = src.groupBy(key_col).applyInPandasWithState(
        interpolate_stateful_func(
            int(bucket_seconds) * 1_000_000, int(max_gap_buckets), key_col
        ),
        outputStructType=_out(src.schema[key_col]),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return out.select(
        key_col,
        F.timestamp_seconds(
            F.col("bucket_idx") * int(bucket_seconds)
        ).alias("bucket_ts"),
        "value_filled",
        "is_gapfilled",
    )


def streaming_gapfill_interpolate(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int,
    max_gap_buckets: int = 24,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → stateful interpolation → parquet append sink."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: gapfill_interpolate_by_key(
            stream,
            key_col,
            ts_col,
            value_col,
            bucket_seconds=bucket_seconds,
            max_gap_buckets=max_gap_buckets,
            watermark=watermark,
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
