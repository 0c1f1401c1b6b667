"""Streaming gap-fill + LOCF: the stateful mirror of
`operators/aggregations.py::gapfill_locf` — the live-dashboard
continuity read ("draw a flat line while the sensor misses polls")
emitted incrementally instead of recomputed per refresh.

Batch gapfill joins a dense bucket spine and windows LOCF over it; on
a stream a bucket is emittable only once the event-time WATERMARK
passes its end (no more in-order-legal data can arrive for it — any
older row would be watermark-dropped before reaching the operator).
So per key the state holds:

* the OPEN buckets (observed but not yet past the watermark) as two
  parallel arrays of (bucket index, running max) — bounded by the
  watermark horizon / bucket width, NOT by data volume;
* the LOCF carry (last emitted observed value) and the last emitted
  bucket index;
* a tail-fill counter.

Every invocation drains in bucket order: each bucket from
``emitted_until + 1`` whose end ≤ watermark is emitted exactly once —
with its observed max if present (``is_gapfilled = false``, carry
updates) or the carried value (``is_gapfilled = true``). Gap rows
between observed buckets therefore appear even though no row for them
ever arrived — that is the point. After the last observed bucket, the
operator keeps filling for at most ``max_fill_buckets`` buckets
(event-time timeouts re-fire as the watermark advances), then drops
the key's state: a sensor dark beyond the horizon stops producing
flat-line rows and costs nothing — the bounded-state analog of the
batch spine's global end.

Contract deltas vs batch (both inherent to streams, asserted in the
parity test): the spine is PER-KEY, starting at the key's first
observed bucket (a stream cannot know the global minimum, and batch's
leading all-NULL rows carry no information), and the tail is bounded
by ``max_fill_buckets`` instead of the global max bucket. On every
bucket both engines emit, the (value, is_gapfilled) pair is identical.

Scale posture: per-key state is O(open buckets + 2 scalars); the
per-batch update is one numpy merge + an in-order drain over bucket
INDICES (emitted rows), no per-row Python beyond the Arrow batch.
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
        T.StructField("emitted_until", T.LongType()),   # last emitted idx
        T.StructField("carry", T.DoubleType()),          # LOCF value
        T.StructField("tail_filled", T.LongType()),      # gap rows since data
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


def gapfill_stateful_func(bucket_us: int, max_fill: int, key_name: str):
    def drain(key, emitted_until, carry, tail_filled, open_d, wm_us):
        """Emit every bucket with end ≤ watermark, in order."""
        rows = []
        if emitted_until is None:
            if not open_d:
                return rows, emitted_until, carry, tail_filled
            emitted_until = min(open_d) - 1
        while (emitted_until + 2) * bucket_us <= wm_us:
            b = emitted_until + 1
            if b in open_d:
                carry = open_d.pop(b)
                tail_filled = 0
                rows.append((key, b, carry, False))
            else:
                # a gap bucket: beyond the last observed bucket only
                # max_fill rows are produced
                beyond_data = not open_d or b > max(open_d)
                if beyond_data and tail_filled >= max_fill:
                    break
                if beyond_data:
                    tail_filled += 1
                rows.append((key, b, carry, True))
            emitted_until = b
        return rows, emitted_until, carry, tail_filled

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.hasTimedOut:
            emitted_until, carry, tail_filled, oi, om = state.get
            open_d = dict(zip(oi or [], om or []))
        else:
            if state.exists:
                emitted_until, carry, tail_filled, oi, om = state.get
                open_d = dict(zip(oi or [], om or []))
            else:
                emitted_until, carry, tail_filled, open_d = None, None, 0, {}
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

        rows, emitted_until, carry, tail_filled = drain(
            key[0], emitted_until, carry, tail_filled, open_d, wm_us
        )

        done = (
            not open_d
            and (emitted_until is not None)
            and tail_filled >= max_fill
        )
        if done:
            state.remove()
        else:
            idx = sorted(open_d)
            state.update(
                (
                    emitted_until,
                    carry,
                    tail_filled,
                    idx,
                    [open_d[b] for b in idx],
                )
            )
            if emitted_until is not None or open_d:
                # wake when the next bucket becomes closable
                nxt = (
                    (emitted_until + 2) * bucket_us // 1000
                    if emitted_until is not None
                    else (min(open_d) + 1) * bucket_us // 1000
                )
                state.setTimeoutTimestamp(
                    max(nxt + 1, state.getCurrentWatermarkMs() + 1)
                )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[key_name, "bucket_idx", "value_filled", "is_gapfilled"],
            )

    return update


def gapfill_locf_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    bucket_seconds: int,
    max_fill_buckets: int = 24,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermark-closed dense LOCF rows per key: one row per bucket
    from the key's first observed bucket onward, observed buckets
    carrying their max, gap buckets the carried value, the tail
    bounded by ``max_fill_buckets``. ``bucket_ts`` is exact
    (idx × bucket)."""
    src = stream.select(
        key_col,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(value_col).cast("double").alias(value_col),
    ).withWatermark(ts_col, watermark)
    out = src.groupBy(key_col).applyInPandasWithState(
        gapfill_stateful_func(
            int(bucket_seconds) * 1_000_000, int(max_fill_buckets), key_col
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


def streaming_gapfill_locf(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int,
    max_fill_buckets: int = 24,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → stateful gap-fill → parquet append sink; rows are
    final (a bucket emits exactly once, when the watermark closes it).
    """
    return run_file_stream(
        spark,
        source_path,
        lambda stream: gapfill_locf_by_key(
            stream,
            key_col,
            ts_col,
            value_col,
            bucket_seconds=bucket_seconds,
            max_fill_buckets=max_fill_buckets,
            watermark=watermark,
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
