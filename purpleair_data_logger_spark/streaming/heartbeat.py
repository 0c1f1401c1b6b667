"""Streaming heartbeat liveness intervals: the stateful mirror of
`operators/hyperfunctions.py::heartbeat_uptime`.

The batch operator derives each reading's live interval
``[ts, min(next_ts, ts + timeout))`` from the NEXT reading — which on
a live stream hasn't arrived yet. So the stream formulation holds the
most recent reading per key as state and closes intervals two ways:

* a newer reading arrives → the held reading's interval closes at
  ``min(new_ts, held_ts + timeout)`` and is emitted; the new reading
  becomes the held state;
* no reading arrives and the event-time watermark passes
  ``held_ts + timeout`` → the interval can never be truncated anymore
  (any older-than-watermark reading would be dropped), so the state
  TIMES OUT and the full-timeout interval is emitted.

Output is one row per CLOSED interval, in exact epoch microseconds —
final and append-safe. Per-bucket uptime then composes downstream by
the same clip-to-bucket arithmetic the batch operator uses (the
emitted intervals are exactly the batch operator's interval set, which
the test asserts, for sources that are in-order per key ACROSS
micro-batches). Within a micro-batch any ordering is fine (rows are
sorted); across batches, a reading at-or-before the currently held
timestamp is dropped rather than folded in — the intervals up to the
held reading were already emitted and append mode cannot retract them,
so regressing the state would re-emit overlapping intervals (the
round-4 advisory bug). Such drops are the same class as watermark-late
drops, with the held timestamp as the cutoff.

Scale posture: state is one (long, bool) per ACTIVE key; the per-batch
update is one sorted pass per key chunk. The event-time timeout bounds
state lifetime to ``timeout`` past the last heartbeat — dead sensors
cost nothing after their flush.
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
        T.StructField("last_us", T.LongType()),
        T.StructField("initialized", T.BooleanType()),
    ]
)


def _out(key_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            key_field,
            T.StructField("t_us", T.LongType()),
            T.StructField("end_us", T.LongType()),
            T.StructField("covered_us", T.LongType()),
        ]
    )


def heartbeat_stateful_func(timeout_us: int, key_name: str):
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def rows(ts_list):
            t = np.asarray(ts_list[:-1], dtype=np.int64)
            nxt = np.asarray(ts_list[1:], dtype=np.int64)
            end = np.minimum(nxt, t + timeout_us)
            keep = end > t  # duplicate timestamps yield empty intervals
            return pd.DataFrame(
                {
                    key_name: [key[0]] * int(keep.sum()),
                    "t_us": t[keep],
                    "end_us": end[keep],
                    "covered_us": (end - t)[keep],
                }
            )

        if state.hasTimedOut:
            last_us, initialized = state.get
            state.remove()
            if initialized:
                yield pd.DataFrame(
                    {
                        key_name: [key[0]],
                        "t_us": [int(last_us)],
                        "end_us": [int(last_us) + timeout_us],
                        "covered_us": [timeout_us],
                    }
                )
            return

        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([pdf.columns[1], pdf.columns[2]], kind="stable")
        ts_us = (
            pdf.iloc[:, 1].to_numpy().astype("datetime64[us]").astype("int64")
        )
        chain: list[int] = []
        if state.exists:
            last_us, initialized = state.get
            if initialized:
                chain.append(int(last_us))
                # Cross-batch disorder guard: a reading at-or-before the
                # held timestamp arrived AFTER the intervals up to `held`
                # were already emitted (append mode cannot retract them).
                # Folding it in would regress the held state and later
                # re-emit overlapping intervals, so such rows are dropped
                # — the same contract as watermark-late drops, just with
                # the held reading as the cutoff. In-order sources (and
                # the batch operator's interval set) are unaffected.
                ts_us = ts_us[ts_us > int(last_us)]
        chain.extend(int(t) for t in ts_us)
        held = chain[-1]
        state.update((held, True))
        # watermark past held + timeout ⇒ the interval is final. Spark
        # rejects a timeout at-or-before the current watermark (a very
        # late held reading), so clamp just past it — the flush then
        # fires on the next micro-batch.
        state.setTimeoutTimestamp(
            max(
                (held + timeout_us) // 1000 + 1,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        if len(chain) > 1:
            yield rows(chain)

    return update


def heartbeat_intervals_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    *,
    timeout_seconds: int,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Closed liveness intervals per key (exact epoch µs); the held
    tail interval flushes by event-time timeout once the watermark
    passes ``last heartbeat + timeout``."""
    src = stream.select(
        key_col,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(id_col),
    ).withWatermark(ts_col, watermark)
    return src.groupBy(key_col).applyInPandasWithState(
        heartbeat_stateful_func(
            int(timeout_seconds) * 1_000_000, key_col
        ),
        outputStructType=_out(src.schema[key_col]),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_heartbeat_intervals(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    id_col: str,
    timeout_seconds: int,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → stateful interval closure → parquet append sink.
    Per-bucket uptime composes downstream via the batch clip-to-bucket
    arithmetic over the emitted (t_us, end_us) rows."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: heartbeat_intervals_by_key(
            stream,
            key_col,
            ts_col,
            id_col,
            timeout_seconds=timeout_seconds,
            watermark=watermark,
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
