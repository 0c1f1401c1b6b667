"""Streaming state-transition detection: the stateful mirror of
`operators/hyperfunctions.py::state_timeline` — "sensor X just flipped
channel_state" as a live feed instead of a batch report.

The batch operator lags the state column per key; on a stream the
previous (timestamp, state) pair is STATE carried across micro-batches
(`applyInPandasWithState`, the counter.py pattern — no timeout: a
transition only exists when the NEXT reading arrives, so there is
nothing to flush). Each batch sorts its readings per key, prepends the
held pair, and emits one row per adjacent state CHANGE — exactly the
batch operator's transition set for sources in-order per key across
micro-batches.

Cross-batch disorder follows the heartbeat/downtime contract: readings
at-or-before the held timestamp are dropped (append mode cannot
retract an already-emitted transition), the same class as
watermark-late drops. NULL states carry no sample, matching batch.

Scale posture: state is one (long, string) pair per ACTIVE key; the
per-batch update is one sorted pandas shift-compare per key chunk, no
per-row Python.
"""

from __future__ import annotations

from typing import Iterable, Iterator

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
        T.StructField("last_state", T.StringType()),
    ]
)


def _out(key_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            key_field,
            T.StructField("transition_us", T.LongType()),
            T.StructField("from_state", T.StringType()),
            T.StructField("to_state", T.StringType()),
        ]
    )


def state_transition_func(key_name: str):
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, ts, id, state — restore event order in-batch
        pdf = pdf.sort_values([pdf.columns[1], pdf.columns[2]], kind="stable")
        ts_us = (
            pdf.iloc[:, 1].to_numpy().astype("datetime64[us]").astype("int64")
        )
        states = pdf.iloc[:, 3].to_numpy(dtype=object)
        prev_state = None
        if state.exists:
            last_us, prev_state = state.get
            keep = ts_us > int(last_us)  # disorder contract (module doc)
            ts_us, states = ts_us[keep], states[keep]
        if len(ts_us) == 0:
            return
        state.update((int(ts_us[-1]), str(states[-1])))
        prev = pd.Series([prev_state, *states[:-1]], dtype=object)
        changed = (prev != pd.Series(states, dtype=object)) & prev.notna()
        mask = changed.to_numpy()
        if mask.any():
            yield pd.DataFrame(
                {
                    key_name: [key[0]] * int(mask.sum()),
                    "transition_us": ts_us[mask],
                    "from_state": prev.to_numpy(dtype=object)[mask],
                    "to_state": states[mask],
                }
            )

    return update


def state_transitions_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    state_col: str,
    *,
    watermark: str = "10 minutes",
) -> DataFrame:
    """One row per state CHANGE (exact epoch µs), previous state
    carried across micro-batches; a key's first-ever reading is not a
    transition."""
    src = (
        stream.select(
            key_col,
            F.col(ts_col).cast("timestamp").alias(ts_col),
            F.col(id_col),
            F.col(state_col).cast("string").alias(state_col),
        )
        .filter(F.col(state_col).isNotNull())
        .withWatermark(ts_col, watermark)
    )
    return src.groupBy(key_col).applyInPandasWithState(
        state_transition_func(key_col),
        outputStructType=_out(src.schema[key_col]),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_state_transitions(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    id_col: str,
    state_col: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → stateful transition detection → parquet append
    sink; rows are final (append-safe) — a transition never retracts."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: state_transitions_by_key(
            stream, key_col, ts_col, id_col, state_col, watermark=watermark
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
