"""Streaming downtime incidents: the stateful mirror of
`operators/hyperfunctions.py::gap_incidents` — and the read that is
INHERENTLY a streaming product, because "sensor X just went dark" is
an alert, not a batch report.

The batch operator lags consecutive readings per key and reports every
gap beyond the threshold. On a live stream the previous reading is
STATE (one (last_us, alerted) pair per key — the same "latest reading
per key" the heartbeat mirror holds), and an incident surfaces twice:

* **open alert** (streaming-only, ``closed=false``): no reading
  arrives and the event-time watermark passes ``held + threshold`` —
  the sensor is provably dark (any reading that could shrink the gap
  would be older than the watermark and dropped). Emitted ONCE per
  silence via the ``alerted`` flag; the held reading is kept so the
  incident can still close.
* **closed incident** (``closed=true``): the next reading finally
  arrives; the exact (gap_start, gap_end, gap_us) row is emitted.
  These rows are exactly the batch operator's incident set for
  sources in-order per key across micro-batches (the parity test's
  assertion) — an open alert is always superseded by its closed row.

Cross-batch disorder follows the heartbeat contract: a reading
at-or-before the held timestamp is dropped (append mode cannot retract
already-emitted incidents), the same class as watermark-late drops.

Scale posture: state is one (long, bool) per ACTIVE key; per batch one
sorted numpy diff pass per key chunk. Keys that go dark cost one
timeout firing and then hold a single long until they return — there
is no per-event state growth.
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
        T.StructField("alerted", T.BooleanType()),
    ]
)


def _out(key_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            key_field,
            T.StructField("gap_start_us", T.LongType()),
            T.StructField("gap_end_us", T.LongType()),
            T.StructField("gap_us", T.LongType()),
            T.StructField("closed", T.BooleanType()),
        ]
    )


def downtime_stateful_func(threshold_us: int, key_name: str):
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            last_us, alerted = state.get
            # keep the held reading (the future closed row needs it),
            # mark alerted so one silence never re-alerts; no new
            # timeout is armed — the next arrival resets the cycle.
            state.update((int(last_us), True))
            if not alerted:
                yield pd.DataFrame(
                    {
                        key_name: [key[0]],
                        "gap_start_us": [int(last_us)],
                        "gap_end_us": [None],
                        "gap_us": [None],
                        "closed": [False],
                    }
                )
            return

        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([pdf.columns[1], pdf.columns[2]], kind="stable")
        ts_us = (
            pdf.iloc[:, 1].to_numpy().astype("datetime64[us]").astype("int64")
        )
        chain: list[int] = []
        prev_alerted = False
        if state.exists:
            last_us, prev_alerted = state.get
            chain.append(int(last_us))
            # heartbeat's cross-batch disorder contract (see module
            # docstring): at-or-before-held readings are dropped.
            ts_us = ts_us[ts_us > int(last_us)]
        chain.extend(int(t) for t in ts_us)
        held = chain[-1]
        # a new SURVIVING reading (even a gap-closing one) starts a
        # fresh silence-watch: alerted resets to False. A batch whose
        # every reading was disorder-dropped (stale, at-or-before the
        # held ts) is NOT a sign of life — preserve the alerted flag
        # so one ongoing silence never emits a second open alert.
        survived = len(ts_us) > 0
        state.update((held, False if survived else bool(prev_alerted)))
        state.setTimeoutTimestamp(
            max(
                (held + threshold_us) // 1000 + 1,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        if len(chain) > 1:
            t = np.asarray(chain[:-1], dtype=np.int64)
            nxt = np.asarray(chain[1:], dtype=np.int64)
            gap = nxt - t
            keep = gap > threshold_us
            if keep.any():
                yield pd.DataFrame(
                    {
                        key_name: [key[0]] * int(keep.sum()),
                        "gap_start_us": t[keep],
                        "gap_end_us": nxt[keep],
                        "gap_us": gap[keep],
                        "closed": [True] * int(keep.sum()),
                    }
                )

    return update


def downtime_incidents_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    *,
    threshold_seconds: int,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Closed downtime incidents (exact epoch µs, batch-parity) plus
    one open ``closed=false`` alert per ongoing silence, flushed by
    event-time timeout once the watermark passes ``held + threshold``.
    """
    src = stream.select(
        key_col,
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(id_col),
    ).withWatermark(ts_col, watermark)
    return src.groupBy(key_col).applyInPandasWithState(
        downtime_stateful_func(int(threshold_seconds) * 1_000_000, key_col),
        outputStructType=_out(src.schema[key_col]),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_downtime_incidents(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    ts_col: str,
    id_col: str,
    threshold_seconds: int,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → stateful gap detection → parquet append sink.
    ``closed`` partitions alert rows from the batch-parity incident
    report."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: downtime_incidents_by_key(
            stream,
            key_col,
            ts_col,
            id_col,
            threshold_seconds=threshold_seconds,
            watermark=watermark,
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
