"""Streaming conversion funnel: the stateful mirror of the catalog's
`conversion_funnel` (first view → first click after it → first
purchase after that, per user).

Unlike the sequential CUSUM/MAD mirrors, this one is EXACT under
ARBITRARY cross-batch disorder — no event-time-order contract — by
exploiting the funnel's monotonicity:

* t_view = min(view ts) only ever DECREASES as stragglers arrive;
* a click qualifies iff click > t_view_final; t_view only decreases,
  so the qualifying click set only GROWS and t_click = min(qualifying
  clicks) only DECREASES. Crucially, once set, t_click remains valid
  forever: it beat some t_view_old ≥ t_view_final, so it still
  qualifies — it can only be BEATEN by smaller clicks, never
  invalidated. Same argument one stage down for purchases vs t_click.

State per user is therefore the three anchored minima plus two
CANDIDATE BUFFERS: clicks ≤ current t_view (might qualify if a
straggler view lowers the anchor below them) capped at < t_click
(anything ≥ a non-increasing t_click can never win), and purchases
≤ current t_click capped at < t_purchase. When an anchor drops, its
buffer is re-qualified and re-pruned. Buffers hold only pre-anchor
events — empty for in-order arrival, bounded by the disorder horizon
in practice (a deployment can additionally watermark-prune them; the
exactness proof needs no watermark).

Per micro-batch the update is vectorized (one pandas aggregation per
event type, then an O(buffer) numpy kernel — never per-row Python).
Each trigger emits the user's current funnel row tagged with
``events_seen`` (monotone per user): readers and the parity test take
the rows at max(events_seen) as the latest snapshot; append mode
never retracts. Timestamps ride as exact epoch-µs BIGINTs (the
heartbeat mirror's discipline). NULL contract: a NULL timestamp
carries no observation (unplaceable on the funnel's time axis).
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

_NONE = -1  # state sentinel for "not yet" (epoch-µs are non-negative)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t_view", T.LongType()),
        T.StructField("t_click", T.LongType()),
        T.StructField("t_purchase", T.LongType()),
        T.StructField("click_buf", T.ArrayType(T.LongType())),
        T.StructField("purch_buf", T.ArrayType(T.LongType())),
        T.StructField("events_seen", T.LongType()),
    ]
)


def funnel_merge(
    state: tuple[int, int, int, list[int], list[int], int],
    views: np.ndarray,
    clicks: np.ndarray,
    purchases: np.ndarray,
) -> tuple[int, int, int, list[int], list[int], int]:
    """Merge one batch of per-user event timestamps (epoch µs) into
    the funnel state; pure function so tests replay it sequentially.
    ``_NONE`` encodes "anchor not yet set"."""
    t_view, t_click, t_purchase, click_buf, purch_buf, seen = state
    seen += len(views) + len(clicks) + len(purchases)
    if len(views):
        vmin = int(views.min())
        t_view = vmin if t_view == _NONE else min(t_view, vmin)
    # clicks: candidates = buffer + batch; qualify strictly after the
    # (possibly just-lowered) view anchor
    cand = np.concatenate([np.asarray(click_buf, dtype=np.int64), clicks])
    if t_view != _NONE and len(cand):
        q = cand[cand > t_view]
        if len(q):
            qmin = int(q.min())
            t_click = qmin if t_click == _NONE else min(t_click, qmin)
    # buffer: still-possible future winners — at or before the view
    # anchor (could qualify if it drops further) and strictly below
    # the current click anchor (≥ it can never win a non-increasing min)
    keep = cand
    if t_view != _NONE:
        keep = keep[keep <= t_view]
    if t_click != _NONE:
        keep = keep[keep < t_click]
    click_buf = sorted(int(x) for x in keep)
    # purchases: one stage down, anchored on t_click
    cand = np.concatenate([np.asarray(purch_buf, dtype=np.int64), purchases])
    if t_click != _NONE and len(cand):
        q = cand[cand > t_click]
        if len(q):
            qmin = int(q.min())
            t_purchase = qmin if t_purchase == _NONE else min(t_purchase, qmin)
    keep = cand
    if t_click != _NONE:
        keep = keep[keep <= t_click]
    if t_purchase != _NONE:
        keep = keep[keep < t_purchase]
    purch_buf = sorted(int(x) for x in keep)
    return t_view, t_click, t_purchase, click_buf, purch_buf, seen


def funnel_stateful_func(
    view_value: str = "view",
    click_value: str = "click",
    purchase_value: str = "purchase",
):
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: user, event_type, ts_us
        st = (
            tuple(state.get)
            if state.exists
            else (_NONE, _NONE, _NONE, [], [], 0)
        )
        st = (
            int(st[0]), int(st[1]), int(st[2]),
            list(st[3] or []), list(st[4] or []), int(st[5]),
        )
        pdf = pdf.dropna(subset=[pdf.columns[2]])
        ts = pdf.iloc[:, 2].astype(np.int64)
        et = pdf.iloc[:, 1]
        st = funnel_merge(
            st,
            ts[et == view_value].to_numpy(),
            ts[et == click_value].to_numpy(),
            ts[et == purchase_value].to_numpy(),
        )
        state.update(st)
        # no emission before the funnel exists (batch emits one row
        # per user WITH a view)
        if st[0] == _NONE:
            return
        yield pd.DataFrame(
            {
                pdf.columns[0]: [key[0]],
                "t_view_us": [st[0]],
                "t_click_us": [None if st[1] == _NONE else st[1]],
                "t_purchase_us": [None if st[2] == _NONE else st[2]],
                "converted": [st[2] != _NONE],
                "events_seen": [st[5]],
            }
        )

    return update


def funnel_by_user(
    stream: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-user streaming funnel snapshots: (user, t_view_us,
    t_click_us, t_purchase_us, converted, events_seen) per trigger."""
    src = stream.select(
        user_col,
        F.col(type_col).alias("_et"),
        F.unix_micros(F.col(ts_col)).alias("_ts_us"),
    )
    out_schema = T.StructType(
        [
            src.schema[user_col],
            T.StructField("t_view_us", T.LongType()),
            T.StructField("t_click_us", T.LongType()),
            T.StructField("t_purchase_us", T.LongType()),
            T.StructField("converted", T.BooleanType()),
            T.StructField("events_seen", T.LongType()),
        ]
    )
    return src.groupBy(user_col).applyInPandasWithState(
        funnel_stateful_func(),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_funnel(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → per-user funnel snapshots → parquet append sink."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: funnel_by_user(stream, user_col, type_col, ts_col),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
