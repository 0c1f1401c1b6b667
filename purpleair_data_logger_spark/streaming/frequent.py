"""Streaming heavy hitters: the stateful mirror of
`operators/aggregations.py::grouped_frequent_items`.

The batch operator gets EXACT per-group heavy hitters with a two-scan
candidate/verify pass over the full table; a stream cannot re-scan,
and exact per-value counts are unbounded state. The streaming
formulation carries a MISRA–GRIES summary per group — the classic
bounded-memory heavy-hitter sketch and the deterministic ancestor of
SpaceSaving:

* state per group: at most ``k = ⌈10⁴ / support_bp⌉ − 1`` (item,
  counter) pairs plus the exact total row count;
* per micro-batch: count the batch's values EXACTLY (one vectorized
  pandas aggregation — never per-row Python), add them into the
  summary, and if the summary exceeds k entries subtract the
  (k+1)-th largest counter from every entry and drop the non-positive
  ones (the batched form of MG's decrement step).

Guarantees (the MG invariants, pinned in pytest):
* NO FALSE NEGATIVES: every value with true frequency ≥
  support_bp·total/10⁴ is in the summary — undercounting is bounded
  by the total decrement ≤ (total − Σcounters)/(k+1) < support·total;
* the counter is a LOWER bound on the true count, and counter +
  err_bound (the accumulated decrement) is an UPPER bound;
* state is O(k) per group, independent of stream length and
  cardinality.

Candidates above support by counter alone are TRUE heavy hitters at
the emission instant; candidates inside the error band are possible
ones — a deployment verifies them with one bounded batch count (the
batch operator's verify stage) exactly as incremental near-dup
defers to the batch index. Counting is order-independent, so no
cross-batch disorder contract applies (unlike the sequential
CUSUM/MAD mirrors).

Each trigger emits the group's current summary tagged with
``rows_seen`` — monotone per group, so readers (and the parity test)
take the row set at max(rows_seen) as the latest snapshot; append
mode never retracts earlier snapshots, matching the other mirrors'
"emit, never rewrite" posture.
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
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("err", T.LongType()),
        T.StructField("rows_seen", T.LongType()),
    ]
)


def mg_merge(
    summary: dict[str, int], batch_counts: dict[str, int], k: int
) -> tuple[dict[str, int], int]:
    """Merge exact batch counts into a Misra–Gries summary of at most
    ``k`` counters. Returns (new summary, decrement applied this
    merge). Importable so tests replay the exact arithmetic."""
    for item, c in batch_counts.items():
        summary[item] = summary.get(item, 0) + int(c)
    if len(summary) <= k:
        return summary, 0
    # batched decrement: subtract the (k+1)-th largest counter from
    # everyone — at most k survive, ties resolved by the counts alone
    # (deterministic; item identity never orders the cut)
    cut = sorted(summary.values(), reverse=True)[k]
    out = {i: c - cut for i, c in summary.items() if c - cut > 0}
    return out, cut


def frequent_stateful_func(support_bp: int):
    k = max(1, (10_000 + support_bp - 1) // support_bp - 1)

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: group, value
        summary: dict[str, int] = {}
        err, rows_seen = 0, 0
        if state.exists:
            items, counts, err, rows_seen = state.get
            summary = dict(zip(items, (int(c) for c in counts)))
            err, rows_seen = int(err), int(rows_seen)
        vals = pdf.iloc[:, 1].dropna()
        rows_seen += int(len(vals))
        batch_counts = vals.value_counts().to_dict()
        summary, cut = mg_merge(summary, batch_counts, k)
        err += cut
        items = sorted(summary)  # deterministic state + emission order
        state.update(
            (items, [summary[i] for i in items], err, rows_seen)
        )
        yield pd.DataFrame(
            {
                "item": items,
                "min_count": [summary[i] for i in items],
                "err_bound": [err] * len(items),
                "rows_seen": [rows_seen] * len(items),
            }
        ).assign(**{pdf.columns[0]: key[0]})[
            [pdf.columns[0], "item", "min_count", "err_bound", "rows_seen"]
        ]

    return update


def frequent_items_by_group(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    *,
    support_bp: int,
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-group streaming heavy-hitter snapshots:
    (group, item, min_count, err_bound, rows_seen) per trigger, where
    min_count ≤ true count ≤ min_count + err_bound and every value at
    ≥ support is present (no false negatives). O(10⁴/support_bp)
    state per group."""
    src = stream
    if watermark_col is not None:
        src = src.withWatermark(watermark_col, watermark)
    src = src.select(
        group_col, F.col(value_col).cast("string").alias("value")
    )
    out_schema = T.StructType(
        [
            src.schema[group_col],
            T.StructField("item", T.StringType()),
            T.StructField("min_count", T.LongType()),
            T.StructField("err_bound", T.LongType()),
            T.StructField("rows_seen", T.LongType()),
        ]
    )
    return src.groupBy(group_col).applyInPandasWithState(
        frequent_stateful_func(support_bp),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_candidate_snapshot(summaries: DataFrame, group_col: str) -> DataFrame:
    """Each group's NEWEST emitted summary from an append-mode sink:
    ``rows_seen`` is monotone per group, so the rows at its per-group
    max are the latest snapshot. Output: (group, item) candidate
    pairs — at most k = ⌈10⁴/support_bp⌉−1 per group."""
    latest = summaries.groupBy(group_col).agg(
        F.max("rows_seen").alias("rows_seen")
    )
    return (
        summaries.join(F.broadcast(latest), on=[group_col, "rows_seen"])
        .select(group_col, "item")
        .distinct()
    )


def confirm_heavy_hitters(
    summaries: DataFrame,
    source: DataFrame,
    group_col: str,
    value_col: str,
    *,
    support_bp: int,
) -> DataFrame:
    """The MG verify stage (VERDICT r6 #8): turn streamed CANDIDATES
    into CONFIRMED heavy hitters with one bounded batch count.

    Misra–Gries guarantees no false negatives, so the latest per-group
    summary is a SUPERSET of the true heavy hitters; what it cannot do
    alone is confirm the candidates inside its error band. This stage
    is the bounded follow-up: broadcast-semi-join the source on the
    candidate (group, item) pairs — ≤ k rows per group broadcast, the
    count aggregate runs over candidate-matching rows only, never a
    full-cardinality value count — then apply the support threshold as
    the same integer cross-multiplication the batch operator uses.

    Output schema and arithmetic match
    `aggregations.grouped_frequent_items` exactly —
    (group, value, n_occurrences, n_total, freq) — so confirmed-vs-
    batch parity is plain set equality (pinned in pytest at every
    emission point). Run it periodically against the summary sink
    (the `neardup_incremental_batch` pattern: stream narrows, bounded
    batch confirms).

    NULL contract: identical to the batch operator — NULL value or
    NULL group key carries no observation on either the counting or
    the total side.
    """
    cands = latest_candidate_snapshot(summaries, group_col).withColumnRenamed(
        "item", "_val"
    )
    # MG state carries candidates as STRINGS, so the semi-join runs on
    # the string rendering — but the ORIGINAL column rides alongside
    # and is what groups and gets emitted, so the output schema is the
    # source's value type exactly, matching grouped_frequent_items for
    # non-string value columns too (ADVICE r7: the old version emitted
    # the string back, silently diverging from the pinned parity).
    src = (
        source.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(
            group_col,
            F.col(value_col),
            F.col(value_col).cast("string").alias("_val"),
        )
    )
    totals = src.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n_g"))
    sbp = int(support_bp)
    return (
        src.join(F.broadcast(cands), on=[group_col, "_val"], how="leftsemi")
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .join(F.broadcast(totals), on=[group_col])
        .filter(F.col("n_occurrences") * 10000 >= F.lit(sbp) * F.col("_n_g"))
        .select(
            group_col,
            value_col,
            "n_occurrences",
            F.col("_n_g").alias("n_total"),
            (
                F.col("n_occurrences").cast("double")
                / F.col("_n_g").cast("double")
            ).alias("freq"),
        )
    )


def streaming_frequent_items(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    group_col: str,
    value_col: str,
    support_bp: int,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → per-group MG summaries → parquet append sink."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: frequent_items_by_group(
            stream, group_col, value_col, support_bp=support_bp
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
