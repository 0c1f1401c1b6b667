"""Streaming counter-reset increments: the stateful mirror of
`operators/hyperfunctions.py::counter_delta`.

The batch operator resolves the consecutive-pair recursion with
two-tier windows; on a live stream the previous reading is STATE — a
per-key (last scaled value, initialized) pair carried across
micro-batches via ``applyInPandasWithState`` (the `ewma.py` pattern:
Arrow-batched pandas per key, explicit state schema, vectorized
update).

Split of responsibilities: this operator emits ONE ROW PER EVENT with
its reset-aware increment (exact scaled-integer arithmetic, same
rules as the batch operator — growth is ``cur − prev``, a reset
restarts from zero and contributes ``cur``, the first-ever reading
contributes nothing). The per-bucket rollup is then an ordinary
bucketed SUM over the emitted increments — batch `bucketed_agg` or a
downstream windowed streaming aggregate — so the stateful stage stays
minimal and the composition mirrors `counter_delta`'s bucket-charging
rule (an increment lands in its event's bucket) by construction.

Scale posture: state is one (long, bool) pair per ACTIVE key in the
hash-partitioned state store; per batch the update is one sorted
numpy diff pass per key chunk, no per-row Python.
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
        T.StructField("last_c", T.LongType()),
        T.StructField("initialized", T.BooleanType()),
    ]
)


def scale_half_up(values: np.ndarray, scale: int) -> np.ndarray:
    """Scale doubles to integers with HALF-AWAY-FROM-ZERO rounding —
    Spark's ``F.round`` / DuckDB ``round`` semantics. numpy's
    ``np.round`` is half-EVEN (banker's), which silently diverges from
    the batch operators on exact-.5 scaled values; every streaming
    mirror must use this helper so stream and batch produce identical
    integers.

    The naive ``floor(x + 0.5)`` form is NOT used: the ``+ 0.5``
    addition itself rounds in float64, so e.g.
    ``0.49999999999999994 + 0.5 == 1.0`` and the naive form yields 1
    while both Spark's round (BigDecimal HALF_UP on the shortest
    decimal repr) and DuckDB's ``std::round`` yield 0. Comparing the
    EXACT fractional part (``x - trunc(x)`` is exact in IEEE754 —
    the difference is a suffix of x's mantissa) reproduces both
    engines bit-for-bit at the boundary."""
    x = values * scale
    t = np.trunc(x)
    frac = x - t  # exact: no rounding can occur in this subtraction
    bump = np.where(
        np.abs(frac) >= 0.5, np.where(x >= 0, 1.0, -1.0), 0.0
    )
    return (t + bump).astype(np.int64)


def increments_pandas(
    cs: np.ndarray, seed_c: int | None
) -> tuple[np.ndarray, np.ndarray]:
    """Reset-aware increments over a sorted scaled-value array with an
    optional carried-in previous value. Returns (increments, resets).
    Importable so tests can run the exact arithmetic sequentially."""
    prev = np.empty(len(cs), dtype=np.int64)
    if len(cs):
        prev[1:] = cs[:-1]
    has_seed = seed_c is not None
    if has_seed:
        prev[:1] = seed_c
    inc = np.where(cs >= prev, cs - prev, cs)
    reset = cs < prev
    if not has_seed and len(cs):
        inc[0] = 0
        reset[0] = False
    return inc, reset


def counter_stateful_func(decimals: int):
    scale = 10**decimals

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: key, ts, id, value — restore event order in-batch
        pdf = pdf.sort_values(
            [pdf.columns[1], pdf.columns[2]], kind="stable"
        )
        seed: int | None = None
        if state.exists:
            last_c, initialized = state.get
            if initialized:
                seed = int(last_c)
        cs = scale_half_up(pdf.iloc[:, 3].to_numpy(dtype=np.float64), scale)
        inc, reset = increments_pandas(cs, seed)
        state.update(
            (int(cs[-1]) if len(cs) else (seed or 0), True)
        )
        out = pdf.iloc[:, :4].copy()
        out["increment"] = inc.astype(np.float64) / float(scale)
        out["increment_scaled"] = inc
        out["is_reset"] = reset
        yield out

    return update


def counter_increments_by_key(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    *,
    decimals: int = 2,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-event reset-aware counter increments; state survives across
    micro-batches. Output: (key, ts, id, value, increment,
    increment_scaled, is_reset). Roll buckets up from
    ``increment_scaled`` (exact BIGINT, order-independent — the batch
    operator's arithmetic) and divide once; ``increment`` is the
    convenience double for ad-hoc reads."""
    src = (
        stream.select(
            key_col,
            F.col(ts_col).cast("timestamp").alias(ts_col),
            F.col(id_col),
            F.col(value_col).cast("double").alias("value"),
        )
        # NULL contract matches batch counter_delta and the trend
        # mirror: a NULL reading carries no counter sample. Without
        # this, NaN→int64 in scale_half_up is undefined (INT64_MIN)
        # and poisons the carried last_c state for the key.
        .filter(F.col("value").isNotNull())
        .withWatermark(ts_col, watermark)
    )
    out_schema = T.StructType(
        [
            src.schema[key_col],
            src.schema[ts_col],
            src.schema[id_col],
            T.StructField("value", T.DoubleType()),
            T.StructField("increment", T.DoubleType()),
            T.StructField("increment_scaled", T.LongType()),
            T.StructField("is_reset", T.BooleanType()),
        ]
    )
    return src.groupBy(key_col).applyInPandasWithState(
        counter_stateful_func(decimals),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_counter_increments(
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
    """File-source → stateful increments → parquet append sink. The
    per-bucket delta is then a plain bucketed SUM over the sink."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: counter_increments_by_key(
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
