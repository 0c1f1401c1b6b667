"""Streaming sequence packing: the stateful mirror of
`operators/packing.py::pack_sequences` for a continuous curation
pipeline — every arriving (already-curated) document is assigned its
training shard, absolute token start offset, and budget-sequence
index AT INGEST TIME, so the training-data export never re-scans the
corpus to recompute offsets.

Order contract (the SCD2/CUSUM-family posture — the stream's own
arrival order is the event order): the batch operator packs in
(hash, id) order over the WHOLE corpus; a stream cannot know future
arrivals' hashes, so the mirror packs in ARRIVAL order across
micro-batches and in (hash, id) order WITHIN each micro-batch.
Delivered as one batch, the stream is therefore BIT-EXACT to the
batch operator (pinned); across batches the offsets are the
sequential application of the same exact-integer arithmetic to each
batch in turn (pinned against an independent reference loop).
Offsets are exact BIGINT token sums — no floats anywhere.

State per shard: ONE BIGINT (the shard's running token total) —
O(n_shards) for the whole stream, independent of stream length;
output is append-only (an assignment, once emitted, never changes:
offsets only ever grow).

NULL contract: a NULL id has no shard and a NULL token count has no
cost — dropped (the family rule; the batch operator passes NULL ids
through to a NULL shard, so filter upstream when comparing).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from purpleair_data_logger_spark.operators.dedup import md5_long
from purpleair_data_logger_spark.streaming.filestream import run_file_stream

_STATE_SCHEMA = T.StructType([T.StructField("cum_tokens", T.LongType())])


def pack_stateful_func(budget: int):
    budget = int(budget)

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # columns: shard, id, _h, _n_tok — in-batch order is the batch
        # operator's (hash, id)
        pdf = pdf.sort_values(
            [pdf.columns[2], pdf.columns[1]], kind="stable"
        )
        cum = int(state.get[0]) if state.exists else 0
        toks = pdf.iloc[:, 3].to_numpy("int64")
        # exact-Python total: numpy int64 cumsum/sum wrap SILENTLY,
        # and past 2^63 the failure inside state.update is an opaque
        # Arrow serialization error (the streaming/acf.py rule) —
        # raise descriptively BEFORE touching state instead
        total = sum(toks.tolist())
        new_cum = cum + total
        if new_cum >= 2**63 or new_cum < 0:
            raise ValueError(
                f"pack_by_shard: cumulative token offset for shard "
                f"{key} would overflow int64 state "
                f"(cum={cum} + batch_total={total}) — re-shard with a "
                f"larger n_shards or reset the packing checkpoint"
            )
        ends = toks.cumsum()
        starts = cum + (ends - toks)
        cum = new_cum
        state.update((cum,))
        yield pd.DataFrame(
            {
                pdf.columns[1]: pdf.iloc[:, 1].to_numpy(),
                "shard": pdf.iloc[:, 0].to_numpy(),
                "start_offset": starts,
                "seq_in_shard": starts // budget,
            }
        )

    return update


def pack_by_shard(
    stream: DataFrame,
    id_col: str,
    token_count_col: str,
    *,
    budget: int,
    n_shards: int = 256,
) -> DataFrame:
    """Per-shard streaming packing assignments: (id, shard,
    start_offset, seq_in_shard) per arriving document — the batch
    operator's output schema, offsets continuing across micro-batches
    from O(1)-per-shard state."""
    if int(budget) < 1:
        raise ValueError(f"budget must be a positive integer, got {budget}")
    h = md5_long(F.col(id_col).cast("string"))
    src = stream.select(
        (h % n_shards).cast("int").alias("shard"),
        F.col(id_col),
        h.alias("_h"),
        F.col(token_count_col).cast("long").alias("_n_tok"),
    ).filter(F.col(id_col).isNotNull() & F.col("_n_tok").isNotNull())
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("shard", T.IntegerType()),
            T.StructField("start_offset", T.LongType()),
            T.StructField("seq_in_shard", T.LongType()),
        ]
    )
    return src.groupBy("shard").applyInPandasWithState(
        pack_stateful_func(budget),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_pack(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    id_col: str,
    token_count_col: str,
    budget: int,
    n_shards: int = 256,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source → stateful packing assignments → parquet append
    sink."""
    return run_file_stream(
        spark,
        source_path,
        lambda stream: pack_by_shard(
            stream, id_col, token_count_col, budget=budget, n_shards=n_shards
        ),
        sink_path=out_path,
        checkpoint_path=checkpoint_path,
        max_files_per_trigger=max_files_per_trigger,
    )
