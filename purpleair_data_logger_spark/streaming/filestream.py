"""The one file-source stream runner every streaming mirror starts through.

Each mirror is a transform over a streaming DataFrame (the same plan its
batch twin runs) plus identical wiring: infer the schema from a static
read of the parquet directory, open the file source, apply the
transform, sink, and drain what is there with ``availableNow``. This
module owns that wiring so the mirrors only state their transform.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def run_file_stream(
    spark: SparkSession,
    source_path: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    *,
    sink_path: str | None = None,
    checkpoint_path: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    query_name: str | None = None,
    output_mode: str = "append",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """parquet directory → ``transform`` → sink, ``availableNow`` trigger.

    The sink is ``foreach_batch`` when given, else a parquet append at
    ``sink_path``, else the in-memory table ``query_name``.
    ``checkpoint_path`` is set on whichever sink runs.
    ``max_files_per_trigger`` caps the files per micro-batch; 1 forces
    one micro-batch per input file, which is how tests prove state
    survives between triggers.
    """
    reader = spark.readStream.schema(spark.read.parquet(source_path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    if transform is not None:
        stream = transform(stream)
    writer = stream.writeStream.outputMode(output_mode)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif sink_path is not None:
        writer = writer.format("parquet").option("path", sink_path)
    else:
        writer = writer.format("memory").queryName(query_name)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.trigger(availableNow=True).start()
