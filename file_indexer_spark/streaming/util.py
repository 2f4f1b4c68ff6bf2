"""Shared streaming test/drain plumbing."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet_stream(
    spark: SparkSession,
    src: str,
    schema: T.StructType | str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """A parquet file-source stream over ``src`` with a fixed schema,
    at most ``max_files_per_trigger`` arrival files per micro-batch."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src)
    )


def drain_foreach_batch(
    stream: DataFrame,
    fold: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Run ``fold(batch, batch_id)`` on every non-empty micro-batch of
    ``stream`` until the currently available input is drained, then
    stop (availableNow). Returns the finished query."""

    def each(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            fold(batch, int(batch_id))

    query = (
        stream.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_to_memory_sink(
    stream_df: DataFrame, table_name: str, output_mode: str = "append"
):
    """Drain everything currently available into an in-memory table and
    stop — the deterministic harness every streaming gate uses (ONE
    definition; the per-module helpers delegate here so sink behavior
    can't drift between gates). Returns the finished query."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
