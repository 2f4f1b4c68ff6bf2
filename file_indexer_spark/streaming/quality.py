"""Streaming constraint enforcement (st18) — w19's validate-and-
quarantine gate as a ``foreachBatch`` stage in front of the MERGE.

Per micro-batch:
  1. the shared :func:`indexer.quality.classify_files` routes
     row-level violations (all four declared NOT NULL columns +
     within-batch duplicate PKs) to the quarantine parquet;
  2. the batch's surviving rows arbitrate against the STORED table per
     PK in the same deterministic total order the batch window uses
     (:func:`indexer.quality.arbitrate_incoming`): incoming winners
     upsert (the MERGE evicts the displaced stored row), displaced
     stored rows and losing arrivals append to quarantine.

Every input row lands in exactly one sink at stream end, and because
the arbitration order is total and arrival-independent, the final
(table + quarantine) state equals the one-shot batch classification
for ANY split of the feed — the property that lets the st18 gate share
w19's oracle verbatim.

At 100 TB: the per-batch cost is one map-side CASE, one PK window over
the BATCH, and one bucketed partial upsert (only touched pk_buckets
rewrite — the same exchange the MERGE itself rides); the stored-side
read is a semi-join pruned to the batch's PKs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.streaming.util import read_parquet_stream

FILES_STREAM_SCHEMA = (
    "path string, filename string, checksum string, "
    "modification_datetime timestamp, file_size long, indexed_at timestamp"
)


def read_files_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return read_parquet_stream(spark, src, FILES_STREAM_SCHEMA, max_files_per_trigger)


def ingest_quarantine_stream(
    spark: SparkSession, stream: DataFrame, state_dir: str, ckpt_dir: str
) -> None:
    """Drain ``stream`` through the classify-arbitrate-route fold.
    ``state_dir`` receives the FilesTable under ``db/`` and the
    quarantine parquet under ``quarantine/``."""
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.quality import (
        REASON_DUPLICATE_KEY,
        arbitrate_incoming,
        classify_files,
        split_valid,
    )

    table = FilesTable(spark, os.path.join(state_dir, "db"))
    table.overwrite(
        spark.createDataFrame([], FILES_STREAM_SCHEMA)
    )
    qdir = os.path.join(state_dir, "quarantine")

    def ingest(batch: DataFrame, _id: int) -> None:
        accepted, quarantined = split_valid(classify_files(batch))
        stored = table.read().join(
            accepted.select("path", "filename").distinct(),
            ["path", "filename"],
            "left_semi",
        )
        winners, displaced, losers = arbitrate_incoming(stored, accepted)
        dup = F.lit(REASON_DUPLICATE_KEY)
        quarantined.unionByName(
            displaced.withColumn("reason", dup)
        ).unionByName(losers.withColumn("reason", dup)).write.mode(
            "append"
        ).parquet(qdir)
        table.upsert(winners)

    query = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )
    query.awaitTermination()
