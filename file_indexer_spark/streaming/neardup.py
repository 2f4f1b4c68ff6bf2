"""Streaming NEAR-dup dedup at ingestion (st13) — the production shape
the whole incremental family points at.

st4/st7 dedup a document stream by EXACT content hash (Spark's
``dropDuplicates`` state store); near-dup detection needs shingle
signatures and an LSH index, which no built-in stateful operator
maintains. The scalable composition is the one a 100 TB ingest
pipeline actually runs, and it is exactly the two batch maintenance
operators this repo already gates, driven from ``foreachBatch``:

  * the STATE is the materialized corpus LSH index
    (:func:`~file_indexer_spark.operators.dedup.lsh_index_tables`:
    the narrow (doc_id, band, digest) band table + the (doc_id,
    shingles) verification sets) plus the dd7 cluster ASSIGNMENT and
    the decision log, kept in an
    :class:`~file_indexer_spark.index_store.IndexStore` (layout, commit
    markers and the replay guard are documented there): the index and
    the log are append tables, the assignment a snapshot table;
  * each micro-batch PROBES the stored band index (dd12,
    ``incremental_lsh_pairs`` — O(batch x matched buckets), never
    O(corpus)), REFRESHES only the touched clusters (dd13,
    ``incremental_cluster_refresh``), appends its own signature rows
    to the index, and logs its at-ingestion keep/drop decisions;
  * a document is DROPPED at ingestion when it lands non-canonical in
    the refreshed assignment (its cluster label — always a smaller,
    i.e. earlier, doc_id under chronological ingest — is the copy the
    corpus keeps).

Exactness: dd12's probe emits exactly the full-corpus dd3 pairs with
>= 1 side in the batch, and dd13's refresh provably equals dd7
recomputed from scratch after each batch (see their docstrings), so by
induction over micro-batches the final stored assignment equals dd7 on
the whole ingested corpus — the registry gate runs a 3-arrival stream
and hash-checks the final state against dd7's own DuckDB oracle,
verbatim. Note this is strictly STRONGER than greedy drop-on-arrival
(which no oracle could pin): when a later arrival merges two clusters
that were distinct at ingestion time, the refresh re-labels the loser's
members — the decision LOG keeps the at-ingestion verdicts, the
assignment table keeps the corpus truth.

State at scale: the band index is O(corpus x bands) narrow rows
(bucketed by (band, digest) on a real lake so the probe join is
co-located); the assignment is O(corpus) narrow rows, rewritten per
batch only in its touched-cluster slice plus an anti-join passthrough
— at 100 TB the passthrough copy is the next thing to replace with a
MERGE-capable table format, which changes the write, not the algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from file_indexer_spark.index_store import IndexStore
from file_indexer_spark.operators import dedup as dd
from file_indexer_spark.streaming.util import drain_foreach_batch, read_parquet_stream

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def _store(spark: SparkSession, state_dir: str) -> IndexStore:
    return IndexStore(spark, state_dir, snapshot=("assign",))


def read_docs_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return read_parquet_stream(spark, src, DOCS_STREAM_SCHEMA, max_files_per_trigger)


def ingest_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, version: int
) -> None:
    """Fold ONE document micro-batch into the near-dup state at
    ``state_dir``: probe (dd12) → refresh (dd13) → append signatures →
    log decisions, all committed as one version. First batch
    bootstraps the state with the batch dd3 → dd7 pipeline. A replayed
    version (foreachBatch's at-least-once contract) is skipped."""
    store = _store(spark, state_dir)
    if store.is_replay(version):
        return
    stored = store.read(("bands", "shingle_sets", "assign"))
    if not stored:
        assign = dd.dedup_clusters(batch, dd.minhash_lsh_pairs(batch))
    else:
        new_pairs = dd.incremental_lsh_pairs(stored, batch)
        assign = dd.incremental_cluster_refresh(stored["assign"], new_pairs, batch)
    # at-ingestion decisions for THIS batch's docs, read back from the
    # landed assignment (no recompute)
    landed = spark.read.parquet(store.write(version, {"assign": assign})["assign"])
    decisions = landed.join(batch.select("doc_id"), "doc_id", "left_semi").select(
        F.lit(version).cast("long").alias("batch_id"),
        "doc_id",
        F.col("is_canonical").alias("accepted"),
        "cluster_id",
    )
    # bands and shingle sets share an unmaterialized checkpoint
    store.write(
        version, {"decisions": decisions, **dd.lsh_index_tables(batch)}, parallel=False
    )
    store.commit(version)


def ingest_neardup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Drain a document stream through :func:`ingest_batch`."""
    return drain_foreach_batch(
        docs_stream, lambda b, v: ingest_batch(spark, b, state_dir, v), checkpoint_dir
    )


def _read(spark: SparkSession, state_dir: str, name: str) -> DataFrame:
    tables = _store(spark, state_dir).read((name,))
    if not tables:
        raise ValueError(f"no near-dup state at {state_dir}")
    return tables[name]


def final_assignments(spark: SparkSession, state_dir: str) -> DataFrame:
    """The corpus assignment after the last folded batch — provably
    equal to dd7 recomputed from scratch over everything ingested."""
    return _read(spark, state_dir, "assign")


def ingest_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """The per-batch at-ingestion keep/drop log: (batch_id, doc_id,
    accepted, cluster_id) — what each micro-batch passed downstream.
    ``accepted`` is the verdict AT ingestion time; a later merge can
    demote an accepted doc in the assignment table without rewriting
    history here."""
    return _read(spark, state_dir, "decisions")
