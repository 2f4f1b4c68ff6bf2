"""Streaming ANN index ingestion (sim13) — the st13 of the ANN family.

A 100 TB vector corpus is not indexed once; it is INGESTED. The
production loop is FAISS's ``train()``-then-``add()`` run from a
stream: the quantizer (IVF centroids + PQ codebook) is trained on the
bootstrap corpus and then FROZEN, and every arriving embedding batch
is assigned + encoded against it and appended to the coded corpus —
nothing already indexed is ever touched, and the serving path
(:func:`~file_indexer_spark.operators.similarity.ivfpq_topk_from_index`,
sim11) keeps answering from the stored narrow tables mid-ingest.

Driven from ``foreachBatch`` over the batch maintenance operators this
repo already gates:

  * the STATE is the materialized IVF-PQ index of
    :func:`~file_indexer_spark.operators.similarity.ivfpq_index_tables`
    kept in an :class:`~file_indexer_spark.index_store.IndexStore`
    (layout, commit markers and the replay guard are documented
    there): the broadcast-sized ``centroids`` / ``codebook`` / ``meta``
    are snapshot tables written once by the bootstrap version, the
    coded corpus an append table written by every version;
  * each micro-batch runs
    :func:`~file_indexer_spark.operators.similarity.ivfpq_encode_batch`
    (sim12's encode leg): one broadcast assignment pass + one broadcast
    codebook encode over the BATCH only — O(batch), never O(corpus);
  * serving reads the store's read set: every live code segment +
    the frozen quantizer.

Exactness: encode-under-frozen-quantizer is exactly sim12's
``ivfpq_append`` contract (hash-gated against the composed DuckDB
oracle with the quantizer CTEs filtered to the base slice), so by
induction over micro-batches the drained index equals one bootstrap
build plus one big ``add()`` — the sim13 registry gate drains a
3-arrival stream and hash-checks the final search results against the
same oracle family, quantizer filtered to the FIRST arrival slice.

State at scale: codes are ~(M + id) bytes per vector of append-only
parquet; centroids/codebook/meta are broadcast-sized and immutable
after bootstrap. Re-training the quantizer (index rebuild after drift)
is a batch job — sim11's build — swapped in by pointing serving at the
new state dir; the stream itself never retrains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from file_indexer_spark.index_store import IndexStore
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.streaming.util import drain_foreach_batch, read_parquet_stream

EMB_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

_QUANTIZER_TABLES = ("centroids", "codebook", "meta")


def _store(spark: SparkSession, state_dir: str) -> IndexStore:
    return IndexStore(spark, state_dir, snapshot=_QUANTIZER_TABLES)


def read_embeddings_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return read_parquet_stream(spark, src, EMB_STREAM_SCHEMA, max_files_per_trigger)


def compact_state(spark: SparkSession, state_dir: str) -> int:
    """Small-files maintenance for a long-running ingest (w10's
    OPTIMIZE applied to the streamed index): fold the live code
    segments into ONE compacted code table. Serving stays consistent
    throughout; run from the maintenance cadence, not the hot fold.
    Returns the new compaction watermark."""
    return _store(spark, state_dir).compact()


def load_index(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """The stored index as serving-ready frames: the frozen quantizer
    tables + every live code segment (sim11's serve path runs on this
    dict unchanged, mid-ingest, after drain, or across compactions)."""
    index = _store(spark, state_dir).read()
    if not index:
        raise ValueError(f"no ANN index state at {state_dir}")
    return index


def ingest_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, version: int
) -> None:
    """Fold ONE embedding micro-batch into the ANN index at
    ``state_dir``. The first batch BOOTSTRAPS: it trains the quantizer
    (label-rep centroids + md5-seeded codebook — sim10's build) and
    writes the frozen tables; every later batch encodes against them
    (:func:`~file_indexer_spark.operators.similarity.ivfpq_encode_batch`)
    and appends only its own coded rows. A replayed version
    (foreachBatch's at-least-once contract) is skipped."""
    store = _store(spark, state_dir)
    last = store.last_version()
    if version <= last:
        return  # replayed micro-batch
    if last < 0:
        tables = sim.ivfpq_index_tables(batch)
    else:
        stored = store.read(_QUANTIZER_TABLES)
        tables = {"codes": sim.ivfpq_encode_batch(stored, batch)}
    store.write(version, tables)
    store.commit(version)


def ingest_ann_stream(
    spark: SparkSession,
    emb_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Drain an embedding stream through :func:`ingest_batch`."""
    return drain_foreach_batch(
        emb_stream, lambda b, v: ingest_batch(spark, b, state_dir, v), checkpoint_dir
    )


def search(
    spark: SparkSession, state_dir: str, queries: DataFrame, **kwargs
) -> DataFrame:
    """Answer a (query_id, embedding) batch from the stored index —
    sim11's serving path over the streamed-in state; valid mid-ingest
    (it sees every committed version) and after drain."""
    return sim.ivfpq_topk_from_index(load_index(spark, state_dir), queries, **kwargs)


# ------------------------------------------------------------- st19
# CDC APPLY onto the dense index — the sim17 tombstone-segment fold
# run from a change stream. A feed row is (vec_id, op, embedding):
# op='upsert' re-embeds-or-adds the id, op='delete' retires it.
# Within one micro-batch ids are unique (upstream CDC log compaction —
# the standard change-feed contract); across batches LAST WRITE WINS
# by micro-batch order.
#
# Each version n adds two append tables to the sim13 store:
#   codes — the batch's delta codes, tagged cdc_v = n
#   tombs — (vec_id, cdc_v=n): ids the batch superseded/deleted
# Mask rule: a code row (vec_id, cdc_v=v) is DEAD iff some tombstone
# for vec_id has tv > v — so a batch's own upsert survives its own
# tombstone (v == tv), older versions die, and a later delete kills
# everything before it. load_cdc_index folds the rule into sim11's
# serving dict; compact_cdc_state (sim18's discipline) stores the
# survivors and drops the mask. Survivors keep their tags: every later
# tombstone is newer than all of them, so the rule still holds.

CDC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)


def read_cdc_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return read_parquet_stream(spark, src, CDC_STREAM_SCHEMA, max_files_per_trigger)


def ingest_cdc_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, version: int
) -> None:
    """Fold ONE change micro-batch. The first batch BOOTSTRAPS (all
    rows must be upserts: it trains and freezes the quantizer — the
    sim13 contract); later batches encode their upserts against the
    frozen tables (sim12's leg, O(batch)) and land one tombstone set
    covering every touched id, committed together with the codes. A
    replayed version is skipped."""
    store = _store(spark, state_dir)
    last = store.last_version()
    if version <= last:
        return  # replayed micro-batch
    ups = batch.filter(F.col("op") == "upsert").drop("op")
    tag = F.lit(version).cast("long")
    if last < 0:
        tables = sim.ivfpq_index_tables(ups)
    else:
        stored = store.read(_QUANTIZER_TABLES)
        tables = {
            "codes": sim.ivfpq_encode_batch(stored, ups),
            "tombs": batch.select("vec_id").distinct().withColumn("cdc_v", tag),
        }
    tables["codes"] = tables["codes"].withColumn("cdc_v", tag)
    store.write(version, tables)
    store.commit(version)


def ingest_cdc_stream(
    spark: SparkSession,
    cdc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Drain a change stream through :func:`ingest_cdc_batch`."""
    return drain_foreach_batch(
        cdc_stream,
        lambda b, v: ingest_cdc_batch(spark, b, state_dir, v),
        checkpoint_dir,
    )


def _masked_codes(tables: dict[str, DataFrame]) -> DataFrame:
    """The live codes (cdc_v kept) after the tombstone mask rule."""
    codes = tables["codes"]
    if "tombs" not in tables:
        return codes
    tv = tables["tombs"].groupBy("vec_id").agg(F.max("cdc_v").alias("tv"))
    return (
        codes.join(F.broadcast(tv), "vec_id", "left")
        .filter(F.col("tv").isNull() | (F.col("cdc_v") >= F.col("tv")))
        .drop("tv")
    )


def load_cdc_index(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """The CDC state as a serving-ready index dict: quantizer tables +
    the mask-folded effective codes (last write wins). sim11's serve
    path runs on this unchanged — mid-ingest or after drain."""
    tables = load_index(spark, state_dir)
    index = {name: tables[name] for name in _QUANTIZER_TABLES}
    index["codes"] = _masked_codes(tables).drop("cdc_v")
    return index


def compact_cdc_state(spark: SparkSession, state_dir: str) -> int:
    """sim18's fold on the streamed state: store the mask-folded
    survivors as ONE code table; the absorbed tombstones are not
    carried into the compaction. Returns the new watermark."""

    def fold(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
        kept = {name: tables[name] for name in _QUANTIZER_TABLES}
        return {**kept, "codes": _masked_codes(tables).coalesce(1)}

    return _store(spark, state_dir).compact(fold)


def search_cdc(
    spark: SparkSession, state_dir: str, queries: DataFrame, **kwargs
) -> DataFrame:
    """Answer a (query_id, embedding) batch from the CDC state —
    sim11's serving path over the mask-folded index."""
    return sim.ivfpq_topk_from_index(
        load_cdc_index(spark, state_dir), queries, **kwargs
    )
