"""The index store's commit protocol.

The first half needs no Spark: read-set resolution over plain
directories and marker files. The second half injects a crash into one
table write of a streaming micro-batch (or of a compaction) and checks
that readers keep the pre-crash state and that a replay completes the
fold. The crash hooks ``DataFrameWriter.parquet`` and fails the write
of one named table, so it applies to any on-disk layout.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from file_indexer_spark.index_store import MARKER, IndexStore
from file_indexer_spark.tables import load_table

# ---------------------------------------------------------------- no Spark


def _segment(root, name: str, tables: tuple[str, ...], committed: bool) -> None:
    for t in tables:
        os.makedirs(os.path.join(root, name, t))
    if committed:
        open(os.path.join(root, name, MARKER), "x").close()


def _rel(store: IndexStore) -> dict[str, list[str]]:
    return {
        name: [os.path.relpath(p, store.root) for p in paths]
        for name, paths in store.read_paths().items()
    }


def test_read_set_ignores_uncommitted_versions_and_resolves_snapshots(tmp_path):
    root = str(tmp_path)
    store = IndexStore(None, root, snapshot=("snap",))
    assert store.read_paths() == {} and store.last_version() == -1
    _segment(root, "v0", ("a", "snap"), committed=True)
    _segment(root, "v1", ("a",), committed=True)
    _segment(root, "v2", ("a", "snap"), committed=False)  # torn batch
    assert store.segments() == ["v0", "v1"]
    # append: every committed copy; snapshot: the newest segment carrying it
    assert _rel(store) == {"a": ["v0/a", "v1/a"], "snap": ["v0/snap"]}
    _segment(root, "v3", ("snap",), committed=True)
    assert _rel(store) == {"a": ["v0/a", "v1/a"], "snap": ["v3/snap"]}


def test_read_set_ignores_uncommitted_compaction(tmp_path):
    root = str(tmp_path)
    store = IndexStore(None, root)
    _segment(root, "v0", ("a",), committed=True)
    _segment(root, "v1", ("a",), committed=True)
    _segment(root, "c1", ("a",), committed=False)  # crashed compaction
    assert store.segments() == ["v0", "v1"] and store.compacted_through() == -1
    open(os.path.join(root, "c1", MARKER), "x").close()
    _segment(root, "v2", ("a",), committed=True)
    # the compaction supersedes v0..v1 even before they are removed
    assert store.segments() == ["c1", "v2"]
    assert _rel(store) == {"a": ["c1/a", "v2/a"]}


def test_replay_guard_boundaries(tmp_path):
    root = str(tmp_path)
    store = IndexStore(None, root)
    assert not store.is_replay(0)
    _segment(root, "v0", ("a",), committed=False)
    assert not store.is_replay(0)  # a torn version is re-folded
    store.commit(0)
    assert store.is_replay(0) and not store.is_replay(1)
    with pytest.raises(FileExistsError):
        store.commit(0)  # a second committer of one version fails
    with pytest.raises(ValueError):
        store.write(0, {})  # a replay writes nothing
    _segment(root, "v3", ("a",), committed=True)
    _segment(root, "v5", ("a",), committed=False)
    assert store.last_version() == 3
    assert store.is_replay(2) and store.is_replay(3) and not store.is_replay(4)
    assert not store.is_replay(5)
    # a compaction watermark guards versions it absorbed even after the
    # version dirs are gone
    _segment(root, "c7", ("a",), committed=True)
    for v in ("v0", "v3", "v5"):
        os.rename(os.path.join(root, v), os.path.join(root, f"gone_{v}"))
    assert store.is_replay(7) and not store.is_replay(8)


# ---------------------------------------------------------- crash injection


class InjectedCrash(RuntimeError):
    pass


@contextmanager
def crash_on(monkeypatch, table: str):
    """Fail every parquet write whose path names ``table`` (the table's
    own directory in any layout); every other write goes through."""
    real = DataFrameWriter.parquet
    lock = threading.Lock()
    hits = []

    def parquet(self, path, *args, **kwargs):
        if table in str(path).split(os.sep):
            with lock:
                hits.append(path)
            raise InjectedCrash(path)
        return real(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        yield
    assert hits, f"no write of {table} happened"


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _lexical(spark, sf):
    from file_indexer_spark.streaming import lexical as slex

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    def view(state):
        mats = slex.load_lexical_index(spark, state)
        return (
            _rows(slex.search(spark, state)),
            mats["postings"].count(),
            tuple(mats["scalars"].first()),
        )

    return slex.ingest_batch, slex.compact_lexical_state, batches, view


def _cdc(spark, sf):
    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.streaming import ann as sann

    emb = load_table(spark, sf, "embeddings")
    up = F.lit("upsert").alias("op")
    edit = "transform(embedding, x -> CAST(1.0D - CAST(x AS DOUBLE) AS FLOAT))"
    batches = [
        emb.filter(F.col("vec_id") % 10 != 7).select("vec_id", up, "embedding", "label"),
        emb.filter(F.col("vec_id") % 10 == 7)
        .select("vec_id", up, "embedding", "label")
        .unionByName(
            emb.filter(F.col("vec_id") % 10 == 3).select(
                "vec_id", up, F.expr(edit).alias("embedding"), "label"
            )
        ),
        emb.filter(F.col("vec_id") % 10 == 5).select(
            "vec_id",
            F.lit("delete").alias("op"),
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit(None).cast("int").alias("label"),
        ),
    ]
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def view(state):
        codes = sann.load_cdc_index(spark, state)["codes"]
        return (
            _rows(sann.search_cdc(spark, state, queries)),
            _rows(codes.select("vec_id", "centroid_id")),
        )

    return sann.ingest_cdc_batch, sann.compact_cdc_state, batches, view


def _crossmodal(spark, sf):
    from file_indexer_spark.streaming import crossmodal as sxm

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "n_chars")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    def view(state):
        tables = sxm.stored_member_tables(spark, state)
        return (
            {name: df.count() for name, df in tables.items()},
            _rows(sxm.duplicate_assets_report(spark, state)),
        )

    return sxm.ingest_batch, sxm.compact_state, batches, view


def _nd_doc(prefix: str, tail: list[str] | None = None) -> str:
    words = [f"{prefix}{i}" for i in range(40)]
    if tail:
        words[-4:] = tail
    return " ".join(words)


def _neardup(spark, sf):
    from file_indexer_spark.streaming import neardup as snd

    schema = "doc_id long, text string"
    # doc 6 (last batch) is a near-dup of doc 5 (the crashed batch) only:
    # it clusters under 5 only if batch 2's signatures were indexed
    batches = [
        spark.createDataFrame([(1, _nd_doc("w"))], schema),
        spark.createDataFrame([(3, _nd_doc("z"))], schema),
        spark.createDataFrame([(5, _nd_doc("q"))], schema),
        spark.createDataFrame([(6, _nd_doc("q", ["t0", "t1", "t2", "t3"]))], schema),
    ]

    def view(state):
        return (
            _rows(snd.final_assignments(spark, state)),
            _rows(snd.ingest_decisions(spark, state)),
        )

    return snd.ingest_batch, None, batches, view


STATES = {"lexical": _lexical, "cdc": _cdc, "crossmodal": _crossmodal, "neardup": _neardup}

# (state, table whose write fails, version that crashes); the table is
# the second one each state writes in its batch
BATCH_CASES = [
    ("lexical", "doclen", 1),
    ("cdc", "codes", 1),
    ("crossmodal", "audio_members", 1),
    ("neardup", "decisions", 2),
]
COMPACTION_CASES = [
    ("lexical", "postings"),
    ("cdc", "codes"),
    ("crossmodal", "audio_members"),
]


@pytest.mark.parametrize("state_name,table,crash_v", BATCH_CASES)
def test_crash_mid_batch_keeps_readers_and_replay_completes(
    spark, sf_smoke, tmp_path, monkeypatch, state_name, table, crash_v
):
    ingest, _, batches, view = STATES[state_name](spark, sf_smoke)
    ref, state = str(tmp_path / "ref"), str(tmp_path / "state")
    for v, b in enumerate(batches):
        ingest(spark, b, ref, v)
    for v, b in enumerate(batches[:crash_v]):
        ingest(spark, b, state, v)
    before = view(state)
    with crash_on(monkeypatch, table), pytest.raises(InjectedCrash):
        ingest(spark, batches[crash_v], state, crash_v)
    assert view(state) == before, "a torn batch is visible to readers"
    for v in range(crash_v, len(batches)):  # the replay, then the rest
        ingest(spark, batches[v], state, v)
    assert view(state) == view(ref), "the replay did not complete the fold"


@pytest.mark.parametrize("state_name,table", COMPACTION_CASES)
def test_crash_mid_compaction_keeps_readers_and_retry_completes(
    spark, sf_smoke, tmp_path, monkeypatch, state_name, table
):
    ingest, compact, batches, view = STATES[state_name](spark, sf_smoke)
    state = str(tmp_path / "state")
    for v, b in enumerate(batches):
        ingest(spark, b, state, v)
    before = view(state)
    with crash_on(monkeypatch, table), pytest.raises(InjectedCrash):
        compact(spark, state)
    assert view(state) == before, "a torn compaction is visible to readers"
    assert compact(spark, state) == len(batches) - 1
    assert view(state) == before
