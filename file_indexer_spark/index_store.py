"""One store for every materialized index: table landing plus a
versioned segment store with an explicit commit protocol.

:func:`land` writes a set of named tables to ``dest/<name>`` and
returns their parquet re-reads. A per-table clustering spec
range-partitions a table on its first sort key and sorts within each
partition, so a serve-time equality or IN predicate on that key prunes
row groups (BM25 and positional postings by term, IVF-PQ codes by
inverted list). Independent tables are written as overlapped Spark
jobs (:func:`~file_indexer_spark.parallel.run_parallel`); tables that
share an unmaterialized ``localCheckpoint`` (the LSH bands and shingle
sets) must be landed with ``parallel=False`` so the checkpoint is
computed once.

:class:`IndexStore` keeps an index that grows in versions (streaming
micro-batches, maintenance appends) and is periodically compacted.

Layout under the store root::

    v{n}/<table>/      tables written by version n
    v{n}/_COMMITTED    version n's commit marker
    c{m}/<table>/      a compaction: the read set through version m
    c{m}/_COMMITTED    its commit marker

Commit protocol:

* **Markers.** A version's tables are written in any order, possibly
  concurrently. The version counts only once its marker is created
  with ``O_CREAT|O_EXCL``, after every table in it is written. A
  directory without a marker is invisible to readers and to the replay
  guard, so a crash between table writes leaves the previous state in
  place and the replay rewrites the directory. ``O_EXCL`` makes a
  second committer of the same version fail instead of committing
  twice.
* **Read set.** The newest committed compaction ``c{m}`` (if any) plus
  every committed version ``v{n}`` with ``n > m``, oldest first.
* **Table kinds.** An *append* table reads as the union of its copies
  in the read set; a *snapshot* table reads as its copy in the newest
  read-set segment that carries it. A segment need not carry every
  table (the IVF-PQ quantizer is written by version 0 only).
* **Replay guard.** Version ids strictly increase (foreachBatch batch
  ids do), so a version at or below the newest committed version or
  compaction has already been folded, or compacted away, and writing
  it again would double-count. :meth:`IndexStore.is_replay` says so;
  callers return without writing.
* **Compaction.** The read set is folded into ``c{m}``, ``m`` being the
  newest committed version, and committed with its own marker. Only
  after the marker lands are the superseded directories (every
  ``v{n}`` and ``c{k}`` with ``n, k <= m`` other than ``c{m}``)
  removed. A reader that resolved its read set before the marker uses
  the old segments; one that resolved after uses the new one; a reader
  racing the removal of a directory it resolved fails loudly instead
  of reading a torn set. A crashed compaction leaves an uncommitted
  ``c{m}`` that readers ignore and the next compaction rewrites.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.parallel import run_parallel

# Range partitions of a clustered table. At 100 TB this scales with the
# key domain: each range should hold a few row groups per key so the
# serve-time predicate prunes tightly.
RANGE_PARTITIONS = 8

MARKER = "_COMMITTED"

# table name -> sort keys; the table is range-partitioned on the first
Cluster = dict[str, tuple[str, ...]]
Tables = dict[str, DataFrame]


def land(
    spark: SparkSession,
    tables: Tables,
    dest: str,
    cluster: Cluster | None = None,
    parallel: bool = True,
) -> Tables:
    """Write each table to ``dest/<name>`` and return the re-reads."""
    return _land(spark, tables, dest, cluster, parallel, reread=True)


def _land(
    spark: SparkSession,
    tables: Tables,
    dest: str,
    cluster: Cluster | None,
    parallel: bool,
    reread: bool,
) -> dict:
    """:func:`land`; without ``reread`` it returns the written paths
    instead (a re-read resolves the parquet schema, one Spark job per
    table)."""
    cluster = cluster or {}

    def one(name: str, df: DataFrame):
        keys = cluster.get(name)
        if keys:
            df = df.repartitionByRange(RANGE_PARTITIONS, keys[0]).sortWithinPartitions(
                *keys
            )
        path = os.path.join(dest, name)
        df.write.mode("overwrite").parquet(path)
        return name, spark.read.parquet(path) if reread else path

    thunks = [lambda n=n, df=df: one(n, df) for n, df in tables.items()]
    return dict(run_parallel(thunks) if parallel else [t() for t in thunks])


def _mark(segment: str) -> None:
    os.makedirs(segment, exist_ok=True)
    os.close(os.open(os.path.join(segment, MARKER), os.O_CREAT | os.O_EXCL | os.O_WRONLY))


class IndexStore:
    """A versioned segment store rooted at ``root`` (see the module
    docstring for the layout and the commit protocol). Tables named in
    ``snapshot`` read as their newest copy; every other table is an
    append table."""

    def __init__(
        self, spark: SparkSession, root: str, snapshot: tuple[str, ...] = ()
    ) -> None:
        self.spark = spark
        self.root = root
        self.snapshot = frozenset(snapshot)

    def _marked(self, kind: str) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            int(n[1:])
            for n in os.listdir(self.root)
            if n[:1] == kind
            and n[1:].isdigit()
            and os.path.exists(os.path.join(self.root, n, MARKER))
        )

    def compacted_through(self) -> int:
        """Watermark of the newest committed compaction (-1 if none)."""
        cs = self._marked("c")
        return cs[-1] if cs else -1

    def last_version(self) -> int:
        """Newest committed version or compaction watermark (-1 if none)."""
        vs = self._marked("v")
        return max(vs[-1] if vs else -1, self.compacted_through())

    def is_replay(self, version: int) -> bool:
        return version <= self.last_version()

    def segments(self) -> list[str]:
        """The read set as segment names, oldest first."""
        m = self.compacted_through()
        head = [f"c{m}"] if m >= 0 else []
        return head + [f"v{n}" for n in self._marked("v") if n > m]

    def read_paths(self) -> dict[str, list[str]]:
        """Each table in the read set mapped to the directories a reader
        opens: every copy for an append table, the newest for a
        snapshot table."""
        found: dict[str, list[str]] = {}
        for seg in self.segments():
            seg_dir = os.path.join(self.root, seg)
            for name in sorted(os.listdir(seg_dir)):
                path = os.path.join(seg_dir, name)
                if os.path.isdir(path):
                    found.setdefault(name, []).append(path)
        return {
            name: paths[-1:] if name in self.snapshot else paths
            for name, paths in found.items()
        }

    def read(self, names: tuple[str, ...] | None = None) -> Tables:
        """The tables in the read set, or only those in ``names`` ({}
        when nothing is committed)."""
        return {
            name: self.spark.read.parquet(*paths)
            for name, paths in self.read_paths().items()
            if names is None or name in names
        }

    def write(
        self,
        version: int,
        tables: Tables,
        cluster: Cluster | None = None,
        parallel: bool = True,
    ) -> dict[str, str]:
        """Land tables into version ``version`` without committing it;
        returns the written paths. Call :meth:`commit` once every table
        of the version is written. Writing a replayed version is an
        error: callers check :meth:`is_replay` first."""
        if self.is_replay(version):
            raise ValueError(f"version {version} of {self.root} is already folded")
        dest = os.path.join(self.root, f"v{version}")
        return _land(self.spark, tables, dest, cluster, parallel, reread=False)

    def commit(self, version: int) -> None:
        _mark(os.path.join(self.root, f"v{version}"))

    def compact(
        self,
        fold: Callable[[Tables], Tables] | None = None,
        cluster: Cluster | None = None,
    ) -> int:
        """Fold the read set into one committed compaction, then remove
        the superseded directories. ``fold`` maps the read tables to the
        tables to store; by default each unclustered table is coalesced
        to one partition and clustered tables are rewritten by their
        spec. Returns the new watermark (the old one when no version
        was committed since)."""
        old = self.compacted_through()
        versions = [v for v in self._marked("v") if v > old]
        if not versions:
            return old
        m = versions[-1]
        tables = self.read()
        if fold is not None:
            tables = fold(tables)
        else:
            tables = {
                n: df if cluster and n in cluster else df.coalesce(1)
                for n, df in tables.items()
            }
        target = os.path.join(self.root, f"c{m}")
        shutil.rmtree(target, ignore_errors=True)  # an uncommitted earlier try
        _land(self.spark, tables, target, cluster, parallel=True, reread=False)
        _mark(target)
        for n in os.listdir(self.root):
            if n[:1] in "vc" and n[1:].isdigit() and int(n[1:]) <= m and n != f"c{m}":
                shutil.rmtree(os.path.join(self.root, n), ignore_errors=True)
        return m
