"""Seeded input generators with ground truth.

Three inputs, each a pure function of the seed:

* ``make_tree`` writes a directory tree and returns a :class:`Tree`
  model of it: every regular file's size, content and planted
  duplicate group, plus the empty files, symlinks and FIFOs it holds.
  Files whose size is unique are written sparse (``truncate``), so
  their bytes cost no disk; only files in a colliding-size class carry
  real bytes, and only those are ever hashed.
* ``churn`` mutates a tree in place, deterministically per
  (seed, round): grown files, new files, deletions and one leaf
  directory removed. The model is updated with the tree.
* ``files_rows`` builds a ``files``-table frame (see its docstring for
  the distribution) for the serving workload; no files exist on disk.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

EXTENSIONS = ["txt", "py", "jpg", "png", "log", "json", "csv", "pdf", "mp4", "md"]
# sizes of files that may collide are drawn below this bound and carry
# real bytes; unique sizes are drawn above it and are written sparse
COLLIDE_MAX = 32 * 1024
UNIQUE_MAX = 64 * 1024 * 1024
MAX_DEPTH = 6  # directory levels below the root
COLLIDE_FRAC = 0.05  # files in colliding-size classes: the reference's published shape
CHURN_FRAC = 0.01  # files mutated per churn round
BASE_MTIME = 1_700_000_000  # 2023-11-14, seconds


@dataclass
class FileRec:
    size: int
    content: int | None  # content id; None = sparse (all zero, unique size)
    mtime: int  # seconds since the epoch


@dataclass
class Tree:
    """Model of a generated tree; paths are relative to ``root``."""

    root: str
    seed: int
    dirs: list[str]
    files: dict[str, FileRec]
    symlinks: dict[str, str] = field(default_factory=dict)  # link -> target
    fifos: set[str] = field(default_factory=set)
    next_id: int = 0  # next file / content id for churn

    def content_bytes(self, content: int, size: int) -> bytes:
        return random.Random(f"{self.seed}:content:{content}").randbytes(size)

    def expected_rows(self) -> set[tuple[str, str, int]]:
        """(path, filename, file_size) rows the files table must hold."""
        out = set()
        for rel, rec in self.files.items():
            d, name = os.path.split(rel)
            out.add((os.path.join(self.root, d) if d else self.root, name, rec.size))
        return out

    def colliding(self) -> set[str]:
        """Non-empty files whose size another non-empty file shares:
        exactly the files a two-phase index hashes."""
        by_size: dict[int, int] = {}
        for rec in self.files.values():
            if rec.size:
                by_size[rec.size] = by_size.get(rec.size, 0) + 1
        return {rel for rel, rec in self.files.items() if rec.size and by_size[rec.size] > 1}

    def duplicate_groups(self) -> set[frozenset[str]]:
        """Planted duplicate groups: >= 2 non-empty files, same bytes."""
        by_content: dict[int, set[str]] = {}
        for rel, rec in self.files.items():
            if rec.size and rec.content is not None:
                by_content.setdefault(rec.content, set()).add(rel)
        return {frozenset(m) for m in by_content.values() if len(m) > 1}

    def checksums(self, rels) -> dict[str, str]:
        """sha256 of the planted bytes, from the generator's own copy."""
        out = {}
        for rel in rels:
            rec = self.files[rel]
            data = self.content_bytes(rec.content, rec.size) if rec.content is not None else bytes(rec.size)
            out[rel] = hashlib.sha256(data).hexdigest()
        return out

    def digest(self) -> str:
        """Digest of the model (names, kinds, sizes, contents, mtimes)."""
        h = hashlib.sha256()
        for rel in sorted(self.files):
            r = self.files[rel]
            h.update(f"f|{rel}|{r.size}|{r.content}|{r.mtime}\n".encode())
        for rel in sorted(self.symlinks):
            h.update(f"l|{rel}|{self.symlinks[rel]}\n".encode())
        for rel in sorted(self.fifos):
            h.update(f"p|{rel}\n".encode())
        return h.hexdigest()

    def disk_digest(self) -> str:
        """The same digest computed from what is on disk."""
        files, links, fifos = {}, {}, set()
        for dirpath, dirnames, names in os.walk(self.root):
            for n in names + [d for d in dirnames if os.path.islink(os.path.join(dirpath, d))]:
                full = os.path.join(dirpath, n)
                rel = os.path.relpath(full, self.root)
                if os.path.islink(full):
                    links[rel] = os.readlink(full)
                elif not os.path.isfile(full):
                    fifos.add(rel)
                else:
                    files[rel] = full
        h = hashlib.sha256()
        for rel in sorted(files):
            st = os.stat(files[rel])
            rec = self.files.get(rel)
            with open(files[rel], "rb") as fh:
                data = fh.read()
            ok = rec is not None and (
                data == (self.content_bytes(rec.content, rec.size) if rec.content is not None else bytes(rec.size))
            )
            content = rec.content if ok else "?"
            h.update(f"f|{rel}|{st.st_size}|{content}|{int(st.st_mtime)}\n".encode())
        for rel in sorted(links):
            h.update(f"l|{rel}|{links[rel]}\n".encode())
        for rel in sorted(fifos):
            h.update(f"p|{rel}\n".encode())
        return h.hexdigest()

    # -- writing -------------------------------------------------------
    def _write(self, rel: str, rec: FileRec) -> None:
        full = os.path.join(self.root, rel)
        with open(full, "wb") as fh:
            if rec.content is None:
                fh.truncate(rec.size)
            else:
                fh.write(self.content_bytes(rec.content, rec.size))
        os.utime(full, (rec.mtime, rec.mtime))


def _dirs(rng: random.Random, n_dirs: int) -> list[str]:
    dirs, depth = [""], {"": 0}
    for i in range(1, n_dirs):
        parent = rng.choice(dirs)
        while depth[parent] >= MAX_DEPTH:
            parent = os.path.dirname(parent)
        rel = os.path.join(parent, f"d{i:05d}") if parent else f"d{i:05d}"
        dirs.append(rel)
        depth[rel] = depth[parent] + 1
    return dirs


def make_tree(
    root: str,
    seed: int,
    n_files: int,
    n_dirs: int,
    n_empty: int = 8,
    n_symlinks: int = 8,
    n_fifos: int = 4,
) -> Tree:
    """Write the tree under ``root`` (created; must not exist).

    ``round(COLLIDE_FRAC * n_files)`` files fall in colliding-size
    classes of 2-3 files. Classes alternate between all-identical
    (planted duplicates) and all-different (same-size decoys), so about
    half the colliding files are true duplicates. ``n_empty`` files are
    empty; they share size 0 but are never hashed.
    """
    rng = random.Random(f"{seed}:tree")
    dirs = _dirs(rng, n_dirs)
    n_collide = round(COLLIDE_FRAC * n_files)
    n_unique = n_files - n_collide - n_empty
    classes, left = [], n_collide
    while left:
        k = min(left, rng.choice((2, 3)))
        if left - k == 1:
            k += 1
        classes.append(k)
        left -= k
    class_sizes = rng.sample(range(1, COLLIDE_MAX), len(classes))
    recs: list[FileRec] = []
    content = 0
    for i, (k, size) in enumerate(zip(classes, class_sizes)):
        for j in range(k):
            recs.append(FileRec(size, content if i % 2 == 0 else content + j, 0))
        content += k
    used = set()
    while len(used) < n_unique:
        used.add(int(COLLIDE_MAX * (UNIQUE_MAX / COLLIDE_MAX) ** rng.random()) + 1)
    recs += [FileRec(size, None, 0) for size in sorted(used)]
    recs += [FileRec(0, None, 0) for _ in range(n_empty)]
    rng.shuffle(recs)
    tree = Tree(os.path.abspath(root), seed, dirs, {}, next_id=max(n_files, content))
    for i, rec in enumerate(recs):
        rec.mtime = BASE_MTIME + rng.randrange(365 * 86400)
        d = rng.choice(dirs)
        name = f"f{i:06d}.{rng.choice(EXTENSIONS)}"
        tree.files[os.path.join(d, name) if d else name] = rec
    os.makedirs(tree.root)
    for d in dirs[1:]:
        os.makedirs(os.path.join(tree.root, d))
    for rel, rec in tree.files.items():
        tree._write(rel, rec)
    names = sorted(tree.files)
    for i in range(n_symlinks):
        d = rng.choice(dirs)
        rel = os.path.join(d, f"l{i:03d}.lnk") if d else f"l{i:03d}.lnk"
        target = os.path.relpath(os.path.join(tree.root, rng.choice(names)), os.path.join(tree.root, d))
        os.symlink(target, os.path.join(tree.root, rel))
        tree.symlinks[rel] = target
    for i in range(n_fifos):
        d = rng.choice(dirs)
        rel = os.path.join(d, f"p{i:03d}.fifo") if d else f"p{i:03d}.fifo"
        os.mkfifo(os.path.join(tree.root, rel))
        tree.fifos.add(rel)
    return tree


def churn(tree: Tree, round_no: int) -> dict[str, int]:
    """Mutate ~``CHURN_FRAC`` of the tree's files, deterministically per
    (seed, round) given the tree: a third grown (rewritten larger, so
    size and mtime change), a third deleted, and as many new files created, every
    other one with a size that collides with a file holding real bytes.
    One leaf directory is removed too. Returns the mutation counts."""
    rng = random.Random(f"{tree.seed}:churn:{round_no}")
    mtime = BASE_MTIME + 400 * 86400 + round_no * 60
    k = max(4, round(CHURN_FRAC * len(tree.files)))
    sizes = {rec.size for rec in tree.files.values()}
    names = sorted(tree.files)
    picked = rng.sample(names, min(len(names), k))
    counts = {"grown": 0, "created": 0, "deleted": 0, "dirs_removed": 0}
    for rel in picked[: k // 3]:  # grow: size and mtime change, no new collision
        rec = tree.files[rel]
        grow = rng.randrange(1, 4096)
        while rec.size + grow in sizes:
            grow += 1
        if rec.content is not None:
            tree.next_id += 1
            rec.content = tree.next_id
        rec.size += grow
        rec.mtime = mtime
        sizes.add(rec.size)
        tree._write(rel, rec)
        counts["grown"] += 1
    for rel in picked[k // 3 : 2 * k // 3]:  # delete
        os.remove(os.path.join(tree.root, rel))
        del tree.files[rel]
        counts["deleted"] += 1
    small = sorted({rec.size for rec in tree.files.values() if 0 < rec.size < COLLIDE_MAX})
    for _ in range(k - 2 * (k // 3)):  # create; every other one collides
        tree.next_id += 1
        d = rng.choice(tree.dirs)
        name = f"n{tree.next_id:07d}.{rng.choice(EXTENSIONS)}"
        rel = os.path.join(d, name) if d else name
        if counts["created"] % 2 == 0 and small:
            rec = FileRec(rng.choice(small), tree.next_id, mtime)
        else:
            size = rng.randrange(COLLIDE_MAX, UNIQUE_MAX)
            while size in sizes:
                size += 1
            rec = FileRec(size, None, mtime)
        sizes.add(rec.size)
        tree.files[rel] = rec
        tree._write(rel, rec)
        counts["created"] += 1
    parents = {os.path.dirname(d) for d in tree.dirs}
    leaves = [d for d in tree.dirs[1:] if d not in parents]
    if leaves:  # every round also removes one leaf directory, files and all
        victim = rng.choice(leaves)
        shutil.rmtree(os.path.join(tree.root, victim))
        tree.dirs.remove(victim)
        under = victim + os.sep
        for table in (tree.files, tree.symlinks):
            for rel in [r for r in table if r.startswith(under)]:
                del table[rel]
        tree.fifos = {r for r in tree.fifos if not r.startswith(under)}
        counts["dirs_removed"] += 1
    return counts


# -- serving rows ------------------------------------------------------
SERVE_NOW = datetime(2025, 6, 1)  # matches the engine's fixed timeline "now"
SERVE_WORDS = ["data", "src", "home", "media", "proj", "logs", "tmp", "docs", "img", "lib", "build", "cache"]
SERVE_EXT = ["jpg", "txt", "py", "log", "png", "pdf", "json", "csv", "mp4", "gz", "md", "html"]
SERVE_EXT_P = [0.20, 0.15, 0.12, 0.10, 0.08, 0.07, 0.06, 0.05, 0.04, 0.03, 0.02, 0.02]  # rest: no extension


def files_rows(seed: int, n_rows: int) -> pd.DataFrame:
    """A ``files`` frame of ``n_rows`` rows, shaped like the table a
    two-phase index leaves behind (the tree's shape, ``COLLIDE_FRAC``):

    * paths: n_rows / 20 directories, each ``/`` + 2-8 components; a
      component is a word from ``SERVE_WORDS`` plus a 0-99 suffix. Rows
      pick a directory with a Zipf(1.3)-weighted rank, so a few
      directories are large.
    * filename ``file<row>[.ext]``: the extension follows
      ``SERVE_EXT_P`` (4 % have none).
    * file_size: lognormal(median 16 KiB, sigma 2.5), at least 1 B, then
      made distinct by lifting each size to at least one more than the
      next smaller one (this lifts the small end: the median is about
      48 KiB at 100k rows); 1 % of rows are then set to 0 (empty files,
      never hashed).
    * modification_datetime: uniform over the 3 years before
      2025-06-01, at whole microseconds; indexed_at = 2025-06-01.
    * checksum: only rows whose size another row shares are hashed, so
      ``COLLIDE_FRAC`` of the rows carry one and every other non-empty
      size is unique. Half of the hashed rows sit in duplicate groups
      whose sizes are Zipf(2)-distributed in 2..200 (members share size
      and checksum); the other half are same-size decoys in classes of
      2-3 rows, each with its own checksum. The rest are NULL.
    """
    rng = np.random.default_rng(seed)
    n_dirs = max(1, n_rows // 20)
    depth = rng.integers(2, 9, n_dirs)
    words = rng.integers(0, len(SERVE_WORDS), (n_dirs, 8))
    suffix = rng.integers(0, 100, (n_dirs, 8))
    dir_names = np.array(
        ["/" + "/".join(f"{SERVE_WORDS[words[i, j]]}{suffix[i, j]}" for j in range(depth[i])) + f"/u{i}" for i in range(n_dirs)],
        dtype=object,
    )
    weights = 1.0 / np.arange(1, n_dirs + 1) ** 1.3
    dir_idx = rng.choice(n_dirs, n_rows, p=weights / weights.sum())
    ext_p = np.array(SERVE_EXT_P + [1.0 - sum(SERVE_EXT_P)])
    ext = np.array([f".{e}" for e in SERVE_EXT] + [""], dtype=object)[rng.choice(len(ext_p), n_rows, p=ext_p)]
    filename = np.array([f"file{i}{e}" for i, e in enumerate(ext)], dtype=object)
    size = np.maximum(1, np.floor(np.exp(rng.normal(np.log(16384), 2.5, n_rows)))).astype(np.int64)
    # distinct sizes, order kept: the i-th smallest is at least one more than the one before
    by_size = np.argsort(size, kind="stable")
    steps = np.arange(n_rows)
    size[by_size] = np.maximum.accumulate(size[by_size] - steps) + steps
    size[rng.random(n_rows) < 0.01] = 0
    span_us = 3 * 365 * 86400 * 10**6
    start = np.datetime64(SERVE_NOW - timedelta(days=3 * 365), "us")
    mtime = start + rng.integers(0, span_us, n_rows).astype("timedelta64[us]")

    checksum = np.full(n_rows, None, dtype=object)
    order = rng.permutation(np.flatnonzero(size))
    n_hashed = round(COLLIDE_FRAC * n_rows)
    n_dup = n_hashed // 2
    pos = group = 0
    while pos < n_hashed:
        dup = pos < n_dup
        cap = (n_dup if dup else n_hashed) - pos
        k = int(min(200, max(2, rng.zipf(2.0) + 1))) if dup else int(rng.integers(2, 4))
        k = min(k, cap)
        if cap - k == 1:
            k += 1
        members = order[pos : pos + k]
        size[members] = size[members[0]]
        if dup:
            checksum[members] = f"{seed:08x}d{group:055x}"
        else:
            checksum[members] = [f"{seed:08x}u{group:050x}{j:05x}" for j in range(k)]
        pos += k
        group += 1
    return pd.DataFrame(
        {
            "path": dir_names[dir_idx],
            "filename": filename,
            "checksum": checksum,
            "modification_datetime": mtime,
            "file_size": size,
            "indexed_at": np.full(n_rows, np.datetime64(SERVE_NOW, "us")),
        }
    )
