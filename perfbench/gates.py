"""Correctness gates. Each returns a list of problems; empty = correct.

The gates take plain Python values (collected rows, response objects),
so the tests can hand them corrupted copies.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from gen import SERVE_NOW, Tree


def _rel(tree: Tree, path: str, filename: str) -> str:
    d = os.path.relpath(path, tree.root)
    return filename if d == "." else os.path.join(d, filename)


def _diff(label: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    extra, missing = sorted(got - want, key=str)[:3], sorted(want - got, key=str)[:3]
    return [f"{label}: {len(got - want)} unexpected (e.g. {extra}), {len(want - got)} missing (e.g. {missing})"]


def tree_rows(tree: Tree, rows) -> list[str]:
    """Table (path, filename, file_size) rows equal the model's."""
    return _diff("rows", {(r[0], r[1], r[2]) for r in rows}, tree.expected_rows())


def duplicate_report(tree: Tree, groups) -> list[str]:
    """Rows of ``duplicate_groups_nested``: one per planted group, each
    listing exactly the group's files, with consistent counts."""
    problems, got = [], set()
    for g in groups:
        members = frozenset(_rel(tree, m["path"], m["filename"]) for m in g["files"])
        got.add(members)
        if g["file_count"] != len(members) or g["wasted_space"] != g["file_size"] * (len(members) - 1):
            problems.append(f"group {g['checksum'][:12]}: inconsistent count or wasted_space")
    return problems + _diff("duplicate groups", got, tree.duplicate_groups())


def cold_index(tree: Tree, stats, checksummed_rows) -> list[str]:
    """A fresh two-phase index of the generated tree: scan counters
    match the generator, exactly the colliding non-empty files were
    hashed, and each stored checksum is sha256 of the planted bytes."""
    problems = []
    want = {
        "files_found": len(tree.files),
        "symlinks_skipped": len(tree.symlinks),
        "special_files_skipped": len(tree.fifos),
        "scan_errors": 0,
        "hash_errors": 0,
    }
    for key, value in want.items():
        if stats.extra.get(key) != value:
            problems.append(f"{key}: got {stats.extra.get(key)}, want {value}")
    if stats.files_inserted != len(tree.files):
        problems.append(f"files_inserted: got {stats.files_inserted}, want {len(tree.files)}")
    colliding = tree.colliding()
    if stats.checksums_calculated != len(colliding):
        problems.append(f"checksums_calculated: got {stats.checksums_calculated}, want {len(colliding)}")
    got = {(_rel(tree, r[0], r[1]), r[2]) for r in checksummed_rows}
    return problems + _diff("checksums", got, set(tree.checksums(colliding).items()))


# -- serving oracle ----------------------------------------------------
def _where(filename=None, path=None, min_size=None, max_size=None,
           after=None, before=None, has_checksum=None) -> tuple[str, list]:
    conds, params = [], []
    for cond, value in (
        ("filename LIKE ?", filename),
        ("path LIKE ?", path),
        ("file_size >= ?", min_size),
        ("file_size <= ?", max_size),
        ("modification_datetime >= ?", after),
        ("modification_datetime <= ?", before),
    ):
        if value is not None:
            conds.append(cond)
            params.append(value)
    if has_checksum is not None:
        conds.append("checksum IS NOT NULL" if has_checksum else "checksum IS NULL")
    return (" WHERE " + " AND ".join(conds)) if conds else "", params


class ServeOracle:
    """The serving requests re-stated in DuckDB SQL over the generated
    rows (a pandas frame, never the Spark table)."""

    COLS = ["path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at"]

    def __init__(self, rows: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("files", rows)

    def close(self) -> None:
        self.con.close()

    def _all(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def search(self, req) -> dict:
        where, params = _where(req.filename_pattern, req.path_pattern, req.min_file_size,
                               req.max_file_size, req.modified_after, req.modified_before,
                               req.has_checksum)
        total = self._all(f"SELECT count(*) FROM files{where}", params)[0][0]
        rows = self._all(
            f"SELECT {', '.join(self.COLS)} FROM files{where} ORDER BY path, filename LIMIT ? OFFSET ?",
            params + [req.limit, req.offset],
        )
        return {"rows": rows, "total_count": total, "has_more": req.offset + len(rows) < total}

    def duplicates(self, req) -> dict:
        where, params = _where(min_size=req.min_file_size, max_size=req.max_file_size, has_checksum=True)
        scope = f"SELECT * FROM files{where}"
        if req.filename_pattern is not None or req.path_pattern is not None:
            # pattern scoping: every copy of a checksum some in-range file matching the pattern has
            pat_where, pat_params = _where(req.filename_pattern, req.path_pattern)
            scope = (f"SELECT * FROM files WHERE checksum IS NOT NULL AND checksum IN "
                     f"(SELECT DISTINCT checksum FROM ({scope}){pat_where})")
            params = params + pat_params
        groups = self._all(
            f"""SELECT checksum, file_size, count(*) AS n,
                       list((path, filename) ORDER BY path, filename),
                       file_size * (count(*) - 1) AS wasted
                FROM ({scope}) GROUP BY checksum, file_size HAVING count(*) >= ?
                ORDER BY n DESC, file_size DESC, checksum""",
            params + [req.min_group_size],
        )
        page = groups[req.offset : req.offset + req.limit]
        return {
            "groups": [(c, s, n, [tuple(m) for m in files], w) for c, s, n, files, w in page],
            "total_groups": len(groups),
            "total_wasted_space": sum(g[4] for g in groups),
            "has_more": req.offset + len(page) < len(groups),
        }

    def stats(self) -> dict:
        row = self._all(
            """SELECT count(*), coalesce(sum(file_size), 0), count(checksum),
                      count(*) - count(checksum), avg(file_size), max(file_size), min(file_size),
                      max(modification_datetime), min(modification_datetime),
                      count(DISTINCT path), count(DISTINCT checksum)
               FROM files"""
        )[0]
        dup = self._all(
            """SELECT count(*), coalesce(sum(n), 0) FROM
               (SELECT count(*) AS n FROM files WHERE checksum IS NOT NULL GROUP BY checksum HAVING count(*) > 1)"""
        )[0]
        keys = ["total_files", "total_size", "files_with_checksums", "files_without_checksums",
                "average_file_size", "largest_file_size", "smallest_file_size",
                "most_recent_modification", "oldest_modification", "unique_directories",
                "unique_checksums", "duplicate_groups", "duplicate_files"]
        return dict(zip(keys, list(row) + list(dup)))

    def visualization(self) -> dict:
        band = """CASE WHEN file_size = 0 THEN {0} WHEN file_size < 1024 THEN {1}
                  WHEN file_size < 1048576 THEN {2} WHEN file_size < 1073741824 THEN {3} ELSE {4} END"""
        label = band.format("'0 bytes'", "'< 1KB'", "'1KB - 1MB'", "'1MB - 1GB'", "'> 1GB'")
        order = band.format(1, 2, 3, 4, 5)
        sizes = self._all(
            f"""SELECT {label} AS size_range, {order} AS sort_order, count(*), sum(file_size)
                FROM files GROUP BY 1, 2 ORDER BY 2"""
        )
        ext = """CASE WHEN filename LIKE '%.%' THEN lower(regexp_extract(filename, '\\.([^.]*)$', 1))
                 ELSE '(no extension)' END"""
        exts = self._all(
            f"""SELECT {ext} AS extension, count(*) AS n, sum(file_size), avg(file_size)
                FROM files GROUP BY 1 ORDER BY n DESC, extension LIMIT 20"""
        )
        cutoff = SERVE_NOW.replace(year=SERVE_NOW.year - 1)
        months = self._all(
            """SELECT CAST(date_trunc('month', modification_datetime) AS TIMESTAMP) AS m,
                      count(*), sum(file_size)
               FROM files WHERE modification_datetime >= ? GROUP BY 1 ORDER BY 1""",
            [cutoff],
        )
        return {
            "size_distribution": [dict(zip(["size_range", "sort_order", "count", "total_size"], r)) for r in sizes],
            "extension_stats": [dict(zip(["extension", "count", "total_size", "average_size"], r)) for r in exts],
            "modification_timeline": [
                {"month": m.isoformat(), "count": n, "total_size": s} for m, n, s in months
            ],
        }


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9)
    return a == b


def _same_dicts(label: str, got: list[dict], want: list[dict]) -> list[str]:
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, want {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        bad = [k for k in w if not _same(g.get(k), w[k])]
        if bad:
            return [f"{label}[{i}]: {bad[0]} got {g.get(bad[0])!r}, want {w[bad[0]]!r}"]
    return []


def serve_response(kind: str, resp, want) -> list[str]:
    """Compare a FileIndexService response with the oracle's answer."""
    if kind == "search":
        got = [tuple(r[c] for c in ServeOracle.COLS) for r in resp.rows]
        problems = [] if got == want["rows"] else [f"search page differs ({len(got)} vs {len(want['rows'])} rows)"]
        for key in ("total_count", "has_more"):
            if getattr(resp, key) != want[key]:
                problems.append(f"search {key}: got {getattr(resp, key)}, want {want[key]}")
        return problems
    if kind == "duplicates":
        got = [(g["checksum"], g["file_size"], g["file_count"],
                [(m["path"], m["filename"]) for m in g["files"]], g["wasted_space"]) for g in resp.groups]
        problems = [] if got == want["groups"] else [f"duplicates page differs ({len(got)} vs {len(want['groups'])} groups)"]
        for key in ("total_groups", "total_wasted_space", "has_more"):
            if getattr(resp, key) != want[key]:
                problems.append(f"duplicates {key}: got {getattr(resp, key)}, want {want[key]}")
        return problems
    if kind == "stats":
        return _same_dicts("stats", [resp], [want])
    problems = []
    for key in ("size_distribution", "extension_stats", "modification_timeline"):
        problems += _same_dicts(key, resp[key], want[key])
    return problems
