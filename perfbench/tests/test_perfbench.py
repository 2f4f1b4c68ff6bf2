"""Tests of the benchmark itself: generators, gates, span arithmetic and
metric names. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import gates  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def small_tree(path, seed):
    return gen.make_tree(str(path), seed, n_files=300, n_dirs=30, n_empty=3, n_symlinks=2, n_fifos=2)


# -- generators --------------------------------------------------------
def test_same_seed_same_tree_digest(tmp_path):
    a, b = small_tree(tmp_path / "a", 7), small_tree(tmp_path / "b", 7)
    assert a.digest() == b.digest()
    assert a.disk_digest() == b.disk_digest() == a.digest()
    assert small_tree(tmp_path / "c", 8).digest() != a.digest()


def test_churn_is_deterministic_and_keeps_model_and_disk_equal(tmp_path):
    a, b = small_tree(tmp_path / "a", 3), small_tree(tmp_path / "b", 3)
    for round_no in range(1, 6):
        assert gen.churn(a, round_no) == gen.churn(b, round_no)
        assert a.digest() == b.digest()
    assert a.disk_digest() == a.digest()
    assert a.digest() != small_tree(tmp_path / "c", 3).digest()


def test_tree_plants_the_stated_shape(tmp_path):
    t = small_tree(tmp_path / "t", 5)
    assert len(t.files) == 300
    assert len(t.colliding()) == 15  # 5 % of the files
    assert sum(1 for r in t.files.values() if r.size == 0) == 3
    in_groups = sum(len(g) for g in t.duplicate_groups())
    assert 0 < in_groups < 15  # duplicates and decoys share the colliding sizes
    assert len(t.symlinks) == 2 and len(t.fifos) == 2


def test_files_rows_same_seed_same_rows():
    a, b = gen.files_rows(1, 2000), gen.files_rows(1, 2000)
    assert a.equals(b)
    assert not a.equals(gen.files_rows(2, 2000))
    hashed = a.dropna(subset=["checksum"])
    assert len(hashed) == round(gen.COLLIDE_FRAC * len(a))
    groups = hashed.groupby("checksum")["file_size"].agg(["size", "nunique"])
    assert (groups["nunique"] == 1).all()  # a duplicate group shares its size
    assert groups.loc[groups["size"] > 1, "size"].sum() == len(hashed) // 2
    # as a two-phase index leaves it: exactly the rows whose non-zero size is shared are hashed
    nonempty = a[a["file_size"] > 0]
    shared = nonempty["file_size"].duplicated(keep=False)
    assert (shared == nonempty["checksum"].notna()).all()


# -- gates -------------------------------------------------------------
@dataclasses.dataclass
class FakeStats:
    files_inserted: int
    checksums_calculated: int
    extra: dict


def truthful_index(tree):
    stats = FakeStats(len(tree.files), len(tree.colliding()), {
        "files_found": len(tree.files), "symlinks_skipped": len(tree.symlinks),
        "special_files_skipped": len(tree.fifos), "scan_errors": 0, "hash_errors": 0})
    rows = []
    for rel, digest in tree.checksums(tree.colliding()).items():
        d, name = os.path.split(rel)
        rows.append((os.path.join(tree.root, d) if d else tree.root, name, digest))
    return stats, rows


def test_cold_index_gate_catches_one_bad_checksum(tmp_path):
    tree = small_tree(tmp_path / "t", 11)
    stats, rows = truthful_index(tree)
    assert gates.cold_index(tree, stats, rows) == []
    bad = list(rows)
    bad[0] = bad[0][:2] + ("0" * 64,)
    assert gates.cold_index(tree, stats, bad)
    wrong_count = dataclasses.replace(stats, checksums_calculated=stats.checksums_calculated + 1)
    assert gates.cold_index(tree, wrong_count, rows)


def test_tree_rows_gate_catches_one_bad_row(tmp_path):
    tree = small_tree(tmp_path / "t", 12)
    rows = sorted(tree.expected_rows())
    assert gates.tree_rows(tree, rows) == []
    rows[0] = rows[0][:2] + (rows[0][2] + 1,)
    assert gates.tree_rows(tree, rows)
    assert gates.tree_rows(tree, rows[1:])


def report_rows(tree):
    out = []
    for group in tree.duplicate_groups():
        members = sorted(group)
        size = tree.files[members[0]].size
        files = []
        for rel in members:
            d, name = os.path.split(rel)
            files.append({"path": os.path.join(tree.root, d) if d else tree.root, "filename": name})
        out.append({"checksum": "c" * 64, "file_size": size, "file_count": len(members),
                    "files": files, "wasted_space": size * (len(members) - 1)})
    return out


def test_duplicate_report_gate_catches_one_missing_member(tmp_path):
    tree = small_tree(tmp_path / "t", 13)
    groups = report_rows(tree)
    assert gates.duplicate_report(tree, groups) == []
    groups[0] = dict(groups[0], files=groups[0]["files"][1:])
    assert gates.duplicate_report(tree, groups)


class Row(dict):
    """Stand-in for a pyspark Row: item access by column name."""


def page_from(want):
    rows = [Row(zip(gates.ServeOracle.COLS, r)) for r in want["rows"]]
    return type("Page", (), {"rows": rows, "total_count": want["total_count"], "has_more": want["has_more"]})


def dups_from(want):
    groups = [{"checksum": c, "file_size": s, "file_count": n,
               "files": [{"path": p, "filename": f} for p, f in files], "wasted_space": w}
              for c, s, n, files, w in want["groups"]]
    return type("Dups", (), {"groups": groups, **{k: want[k] for k in ("total_groups", "total_wasted_space", "has_more")}})


@pytest.fixture(scope="module")
def oracle():
    o = gates.ServeOracle(gen.files_rows(3, 20_000))
    yield o
    o.close()


def test_serve_gates_catch_one_corrupted_answer(oracle):
    from file_indexer_spark.serving import DuplicatesRequest, SearchRequest

    want = oracle.search(SearchRequest(path_pattern="/data%", has_checksum=True, limit=20))
    assert want["rows"] and gates.serve_response("search", page_from(want), want) == []
    bad = dict(want, rows=[want["rows"][0][:4] + (want["rows"][0][4] + 1,) + want["rows"][0][5:]] + want["rows"][1:])
    assert gates.serve_response("search", page_from(bad), want)

    want = oracle.duplicates(DuplicatesRequest(filename_pattern="%.jpg", limit=10))
    assert want["groups"] and gates.serve_response("duplicates", dups_from(want), want) == []
    assert gates.serve_response("duplicates", dups_from(dict(want, total_wasted_space=0)), want)

    want = oracle.stats()
    assert gates.serve_response("stats", dict(want), want) == []
    assert gates.serve_response("stats", dict(want, unique_directories=want["unique_directories"] - 1), want)

    want = oracle.visualization()
    assert gates.serve_response("visualization", json.loads(json.dumps(want)), want) == []
    bad = json.loads(json.dumps(want))
    bad["extension_stats"][0]["count"] += 1
    assert gates.serve_response("visualization", bad, want)


def test_pattern_scoped_duplicates_keep_every_copy(oracle):
    from file_indexer_spark.serving import DuplicatesRequest

    scoped = oracle.duplicates(DuplicatesRequest(filename_pattern="%.jpg", limit=1000))
    for _, _, n, files, _ in scoped["groups"]:
        assert n == len(files) and any(f.endswith(".jpg") for _, f in files)


# -- spans -------------------------------------------------------------
def test_union_length():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 10), (2, 3)]) == 10
    assert tracing.union_length([(0, 10)], 4, 6) == 2
    assert tracing.union_length([(0, 1), (8, 9)], 2, 7) == 0


def test_span_self_time_and_job_intervals():
    spans = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "index", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "scan", "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "name": "cleanup", "parent": 0, "start": 4.0, "end": 8.0},  # overlaps index by 1 s
        {"id": 4, "name": "op", "parent": None, "start": 20.0, "end": 22.0},
    ]
    g = tracing.GROUP_PREFIX
    log = {
        "jobs": {
            0: {"group": f"{g}2", "start": 1.5, "end": 2.5},
            1: {"group": f"{g}2", "start": 2.0, "end": 3.5},  # runs past its span: clipped
            2: {"group": f"{g}3", "start": 6.0, "end": 7.0},
            3: {"group": None, "start": 0.0, "end": 100.0},  # untagged: nobody's
        },
        "tasks": {f"{g}2": dict(tracing._zero_task_totals(), tasks=5.0),
                  f"{g}3": dict(tracing._zero_task_totals(), tasks=2.0)},
    }
    figs = {f["id"]: f for f in tracing.span_figures(spans, log)}
    op, index, scan, cleanup = figs[0], figs[1], figs[2], figs[3]
    assert op["wall_s"] == 10 and op["self_s"] == 10 - 7  # children cover [1, 8]
    assert index["self_s"] == 4 - 2
    assert scan["jobs"] == 2 and scan["in_jobs_s"] == 1.5 and scan["driver_gap_s"] == 0.5
    assert index["jobs"] == 2 and index["in_jobs_s"] == 2.0
    assert op["jobs"] == 3 and op["in_jobs_s"] == 3.0 and op["tasks"] == 7
    assert cleanup["tasks"] == 2 and cleanup["driver_gap_s"] == 3.0
    fl = list(figs.values())
    assert tracing.per_op(fl, "op", "scan", "wall_s") == 1.0  # median of 2 and 0
    assert tracing.per_op(fl, "op", "op", "jobs") == 1.5
    assert tracing.per_op(fl, "op", "cleanup") == 0.5  # one cleanup span in one of two ops
    assert tracing.per_span(fl, "op", "scan", "jobs") == 2  # per span, not per op
    assert tracing.per_span(fl, "op", "missing", "jobs") == 0


def test_tracer_records_nesting_and_restores_wrapped_attributes():
    class Target:
        def work(self, x):
            return x * 2

    t = tracing.Tracer()
    t.wrap(Target, "work", "layer.work")
    with t.span("op"):
        assert Target().work(4) == 8
    t.unwrap_all()
    assert Target.work.__name__ == "work" and Target().work(1) == 2
    (op, work) = t.spans
    assert work["parent"] == op["id"] and op["start"] <= work["start"] <= work["end"] <= op["end"]


# -- metric names ------------------------------------------------------
def fake_result():
    plain = {"op_ms": 2.0, "ops": 1,
             "detail": {k: [1.0] for k in ("reindex_s", "cleanup_s", "dup_report_s", "search_ms")}}
    return {"setup_s": 1.0, "retained_heap_mb": 3.0, "attempted": 2, "failed": 0, "problems": [],
            "layer": {"session.start_s": 1.0, "session.warmup_s": 1.0},
            "phases": {"plain": plain, "traced": dict(plain, op_ms=2.2)},
            "spans": [{"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 1.0}],
            "event_log": {"jobs": {}, "tasks": {}}}


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(run.end_to_end(fake_result())) == {m["name"] for m in spec["end_to_end"]}
    layer = run.per_layer(fake_result())
    assert set(layer) == {m["name"] for m in spec["per_layer"]}
    assert layer["overhead.op_p50_ms"][0] == pytest.approx(0.1)
    assert {w["name"] for w in spec["workloads"]} == set(__import__("worker").WORKLOADS)


def test_tail_is_the_value_with_ten_samples_above_it():
    assert run.tail([]) == 0
    assert run.tail([3.0, 1.0]) == 3.0
    assert run.tail(list(range(1, 21))) == 20  # 20 samples: the maximum, never below the median
    samples = list(range(1, 31))  # 30 samples: ten lie above 20
    assert run.tail(samples) == 20


def test_launcher_waits_for_orphans_in_their_own_session(tmp_path):
    """A grandchild that outlives its parent in a session and process
    group of its own, as the Spark JVM and Python daemon do, is stopped
    and reaped before the launcher goes on."""
    script = textwrap.dedent(
        """
        import os, subprocess, sys, time
        sys.path.insert(0, sys.argv[1])
        import run
        run.become_subreaper()
        subprocess.run(["sh", "-c", "setsid sleep 60 & echo $! > pid"], check=True)
        orphan = int(open("pid").read())
        assert run.children() == [orphan]
        t = time.monotonic()
        run.stop_descendants(grace_s=0.5)
        assert run.children() == [] and time.monotonic() - t < 5
        assert not os.path.exists(f"/proc/{orphan}")
        print("stopped")
        """
    )
    out = subprocess.run([sys.executable, "-c", script, BENCH_DIR], cwd=tmp_path,
                         capture_output=True, text=True, timeout=60)
    assert out.stdout.strip() == "stopped", out.stderr
