"""Spans around layer entry points, and their join with Spark's event log.

The traced run replaces layer entry points (module and class
attributes) with shims that record a span -- name, start, end, parent --
and tag every Spark job the span launches with ``setJobGroup``. Spans
stay in memory until the run ends. Job and task figures come from the
event log Spark writes when the launcher enables it for the traced run.

Interval arithmetic: a span's ``self_s`` is its wall time minus the
union of its child spans' intervals; ``in_jobs_s`` is the union of the
intervals of the jobs it (or a descendant) launched, clipped to the
span; ``driver_gap_s`` is wall minus ``in_jobs_s``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb-span-"


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Span recorder; ``sc`` is the SparkContext whose jobs get tagged
    (None records spans only, as the tests do)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def _tag(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a shim that runs it inside a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def shim(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, shim)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


def install_shims(tracer: Tracer) -> None:
    """Wrap the layer entry points the workloads reach. Names follow
    the package modules: indexer.scan / two_phase / files_table /
    cleanup, and the serving methods."""
    from file_indexer_spark import serving
    from file_indexer_spark.indexer import cleanup, files_table, two_phase

    tracer.wrap(two_phase, "scan_with_counters", "scan")
    tracer.wrap(two_phase, "update_index", "phase1")
    tracer.wrap(two_phase, "phase2_checksums", "phase2")
    for method in ("read", "upsert", "delete", "delete_paths"):
        tracer.wrap(files_table.FilesTable, method, f"files_table.{method}")
    tracer.wrap(cleanup, "cleanup_empty_directories", "cleanup.empty_dirs")
    for method in ("search", "duplicates", "stats", "visualization"):
        tracer.wrap(serving.FileIndexService, method, f"serving.{method}")


# -- event log ---------------------------------------------------------
def read_event_log(directory: str) -> dict:
    """Jobs and per-group task totals from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    tasks: dict[str | None, dict] = {}
    for path in glob.glob(os.path.join(directory, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    agg = tasks.setdefault(group, _zero_task_totals())
                    _add_task(agg, ev)
    return {"jobs": jobs, "tasks": tasks}


def _zero_task_totals() -> dict:
    return {k: 0.0 for k in ("tasks", "failed_tasks", "gc_s", "executor_cpu_s",
                             "shuffle_write_mb", "input_mb", "spill_mb")}


def _add_task(agg: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    agg["tasks"] += 1
    agg["failed_tasks"] += 1 if info.get("Failed") else 0
    agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    agg["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
    agg["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
    agg["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20


# -- per-span figures --------------------------------------------------
def span_figures(spans: list[dict], log: dict) -> list[dict]:
    """Each span with wall_s, self_s, jobs, tasks, in_jobs_s,
    driver_gap_s and the engine totals of its subtree."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    jobs_by_span: dict[int, list[dict]] = {}
    for job in log["jobs"].values():
        g = job["group"]
        if g and g.startswith(GROUP_PREFIX) and job["end"] is not None:
            jobs_by_span.setdefault(int(g[len(GROUP_PREFIX):]), []).append(job)

    out: dict[int, dict] = {}

    def visit(sid: int) -> dict:
        s = spans[sid]
        wall = s["end"] - s["start"]
        kids = [visit(c) for c in children.get(sid, [])]
        jobs = list(jobs_by_span.get(sid, []))
        engine = dict(log["tasks"].get(f"{GROUP_PREFIX}{sid}", _zero_task_totals()))
        for k in kids:
            jobs += k["_jobs"]
            for key, v in k["_engine"].items():
                engine[key] += v
        in_jobs = union_length([(j["start"], j["end"]) for j in jobs], s["start"], s["end"])
        fig = {
            "id": sid,
            "name": s["name"],
            "parent": s["parent"],
            "wall_s": wall,
            "self_s": wall - union_length([(spans[c]["start"], spans[c]["end"]) for c in children.get(sid, [])], s["start"], s["end"]),
            "jobs": len(jobs),
            "in_jobs_s": in_jobs,
            "driver_gap_s": wall - in_jobs,
            "_jobs": jobs,
            "_engine": engine,
        }
        fig.update(engine)
        out[sid] = fig
        return fig

    for s in spans:
        if s["parent"] is None:
            visit(s["id"])
    return [{k: v for k, v in out[i].items() if not k.startswith("_")} for i in sorted(out)]


def _by_op(figures: list[dict], op_name: str, name: str) -> dict[int, list[dict]]:
    """The spans called ``name``, grouped by the ``op_name`` root above them."""
    parent = {f["id"]: f["parent"] for f in figures}

    def root_of(i: int) -> int:
        while parent[i] is not None:
            i = parent[i]
        return i

    out = {f["id"]: [] for f in figures if f["parent"] is None and f["name"] == op_name}
    for f in figures:
        if f["name"] == name:
            r = root_of(f["id"])
            if r in out:
                out[r].append(f)
    return out


def per_op(figures: list[dict], op_name: str, name: str, key: str | None = None) -> float:
    """Median over ``op_name`` root spans of the sum of ``key`` over the
    spans called ``name`` in that op's subtree; with no ``key``, of how
    many such spans ran. 0 when no op ran."""
    sums = [sum(1.0 if key is None else f[key] for f in spans) for spans in _by_op(figures, op_name, name).values()]
    return statistics.median(sums) if sums else 0.0


def per_span(figures: list[dict], op_name: str, name: str, key: str) -> float:
    """Median of ``key`` over the spans called ``name`` inside ``op_name``
    roots, one value per span. 0 when there is none."""
    values = [f[key] for spans in _by_op(figures, op_name, name).values() for f in spans]
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    """Print the per-span figures of a saved spans file."""
    import argparse

    p = argparse.ArgumentParser(description=main.__doc__)
    p.add_argument("spans_file")
    args = p.parse_args(argv)
    with open(args.spans_file) as fh:
        saved = json.load(fh)
    figs = span_figures(saved["spans"], saved["event_log"])
    depth = {}
    print(f"{'span':<40} {'wall_s':>8} {'self_s':>8} {'jobs':>5} {'tasks':>6} {'in_jobs_s':>9} {'gap_s':>8}")
    for f in figs:
        depth[f["id"]] = 0 if f["parent"] is None else depth[f["parent"]] + 1
        name = "  " * depth[f["id"]] + f["name"]
        print(f"{name:<40} {f['wall_s']:8.3f} {f['self_s']:8.3f} {f['jobs']:5d} {int(f['tasks']):6d} "
              f"{f['in_jobs_s']:9.3f} {f['driver_gap_s']:8.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
