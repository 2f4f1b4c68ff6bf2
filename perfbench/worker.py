"""One workload in one process; started by run.py, which pins the
environment. Writes a result JSON (and, traced, the spans) to --out.

The engine is driven only through the library calls the CLI commands
dispatch to (``index --two-phase``, ``duplicates``, ``cleanup``, with
the CLI's defaults), through ``serving.FileIndexService``, and through
``FilesTable.overwrite`` to load the serving table.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import contextlib  # noqa: E402
import datetime as dt  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import gates  # noqa: E402
import gen  # noqa: E402
import tracing as tr  # noqa: E402

# reindex_churn: tree written in set-up (gen.CHURN_FRAC of it mutated per round)
CHURN_FILES, CHURN_DIRS = 5_000, 250
# serve_mix: rows in the files table behind the service
SERVE_ROWS = 100_000
# untraced operations per run at least, so op_p50_ms is a median of three or more
MIN_OPS = 3


class Run:
    """State of one workload run: session, tracer, timings, failures."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.spark = None
        self.tracer = None
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phases = {"plain": {"ops_ms": [], "detail": {}}}
        self.phase = self.phases["plain"]
        self.layer: dict[str, float] = {}
        self.setup_s = None
        self.untimed_s = 0.0

    # -- plumbing ------------------------------------------------------
    def start_session(self):
        from file_indexer_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.layer["session.start_s"] = time.perf_counter() - t
        return self.spark

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()

    def record(self, key: str, value: float) -> None:
        self.phase["detail"].setdefault(key, []).append(value)

    def add_op(self, seconds: float) -> None:
        self.phase["ops_ms"].append(seconds * 1000)

    def operation(self, what: str, fn, *args):
        """Run one operation; an exception or a gate problem fails it."""
        self.attempted += 1
        try:
            problems = fn(*args) or []
        except Exception:  # noqa: BLE001 - the run goes on; the failure is counted
            problems = [f"{what}: {traceback.format_exc(limit=3)}"]
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems][:5]
        return not problems

    def reap(self) -> None:
        """Release leftover checkpoint and cache blocks between
        iterations (a Python and a JVM full GC, as bench.py does)."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def heap_mb(self) -> float:
        """JVM heap in use once full GCs stop freeing memory: three
        readings in a row within 1 MB, at most ten GCs. Spark's context
        cleaner drops checkpoint and shuffle blocks only after a GC has
        collected their RDDs, so it takes a few GCs to settle."""
        rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        readings: list[float] = []
        for _ in range(10):
            self.reap()
            time.sleep(0.3)
            readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
            if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
                break
        return readings[-1]

    @contextlib.contextmanager
    def untimed(self):
        """Benchmark-side work during set-up (input generation, gates,
        the DuckDB oracle), left out of setup_s."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - T0 - self.untimed_s

    def _switch(self, phase: str) -> None:
        traced = phase == "traced"
        if traced and not self.tracing:
            tr.install_shims(self.tracer)
        elif self.tracing and not traced:
            self.tracer.unwrap_all()
        self.tracing = traced
        self.phase = self.phases[phase]

    def measure(self, op) -> None:
        """Call ``op(1)``, ``op(2)``, ... for --seconds and at least
        ``MIN_OPS`` times.

        Traced, measure twice as long, at least four operations, and
        alternate untraced and traced ones (P T T P P T ...), an even
        number in all, so both phases see the same warm-up; the traced
        ones carry the spans."""
        order = ["plain"] * MIN_OPS
        if self.args.trace:
            self.tracer = tr.Tracer(self.spark.sparkContext)
            self.phases["traced"] = {"ops_ms": [], "detail": {}}
            order = ["plain", "traced", "traced", "plain"]
        phases = len(set(order))
        budget = self.args.seconds * phases
        started, i = time.perf_counter(), 0
        while i < len(order) or i % phases or time.perf_counter() - started < budget:
            self._switch(order[i % len(order)])
            self.reap()
            op(i + 1)
            i += 1
        self._switch("plain")


# -- reindex_churn -----------------------------------------------------
def _table_files(location: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(location):
        for n in names:
            if n.endswith(".parquet"):
                full = os.path.join(dirpath, n)
                out[full] = os.path.getsize(full)
    return out


def _generation(location: str) -> int:
    with open(os.path.join(location, "_MANIFEST")) as fh:
        return json.load(fh).get("generation", 0)


class Churn:
    def __init__(self, run: Run):
        from file_indexer_spark.cli import parse_size

        self.run = run
        self.db = os.path.join(run.work, "db")
        self.index_kwargs = dict(  # the CLI defaults of `index --two-phase`
            recursive=True,
            max_checksum_size=parse_size("100MB"),
            skip_empty_files=True,
            algorithm="sha256",
        )

    def setup(self) -> None:
        run = self.run
        with run.untimed():
            self.tree = gen.make_tree(os.path.join(run.work, "tree"), run.args.seed, CHURN_FILES, CHURN_DIRS)
        spark = run.start_session()
        from file_indexer_spark.indexer.files_table import FilesTable

        self.table = FilesTable(spark, self.db)
        # the untimed iteration: a round whose index step is the cold
        # index into the fresh table, with no mutation before it. Its
        # cleanup deletes nothing, so the first timed round is the first
        # to merge into an existing table and to delete rows; op_p50_ms
        # is a median over three or more rounds, which leaves it out.
        t = time.perf_counter()
        stats = self.index()
        index_s = time.perf_counter() - t
        self.cleanup()
        groups, _ = self.report()
        run.layer["session.warmup_s"] = time.perf_counter() - t
        with run.untimed():
            run.operation("cold index", self.check_cold, stats, index_s, groups)

    def index(self):
        from file_indexer_spark.indexer import two_phase
        from file_indexer_spark.indexer.metadata import KEY_INDEXED_AT, KEY_ROOT_PATH, IndexMetadata

        stats = two_phase.two_phase_index(self.run.spark, self.table, self.tree.root, **self.index_kwargs)
        IndexMetadata(self.run.spark, self.db + "_meta").set_many(
            {KEY_ROOT_PATH: self.tree.root, KEY_INDEXED_AT: dt.datetime.now(dt.timezone.utc).isoformat()}
        )
        return stats

    def check_cold(self, stats, index_s: float, groups) -> list[str]:
        """Gate the set-up's cold index and its duplicates report, and
        record the index's figures."""
        rows = self.table.read().select("path", "filename", "file_size", "checksum").collect()
        hashed = [(r[0], r[1], r[3]) for r in rows if r[3] is not None]
        found, layer = stats.extra["files_found"], self.run.layer
        layer["index_cold.files_per_s"] = found / index_s
        layer["index_cold.files_hashed"] = stats.checksums_calculated
        layer["index_cold.avoided_frac"] = 1 - stats.checksums_calculated / found
        layer["index_cold.expected_avoided_frac"] = 1 - len(self.tree.colliding()) / len(self.tree.files)
        layer["index_cold.useful_frac"] = sum(g["file_count"] for g in groups) / len(hashed) if hashed else 0.0
        return (gates.cold_index(self.tree, stats, hashed) + gates.tree_rows(self.tree, rows)
                + gates.duplicate_report(self.tree, groups))

    def check_state(self, groups) -> list[str]:
        rows = self.table.read().select("path", "filename", "file_size").collect()
        return gates.tree_rows(self.tree, rows) + gates.duplicate_report(self.tree, groups)

    def hashed_since(self, since: dt.datetime) -> tuple[int, int, int]:
        """(files, bytes, files now in a duplicate group) hashed since ``since``."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("checksum", "file_size")
        row = (
            self.table.read()
            .filter(F.col("checksum").isNotNull())
            .withColumn("n", F.count("*").over(w))
            .filter(F.col("indexed_at") >= F.lit(since))
            .agg(F.count("*"), F.coalesce(F.sum("file_size"), F.lit(0)), F.count(F.when(F.col("n") > 1, 1)))
            .first()
        )
        return row[0], row[1], row[2]

    def cleanup(self) -> int:
        from file_indexer_spark.indexer import cleanup

        run = self.run
        with run.span("cleanup.probe"):
            stale = cleanup.probe_deleted_files(self.table)
            n = stale.count()
            if n:
                self.table.delete(stale)
        n_dirs = cleanup.cleanup_empty_directories(run.spark, self.table)
        return n + n_dirs

    def report(self):
        """The `duplicates` command: the groups and their wasted bytes."""
        from file_indexer_spark.operators.duplicates import duplicate_groups_nested

        groups = duplicate_groups_nested(self.table.read(), 2).collect()
        return groups, sum(g["wasted_space"] for g in groups)

    def round(self, round_no: int) -> list[str]:
        """One mutation (untimed), then index, cleanup and the
        duplicates report; the report and the table are then checked
        against the model."""
        run = self.run
        gen.churn(self.tree, round_no)
        traced = run.tracing
        before = _table_files(self.db) if traced else None
        gen_before = _generation(self.db)
        started_at = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        with run.span("op"):
            t0 = time.perf_counter()
            with run.span("index"):
                stats = self.index()
            t1 = time.perf_counter()
            with run.span("cleanup"):
                deleted = self.cleanup()
            t2 = time.perf_counter()
            with run.span("dup_report"):
                groups, _ = self.report()
            t3 = time.perf_counter()
        run.add_op(t3 - t0)
        run.record("reindex_s", t1 - t0)
        run.record("cleanup_s", t2 - t1)
        run.record("dup_report_s", t3 - t2)
        run.record("cleanup.rows_deleted", deleted)
        run.record("scan.files_found", stats.extra["files_found"])
        run.record("scan.entries_skipped", sum(stats.extra[k] for k in ("symlinks_skipped", "special_files_skipped", "scan_errors")))
        run.record("checksum.files_hashed", stats.checksums_calculated)
        run.record("checksum.avoided_frac", 1 - stats.checksums_calculated / stats.extra["files_found"])
        run.record("files_table.generations", _generation(self.db) - gen_before)
        if traced:
            after = _table_files(self.db)
            written = sum(size for path, size in after.items() if path not in before)
            live = sum(after.values())
            run.record("files_table.bytes_written", written)
            run.record("files_table.live_bytes", live)
            run.record("files_table.rewrite_frac", written / live if live else 0.0)
            run.record("files_table.data_files", len(after))
            files, nbytes, useful = self.hashed_since(started_at)
            run.record("checksum.bytes_hashed", nbytes)
            run.record("checksum.useful_frac", useful / files if files else 0.0)
        return self.check_state(groups)

    def op(self, round_no: int) -> None:
        self.run.operation(f"round {round_no}", self.round, round_no)


# -- serve_mix ---------------------------------------------------------
def _days_ago(days: int) -> dt.datetime:
    return gen.SERVE_NOW - dt.timedelta(days=days)


def request_cycle(rng: random.Random) -> list[tuple[str, str, object]]:
    """One request of every shape, (kind, shape, request), with seeded
    parameters. Every shape weighs the same: no traffic trace of the
    reference's UI is published. Every page is the API's default size,
    100; offsets are fixed per shape (first pages, a second page, one
    deep page), so cycles cost about the same whatever the seed."""
    from file_indexer_spark.serving import DuplicatesRequest, SearchRequest

    def ext() -> str:
        return rng.choice(gen.SERVE_EXT)

    return [
        ("search", "filename_like",
         SearchRequest(filename_pattern=f"%{rng.randrange(10)}.{ext()}", limit=100)),
        ("search", "path_like_checksum",
         SearchRequest(path_pattern=f"/{rng.choice(gen.SERVE_WORDS)}{rng.randrange(100)}/%",
                       has_checksum=True, limit=100)),
        ("search", "size_time_range",
         SearchRequest(min_file_size=rng.randrange(1, 4096), max_file_size=rng.randrange(65536, 1 << 20),
                       modified_after=_days_ago(rng.randrange(200, 400)),
                       modified_before=_days_ago(rng.randrange(0, 200)), limit=100, offset=100)),
        ("search", "no_checksum_page", SearchRequest(has_checksum=False, limit=100, offset=10_000)),
        ("duplicates", "pages", DuplicatesRequest(min_group_size=rng.choice((2, 3)), limit=100, offset=100)),
        ("duplicates", "pattern_scoped",
         DuplicatesRequest(filename_pattern=f"%.{ext()}", min_file_size=1024, limit=100)),
        ("stats", "stats", None),
        ("visualization", "visualization", None),
    ]


class Serve:
    def __init__(self, run: Run):
        self.run = run
        self.db = os.path.join(run.work, "db")

    def setup(self) -> None:
        run = self.run
        with run.untimed():
            rows = gen.files_rows(run.args.seed, SERVE_ROWS)
        spark = run.start_session()
        from file_indexer_spark.indexer.files_table import FILES_SCHEMA, FilesTable
        from file_indexer_spark.serving import FileIndexService

        FilesTable(spark, self.db).overwrite(spark.createDataFrame(rows, schema=FILES_SCHEMA))
        # the way an API process builds its service: open the table, cache the snapshot
        self.svc = FileIndexService(FilesTable(spark, self.db).read(), source_path=self.db)
        t = time.perf_counter()
        health = self.svc.health()
        run.layer["serving.cache_fill_s"] = time.perf_counter() - t
        run.operation("health", lambda: [] if health["total_files"] == len(rows) else [f"health: {health}"])
        self.rng = random.Random(f"{run.args.seed}:requests")
        # warm-up: one cycle, every response checked against DuckDB;
        # session.warmup_s counts only the service calls
        with run.untimed():
            oracle = gates.ServeOracle(rows)
        run.layer["session.warmup_s"] = 0.0
        for kind, shape, req in request_cycle(self.rng):
            run.operation(f"{kind}/{shape}", self.checked, oracle, kind, req)
        with run.untimed():
            oracle.close()

    def call(self, kind: str, req) -> list[str]:
        """One request; only an exception fails it."""
        self.respond(kind, req)
        return []

    def respond(self, kind: str, req):
        fn = getattr(self.svc, kind)
        return fn(req) if req is not None else fn()

    def checked(self, oracle: gates.ServeOracle, kind: str, req) -> list[str]:
        t = time.perf_counter()
        resp = self.respond(kind, req)
        self.run.layer["session.warmup_s"] += time.perf_counter() - t
        with self.run.untimed():
            want = getattr(oracle, kind)(*([req] if req is not None else []))
            return gates.serve_response(kind, resp, want)

    def op(self, cycle_no: int) -> None:  # noqa: ARG002 - every cycle has the same shapes
        run = self.run
        total = 0.0
        with run.span("op"):
            for kind, _, req in request_cycle(self.rng):
                t = time.perf_counter()
                ok = run.operation(kind, self.call, kind, req)
                elapsed = time.perf_counter() - t
                if ok:
                    run.record(f"{kind}_ms", elapsed * 1000)
                total += elapsed
        run.add_op(total)


WORKLOADS = {"reindex_churn": Churn, "serve_mix": Serve}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    run = Run(args)
    wl = WORKLOADS[args.workload](run)
    try:
        wl.setup()
        run.end_setup()
        run.measure(wl.op)
        heap = run.heap_mb()
    finally:
        if run.spark is not None:
            run.spark.stop()
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": run.attempted,
        "failed": run.failed,
        "problems": run.problems,
        "setup_s": run.setup_s,
        "retained_heap_mb": heap,
        "layer": run.layer,
        "phases": {
            name: {"op_ms": statistics.median(p["ops_ms"]), "ops": len(p["ops_ms"]), "detail": p["detail"]}
            for name, p in run.phases.items()
        },
    }
    if run.tracer is not None:
        result["spans"] = run.tracer.spans
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
