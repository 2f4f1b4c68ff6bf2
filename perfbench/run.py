"""Pipeline benchmark for file_indexer_spark.

    python3 perfbench/run.py --workload reindex_churn --seed 1 --seconds 8 --trace 0

Run from the repository root (or any checkout of it). The launcher pins
the environment from outside the program (cores, driver memory, local
dirs, PYTHONPATH, time zone), records the host (nproc, load, versions,
CPU canary, CPU steal), starts ``worker.py`` for the workload, and
prints every metric by name with its unit and sample count, then the
workload-specific figures and the correctness verdict. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.

``--trace 1`` enables Spark's event log from outside the program
(PYSPARK_SUBMIT_ARGS) and measures twice as long, alternating untraced
operations and operations with the layer shims on. Per-layer figures
come from the traced ones; ``overhead.op_p50_ms`` compares the two.
Result JSON and spans land in ``.perfbench_out/``; scratch data lives in
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 160  # the worker's share of the invocation's 180 s

sys.path.insert(0, HERE)
import tracing as tr  # noqa: E402


def host_record() -> dict:
    """nproc, load, versions and the bench.py CPU canary."""
    sys.path.insert(0, ROOT)
    import pyspark

    from bench import _cpu_canary

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    out = subprocess.run([java, "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "local_cores": cores(),
        "loadavg_1m": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "java": (out.stderr or out.stdout).splitlines()[0],
        "cpu_canary_sec": _cpu_canary(),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def cores() -> int:
    """local[N]: nproc, at most 4, so hosts of any size run the same
    load and a run stays within its time budget."""
    return min(4, len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """A quarter of host memory, 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kb // 2**20 // 4))}g"


def child_env(work: str, traced: bool) -> dict:
    env = dict(os.environ)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_DRIVER_MEMORY=driver_memory(),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # Spark's Python workers import the package from the checkout
        PYTHONPATH=ROOT,
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        # the JVM's temp files (native libraries, perf data) stay in the checkout too
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {k}={v}"
            for k, v in (
                ("spark.eventLog.enabled", "true"),
                ("spark.eventLog.dir", "file://" + events),
                ("spark.eventLog.compress", "false"),
                ("spark.eventLog.rolling.enabled", "false"),
            )
        ) + " pyspark-shell"
    return env


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so that it
    can wait for them. The Spark JVM outlives the worker by a moment
    (it exits once the worker's end of its stdin closes), and Spark's
    Python daemon runs in a process group of its own."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> list[int]:
    """Live processes whose parent is this one."""
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # ended meanwhile
        if int(fields[1]) == me and fields[0] != "Z":
            out.append(int(entry))
    return out


def stop_descendants(grace_s: float) -> None:
    """Return once every process this one started, directly or not, has
    ended and been reaped: they get ``grace_s`` to end on their own, then
    SIGTERM, and SIGKILL 5 s later."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, running or zombie
        late = time.monotonic() - deadline
        if late > 0:
            for pid in children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL if late > 5 else signal.SIGTERM)
        time.sleep(0.1)


def run_worker(args, work: str, traced: bool, deadline: float) -> dict:
    """Start worker.py in its own process group and wait for it, then for
    every process it left behind; the group (the JVM included) is killed
    if it outlives the deadline."""
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(int(traced)),
           "--work", work, "--out", out]
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, env=child_env(work, traced), cwd=work, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{args.workload} worker timed out") from None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            stop_descendants(grace_s=max(0.0, min(30.0, deadline - time.monotonic())))
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{args.workload} worker exited with {proc.returncode}")
    with open(out) as fh:
        result = json.load(fh)
    if traced:
        result["event_log"] = tr.read_event_log(os.path.join(work, "events"))
    return result


# -- metrics -----------------------------------------------------------
def median(values) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(res: dict) -> dict[str, tuple[float, int]]:
    """name -> (value, samples), from the untraced phase."""
    plain = res["phases"]["plain"]
    return {
        "setup_s": (res["setup_s"], 1),
        "op_p50_ms": (plain["op_ms"], plain["ops"]),
        "retained_heap_mb": (res["retained_heap_mb"], 1),
    }


def detail(res: dict) -> dict[str, tuple[float, int]]:
    """Workload-specific end-to-end figures from the untraced phase
    (zero where they do not apply)."""
    d = res["phases"]["plain"]["detail"]
    out = {k: (median(d.get(k, [])), len(d.get(k, []))) for k in ("reindex_s", "cleanup_s", "dup_report_s")}
    for kind in ("search", "duplicates", "stats", "visualization"):
        samples = d.get(f"{kind}_ms", [])
        out[f"{kind}_p50_ms"] = (median(samples), len(samples))
        if kind != "visualization":
            out[f"{kind}_tail_ms"] = (tail(samples), len(samples))
    out["failed_ops_frac"] = (res["failed"] / res["attempted"], res["attempted"])
    return out


def tail(samples: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it. With
    fewer than 21 samples that percentile would lie below the median, so
    the tail is then the maximum (0 with no samples)."""
    s = sorted(samples)
    if len(s) < 21:
        return s[-1] if s else 0.0
    return s[len(s) - 11]


def per_layer(res: dict) -> dict[str, tuple[float, int]]:
    """name -> (value, samples): span figures of the traced phase, set-up
    timings, the untraced phase's workload-specific figures, and the
    tracing overhead."""
    figs = tr.span_figures(res["spans"], res["event_log"])
    plain, traced = res["phases"]["plain"], res["phases"]["traced"]
    ops = traced["ops"]

    def op(name: str, key: str | None = None) -> tuple[float, int]:
        return tr.per_op(figs, "op", name, key), ops

    d, layer = traced["detail"], res["layer"]
    m: dict[str, tuple[float, int]] = {}
    m["session.start_s"] = (layer["session.start_s"], 1)
    m["session.warmup_s"] = (layer["session.warmup_s"], 1)
    for key in ("wall_s", "jobs", "tasks", "driver_gap_s"):
        m[f"scan.{key}"] = op("scan", key)
    for key in ("files_found", "entries_skipped"):
        m[f"scan.{key}"] = (median(d.get(f"scan.{key}", [])), ops)
    for phase in ("phase1", "phase2"):
        for key in ("wall_s", "self_s", "jobs"):
            m[f"{phase}.{key}"] = op(phase, key)
    for key in ("files_hashed", "bytes_hashed", "avoided_frac", "useful_frac"):
        m[f"checksum.{key}"] = (median(d.get(f"checksum.{key}", [])), ops)
    phase2_s = m["phase2.wall_s"][0]
    m["checksum.mb_per_s"] = (m["checksum.bytes_hashed"][0] / 2**20 / phase2_s if phase2_s else 0.0, ops)
    for key in ("files_per_s", "files_hashed", "avoided_frac", "expected_avoided_frac", "useful_frac"):
        m[f"index_cold.{key}"] = (layer.get(f"index_cold.{key}", 0.0), 1)
    m["files_table.read_calls"] = op("files_table.read")
    m["files_table.read_s"] = op("files_table.read", "wall_s")
    m["files_table.upsert_s"] = op("files_table.upsert", "wall_s")
    m["files_table.upsert_jobs"] = op("files_table.upsert", "jobs")
    m["files_table.delete_s"] = (op("files_table.delete", "wall_s")[0] + op("files_table.delete_paths", "wall_s")[0], ops)
    for key in ("bytes_written", "rewrite_frac", "live_bytes", "data_files", "generations"):
        m[f"files_table.{key}"] = (median(d.get(f"files_table.{key}", [])), ops)
    m["cleanup.probe_s"] = op("cleanup.probe", "wall_s")
    m["cleanup.empty_dirs_s"] = op("cleanup.empty_dirs", "wall_s")
    m["cleanup.jobs"] = op("cleanup", "jobs")
    m["cleanup.rows_deleted"] = (median(d.get("cleanup.rows_deleted", [])), ops)
    for kind in ("search", "duplicates", "stats", "visualization"):
        for key in ("jobs", "tasks", "in_jobs_s", "driver_gap_s"):  # per request
            m[f"serving.{kind}.{key}"] = (tr.per_span(figs, "op", f"serving.{kind}", key), ops)
    m["serving.cache_fill_s"] = (layer.get("serving.cache_fill_s", 0.0), 1)
    for key in ("jobs", "tasks", "failed_tasks", "gc_s", "executor_cpu_s", "shuffle_write_mb", "input_mb", "spill_mb"):
        m[f"spark.{key}"] = op("op", key)
    m.update(detail(res))
    m["overhead.op_p50_ms"] = (traced["op_ms"] / plain["op_ms"] - 1, plain["ops"] + traced["ops"])
    return m


def main(argv=None) -> int:
    started = time.monotonic()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # SIGTERM unwinds like an exception, so the worker group is killed and scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "file_indexer_spark", "__init__.py")):
        sys.stderr.write(f"no file_indexer_spark package next to {HERE}; run from a checkout\n")
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.stderr.write(f"unknown workload {args.workload!r}\n")
        return 2

    become_subreaper()
    host = host_record()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    steal0, total0 = cpu_ticks()
    try:
        res = run_worker(args, work, bool(args.trace), started + DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to others while the worker ran
    host["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)

    if args.trace:
        values, wanted = per_layer(res), spec["per_layer"]
    else:
        values, wanted = end_to_end(res), spec["end_to_end"]
    metrics = {}
    for m in wanted:
        value, samples = values[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']:<36} {value:>16.6g} {m['unit']:<8} n={samples}")
    if not args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        figures = {**{k: (v, 1) for k, v in res["layer"].items()}, **detail(res)}
        for name, (value, samples) in figures.items():
            if samples:
                print(f"  {name:<34} {value:>16.6g} {units[name]:<8} n={samples}")
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        with open(stem + "-spans.json", "w") as fh:
            json.dump({"spans": res.pop("spans"), "event_log": res.pop("event_log")}, fh)
    with open(stem + ".json", "w") as fh:
        json.dump({"host": host, "metrics": metrics, "result": res}, fh, indent=1)
    for problem in res["problems"]:
        print(f"FAILED: {problem}")
    print(f"correct: {res['failed'] == 0} ({res['failed']} of {res['attempted']} operations failed)")
    print(f"host: {json.dumps(host)}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
