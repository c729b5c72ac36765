#!/usr/bin/env python3
"""Benchmark runner for parquet_export_spark.

    python3 perfbench/run.py --workload export_vera --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench/``, sets the session up once, cold, as
the CLI does (``get_spark`` + lake registration + one warm-up
operation), lets the JVM settle for the workload's ``settle_ops``
operations (checked but not timed), then runs closed-loop operations
for ``--seconds`` (whole rounds), checking every output outside the
timed region. Input generation and the checks run in a helper process,
so they add nothing to the measured process's memory. The session runs on
``local[<usable cores>]``.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (set-up time,
operation latency median, operations per second, peak RSS). With
``--trace 1`` a traced loop (layer spans and engine counters on) comes
before the untraced one, and the metrics are the per-layer ones of the
traced loop (see README.md), with the tracing overhead measured against
the untraced loop. Lines before the
last one give the workload's named metrics with units and sample
counts.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

HERE = os.path.dirname(os.path.abspath(__file__))


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def _become_subreaper() -> None:
    """Make processes orphaned below this one (the JVM's Python workers,
    multiprocessing's resource tracker) its children, so that
    ``_reap_children`` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        _fail(f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(ctypes.get_errno())}")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended meanwhile
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(name))
    return kids


def _reap_children(timeout: float = 30.0) -> None:
    """Wait until every process started below this one has ended; kill
    whatever is still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in _children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _shutdown(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    try:
        proc.stdin.close()
    except OSError:  # the JVM already went away
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(w, spark, seconds: float, first_op: int, max_ops: int = 0,
            probe=None, tracer=None) -> tuple[list[dict], int]:
    """Closed loop of whole rounds until ``seconds`` have passed (a new
    round starts only if at least half a round's time remains), or until
    ``max_ops`` operations when that is set."""
    ops: list[dict] = []
    i = first_op
    t_start = time.perf_counter()
    while True:
        r0 = time.perf_counter()
        for arg in w.round():
            i += 1
            if probe:
                probe.begin(i)
            if tracer:
                tracer.begin_op(i)
            err, res = None, None
            t0 = time.perf_counter()
            try:
                res = w.run_op(spark, arg, i)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                err = f"{arg}: {type(e).__name__}: {str(e)[:300]}"
            dt = time.perf_counter() - t0
            if tracer:
                tracer.end_op()
            rec = {"s": dt, "arg": arg}
            if probe:
                rec.update(probe.end())
            if err is None:
                try:
                    rec.update(w.record(res))
                    problems = w.check_op(spark, arg, res)
                except Exception as e:  # noqa: BLE001
                    problems = [f"{arg}: check raised {type(e).__name__}: {str(e)[:300]}"]
            else:
                problems = [err]
            w.cleanup_op(res)
            rec["problems"] = problems
            ops.append(rec)
            if max_ops and len(ops) >= max_ops:
                return ops, i
        now = time.perf_counter()
        elapsed, round_s = now - t_start, now - r0
        if elapsed >= seconds or seconds - elapsed < round_s / 2:
            return ops, i


def _per_op(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(w, tracer, ops: list[dict], base_ops: list[dict], get_spark_s: float, cpus: int) -> dict:
    from tracing import FS_OPS, union_length
    from workloads import FAMILIES, QUERY_FAMILIES

    n = len(ops)
    spans = tracer.closed()
    selfs = tracer.self_times()
    c = tracer.counters
    dur: dict[str, float] = {}
    calls: dict[str, int] = {}
    for s in spans:
        dur[s.name] = dur.get(s.name, 0.0) + (s.end - s.start)
        calls[s.name] = calls.get(s.name, 0) + 1

    def tot(key: str) -> float:
        return sum(o.get(key, 0.0) for o in ops)

    wall = tot("s")
    m: dict[str, float] = {"session.get_spark_s": get_spark_s}

    loads = calls.get("sources.load_table", 0)
    requested = c["sources.tables_requested"]
    m["sources.load_table.calls"] = _per_op(loads, n)
    m["sources.load_table_s"] = _per_op(dur.get("sources.load_table", 0.0), n)
    m["sources.table_cache_hit_ratio"] = (requested - loads) / requested if requested else 0.0
    m["spark.input_mb"] = _per_op(tot("spark.input_mb"), n)
    m["jvm.read_mb"] = _per_op(tot("jvm.read_mb"), n)

    m["normalize.enforce_schema_s"] = _per_op(dur.get("normalize.enforce_schema", 0.0), n)
    m["normalize.json_cells"] = _per_op(c["normalize.json_cells"], n)
    m["pyworker.cpu_s"] = _per_op(tot("pyworker.cpu_s"), n)
    m["pyworker.task_share"] = tot("pyworker.cpu_s") / tot("spark.task_s") if tot("spark.task_s") else 0.0

    m["writer.write_table.calls"] = _per_op(calls.get("writer.write_table", 0), n)
    m["writer.write_table_s"] = _per_op(dur.get("writer.write_table", 0.0), n)
    m["writer.write_table_self_s"] = _per_op(
        sum(selfs[s.id] for s in spans if s.name == "writer.write_table"), n)
    m["writer.files"] = _per_op(c["writer.files"], n)
    m["writer.file_fill_ratio"] = c["writer.rows"] / c["writer.capacity_rows"] if c["writer.capacity_rows"] else 0.0
    m["spark.output_mb"] = _per_op(tot("out_bytes") / 1e6, n)

    fs_union = 0.0
    by_op: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.name.startswith("fs."):
            by_op.setdefault(s.op, []).append((s.start, s.end))
    for intervals in by_op.values():
        fs_union += union_length(intervals)
    for op in FS_OPS:
        m[f"fs.{op}.calls"] = _per_op(calls.get(f"fs.{op}", 0), n)
        m[f"fs.{op}_s"] = _per_op(dur.get(f"fs.{op}", 0.0), n)
    m["fs.share_of_op"] = fs_union / wall if wall else 0.0

    m["manifest.write_manifest_s"] = _per_op(dur.get("manifest.write_manifest", 0.0), n)
    m["manifest.build_manifest_s"] = _per_op(dur.get("manifest.build_manifest", 0.0), n)

    m["pipeline.export_table_s"] = _per_op(dur.get("pipeline.export_table", 0.0), n)
    m["pipeline.table_wait_s"] = _per_op(c["pipeline.table_wait_s"], n)
    m["pipeline.table_overlap_ratio"] = (
        c["pipeline.table_busy_s"] / c["pipeline.map_wall_s"] if c["pipeline.map_wall_s"] else 0.0)

    for name in ("export_snapshot", "load_versioned_table", "vacuum"):
        m[f"versioned.{name}_s"] = _per_op(dur.get(f"versioned.{name}", 0.0), n)
    m["versioned.tables_rewritten"] = _per_op(c["versioned.tables_rewritten"], n)
    m["versioned.tables_reused"] = _per_op(c["versioned.tables_reused"], n)

    m["queries.build_s"] = _per_op(tot("build_s"), n)
    m["queries.exec_s"] = _per_op(tot("exec_s"), n)
    for fam in FAMILIES:
        lat = [o["s"] for o in ops if QUERY_FAMILIES.get(o["arg"]) == fam]
        m[f"queries.{fam}_s"] = statistics.mean(lat) if lat else 0.0

    for key in ("jobs", "stages", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb"):
        m[f"spark.{key}"] = _per_op(tot(f"spark.{key}"), n)
    m["spark.core_busy_ratio"] = tot("spark.task_s") / (wall * cpus) if wall else 0.0

    base = statistics.median(o["s"] for o in base_ops)
    m["trace.op_p50_s"] = statistics.median(o["s"] for o in ops)
    m["trace.untraced_op_p50_s"] = base
    m["trace.overhead_ratio"] = m["trace.op_p50_s"] / base - 1.0
    m["trace.spans_per_op"] = _per_op(len(spans), n)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description="parquet_export_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test uses a tiny scale)")
    ap.add_argument("--max-ops", type=int, default=0,
                    help="stop each loop after this many operations (self-test)")
    args = ap.parse_args()

    _become_subreaper()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "parquet_export_spark", "__init__.py")):
        _fail("run from the repository root: parquet_export_spark/ not found")
    sys.path[:0] = [HERE, root]
    try:
        from parquet_export_spark.session import get_spark
    except ImportError as e:
        _fail(f"cannot import parquet_export_spark: {e}")
    import probes
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["TMPDIR"] = tmp
    # no JVM (the launcher one included) writes /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} -XX:-UsePerfData".strip()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }

    # input generation and output checks (DuckDB, pyarrow) run here
    helper = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn"))
    w = WORKLOADS[args.workload](work, args.seed, helper, scale=args.scale)
    spark = None
    phases = {"start": time.perf_counter()}
    try:
        t0 = time.perf_counter()
        w.prepare()
        input_gen_s = time.perf_counter() - t0

        phases["prepared"] = time.perf_counter()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        w.register(spark)
        t2 = time.perf_counter()
        w.warmup(spark)
        setup_s = time.perf_counter() - t0
        print(f"# setup: get_spark={get_spark_s:.2f} register={t2 - t1:.2f} warmup={t0 + setup_s - t2:.2f}")

        phases["set_up"] = time.perf_counter()
        # the JIT is still compiling hot code after the warm-up; time
        # operations only once their latency has levelled off
        settle_n = min(w.settle_ops, args.max_ops or w.settle_ops)
        settle_ops, last = measure(w, spark, float("inf"), 0, settle_n) if settle_n else ([], 0)
        phases["settled"] = time.perf_counter()
        traced_ops = []
        if args.trace:
            # traced loop, then the untraced one, which is the overhead
            # baseline and gives the printed figures
            tracer = tracing.Tracer()
            tracing.install(tracer, w.json_cells)
            probe = probes.EngineProbe(spark)
            try:
                traced_ops, last = measure(w, spark, args.seconds, last, args.max_ops,
                                           probe=probe, tracer=tracer)
            finally:
                tracer.uninstall()
        ops, last = measure(w, spark, args.seconds, last, args.max_ops)
        phases["measured"] = time.perf_counter()
        peak = probes.peak_rss_mb(probes.jvm_pid())
    finally:
        if spark is not None:
            _shutdown(spark)
        helper.shutdown(wait=True)
        # the spawn context started multiprocessing's resource tracker
        resource_tracker._resource_tracker._stop()
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        phases["stopped"] = time.perf_counter()

    all_ops = settle_ops + traced_ops + ops
    failed = sum(1 for o in all_ops if o["problems"])
    for o in all_ops:
        for p in o["problems"]:
            print(f"# FAILED op {o['arg']}: {p}")

    lat = [o["s"] for o in ops]
    named = {
        "setup_s": (setup_s, "s", 1),
        "input_gen_s": (input_gen_s, "s", 1),
        "peak_rss_mb": (peak, "MB", 1),
        "error_rate": (failed / len(all_ops), "ratio", len(all_ops)),
        **w.details(ops),
    }
    marks = list(phases.items())
    print("# phase_s " + " ".join(f"{b[0]}={b[1] - a[1]:.2f}" for a, b in zip(marks, marks[1:])))
    print("# op_s " + " ".join(f"{o['s']:.3f}" for o in ops))
    print(f"# workload={args.workload} seed={args.seed} cpus={cpus} unit={w.unit} input={json.dumps(w.input)}")
    for k, (v, unit, cnt) in named.items():
        print(f"# {k} = {v:.6g} {unit} (n={cnt})")

    if args.trace:
        metrics = layer_metrics(w, tracer, traced_ops, ops, get_spark_s, cpus)
        trace_path = os.path.join(root, ".perfbench", "traces", f"{args.workload}-{args.seed}.jsonl")
        tracer.dump(trace_path)
        print(f"# spans written to {os.path.relpath(trace_path, root)}")
        units = {}
    else:
        metrics = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(lat),
            "ops_per_s": len(lat) / sum(lat),
            "peak_rss_mb": peak,
        }
        units = {"setup_s": "s", "op_s_p50": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}
    out = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, _layer_unit(k))} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "ratio" in name or "share" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
