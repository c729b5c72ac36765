"""Outside-in tracing for the benchmark's traced mode.

Spans are recorded by rebinding, from the benchmark's side, the public
functions each caller looks up at call time (module attributes of
``parquet_export_spark``). Nothing in the package is edited; ``uninstall``
puts every original back.

A span is (id, name, start, end, parent, op, thread, key). Its parent is
the innermost open span of the same thread; calls made from a worker
thread pool have no open span on their thread, so they attach to the
innermost open span whose ``key`` (a path) contains theirs, else to the
operation's root span. Self time is a span's duration minus the union of
its children's intervals: the writer and pipeline pools run children in
parallel, so their summed durations can exceed the parent's.

Spans stay in memory; ``dump`` writes them as JSON lines at exit.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

FS_OPS = (
    "list_names",
    "exists",
    "rename",
    "delete",
    "write_text",
    "read_text",
    "parquet_row_count",
)


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "thread", "key")

    def __init__(self, sid, name, start, parent, op, thread, key):
        self.id, self.name, self.start, self.end = sid, name, start, None
        self.parent, self.op, self.thread, self.key = parent, op, thread, key


def _under(key: str | None, prefix: str | None) -> bool:
    if not key or not prefix:
        return False
    return key == prefix or key.startswith(prefix.rstrip("/") + "/")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: int | None = None
        self.in_snapshot = False  # inside versioned.export_snapshot
        self._root: Span | None = None
        self._open: dict[int, Span] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, key: str | None = None) -> Span:
        stack = self._stack()
        now = time.perf_counter()
        with self._lock:
            if stack:
                parent = stack[-1]
            else:
                owners = [s for s in self._open.values() if _under(key, s.key)]
                parent = max(owners, key=lambda s: s.start) if owners else self._root
            span = Span(len(self.spans), name, now, parent.id if parent else None,
                        self.op, threading.get_ident(), key)
            self.spans.append(span)
            self._open[span.id] = span
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self._open.pop(span.id, None)

    def add(self, counter: str, value: float) -> None:
        with self._lock:
            self.counters[counter] += value

    def begin_op(self, op: int) -> None:
        self.op = op
        self._root = self.open("op")

    def end_op(self) -> None:
        self.close(self._root)
        self._root = None

    # -- rebinding --------------------------------------------------------
    def wrap(self, module, attr: str, name: str, key_fn=None, after=None) -> None:
        """Replace ``module.attr`` by a timed wrapper. ``key_fn(args,
        kwargs)`` gives the span key; ``after(result, args, kwargs)``
        updates counters."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            key = key_fn(args, kwargs) if key_fn else None
            span = tracer.open(name, key)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                after(result, args, kwargs)
            return result

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def replace(self, module, attr: str, fn) -> None:
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- analysis ---------------------------------------------------------
    def closed(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.closed():
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.closed():
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())]
            )
            out[s.id] = (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.closed():
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "thread": s.thread, "key": s.key,
                }) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def install(tracer: Tracer, json_cells: dict[str, int]) -> None:
    """Rebind the package's layer boundaries. ``json_cells`` maps a table
    name to its non-NULL JSON cell count (known from the generated
    input), counted each time the table goes through canonicalization."""
    from parquet_export_spark import queries
    from parquet_export_spark.export import fs, manifest, pipeline, versioned
    from parquet_export_spark.sources import lake

    def path_arg(i):
        def key(args, kwargs):
            return args[i] if len(args) > i else None
        return key

    def table_key(args, kwargs):  # (df, out_dir, spec, ...)
        return fs.join(args[1], args[2].name)

    c = tracer.counters

    # export.fs: every helper, keyed by its path argument
    for op in FS_OPS:
        tracer.wrap(fs, op, f"fs.{op}", key_fn=path_arg(1))

    # sources.lake: count tables asked for and tables actually loaded
    inside = threading.local()
    orig_load_tables = lake.load_tables

    def load_tables(spark, lake_dir, names=None):
        tracer.add("sources.tables_requested", len(names or lake.STAR_TABLES))
        inside.on = True
        try:
            return orig_load_tables(spark, lake_dir, names)
        finally:
            inside.on = False

    def count_direct(result, args, kwargs):
        if not getattr(inside, "on", False):
            tracer.add("sources.tables_requested", 1)

    tracer.replace(lake, "load_tables", load_tables)
    tracer.replace(queries, "load_tables", load_tables)
    tracer.wrap(lake, "load_table", "sources.load_table", after=count_direct)

    # export.normalize, as export.pipeline calls it
    tracer.wrap(pipeline, "enforce_schema", "normalize.enforce_schema")

    def count_json(result, args, kwargs):
        canonical = kwargs.get("canonical", args[2] if len(args) > 2 else False)
        if canonical:
            tracer.add("normalize.json_cells", json_cells.get(args[1].name, 0))

    tracer.wrap(pipeline, "normalize_json_columns", "normalize.normalize_json_columns", after=count_json)

    # export.writer
    def count_files(result, args, kwargs):
        spec = args[2]
        rows = max((int(n.rsplit("_", 2)[-2]) for n in result), default=0)
        tracer.add("writer.files", len(result))
        tracer.add("writer.rows", rows)
        tracer.add("writer.capacity_rows", len(result) * spec.rows_per_file)

    tracer.wrap(pipeline, "write_table", "writer.write_table", key_fn=table_key, after=count_files)

    # export.manifest
    tracer.wrap(pipeline, "write_manifest", "manifest.write_manifest", key_fn=path_arg(0))
    tracer.wrap(manifest, "build_manifest", "manifest.build_manifest")
    tracer.wrap(versioned, "build_manifest", "manifest.build_manifest")

    # export.pipeline
    def count_rewrite(result, args, kwargs):
        tracer.add("versioned.tables_rewritten", 1 if tracer.in_snapshot else 0)

    for mod in (pipeline, versioned):
        tracer.wrap(mod, "export_table_with_metrics", "pipeline.export_table",
                    key_fn=table_key, after=count_rewrite)
    tracer.wrap(pipeline, "export_lake", "pipeline.export_lake", key_fn=path_arg(2))

    orig_map = pipeline.map_tables_concurrently

    def map_tables_concurrently(fn, items, max_concurrency):
        submitted = time.perf_counter()
        busy = []

        def timed(item):
            t0 = time.perf_counter()
            try:
                return fn(item)
            finally:
                busy.append((t0 - submitted, time.perf_counter() - t0))

        out = orig_map(timed, items, max_concurrency)
        wall = time.perf_counter() - submitted
        tracer.add("pipeline.table_wait_s", sum(w for w, _ in busy))
        tracer.add("pipeline.table_busy_s", sum(b for _, b in busy))
        tracer.add("pipeline.map_wall_s", wall)
        return out

    tracer.replace(pipeline, "map_tables_concurrently", map_tables_concurrently)

    # export.versioned, as the benchmark calls it
    orig_snapshot = versioned.export_snapshot

    def export_snapshot(spark, source, out_dir, *a, **kw):
        tracer.in_snapshot = True
        n_tables = len(kw.get("tables") or versioned.TABLES)
        before = c["versioned.tables_rewritten"]
        try:
            return orig_snapshot(spark, source, out_dir, *a, **kw)
        finally:
            tracer.in_snapshot = False
            tracer.add("versioned.tables_reused", n_tables - (c["versioned.tables_rewritten"] - before))

    tracer.replace(versioned, "export_snapshot", export_snapshot)
    tracer.wrap(versioned, "export_snapshot", "versioned.export_snapshot", key_fn=path_arg(2))
    tracer.wrap(versioned, "load_versioned_table", "versioned.load_versioned_table", key_fn=path_arg(1))
    tracer.wrap(versioned, "vacuum", "versioned.vacuum", key_fn=path_arg(1))
