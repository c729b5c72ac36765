"""The four benchmark workloads.

Each workload is a closed loop with one client: the next operation is
sent when the previous one returns. Operations come in rounds (one
export, one refresh per table, one pass over the query mix) and the
runner always completes a round, so every run measures the same mix
whatever its seed. ``run_op`` is the timed region; ``check_op`` runs
outside it and returns a list of problems, any of which counts the
operation as failed.

Input generation and the output checks run in the runner's helper
process (``helper.submit(fn, ...)``), so their memory and DuckDB work
stay out of the measured process. The functions sent there are the
module-level ones below and those of ``checks``.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time

import checks
import gen_star
import gen_vera

#: light registry entries: planning and per-job overhead dominate, so
#: the latency median lands here
LIGHT_QUERIES = {
    "q1_pricing_summary": "relational",
    "agg_rollup": "window_agg",
    "events_hourly_rollup": "events",
    "bm25_scores": "text",
    "cosine_topk": "dedup_similarity",
}
#: heavy operator kernels: 2 of 12 runs in a round, so the 90th
#: percentile and about half of a round's time land here
HEAVY_QUERIES = {
    "pagerank_trade_graph": "graph",
    "neardup_minhash_lsh": "dedup_similarity",
}
QUERY_FAMILIES = {**LIGHT_QUERIES, **HEAVY_QUERIES}
FAMILIES = ("relational", "window_agg", "events", "text", "dedup_similarity", "graph")


def quantile(values: list[float], q: float) -> float:
    if q == 0.5:
        return statistics.median(values)
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def _parquet_source(lake_dir: str):
    """The CLI's ``--source parquet:<dir>`` reader."""
    from parquet_export_spark.__main__ import _make_source

    return _make_source(f"parquet:{lake_dir}", None)


def _dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if f.endswith(suffix) and not f.startswith((".", "_")))
    return total


def _parquet_bytes(path: str) -> int:
    return _dir_bytes(path, ".parquet")


def prepare_vera(seed: int, contracts: int, specs: dict, src: str, files: int, expect: str) -> dict:
    """Write the VerA source lake and compute what the checks compare
    against: per-table row counts and non-null JSON cells, and, by
    ``expect``, DuckDB content fingerprints (``"fingerprint"``) or
    per-row JSON digests (``"json"``). Runs in the helper process."""
    tables = gen_vera.generate(seed, contracts)
    tables = {t: tables[t] for t in specs}
    gen_vera.write_lake(tables, src, files)
    out = {
        "rows": {t: tables[t].num_rows for t in specs},
        "json_cells": {
            t: sum(tables[t].column(c).length() - tables[t].column(c).null_count for c in spec.json_columns)
            for t, spec in specs.items()
        },
        "input": {
            "rows": sum(t.num_rows for t in tables.values()),
            "source_mb": _dir_bytes(src) / 1e6,
            "arrow_mb": sum(t.nbytes for t in tables.values()) / 1e6,
        },
    }
    if expect == "fingerprint":
        out["expected"] = {t: checks.table_fingerprint(os.path.join(src, t, "*.parquet"), tables[t].column_names)
                           for t in specs}
    elif expect == "json":
        out["expected"] = {t: checks.json_digests(tables[t], spec) for t, spec in specs.items()}
    return out


def prepare_star(seed: int, sf: float, lake: str) -> dict:
    """Write the star-schema query lake. Runs in the helper process."""
    gen_star.write_lake(gen_star.generate(seed, sf), lake)
    return {"source_mb": _dir_bytes(lake) / 1e6}


class Workload:
    name = ""
    unit = "op"
    #: untimed (but checked) operations between the warm-up and the
    #: timed loop, while the JVM is still compiling hot code. A count,
    #: not a time, so that the timed loop starts at the same point of
    #: the warm-up curve on a slow host as on a fast one.
    settle_ops = 0

    def __init__(self, work: str, seed: int, helper, scale: float = 1.0) -> None:
        self.work, self.seed, self.helper, self.scale = work, seed, helper, scale
        self.rng = random.Random(seed)
        self.input: dict = {}
        self.json_cells: dict[str, int] = {}

    def prepare(self): ...
    def register(self, spark) -> None: ...
    def warmup(self, spark) -> None: ...
    def round(self) -> list: return [None]
    def run_op(self, spark, arg, i: int): ...
    def check_op(self, spark, arg, result) -> list[str]: return []
    def record(self, result) -> dict: return {}
    def cleanup_op(self, result) -> None: ...
    def details(self, ops: list[dict]) -> dict: return {}

    def _helper(self, fn, *args):
        """Run ``fn(*args)`` in the helper process and return its result."""
        return self.helper.submit(fn, *args).result()


class VeraWorkload(Workload):
    """A workload over a generated VerA source lake, read through the
    CLI's ``parquet:`` source."""

    contracts = 0
    files = 4  # source parquet files per table
    tables: tuple[str, ...] = gen_vera.TABLE_NAMES
    expect = ""  # what prepare_vera computes for the checks

    def prepare(self) -> None:
        from parquet_export_spark.tables import TABLES

        self.src = os.path.join(self.work, "source")
        self.specs = {t: TABLES[t] for t in self.tables}
        made = self._helper(prepare_vera, self.seed, max(50, int(self.contracts * self.scale)),
                            self.specs, self.src, self.files, self.expect)
        self.rows, self.json_cells, self.input = made["rows"], made["json_cells"], made["input"]
        self.expected = made.get("expected")
        self.source = _parquet_source(self.src)

    def register(self, spark) -> None:
        for spec in self.specs.values():
            self.source(spark, spec).schema  # schema discovery per table


class ExportLake(VeraWorkload):
    """Full ``export_lake`` of a VerA-shaped source into a fresh directory."""

    name = "export_vera"
    contracts = 12000
    settle_ops = 5  # export latency falls by a third over the first five exports
    files = 2  # fewer, larger files: bulk work, not per-file metadata
    canonical = False
    expect = "fingerprint"

    def _export(self, spark, out: str):
        from parquet_export_spark.export import pipeline

        return pipeline.export_lake(spark, self.source, out, tables=self.specs, canonical_json=self.canonical)

    def warmup(self, spark) -> None:
        out = os.path.join(self.work, "warmup")
        self._export(spark, out)
        shutil.rmtree(out, ignore_errors=True)

    def run_op(self, spark, arg, i: int):
        out = os.path.join(self.work, f"out-{i}")
        self._export(spark, out)
        return out

    def check_op(self, spark, arg, out) -> list[str]:
        return self._helper(checks.export_output, out, self.specs, self.rows, self.expect, self.expected)

    def record(self, out) -> dict:
        return {"out_bytes": _parquet_bytes(out)}

    def cleanup_op(self, out) -> None:
        if out:
            shutil.rmtree(out, ignore_errors=True)

    def details(self, ops) -> dict:
        busy = sum(o["s"] for o in ops)
        rows = self.input["rows"] * len(ops)
        out_bytes = sum(o.get("out_bytes", 0) for o in ops)
        return {
            "export_rows_per_s": (rows / busy, "rows/s", len(ops)),
            "lake_bytes_per_row": (out_bytes / rows, "B/row", len(ops)),
        }


class ExportJsonCanonical(ExportLake):
    """The JSON-bearing tables exported with ``canonical_json=True``."""

    name = "export_json_canonical"
    contracts = 2000
    tables = gen_vera.JSON_TABLES
    canonical = True
    expect = "json"


class SnapshotRefresh(VeraWorkload):
    """Refresh one changed table of a committed snapshot, read it back
    pinned, vacuum to the last two versions."""

    name = "snapshot_refresh"
    unit = "cycle"
    contracts = 300
    settle_ops = 14  # cycle latency falls by a third over the first two rounds

    def warmup(self, spark) -> None:
        """Commit the first snapshot, then one untimed refresh cycle."""
        from parquet_export_spark.export import versioned

        self.lake = os.path.join(self.work, "snapshots")
        versioned.export_snapshot(spark, self.source, self.lake)
        self.run_op(spark, "contracts", 0)

    def round(self) -> list:
        order = list(self.specs)
        self.rng.shuffle(order)
        return order

    def run_op(self, spark, table, i: int):
        from parquet_export_spark.export import versioned

        v = versioned.export_snapshot(spark, self.source, self.lake, changed_tables={table})
        n = versioned.load_versioned_table(spark, self.lake, table, version=v).count()
        versioned.vacuum(spark, self.lake, keep_last=2)
        return v, n

    def record(self, result) -> dict:
        return {"out_bytes": _parquet_bytes(os.path.join(self.lake, f"v{result[0]:06d}"))}

    def check_op(self, spark, table, result) -> list[str]:
        v, n = result
        problems = []
        if n != self.rows[table]:
            problems.append(f"pinned read of {table}@v{v}: {n} rows, expected {self.rows[table]}")
        return problems + self._helper(checks.snapshot_retention, self.lake, v, 2, self.rows)

    def details(self, ops) -> dict:
        lat = [o["s"] for o in ops]
        out = {"refresh_s_p50": (quantile(lat, 0.5), "s", len(lat))}
        if len(lat) >= 100:
            out["refresh_s_p90"] = (quantile(lat, 0.9), "s", len(lat))
        return out


class LakeQueries(Workload):
    """Registry queries into the ``noop`` sink over a generated star lake."""

    name = "lake_queries"
    unit = "query"
    sf = 0.01
    settle_ops = len(LIGHT_QUERIES)  # each light query once: they come first in a round

    def prepare(self) -> None:
        from parquet_export_spark.queries import REGISTRY

        self.lake = os.path.join(self.work, "lake")
        self.input = self._helper(prepare_star, self.seed, self.sf * self.scale, self.lake)
        self.registry = REGISTRY
        self.checked: set[str] = set()

    def register(self, spark) -> None:
        from parquet_export_spark.sources import lake

        lake.load_tables(spark, self.lake)

    def warmup(self, spark) -> None:
        self.registry["q6_forecast_revenue"].fn(spark, self.lake).write.format("noop").mode("overwrite").save()

    def round(self) -> list:
        # a fixed order: the first run of each query in a session pays
        # its JIT warm-up, so a seeded order would move that cost
        # between the light and heavy entries from seed to seed. The
        # light entries run twice, so that the latency median is a
        # median of ten light runs rather than one query's single run.
        return [*LIGHT_QUERIES, *LIGHT_QUERIES, *HEAVY_QUERIES]

    def run_op(self, spark, name, i: int):
        t0 = time.perf_counter()
        df = self.registry[name].fn(spark, self.lake)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return {"df": df, "build_s": t1 - t0, "exec_s": time.perf_counter() - t1}

    def record(self, result) -> dict:
        return {"build_s": result["build_s"], "exec_s": result["exec_s"]}

    def check_op(self, spark, name, result) -> list[str]:
        if name in self.checked:
            return []
        self.checked.add(name)
        df = result["df"]
        rows = [tuple(r) for r in df.collect()]
        return self._helper(checks.oracle_match, rows, df.columns, self.registry[name].oracle, self.lake, name)

    def details(self, ops) -> dict:
        lat = [o["s"] for o in ops]
        out = {
            "query_s_p50": (quantile(lat, 0.5), "s", len(lat)),
            "queries_per_s": (len(lat) / sum(lat), "1/s", len(lat)),
        }
        if len(lat) >= 100:
            out["query_s_p90"] = (quantile(lat, 0.9), "s", len(lat))
        for name in QUERY_FAMILIES:
            mine = [o["s"] for o in ops if o["arg"] == name]
            if mine:
                out[f"query_s.{name}"] = (quantile(mine, 0.5), "s", len(mine))
        return out


WORKLOADS = {w.name: w for w in (ExportLake, ExportJsonCanonical, SnapshotRefresh, LakeQueries)}
