"""Output checks, computed with pyarrow and DuckDB rather than the
program under test. Each check returns a list of problems (empty = ok).
They run in the runner's helper process, not in the measured one.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import re
from datetime import date, datetime
from decimal import Decimal

import pyarrow.parquet as pq

_RANGE = re.compile(r"^(?P<t>.+)_(?P<s>\d+)_(?P<e>\d+)_(?P<c>[a-z0-9]+)\.parquet$")


def read_manifest(out: str, name: str = "manifest.json") -> dict:
    with open(os.path.join(out, name)) as fh:
        return json.load(fh)


def _data_files(table_dir: str) -> set[str]:
    if not os.path.isdir(table_dir):
        return set()
    return {f for f in os.listdir(table_dir) if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(table_dir, f))}


def export_layout(out: str, specs: dict, rows: dict[str, int]) -> list[str]:
    """Manifest lists exactly the committed files; row ranges are
    contiguous from 0 and match the footers; no file exceeds
    ``rows_per_file``; every column chunk is zstd."""
    try:
        manifest = read_manifest(out)
    except (OSError, ValueError) as e:
        return [f"manifest unreadable: {e}"]
    problems = []
    if set(manifest.get("files", {})) != set(specs):
        return [f"manifest tables {sorted(manifest.get('files', {}))} != {sorted(specs)}"]
    for t, spec in specs.items():
        listed = manifest["files"][t]
        names = [p.split("/", 1)[1] if p.startswith(t + "/") else p for p in listed]
        on_disk = _data_files(os.path.join(out, t))
        if set(names) != on_disk or len(names) != len(set(names)):
            problems.append(f"{t}: manifest {sorted(names)} != committed {sorted(on_disk)}")
            continue
        ranges = []
        for n in names:
            m = _RANGE.match(n)
            if not m or m["t"] != t:
                problems.append(f"{t}: bad file name {n}")
                continue
            ranges.append((int(m["s"]), int(m["e"]), m["c"], n))
        expect = 0
        for s, e, codec, n in sorted(ranges):
            if s != expect:
                problems.append(f"{t}: range gap/overlap at {n} (expected start {expect})")
            expect = e
            meta = pq.read_metadata(os.path.join(out, t, n))
            if meta.num_rows != e - s:
                problems.append(f"{t}: {n} holds {meta.num_rows} rows, name says {e - s}")
            if meta.num_rows > spec.rows_per_file:
                problems.append(f"{t}: {n} holds {meta.num_rows} > rows_per_file {spec.rows_per_file}")
            codecs = {meta.row_group(g).column(c).compression for g in range(meta.num_row_groups)
                      for c in range(meta.num_columns)}
            if codec != "zstd" or codecs - {"ZSTD"}:
                problems.append(f"{t}: {n} compressed with {sorted(codecs)}")
        if expect != rows[t]:
            problems.append(f"{t}: ranges cover {expect} rows, source has {rows[t]}")
    return problems


def export_output(out: str, specs: dict, rows: dict[str, int], expect: str, expected: dict) -> list[str]:
    """Layout checks, then each table's content against ``expected``:
    DuckDB fingerprints (``expect="fingerprint"``) or per-row JSON
    digests (``expect="json"``)."""
    problems = export_layout(out, specs, rows)
    if problems:
        return problems
    manifest = read_manifest(out)
    for t, spec in specs.items():
        files = [os.path.join(out, p) for p in manifest["files"][t]]
        if expect == "json":
            problems += compare_json(files, spec, expected[t], t)
            continue
        got = table_fingerprint(files, spec.columns)
        if got != expected[t]:
            problems.append(f"{t}: content fingerprint {got} != source {expected[t]}")
    return problems


def table_fingerprint(files, columns: list[str]) -> tuple[int, int]:
    """(row count, order-insensitive sum of row hashes), by DuckDB."""
    import duckdb  # only the helper process loads DuckDB

    cols = ", ".join(f'"{c}"' for c in columns)
    con = duckdb.connect()
    try:
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM read_parquet(?)",
            [files],
        ).fetchone()
    finally:
        con.close()
    return int(n), int(h)


def _json_digest(text: str | None) -> bytes | None:
    if text is None:
        return None
    canon = json.dumps(json.loads(text), sort_keys=True, separators=(",", ":"))
    return hashlib.blake2b(canon.encode(), digest_size=16).digest()


def json_digests(table, spec) -> dict:
    """{row id: digest of each JSON cell's parsed value}."""
    cols = spec.json_columns
    data = table.select(["id", *cols]).to_pydict()
    return {
        rid: tuple(_json_digest(data[c][i]) for c in cols)
        for i, rid in enumerate(data["id"])
    }


def compare_json(files: list[str], spec, expected: dict, table: str) -> list[str]:
    """Every output JSON cell parses equal to its source cell."""
    import pyarrow.dataset as ds

    got = json_digests(ds.dataset(files, format="parquet").to_table(columns=["id", *spec.json_columns]), spec)
    if got.keys() != expected.keys():
        return [f"{table}: output ids differ from source ({len(got)} vs {len(expected)} rows)"]
    bad = sum(1 for k, v in got.items() if v != expected[k])
    return [f"{table}: {bad} rows with JSON differing from source"] if bad else []


def snapshot_retention(lake: str, version: int, keep_last: int, rows: dict[str, int]) -> list[str]:
    """Retained versions stay readable and complete; vacuumed ones are gone."""
    problems = []
    keep = [v for v in range(version - keep_last + 1, version + 1) if v >= 1]
    manifests = sorted(glob.glob(os.path.join(lake, "manifest-v*.json")))
    on_disk = {int(os.path.basename(m)[len("manifest-v"):-len(".json")]) for m in manifests}
    if on_disk != set(keep):
        problems.append(f"manifests on disk {sorted(on_disk)}, expected {keep}")
    referenced = set()
    for v in keep:
        try:
            m = read_manifest(lake, f"manifest-v{v:06d}.json")
        except (OSError, ValueError) as e:
            problems.append(f"v{v}: manifest unreadable: {e}")
            continue
        for t, paths in m["files"].items():
            n = 0
            for p in paths:
                referenced.add(p.split("/", 1)[0])
                try:
                    n += pq.read_metadata(os.path.join(lake, p)).num_rows
                except OSError as e:
                    problems.append(f"v{v}: {p} unreadable: {e}")
            if n != rows[t]:
                problems.append(f"v{v}: {t} holds {n} rows, expected {rows[t]}")
    stale = {d for d in os.listdir(lake) if re.fullmatch(r"v\d{6,}", d)} - referenced
    if stale:
        problems.append(f"vacuumed version dirs still present: {sorted(stale)}")
    return problems


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "(" + ",".join(_norm(x) for x in v) + ")"
    if hasattr(v, "asDict"):
        return _norm(tuple(v))
    return str(v)


def _fingerprint(rows, columns: list[str]) -> tuple:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return len(rows), tuple(sorted(columns)), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_match(s_rows: list[tuple], s_cols: list[str], oracle_sql: str, lake: str, name: str) -> list[str]:
    """A query's collected result (``s_rows`` with columns ``s_cols``)
    equals the registry's DuckDB oracle (row count, column names,
    order-insensitive values)."""
    import duckdb

    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(lake, "*.parquet")):
            t = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(oracle_sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    sn, scols, svals = _fingerprint(s_rows, s_cols)
    dn, dcols, dvals = _fingerprint(d_rows, d_cols)
    if (sn, scols) != (dn, dcols):
        return [f"{name}: spark {sn} rows {scols} vs oracle {dn} rows {dcols}"]
    if svals != dvals:
        return [f"{name}: values differ from the DuckDB oracle"]
    return []
