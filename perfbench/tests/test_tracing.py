"""Unit tests of the span tracer (no Spark needed).

    python3 -m pytest perfbench/tests/test_tracing.py -q
"""

from __future__ import annotations

import os
import sys
import threading
import time
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


def test_union_length() -> None:
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0
    assert tracing.union_length([(0.0, 4.0), (1.0, 2.0)]) == 4.0
    assert tracing.union_length([(2.0, 1.0)]) == 0.0


def test_pool_children_attach_by_key_and_counters_add_up() -> None:
    """Spans opened on pool threads find their parent by path key; the
    parent's self time excludes the union of its overlapping children;
    counter updates from many threads are not lost."""
    tracer = tracing.Tracer()
    mod = types.SimpleNamespace(leaf=lambda spark, path: time.sleep(0.01))
    tracer.wrap(mod, "leaf", "fs.leaf", key_fn=lambda a, k: a[1])
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        tracer.begin_op(1)
        root = tracer._root
        table = tracer.open("writer.write_table", "/out/t1")

        def worker(k: int) -> None:
            mod.leaf(None, f"/out/t1/part-{k}")
            mod.leaf(None, f"/out/t10/part-{k}")  # no open owner: the op root
            for _ in range(200):
                tracer.add("n", 1)

        threads = [threading.Thread(target=worker, args=(k,)) for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
        tracer.close(table)
        tracer.end_op()
    finally:
        sys.setswitchinterval(old)
        tracer.uninstall()

    leaves = [s for s in tracer.closed() if s.name == "fs.leaf" and s.key.startswith("/out/t1/")]
    strays = [s for s in tracer.closed() if s.name == "fs.leaf" and s.key.startswith("/out/t10/")]
    assert len(leaves) == 16 and len(strays) == 16
    assert all(s.parent == table.id and s.op == 1 for s in leaves)
    assert all(s.parent == root.id for s in strays)
    assert tracer.counters["n"] == 16 * 200
    selfs = tracer.self_times()
    covered = tracing.union_length([(s.start, s.end) for s in leaves])
    assert abs(selfs[table.id] - ((table.end - table.start) - covered)) < 1e-9
    assert selfs[table.id] >= 0.0
    assert callable(mod.leaf) and mod.leaf.__name__ == "<lambda>"
