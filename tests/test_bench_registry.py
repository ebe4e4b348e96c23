"""bench.py's query lists name only registered queries (checked without
Spark, by parsing bench.py): a dropped registry name would otherwise
surface only as a KeyError deep into a bench run."""

from __future__ import annotations

import ast
import os

from python_fastly_log_query_spark import queries

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
LISTS = ("AGG_QUERIES", "STANDALONE_QUERIES")


def _bench_lists() -> dict[str, list[str]]:
    with open(BENCH) as f:
        tree = ast.parse(f.read())
    out = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            name = getattr(node.targets[0], "id", None)
            if name in LISTS:
                out[name] = ast.literal_eval(node.value)
    return out


def test_bench_lists_name_registered_queries():
    lists = _bench_lists()
    assert set(lists) == set(LISTS)
    registered = set(queries.queries())
    for name, entries in lists.items():
        assert entries, name
        missing = [q for q in entries if q not in registered]
        assert not missing, (name, missing)
