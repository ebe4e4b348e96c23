"""Session conf is written in one place per layer: the registry wrapper
(``queries._with_session_confs``) sets the confs a query registered and
restores them after the call, and ``session.get_spark`` sizes a new
session.  No query body flips a conf itself."""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "python_fastly_log_query_spark")

# (file relative to the package, enclosing function) allowed to write conf
ALLOWED = {
    ("queries.py", "_with_session_confs"),
    ("session.py", "get_spark"),
}


def _conf_writes(path: str) -> list[tuple[str | None, int]]:
    """(outermost enclosing function, line) of every ``<x>.conf.set(...)``
    or ``<x>.conf.unset(...)`` call in one source file."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    out: list[tuple[str | None, int]] = []

    def visit(node: ast.AST, top: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            here = top
            if top is None and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                here = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                out.append((top, child.lineno))
            visit(child, here)

    visit(tree, None)
    return out


def test_only_the_registry_wrapper_and_get_spark_write_session_conf():
    stray = []
    for d, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, PACKAGE)
            for fn, line in _conf_writes(path):
                if (rel, fn) not in ALLOWED:
                    stray.append(f"{rel}:{line} in {fn}")
    assert not stray, stray


def test_registry_pins_are_declared_not_flipped():
    """The 20 pinned queries carry their pins in the registry."""
    from python_fastly_log_query_spark import queries as Q

    pinned = {n: e[2] for n, e in Q._REGISTRY.items() if e[2]}
    assert len(pinned) == 20
    assert sum(c is Q._DIM_ITERATION for c in pinned.values()) == 12
    assert sum(c is Q._STREAM_DRAIN for c in pinned.values()) == 7
    bounded = pinned["streaming_dedup_bounded_state"]
    assert bounded == {
        **Q._STREAM_DRAIN,
        "spark.sql.streaming.stateStore.providerClass": Q._ROCKSDB_PROVIDER,
    }


_PARTS = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_TZ = "spark.sql.session.timeZone"
_MAPKEY = "spark.sql.mapKeyDedupPolicy"


def test_wrapper_sets_pins_for_the_call_and_restores_them(spark):
    from python_fastly_log_query_spark.queries import _with_session_confs

    saved = {k: spark.conf.get(k, None) for k in (_PARTS, _PROVIDER, _TZ, _MAPKEY)}
    seen: list[tuple[str, str]] = []

    def probe(s, sf):
        seen.append((s.conf.get(_PARTS), s.conf.get(_PROVIDER)))
        if sf == "raise":
            raise RuntimeError("probe failed")
        return None

    pinned = _with_session_confs(probe, {_PARTS: "3", _PROVIDER: "probe.Provider"})
    try:
        spark.conf.set(_PARTS, "7")
        spark.conf.unset(_PROVIDER)
        spark.conf.set(_TZ, "America/New_York")
        spark.conf.set(_MAPKEY, "EXCEPTION")

        pinned(spark, "return")
        assert seen[-1] == ("3", "probe.Provider")
        assert spark.conf.get(_PARTS) == "7"
        assert spark.conf.get(_PROVIDER, None) is None
        # the lazy frame a query returns is evaluated after the call:
        # these two stay set
        assert spark.conf.get(_TZ) == "UTC"
        assert spark.conf.get(_MAPKEY) == "LAST_WIN"

        with pytest.raises(RuntimeError, match="probe failed"):
            pinned(spark, "raise")
        assert seen[-1] == ("3", "probe.Provider")
        assert spark.conf.get(_PARTS) == "7"
        assert spark.conf.get(_PROVIDER, None) is None
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
