"""No package code that only tests run (checked without Spark, by parsing the
source): every top-level function and class of the package must be
reachable by name from what a user or the benchmark runs —

- ``cli.main``, which dispatches to every ``cli`` command;
- each ``@register``-ed registry query;
- ``bench.py``, ``bench_extra.py``, ``__spark_entry__.py`` and
  ``perfbench/run.py``;

or be on the allow-list below with the reason it is kept.  A def that
tests alone call is a second implementation nobody else runs.

The walk is by name: a ``Name`` or ``Attribute`` that matches a top-level
def (or a module-level assignment, whose value is walked in turn) reaches
it, whatever module it was imported from.  Module-level statements other
than defs, assignments and imports run at import time and count as roots.
A def reached only through a string (``getattr(mod, "name")``) is not
seen; name it in code."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "python_fastly_log_query_spark")
SCRIPTS = ("bench.py", "bench_extra.py", "__spark_entry__.py", "perfbench/run.py")

_PARSE_REF = "reference-parity helper: one line in the reference's dict shape for the parity, property and golden tests"
_KMV_REF = "two-pass reference that kmv_overlap_flagged's one-pass result is tested against"
_DOCS_FIXTURE = "fixture generator of the documents test table"
_ICEBERG = "the build brief's Iceberg table interface, exercised by test_catalog/test_iceberg_catalog"
_BUCKETING = "the brief's co-located join: bucketed writes whose shuffle-free join tests assert on the plan"

# "<file relative to the package>:<def>" -> why it stays without a caller
ALLOWED = {
    "operators/parse.py:parse_log_line": _PARSE_REF,
    "operators/parse.py:row_record": _PARSE_REF,
    "operators/parse.py:parse_lines_pdf": "pandas view of parse_lines for the golden and parity tests and perfbench's parser-tally test",
    "operators/aggregates.py:total_requests": "used by tests/report_reference.py",
    "operators/sketch.py:kmv_bottom_k": _KMV_REF,
    "operators/sketch.py:kmv_overlap": _KMV_REF,
    "operators/similarity.py:cosine": "brute-force pair cosine the similarity plan tests project",
    "datagen.py:generate_docs": _DOCS_FIXTURE,
    "datagen.py:_h": _DOCS_FIXTURE,
    "datagen.py:_pick": _DOCS_FIXTURE,
    "catalog.py:IcebergCatalog": _ICEBERG,
    "catalog.py:ParquetCatalog": _ICEBERG,
    "catalog.py:Snapshot": _ICEBERG,
    "catalog.py:get_catalog": _ICEBERG,
    "catalog.py:iceberg_catalog_name": _ICEBERG,
    "plans/bucketing.py:write_bucketed": _BUCKETING,
    "plans/bucketing.py:colocated_join": _BUCKETING,
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_registered(fn: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(fn, "decorator_list", ())
    )


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _package() -> tuple[dict[str, list[ast.AST]], list[tuple[str, ast.AST]], set[str]]:
    """(name -> top-level nodes binding it, every top-level def as
    (key, node), the package's root names)."""
    bound: dict[str, list[ast.AST]] = {}
    defs: list[tuple[str, ast.AST]] = []
    roots: set[str] = set()
    for d, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, PACKAGE)
            for st in _parse(path).body:
                if isinstance(st, _DEFS):
                    bound.setdefault(st.name, []).append(st)
                    defs.append((f"{rel}:{st.name}", st))
                    if (rel, st.name) == ("cli.py", "main") or _is_registered(st):
                        roots.add(st.name)
                elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                    targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                    for t in targets:
                        for n in ast.walk(t):
                            if isinstance(n, ast.Name):
                                bound.setdefault(n.id, []).append(st)
                elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                    roots |= _refs(st)
    return bound, defs, roots


def _unreachable() -> set[str]:
    bound, defs, roots = _package()
    for s in SCRIPTS:
        roots |= _refs(_parse(os.path.join(ROOT, s)))
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in bound.get(name, ()):
            todo += _refs(node) - seen
    return {key for key, node in defs if node.name not in seen}


def test_every_package_def_is_reachable_or_allow_listed():
    found = _unreachable()
    unlisted = sorted(found - set(ALLOWED))
    assert not unlisted, unlisted
    assert set(ALLOWED) == found, sorted(set(ALLOWED) - found)
