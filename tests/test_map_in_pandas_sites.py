"""Arrow is the one batch format between the JVM and Python: every Python
stage and driver gather exchanges Arrow (``functions.arrow``,
``mapInArrow``, ``applyInArrow``, ``arrow_udf``, ``toArrow``).  A pandas
entry point stays only where Spark has no Arrow form of the API; each such
site is listed here with its reason, and any other use fails this test.

The entry points are the pandas calls (``mapInPandas``, ``applyInPandas``,
``pandas_udf``, ``toPandas``, ``applyInPandasWithState``) and a
module-level ``import pandas``, which every importer of the module pays."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "python_fastly_log_query_spark")

PANDAS_CALLS = frozenset(
    {"mapInPandas", "applyInPandas", "pandas_udf", "toPandas", "applyInPandasWithState"}
)
IMPORT = "import pandas"

_STATEFUL = "applyInPandasWithState: Spark 4.1 has no Arrow form of the stateful streaming API"

# (file relative to the package, enclosing top-level def or IMPORT, entry point) -> reason
ALLOWED = {
    ("streaming/jobs.py", "ip_request_rate_stream", "applyInPandasWithState"): _STATEFUL,
    ("streaming/jobs.py", "cdc_materialize_stream", "applyInPandasWithState"): _STATEFUL,
    ("streaming/jobs.py", IMPORT, IMPORT): "the two stateful streams' state functions take and yield pandas frames",
}


def _pandas_uses(path: str) -> list[tuple[str | None, str, int]]:
    """(enclosing top-level def or IMPORT, entry point, line) of every
    pandas entry point in one source file."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    out = []
    for top in tree.body:
        if isinstance(top, (ast.Import, ast.ImportFrom)):
            mods = [top.module] if isinstance(top, ast.ImportFrom) else [a.name for a in top.names]
            if any(m and m.split(".")[0] == "pandas" for m in mods):
                out.append((IMPORT, IMPORT, top.lineno))
        for node in ast.walk(top):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else node.name if isinstance(node, ast.alias)
                else None
            )
            if name in PANDAS_CALLS:
                out.append((getattr(top, "name", None), name, getattr(node, "lineno", top.lineno)))
    return out


def test_map_in_pandas_only_at_allow_listed_sites():
    seen, stray = set(), []
    for d, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
            for fn, name, line in _pandas_uses(path):
                if (rel, fn, name) in ALLOWED:
                    seen.add((rel, fn, name))
                else:
                    stray.append(f"{rel}:{line} {name} in {fn}")
    assert not stray, stray
    # a site that no longer uses pandas leaves the list too
    assert seen == set(ALLOWED), sorted(set(ALLOWED) - seen)


def test_the_guard_sees_every_entry_point(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import pandas as pd\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "def f(df):\n"
        "    df.mapInPandas(g, 's')\n"
        "    df.groupBy('k').applyInPandas(g, 's')\n"
        "    return df.toPandas()\n"
        "def h():\n"
        "    import pandas\n"
    )
    got = {(fn, name) for fn, name, _ in _pandas_uses(str(src))}
    assert got == {
        (IMPORT, IMPORT),
        (None, "pandas_udf"),
        ("f", "mapInPandas"),
        ("f", "applyInPandas"),
        ("f", "toPandas"),
    }
