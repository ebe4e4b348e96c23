"""No new env knobs (checked without Spark, by parsing the source): every
``SPARK_GRAFT_*`` name the package, the bench scripts, `__spark_entry__.py` or
the test session reads must be on the allow-list below with the reason it
exists.  A knob that only one harness sets is a second code path nobody
else runs; add one here only with the reason."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "python_fastly_log_query_spark")
SCRIPTS = ("bench.py", "bench_extra.py", "__spark_entry__.py", "tests/conftest.py")

ALLOWED = {
    "SPARK_GRAFT_CPUS": "local[N] task slots; the Tier-1 command pins it to the usable cores",
    "SPARK_GRAFT_DRIVER_MEM": "Spark JVM heap override of the 40%-of-MemTotal default",
    "SPARK_GRAFT_WORK_DIR": "work root for the warehouse and streaming checkpoints",
    "SPARK_GRAFT_TESTDATA": "root of the generated sf* test tables",
    "SPARK_GRAFT_PARITY_SF": "scale label of the oracle-parity sweep (sf0.001 by default)",
    "SPARK_GRAFT_SF_DIR": "input tables of the bench.py / bench_extra.py runs",
}

_NAME = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _sources() -> list[str]:
    paths = [os.path.join(ROOT, p) for p in SCRIPTS]
    for d, _, files in os.walk(PACKAGE):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(paths)


def _knobs(path: str) -> set[str]:
    """String literals that are exactly a knob name: the argument of every
    os.environ / os.getenv read or write.  Docstrings and comments that
    merely mention a name are not literals of that exact form."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    return {
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _NAME.fullmatch(node.value)
    }


def test_every_env_knob_is_allow_listed():
    found: dict[str, list[str]] = {}
    for path in _sources():
        for name in _knobs(path):
            found.setdefault(name, []).append(os.path.relpath(path, ROOT))
    unlisted = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not unlisted, unlisted
    assert set(ALLOWED) == set(found), sorted(set(ALLOWED) - set(found))
