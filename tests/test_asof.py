"""Semantics and plan contracts for the as-of join
(operators/asof.py): latest valid_from <= ts, new version on ties,
NULL before the first version, whole-version payload carry, and the
no-inequality-join plan shape."""

import random
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from python_fastly_log_query_spark.operators.asof import asof_join


def _ts(s):
    return datetime.fromisoformat(s)


def _frames(spark):
    facts = spark.createDataFrame(
        [
            (1, "a", _ts("2024-01-01 00:00:00")),  # before any version
            (2, "a", _ts("2024-01-02 00:00:00")),  # exactly v0: tie -> v0
            (3, "a", _ts("2024-01-04 12:00:00")),  # between v0 and v1
            (4, "a", _ts("2024-01-05 00:00:00")),  # exactly v1: tie -> v1
            (5, "a", _ts("2024-02-01 00:00:00")),  # after last
            (6, "b", _ts("2024-01-03 00:00:00")),  # other key, own timeline
        ],
        "id long, k string, ts timestamp",
    )
    dim = spark.createDataFrame(
        [
            ("a", _ts("2024-01-02 00:00:00"), 0, "cfg-a0"),
            ("a", _ts("2024-01-05 00:00:00"), 1, None),  # NULL field in v1
            ("b", _ts("2024-01-01 00:00:00"), 7, "cfg-b0"),
        ],
        "k string, valid_from timestamp, version int, label string",
    )
    return facts, dim


def test_asof_semantics(spark):
    facts, dim = _frames(spark)
    got = {
        r["id"]: (r["version"], r["label"])
        for r in asof_join(facts, dim, on="k", ts="ts").collect()
    }
    assert got[1] == (None, None)      # before first version
    assert got[2] == (0, "cfg-a0")     # tie takes the new version
    assert got[3] == (0, "cfg-a0")
    # v1's label is legitimately NULL: must NOT leak v0's label through
    assert got[4] == (1, None)
    assert got[5] == (1, None)
    assert got[6] == (7, "cfg-b0")


def test_asof_keeps_fact_columns_and_row_count(spark):
    facts, dim = _frames(spark)
    out = asof_join(facts, dim, on="k", ts="ts")
    assert set(["id", "k", "ts", "version", "label"]) == set(out.columns)
    assert out.count() == facts.count()


def test_asof_plan_has_no_inequality_join(spark):
    """The point of the operator: the naive `e.k = d.k AND e.ts >=
    d.valid_from` range join plans as BroadcastNestedLoopJoin and
    multiplies facts by versions; the union+window plan must contain no
    join at all on the fact path."""
    facts, dim = _frames(spark)
    plan = (
        asof_join(facts, dim, on="k", ts="ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"):
        assert bad not in plan, f"{bad} in as-of plan:\n{plan}"
    assert "Window" in plan


def test_asof_payload_defaults_to_all_dim_columns(spark):
    facts, dim = _frames(spark)
    explicit = asof_join(facts, dim, on="k", ts="ts", payload=["version"])
    assert "label" not in explicit.columns and "version" in explicit.columns


@pytest.mark.parametrize("seed", [11, 22, 33])
def test_asof_random_matches_python_reference(spark, seed):
    """Randomized cross-check: the union+window plan equals a direct
    per-fact 'latest valid_from <= ts' scan in plain Python."""
    rng = random.Random(seed)
    keys = ["a", "b", "c"]
    facts = [
        (i, rng.choice(keys), _ts("2024-01-01 00:00:00")
         + timedelta(minutes=rng.randrange(0, 10_000)))
        for i in range(120)
    ]
    dim = [
        (k, _ts("2024-01-01 00:00:00") + timedelta(minutes=m), v)
        for k in keys
        for v, m in enumerate(sorted(rng.sample(range(0, 10_000), 4)))
    ]
    fdf = spark.createDataFrame(facts, "id long, k string, ts timestamp")
    ddf = spark.createDataFrame(dim, "k string, valid_from timestamp, version int")

    def ref(fk, fts):
        cands = [(vf, v) for k, vf, v in dim if k == fk and vf <= fts]
        return max(cands)[1] if cands else None

    got = {
        r["id"]: r["version"]
        for r in asof_join(fdf, ddf, on="k", ts="ts").collect()
    }
    want = {i: ref(k, ts) for i, k, ts in facts}
    assert got == want
