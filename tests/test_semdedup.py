"""SemDeDup keep-the-outlier semantics (operators/similarity.py:semdedup):
the registered query carries a full DuckDB oracle; these pin the paper's
rule on a hand-built geometry where every verdict is checkable by eye."""

from pyspark.sql import functions as F  # noqa: F401

from python_fastly_log_query_spark.operators.similarity import semdedup


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


VECS = [
    [1.0, 0.0, 0.0, 0.0],  # centroid of cell 0 (csim 1.0)
    [0.0, 1.0, 0.0, 0.0],  # centroid of cell 1 (csim 1.0)
    [1.0, 0.1, 0.0, 0.0],  # cell 0, csim ~.995, cos(2,3) ~.963
    [0.9, 0.35, 0.0, 0.0],  # cell 0, LOWEST csim ~.932 -> the kept outlier
    [0.0, 1.0, 0.5, 0.0],  # cell 1, cos to centroid ~.894 < tau
]


def test_semdedup_keeps_the_centroid_outlier(spark):
    out = {
        r["vec_id"]: (r["cell"], r["is_dup"])
        for r in semdedup(_emb(spark, VECS), threshold=0.9, n_cells=2).collect()
    }
    # cell 0 orders (csim asc): vec3 < vec2 < vec0.  cos(3,2) and
    # cos(3,0) and cos(2,0) all exceed 0.9 -> only the outlier vec3
    # survives; both centroid-nearer members drop.
    assert out[3] == (0, 0)
    assert out[2] == (0, 1)
    assert out[0] == (0, 1)
    # cell 1: the 0.894 pair is under threshold -> both kept
    assert out[1] == (1, 0)
    assert out[4] == (1, 0)


def test_semdedup_partitioning_invariant_and_threshold_monotone(spark):
    emb = _emb(spark, VECS)
    a = sorted(tuple(r) for r in semdedup(emb, 0.9, 2).collect())
    b = sorted(tuple(r) for r in semdedup(emb.repartition(5), 0.9, 2).collect())
    assert a == b
    # raising tau can only un-drop: tau above every pairwise cos keeps all
    none = semdedup(emb, 0.999, 2).filter("is_dup = 1").count()
    assert none == 0


def test_semdedup_plan_cell_equi_join_and_persisted_ordering(spark):
    """The within-cell pair join must extract `cell` as an equi key (a
    BNLJ here would be all-pairs across cells — the scale killer); the
    only BroadcastNestedLoopJoins allowed are ivf_assign's codebook
    cross-joins against the n_cells-row dim.  The (id, cell, csim)
    ordering frame feeds three consumers and must come from the
    lifecycle persist, not three recomputations."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        semdedup(_emb(spark, VECS), 0.9, 2).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    # the pair join is an equi join on cell: a sort/exchange keyed on cell
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "cell" in plan
    # persisted ordering frame (selfjoin_ready)
    assert "InMemoryTableScan" in plan


def test_dot_left_is_exact_left_assoc_fold():
    """_dot_left and _matmul_left must be BIT-IDENTICAL to the scalar
    left-to-right fold the SQL oracles use (acc starts at +0.0), at every
    tile boundary."""
    import numpy as np

    from python_fastly_log_query_spark.operators.similarity import (
        _dot_left,
        _matmul_left,
    )

    rng = np.random.default_rng(7)
    n = 1000
    a = rng.standard_normal((n, 64))
    b = rng.standard_normal((n, 64))
    got = _dot_left(a, b, block=256)  # force several tiles
    w = b[:40]
    mm = _matmul_left(a, w)
    assert mm.shape == (n, 40)
    for i in rng.integers(0, n, 100):
        acc = 0.0
        for j in range(64):
            acc += a[i, j] * b[i, j]
        assert got[i] == acc  # bitwise, no tolerance
        for r in rng.integers(0, 40, 3):
            acc = 0.0
            for j in range(64):
                acc += a[i, j] * w[r, j]
            assert mm[i, r] == acc


def test_semantic_decontam_flags_planted_leak(spark):
    import pytest

    from python_fastly_log_query_spark.operators.similarity import (
        semantic_decontam,
    )

    # eval vector is id 0 (0 % 7 == 0); train id 8 is a near-copy of it,
    # train id 9 is orthogonal
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (7, [0.0, 1.0, 0.0, 0.0]),
        (8, [0.999, 0.01, 0.0, 0.0]),
        (9, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semantic_decontam(emb, eval_mod=7, threshold=0.95).collect()}
    assert set(out) == {8, 9}  # eval rows excluded from output
    assert out[8].contaminated == 1 and out[8].near_eval_id == 0
    assert out[9].contaminated == 0
    # ties go to the smallest eval id: vector equidistant from evals 0 and 7
    rows2 = [
        (0, [1.0, 0.0]),
        (7, [0.0, 1.0]),
        (1, [1.0, 1.0]),
    ]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>")
    got = semantic_decontam(emb2, eval_mod=7, threshold=0.95).collect()[0]
    assert got.near_eval_id == 0
    # driver-gather guard raises past the cap
    with pytest.raises(ValueError, match="eval_max_rows"):
        semantic_decontam(emb, eval_mod=7, eval_max_rows=1).collect()
