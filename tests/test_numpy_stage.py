"""The Arrow numpy stage (functions/arrow.py) and the per-source top-k
kernel of ``exact_cosine_pairs``: column conversion rules, the keep-column
cast, and parity of the numpy top-k with the pandas shape it replaced."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from python_fastly_log_query_spark.functions.arrow import column_values, numpy_stage
from python_fastly_log_query_spark.operators.similarity import _per_source_topk


def test_column_values_builds_matrices_lists_and_arrays():
    emb = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], pa.list_(pa.float32()))
    m = column_values("e", emb.slice(1))
    assert m.shape == (2, 2) and m.dtype == np.float32
    assert m.tolist() == [[3.0, 4.0], [5.0, 6.0]]
    toks = pa.array([["a", "b"], ["c"]], pa.list_(pa.string()))
    assert [list(r) for r in column_values("t", toks)] == [["a", "b"], ["c"]]
    ids = column_values("i", pa.array([7, 8], pa.int64()))
    assert ids.dtype == np.int64 and ids.tolist() == [7, 8]


@pytest.mark.parametrize(
    "rows",
    [
        [[1.0, 2.0], [3.0]],  # ragged
        [[1.0, 2.0], None],  # null row
        [[1.0, None], [3.0, 4.0]],  # null element
    ],
)
def test_column_values_rejects_ragged_or_null_arrays(rows):
    with pytest.raises(ValueError, match="array column 'e'"):
        column_values("e", pa.array(rows, pa.list_(pa.float64())))


def _pandas_topk(a, b, cos, k):
    """The pandas per-batch top-k that ``exact_cosine_pairs`` ran before."""
    out = pd.DataFrame({"a": a, "b": b, "cosine": cos})
    out = (
        out.sort_values(["a", "cosine", "b"], ascending=[True, False, True])
        .groupby("a", sort=False)
        .head(k)
    )
    return out.to_numpy().tolist()


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("k", [1, 3, 50])
def test_per_source_topk_matches_pandas_sort_groupby_head(seed, k):
    rng = np.random.default_rng(seed)
    n = 400
    a = rng.integers(0, 20, n).astype(np.int64)
    b = rng.permutation(n).astype(np.int64)
    # few distinct cosines: ties within a source are the common case
    cos = rng.choice([0.25, 0.5, 0.75, 1.0, np.nan], n)
    top = _per_source_topk(a, b, cos, k)
    got = np.column_stack([a[top], b[top], cos[top]]).tolist()
    want = _pandas_topk(a, b, cos, k)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:2] == w[:2]
        assert g[2] == w[2] or (np.isnan(g[2]) and np.isnan(w[2]))


def test_numpy_stage_casts_keep_columns_and_nulls_nan(spark):
    df = spark.createDataFrame(
        [(1, [1.5, 2.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )

    def _norm(cols):
        x = cols["embedding"]
        n = np.sqrt((x * x).sum(axis=1))
        return {"unit0": x[:, 0] / n}  # 0/0 -> NaN -> NULL

    out = numpy_stage(
        df,
        "vec_id long, embedding array<float>, unit0 double",
        _norm,
        keep=("vec_id", "embedding"),
    )
    assert dict(out.dtypes)["embedding"] == "array<float>"
    rows = {r.vec_id: r for r in out.collect()}
    assert rows[1].embedding == [1.5, 2.0] and rows[1].unit0 == 0.6
    assert rows[2].unit0 is None


def test_numpy_stage_raises_on_a_ragged_array_column(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "vec_id long, embedding array<double>"
    ).coalesce(1)
    out = numpy_stage(df, "s double", lambda cols: {"s": cols["embedding"].sum(1)})
    with pytest.raises(Exception, match="ValueError: array column 'embedding'"):
        out.collect()
