"""The Arrow stages (functions/arrow.py) and the per-source top-k kernel of
``exact_cosine_pairs``: column conversion rules, the keep-column cast,
the row stage's shapes and state, and parity of the numpy top-k with the
pandas shape it replaced."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from python_fastly_log_query_spark.functions.arrow import (
    collect_columns,
    column_values,
    numpy_stage,
    row_stage,
)
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


def test_row_stage_one_to_many_and_rows_with_no_output(spark):
    def _explode(rows):
        for row in rows:
            for j in range(row["id"] % 3):  # ids 0, 3, 6 yield nothing
                yield {"id": row["id"], "j": j}

    out = row_stage(spark.range(8), "id long, j int", _explode)
    got = sorted((r.id, r.j) for r in out.collect())
    assert got == [(i, j) for i in range(8) for j in range(i % 3)]


def test_row_stage_carries_state_across_a_partitions_batches(spark):
    # 25,000 rows in one partition: three input batches and three output
    # batches of at most 10,000 rows each
    def _running(rows):
        n = 0
        for row in rows:
            n += 1
            yield {"id": row["id"], "n": n}

    out = row_stage(spark.range(0, 25_000, numPartitions=1), "id long, n long", _running)
    got = sorted((r.id, r.n) for r in out.collect())
    assert got == [(i, i + 1) for i in range(25_000)]


def test_row_stage_builds_binary_map_and_float_array_columns(spark):
    def _typed(rows):
        for row in rows:
            i = row["id"]
            yield {
                "id": i,
                "data": bytes([i, 255]),
                "meta": {"k": str(i)},
                "vec": [np.float32(0.1) * i, 0.5],
            }

    out = row_stage(
        spark.range(0, 3, numPartitions=1),
        "id long, data binary, meta map<string,string>, vec array<float>",
        _typed,
    )
    assert dict(out.dtypes) == {
        "id": "bigint", "data": "binary", "meta": "map<string,string>", "vec": "array<float>",
    }
    rows = {r.id: r for r in out.collect()}
    assert rows[2].data == bytes([2, 255]) and rows[2].meta == {"k": "2"}
    assert rows[2].vec == [float(np.float32(np.float32(0.1) * 2)), 0.5]
    assert sorted(rows) == [0, 1, 2]


@pytest.mark.parametrize(
    "row", [{"id": 1}, {"id": 1, "n": 2, "extra": 3}, {"id": 1, "nn": 2}]
)
def test_row_stage_rejects_rows_whose_keys_are_not_the_schema(spark, row):
    out = row_stage(spark.range(1), "id long, n long", lambda rows: (row for _ in rows))
    with pytest.raises(Exception, match="ValueError: row_stage: row keys"):
        out.collect()


def test_row_stage_runs_fn_on_an_empty_partition(spark):
    def _count(rows):
        yield {"n": sum(1 for _ in rows)}

    out = row_stage(spark.range(0, 2, numPartitions=4), "n long", _count)
    assert sorted(r.n for r in out.collect()) == [0, 0, 1, 1]
    assert row_stage(spark.range(0), "id long", lambda rows: rows).collect() == []


def test_collect_columns_gathers_matrices_and_ids(spark):
    df = spark.createDataFrame(
        [(2, [3.0, 4.0]), (1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    cols = collect_columns(df)
    assert cols["vec_id"].tolist() == [2, 1]
    assert cols["embedding"].shape == (2, 2) and cols["embedding"].dtype == np.float32
    assert collect_columns(df.filter("vec_id > 5"))["embedding"].shape == (0, 0)
