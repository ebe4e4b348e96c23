"""One Arrow-batched numpy stage for the operators whose work is numpy.

:func:`numpy_stage` is a single ``mapInArrow`` stage: each Arrow batch
reaches ``fn`` as numpy columns, and ``fn``'s arrays go back as Arrow
arrays of the declared schema's types — no pandas frame either way.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def column_values(name: str, col: pa.Array):
    """One Arrow column as a numpy stage reads it: a numeric array column as
    an ``(n, dim)`` matrix, any other column as a numpy array (a list of
    strings as an object array of per-row numpy arrays, which Arrow builds
    about 10x faster than Python lists).  A matrix needs every row present,
    with no null element and one length: ``ValueError`` otherwise."""
    t = col.type
    if not (
        pa.types.is_list(t)
        and (pa.types.is_integer(t.value_type) or pa.types.is_floating(t.value_type))
    ):
        return col.to_numpy(zero_copy_only=False)
    flat = col.flatten()
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if col.null_count or flat.null_count or (lengths != lengths[0]).any():
        raise ValueError(
            f"array column {name!r} needs one length and no null row or "
            f"element per batch; got lengths {sorted(set(lengths.tolist()))[:5]}, "
            f"{col.null_count} null rows, {flat.null_count} null elements"
        )
    return flat.to_numpy(zero_copy_only=False).reshape(len(col), int(lengths[0]))


class _Columns(dict):
    """A batch's columns, each converted by :func:`column_values` on first
    read, so a column that only passes through is never converted."""

    def __init__(self, batch: pa.RecordBatch):
        super().__init__()
        self._batch = batch

    def __missing__(self, name: str):
        value = self[name] = column_values(name, self._batch.column(name))
        return value


def numpy_stage(
    df: DataFrame,
    schema: str,
    fn: Callable[[dict], dict],
    keep: Sequence[str] = (),
) -> DataFrame:
    """Run ``fn`` over every non-empty Arrow batch of ``df`` as ONE
    ``mapInArrow`` stage whose output has the DDL ``schema``.

    ``fn`` reads the batch's columns by name (see :func:`column_values`)
    and returns ``{field: array}`` for every field of ``schema`` not in
    ``keep``; each array is built as its field's Arrow type, with a float
    NaN read as NULL as Spark's pandas conversion reads it.  ``keep``
    fields pass through as the batch's own Arrow arrays, cast to the
    declared type without overflow checks (Spark's pandas conversion does
    not check either), so ``fn`` must then return one row per input row.
    """
    out_schema = T.DataType.fromDDL(schema)
    names = out_schema.names
    types = [to_arrow_type(f.dataType) for f in out_schema.fields]

    def _iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            out = fn(_Columns(batch))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(c).cast(t, safe=False)
                    if c in keep
                    else pa.array(out[c], t, from_pandas=True)
                    for c, t in zip(names, types)
                ],
                names=names,
            )

    return df.mapInArrow(_iter, schema=out_schema)
