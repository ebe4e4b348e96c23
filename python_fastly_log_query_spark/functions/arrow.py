"""Arrow is the one batch format between the JVM and Python.

- :func:`numpy_stage` is a single ``mapInArrow`` stage: each Arrow batch
  reaches ``fn`` as numpy columns, and ``fn``'s arrays go back as Arrow
  arrays of the declared schema's types — no pandas frame either way.
- :func:`row_stage` is the same stage for row-wise work (codecs,
  splitters): ``fn`` maps a partition's rows to output rows.
- :func:`collect_columns` gathers a small frame onto the driver with one
  ``toArrow()``, its columns converted as a numpy stage reads them.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from itertools import islice

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
    if not len(col):
        return flat.to_numpy(zero_copy_only=False).reshape(0, 0)
    if col.null_count or flat.null_count or (lengths != lengths[0]).any():
        raise ValueError(
            f"array column {name!r} needs one length and no null row or "
            f"element per batch; got lengths {sorted(set(lengths.tolist()))[:5]}, "
            f"{col.null_count} null rows, {flat.null_count} null elements"
        )
    return flat.to_numpy(zero_copy_only=False).reshape(len(col), int(lengths[0]))


def collect_columns(df: DataFrame) -> dict:
    """``df`` gathered onto the driver with ONE ``toArrow()``:
    ``{column: values}``, each converted by :func:`column_values`.
    Dimension-sized frames only (a codebook, an edge list under a cap)."""
    table = df.toArrow()
    return {
        name: column_values(name, table.column(name).combine_chunks())
        for name in table.column_names
    }


def _schemas(schema: str) -> tuple[T.StructType, pa.Schema]:
    """The DDL ``schema`` as Spark's struct and as the Arrow schema its
    batches are built with (``to_arrow_type`` per field)."""
    out_schema = T.DataType.fromDDL(schema)
    return out_schema, pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in out_schema.fields]
    )


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
    out_schema, arrow_schema = _schemas(schema)
    names = arrow_schema.names
    types = arrow_schema.types

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


def row_stage(
    df: DataFrame,
    schema: str,
    fn: Callable[[Iterator[dict]], Iterable[dict]],
) -> DataFrame:
    """Run ``fn`` over each partition of ``df`` as ONE ``mapInArrow`` stage
    whose output has the DDL ``schema``.

    ``fn`` takes the partition's rows as an iterator of ``{column: value}``
    dicts (Arrow's Python values: ``bytes`` for binary, ``int`` for long)
    and yields output rows as dicts with exactly the schema's fields
    (``ValueError`` otherwise); it may yield any number of rows per input
    row and may keep state across the whole partition.  Output rows are
    built into batches of the declared Arrow types, at most the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows each.
    """
    out_schema, arrow_schema = _schemas(schema)
    fields = set(arrow_schema.names)
    rows_per_batch = int(
        df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )

    def _iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = iter(fn(row for batch in batches for row in batch.to_pylist()))
        while chunk := list(islice(rows, rows_per_batch)):
            # from_pylist drops a key outside the schema and reads a
            # missing one as NULL: a misspelt key would vanish silently
            for row in chunk:
                if row.keys() != fields:
                    raise ValueError(
                        f"row_stage: row keys {sorted(row)} are not the "
                        f"schema's fields {arrow_schema.names}"
                    )
            yield pa.RecordBatch.from_pylist(chunk, schema=arrow_schema)

    return df.mapInArrow(_iter, schema=out_schema)
