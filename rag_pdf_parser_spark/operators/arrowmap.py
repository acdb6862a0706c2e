"""The one Python boundary: the row → Arrow-batch loop every Python stage
shares.

A stage's kernel is pure Python and works on one row (or one group).
`map_rows` makes it the body of a `mapInArrow` stage, `group_rows` the body
of a `groupBy(...).applyInArrow` stage: input columns are read with
`to_pylist`, the kernel's output rows are collected, and one `pa.array` per
output column is built, typed from the Spark schema — no pandas frame on
either side. Columns a row map only passes along are carried as Arrow
arrays instead (`map_rows(..., carry=k)`). `salted` is the skew defusal
the row maps put in front.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def _to_batch(rows: Iterable, schema: pa.Schema) -> pa.RecordBatch:
    """Output rows (values in schema order) → one column-wise batch."""
    cols: list[list] = [[] for _ in schema.names]
    for row in rows:
        for col, v in zip(cols, row):
            col.append(v)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema)


def _arrow(schema: StructType | str) -> pa.Schema:
    return to_arrow_schema(DataType.fromDDL(schema)
                           if isinstance(schema, str) else schema)


def map_rows(fn: Callable[..., Iterable], schema: StructType | str,
             carry: int = 0):
    """`mapInArrow` function: `fn(*row)` gets one input row's values in
    column order and returns zero or more output rows.

    `carry=k` copies the first k input columns to the first k output
    columns as Arrow arrays, never converted to Python; `fn` then gets the
    remaining columns and returns exactly one row per input row, which
    fills the remaining output columns."""
    arrow = _arrow(schema)
    made = pa.schema(list(arrow)[carry:])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = zip(*(c.to_pylist() for c in batch.columns[carry:]))
            out = _to_batch((r for row in rows for r in fn(*row)), made)
            if carry:  # from_arrays rejects a row count mismatch
                out = pa.RecordBatch.from_arrays(
                    batch.columns[:carry] + out.columns, names=arrow.names)
            yield out

    run.__name__ = fn.__name__  # the plan shows the kernel, not `run`
    return run


def group_rows(fn: Callable[[dict], Iterable], schema: StructType | str):
    """`applyInArrow` function: `fn` gets one group as `{column: values}`
    and returns its output rows."""
    arrow = _arrow(schema)

    def run(table: pa.Table) -> pa.Table:
        return pa.Table.from_batches([_to_batch(fn(table.to_pydict()), arrow)])

    run.__name__ = fn.__name__
    return run


def salted(df: DataFrame, key: str) -> DataFrame:
    """Spread rows uniformly by `xxhash64(key)` over the session's shuffle
    partitions."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.xxhash64(key))
