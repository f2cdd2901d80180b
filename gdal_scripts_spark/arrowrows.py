"""Row tuples to Arrow for the package's ``mapInArrow`` / ``applyInArrow``
stages.

A stage declares its output as a DDL string. :func:`arrow_schema` turns
that string into the Arrow schema PySpark checks the output against, once,
on the driver; :func:`rows_table` builds each emitted table from the
kernel's row tuples with exactly those types. No pandas frame sits between
the kernel and the JVM.

Most Python stages of the package are per-row: a kernel reads one input
row (one image, one polygon pair, one covering cell) and returns zero or
more output rows. :func:`map_rows` runs every such stage: the batch loop,
the column-to-scalar conversion and the emit rule live here once. Grouped
stages (``applyInArrow``) and stages that work on whole column batches at
a time build their tables themselves, from row tuples with
:func:`rows_table` or from one array per column with
:func:`columns_table`.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

# Rows a per-row stage keeps pending before it emits them. Small emitted
# batches keep the Arrow output buffers ~2 MB for tile-sized rows: large
# per-task output allocations pay a first-touch page-fault tax on
# virtualized hosts (measured ~3 s/task constant at 20-40 MB batches).
CHUNK = 64


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of the Spark DDL ``ddl`` (driver side: it parses
    the DDL in the JVM)."""
    return to_arrow_schema(DataType.fromDDL(ddl))


def _array(values, t: pa.DataType) -> pa.Array:
    """``values`` (a sequence or numpy array) as an Arrow array of ``t``.
    ``pa.array(values, type=<integer>)`` truncates a Python float (3.5
    gives 3), so floats for an integer type go through a checked cast:
    3.0 gives 3 and 3.5 raises."""
    if pa.types.is_integer(t):
        a = pa.array(values)
        if pa.types.is_floating(a.type):
            return a.cast(t)
    return pa.array(values, type=t)


def columns_table(cols, schema: pa.Schema) -> pa.Table:
    """Arrow table of ``schema`` from one sequence or numpy array per
    field, all of one length."""
    return pa.Table.from_arrays(
        [_array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )


def rows_table(rows, schema: pa.Schema) -> pa.Table:
    """Arrow table of ``schema`` from a sequence of row tuples (possibly
    empty)."""
    return columns_table(list(zip(*rows)) or [()] * len(schema), schema)


def map_rows(df: DataFrame, fn, ddl: str) -> DataFrame:
    """Per-row Python stage: ``fn(*row)`` is called once per row of ``df``
    with its columns in order and returns (or yields) zero or more output
    row tuples of the DDL ``ddl``.

    Kernels get Python scalars from ``to_pylist``: ``int``, ``float``,
    ``str``, ``bytes``, lists and dicts, and ``None`` for NULL. Output
    values go to ``pa.array`` with their column's declared type and
    nothing else converts them, so a kernel emits each column's type
    itself: ``None`` (a float NaN stays NaN) for a NULL, a ``bool`` for a
    boolean column, a ``str`` for a string column; a value Arrow cannot
    convert without loss (a ``str`` for a number, an ``int`` for a
    string, ``3.5`` for an integer) raises. Rows are emitted at the end
    of each input batch and after any input row that leaves :data:`CHUNK`
    or more rows pending."""
    schema = arrow_schema(ddl)

    def run(batches):
        rows = []
        for b in batches:
            for row in zip(*(c.to_pylist() for c in b.columns)):
                rows.extend(fn(*row) or ())
                if len(rows) >= CHUNK:
                    yield from rows_table(rows, schema).to_batches()
                    rows = []
            if rows:
                yield from rows_table(rows, schema).to_batches()
                rows = []

    return df.mapInArrow(run, schema=ddl)
