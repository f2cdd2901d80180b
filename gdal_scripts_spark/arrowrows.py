"""Row tuples to Arrow for the package's ``mapInArrow`` / ``applyInArrow``
stages.

A stage declares its output as a DDL string. :func:`arrow_schema` turns
that string into the Arrow schema PySpark checks the output against, once,
on the driver; :func:`rows_table` builds each emitted table from the
kernel's row tuples with exactly those types. No pandas frame sits between
the kernel and the JVM.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of the Spark DDL ``ddl`` (driver side: it parses
    the DDL in the JVM)."""
    return to_arrow_schema(DataType.fromDDL(ddl))


def rows_table(rows, schema: pa.Schema) -> pa.Table:
    """Arrow table of ``schema`` from a sequence of row tuples (possibly
    empty)."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
