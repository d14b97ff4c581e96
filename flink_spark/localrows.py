"""Local Python rows as a DataFrame, without Python workers.

``spark.createDataFrame(<list>, schema)`` pickles the rows into a
parallelized RDD that Python workers unpickle: even an empty list runs
one task per default partition (4 on local[4]; 0.30-0.34 s wall and
about 0.85 s of worker CPU per collect). A ``pyarrow.Table`` takes the
other path: the JVM reads the Arrow batches straight into a
``LocalRelation`` (a ``LocalTableScan``, about 0.02 s, no worker).

:func:`rows_df` keeps the list path's semantics and only swaps the
transport. Each row is verified and converted exactly as the list path
does (``_make_type_verifier``, then ``StructType.toInternal``), so the
JVM receives the same internal values: epoch microseconds for
``TIMESTAMP`` (a naive ``datetime`` read in the Python process's local
zone), wall-clock microseconds for ``TIMESTAMP_NTZ``, epoch days for
``DATE``. Those are handed to Arrow as UTC-zoned timestamps, which the
Arrow path never re-localizes to the session time zone. A value Arrow
cannot hold as given (a decimal with more scale than its column, a type
with no Arrow form) falls back to the list path, so the result never
differs from ``spark.createDataFrame(rows, schema)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    StructType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)


def rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for a local list of
    rows: ``schema`` is a DDL string, a ``StructType`` or a list of
    column names (types inferred, as the list path does)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    if isinstance(schema, (list, tuple)):
        struct = spark._inferSchemaFromList(rows, names=schema)
        for i, name in enumerate(schema):
            struct.fields[i].name = name
            struct.names[i] = name
    else:
        struct = (_parse_datatype_string(schema) if isinstance(schema, str)
                  else schema)
        if not isinstance(struct, StructType):
            return spark.createDataFrame(rows, schema)
        verify = _make_type_verifier(struct)
        for row in rows:
            verify(row)
    to_tuple = _create_converter(struct)
    internal = [struct.toInternal(to_tuple(row)) for row in rows]
    try:
        arrow_schema = to_arrow_schema(struct)
        columns = list(zip(*internal)) if internal else [()] * len(struct)
        table = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    except (pa.ArrowException, TypeError, ValueError, OverflowError):
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(table, struct)
