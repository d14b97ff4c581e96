"""JSON_TABLE (SQL:2016) — the reference's JSON shredding table function
(reference flink-table/flink-sql-parser JSON_TABLE support and
docs/dev/table/functions/systemFunctions JSON functions): explode a JSON
array inside a column into rows with typed, PATH-extracted columns.

Spark-first lowering: the COLUMNS clause *is* a schema, so the element
array parses in one ``from_json`` against a struct schema built from the
PATH leaves (JVM, codegen'd, no per-row Python), then ``posexplode``
yields rows and FOR ORDINALITY is the explode index + 1. Supported
subset (documented): row path ``$`` or ``$.a.b[*]``; column PATH a
single-level leaf ``$.field`` (the common shape); missing fields go
NULL, exactly Flink's ``NULL ON ERROR`` default.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_spark.sqltok import det_digest as _det_digest
from flink_spark.sqltok import sub_outside_literals

# name TYPE PATH '$.leaf'   |   name FOR ORDINALITY
_COLSPEC_RE = re.compile(
    r"\s*(?P<name>\w+)\s+(?:(?P<ord>FOR\s+ORDINALITY)|"
    r"(?P<type>\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s+"
    r"PATH\s+'(?P<path>[^']*)')\s*$",
    re.IGNORECASE,
)

_TYPE_TO_SPARK = {
    "STRING": "string", "VARCHAR": "string", "CHAR": "string",
    "INT": "int", "INTEGER": "int", "BIGINT": "bigint",
    "SMALLINT": "smallint", "TINYINT": "tinyint",
    "DOUBLE": "double", "FLOAT": "float", "BOOLEAN": "boolean",
    "DATE": "date", "TIMESTAMP": "timestamp_ntz",
}


def parse_columns(cols_sql: str) -> list[tuple]:
    """COLUMNS body → [(out_name, spark_type|None, leaf|None)]; ordinality
    columns carry (name, None, None)."""
    out = []
    for part in cols_sql.split(","):
        m = _COLSPEC_RE.match(part)
        if not m:
            raise ValueError(f"JSON_TABLE: cannot parse column spec {part!r}")
        if m.group("ord"):
            out.append((m.group("name"), None, None))
            continue
        pm = re.match(r"^\$\.(\w+)$", m.group("path"))
        if not pm:
            raise ValueError(
                f"JSON_TABLE: only single-level '$.field' column paths are "
                f"supported, got {m.group('path')!r}"
            )
        base = re.match(r"\w+", m.group("type")).group(0).upper()
        stype = _TYPE_TO_SPARK.get(base)
        if stype is None:
            if base in ("DECIMAL", "NUMERIC"):
                stype = m.group("type").lower()
            else:
                raise ValueError(f"JSON_TABLE: unsupported type {base}")
        out.append((m.group("name"), stype, pm.group(1)))
    return out


def json_table(
    df: DataFrame,
    json_col: str,
    row_path: str,
    columns: list[tuple] | str,
    outer: bool = False,
) -> DataFrame:
    """Shred ``df[json_col]`` along ``row_path`` into typed columns.

    ``columns``: the parsed list from :func:`parse_columns` (or the raw
    COLUMNS SQL). ``outer=True`` keeps rows whose array is NULL/empty
    (JSON_TABLE OUTER semantics), null-padding the generated columns."""
    if isinstance(columns, str):
        columns = parse_columns(columns)
    rp = row_path.strip()
    if rp.lower().startswith("lax "):
        rp = rp[4:].strip()
    if rp == "$":
        arr_json = F.col(json_col)
    else:
        pm = re.match(r"^\$(?P<steps>(?:\.\w+)+)\[\*\]$", rp)
        if not pm:
            raise ValueError(
                f"JSON_TABLE: row path must be '$' or '$.a.b[*]', got {row_path!r}"
            )
        arr_json = F.get_json_object(F.col(json_col), "$" + pm.group("steps"))
    fields = ", ".join(
        f"`{leaf}` {stype}" for _, stype, leaf in columns if leaf is not None
    )
    arr = F.from_json(arr_json, f"array<struct<{fields}>>")
    exploded = df.withColumn("__jt", arr)
    gen = F.posexplode_outer("__jt") if outer else F.posexplode("__jt")
    exploded = exploded.select("*", gen.alias("__pos", "__elem")).drop("__jt")
    outs = []
    for name, stype, leaf in columns:
        if leaf is None:  # FOR ORDINALITY
            outs.append((F.col("__pos") + 1).cast("bigint").alias(name))
        else:
            outs.append(F.col("__elem").getField(leaf).alias(name))
    return exploded.select(*df.columns, *outs)


#: FROM-clause rewrite: <tbl> , JSON_TABLE(<col>, '<path>' COLUMNS (...)) [AS a]
JSON_TABLE_RE = re.compile(
    r"(?P<tbl>[\w.]+)\s*,\s*JSON_TABLE\s*\(\s*(?P<col>[\w.]+)\s*,\s*"
    r"'(?P<path>[^']*)'\s+COLUMNS\s*\((?P<cols>[^)]*(?:\([^)]*\)[^)]*)*)\)\s*\)"
    r"(?:\s+AS\s+(?P<alias>\w+))?",
    re.IGNORECASE,
)


def rewrite_json_table(spark, m) -> str:
    """Rewrite one JSON_TABLE FROM-item into a registered temp view
    holding the shredded rows (base columns + generated columns)."""
    tbl = m.group("tbl")
    col = m.group("col").split(".")[-1]
    cols = parse_columns(m.group("cols"))
    out = json_table(spark.table(tbl), col, m.group("path"), cols)
    name = f"__jsontable_{_det_digest(tbl, m.group('path'), m.group('cols'))}"
    out.createOrReplaceTempView(name)
    alias = m.group("alias")
    return f"{name} AS {alias}" if alias else name


def rewrite_json_tables(spark, stmt: str) -> str:
    """Rewrite every JSON_TABLE FROM-item of ``stmt`` (matched outside
    string literals) into its shredded temp view."""
    return sub_outside_literals(
        JSON_TABLE_RE, lambda m: rewrite_json_table(spark, m), stmt
    )
