"""rows_df: local Python rows reach the JVM as Arrow, with the values and
types the pickled list path gives."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from flink_spark.localrows import rows_df

SCHEMA = (
    "s string, i int, b bigint, d decimal(12,3), day date, ts timestamp, "
    "ntz timestamp_ntz, tags array<string>, m map<string,int>, "
    "st struct<x:int,when:timestamp>, ok boolean, f double, raw binary"
)
UTC = dt.timezone.utc
ROWS = [
    ("a", 1, 2 ** 40, Decimal("1.250"), dt.date(2020, 3, 8),
     dt.datetime(2020, 3, 8, 7, 30, tzinfo=UTC), dt.datetime(2020, 3, 8, 2, 30),
     ["x", None], {"k": 1}, (5, dt.datetime(2021, 11, 7, 6, 0, tzinfo=UTC)),
     True, -0.5, b"\x00\xff"),
    (None, None, None, None, None, None, None, None, None, None, None,
     None, None),
    ("é", -7, -1, Decimal("-0.001"), dt.date(1969, 12, 31),
     dt.datetime(1969, 12, 31, 23, 59, 59, 999999),  # naive: process zone
     dt.datetime(1970, 1, 1), [], {}, (None, None), False, 1e300, b""),
]


@pytest.fixture
def new_york(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", old)


def _as_json(df):
    return [r[0] for r in df.selectExpr("to_json(struct(*))").collect()]


def test_rows_df_matches_list_path_under_new_york(new_york):
    spark = new_york
    new = rows_df(spark, ROWS, SCHEMA)
    old = spark.createDataFrame(ROWS, SCHEMA)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    assert _as_json(new) == _as_json(old)
    # pinned renderings in the session zone (tz-aware inputs only, so
    # the pins do not depend on the Python process's zone)
    first = new.selectExpr(
        "cast(ts as string)", "cast(ntz as string)", "cast(day as string)",
        "cast(st.when as string)", "cast(d as string)", "hex(raw)",
    ).first()
    assert tuple(first) == (
        "2020-03-08 03:30:00", "2020-03-08 02:30:00", "2020-03-08",
        "2021-11-07 01:00:00", "1.250", "00FF",
    )
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([], SCHEMA),
        ([("1", "x")], ["a", "b"]),  # names only: types inferred
        ([(Decimal("1.2345"),)], "d decimal(10,2)"),  # rounds via fallback
        ([(1, "a")], "k long, v string"),
        ([(1,)], "s string"),  # the JVM stringifies: via fallback
    ],
)
def test_rows_df_edge_shapes_match_list_path(new_york, rows, schema):
    spark = new_york
    new = rows_df(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


@pytest.mark.parametrize(
    "rows, schema", [([("x",)], "n int"), ([(None,)], "n int not null")]
)
def test_rows_df_rejects_what_the_list_path_rejects(spark, rows, schema):
    with pytest.raises(Exception) as new_err:
        rows_df(spark, rows, schema)
    with pytest.raises(Exception) as old_err:
        spark.createDataFrame(rows, schema)
    assert type(new_err.value) is type(old_err.value)
    assert str(new_err.value) == str(old_err.value)

