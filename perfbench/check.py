"""Correctness gate, run off the clock.

A timed query's collected rows are compared with the query's DuckDB oracle
over the same generated inputs, by the tier-1 comparison rules
(``tests/compare.py``). A query without an oracle must return rows.
"""

from __future__ import annotations

import os

import pandas as pd


def rows_to_pandas(df, rows) -> pd.DataFrame:
    """The pandas frame ``df.toPandas()`` would give for the already
    collected ``rows`` (PySpark's non-Arrow conversion), so checking does
    not execute the query again."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    if rows:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=df.columns)
    else:
        pdf = pd.DataFrame(columns=df.columns)
    if len(pdf.columns) == 0:
        return pdf
    jconf = df.sparkSession._jconf
    timezone = jconf.sessionLocalTimeZone()
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType, field.nullable, timezone=timezone,
                struct_in_pandas="row", error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), df.schema.fields)
        ],
        axis="columns",
    )


class Oracle:
    """DuckDB over one input directory, with a view per table file it
    holds (as ``tests/compare.py``'s ``duck_connection``, which needs every
    table); each oracle query runs once."""

    def __init__(self, data_dir: str):
        import duckdb

        self._con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self._con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                  f"read_parquet('{os.path.join(data_dir, f)}')")
        self._cache: dict[str, pd.DataFrame] = {}

    def expected(self, name: str, sql: str) -> pd.DataFrame:
        if name not in self._cache:
            self._cache[name] = self._con.execute(sql).fetch_df()
        return self._cache[name]

    def close(self) -> None:
        self._con.close()


def mismatch(entry, df, rows, oracle: Oracle) -> str | None:
    """None when the rows are correct, else the reason they are not."""
    from tests.compare import assert_frames_match

    if entry.oracle is None:
        return None if rows else "no rows (query has no oracle)"
    try:
        assert_frames_match(rows_to_pandas(df, rows), oracle.expected(entry.name, entry.oracle), entry.name)
    except AssertionError as e:
        return str(e)[:300]
    return None
