"""Statement routing in the SQL dialect layer (``TableEnvironment.execute_sql``).

Every case records what the router can be observed to do with a statement:

- the result: the schema of a returned DataFrame, ``None``, or the type of
  the raised exception;
- the ordered texts handed to ``SparkSession.sql`` while it ran (a spy on
  the session class, so rewrites' analysis probes and handler-built
  queries are all pinned);
- the changes it made to the engine registries (tables, modules, models,
  materialized tables, catalogs, functions, views, connections).

The expectations live in ``router_pins.json`` and were recorded on the
gate-chain router that preceded the routing table, so a routing change
shows up as a diff here. Temporary paths, the data directory and generated
view digests are normalized before comparison. Regenerate the pins (only
for a deliberate routing change) with::

    python tests/test_router.py

The registry part runs the SQL-text queries of the ``perfbench`` workloads
through the same spy at sf0.001.
"""

from __future__ import annotations

import contextlib
import json
import re
import shutil
import tempfile
from pathlib import Path

import pytest
from conftest import SMOKE_SF_DIR

PINS = Path(__file__).with_name("router_pins.json")

#: the registry queries that send SQL text through execute_sql in the
#: benchmark (perfbench SQL_TEXT; batch_sql runs four of them)
REGISTRY_QUERIES = (
    "ddl_pk_upsert_dml", "materialized_table_refresh", "ddl_statement_set",
    "ddl_upsert_sink", "ddl_alter_partition_roundtrip",
    "ddl_mt_schema_roundtrip", "ddl_catalog_module_roundtrip",
    "ctas_roundtrip", "sql_not_in_disjunctive", "sql_quantified_any_all",
    "sql_quantified_correlated",
)

#: one script of (statement, the handler that answers it), run in order
#: on one TableEnvironment: one or more statements per handler, the
#: rewrites, statements whose identifiers or literals contain marker
#: words, and fallbacks to spark.sql
CASES = [
    ("SHOW JARS", "_sql_jar"),
    ("REMOVE JAR '{tmp}/none.jar'", "_sql_jar"),
    ("CALL rt_echo('hi')", "_sql_call"),
    ("SHOW PROCEDURES", "_sql_show_procedures"),
    (
        "CREATE TABLE rt_t (a INT, b STRING) WITH ('connector' = "
        "'filesystem', 'format' = 'parquet', 'path' = '{tmp}/rt_t')",
        "_sql_create_table",
    ),
    ("INSERT INTO rt_t VALUES (1, 'x'), (2, 'y')", "_sql_insert"),
    ("INSERT INTO rt_t (b, a) SELECT 'z', 3", "_sql_insert"),
    ("SHOW TABLES", "_sql_show_tables"),
    ("SHOW TABLES LIKE 'rt_%'", "_sql_show_like"),
    (
        "COMPILE PLAN '{tmp}/p1.json' FOR SELECT a FROM rt_t",
        "_sql_compile_plan",
    ),
    ("EXECUTE PLAN '{tmp}/p1.json'", "_sql_execute_plan"),
    (
        "COMPILE PLAN '{tmp}/p2.json' FOR INSERT INTO rt_t SELECT 4, "
        "'w'",
        "_sql_compile_plan",
    ),
    ("EXECUTE PLAN '{tmp}/p2.json'", "_sql_execute_plan"),
    ("DELETE FROM rt_t WHERE a = 4", "_sql_delete"),
    ("UPDATE rt_t SET b = 'q' WHERE a = 3", "_sql_update"),
    ("DELETE FROM rt_src_missing WHERE a = 4", "spark.sql"),
    ("EXPLAIN ESTIMATED_COST SELECT a FROM rt_t", "_sql_explain"),
    ("EXPLAIN CHANGELOG_MODE SELECT a FROM rt_t", "_sql_explain"),
    ("EXPLAIN JSON_EXECUTION_PLAN SELECT a FROM rt_t", "_sql_explain"),
    ("EXPLAIN PLAN_ADVICE SELECT a FROM rt_t", "_sql_explain"),
    (
        "EXPLAIN CHANGELOG_MODE, ESTIMATED_COST SELECT a FROM rt_t",
        "_sql_explain",
    ),
    ("EXPLAIN SELECT a FROM rt_t", "spark.sql"),
    (
        "EXECUTE STATEMENT SET BEGIN INSERT INTO rt_t SELECT 5, 'v'; "
        "INSERT INTO rt_t SELECT 6, 'u'; END",
        "_sql_statement_set",
    ),
    (
        "CREATE TEMPORARY FUNCTION rt_ds AS "
        "'flink_spark.functions.library.DigitSumFn'",
        "_function_statement",
    ),
    ("SHOW USER FUNCTIONS", "_function_statement"),
    ("DESCRIBE FUNCTION rt_ds", "_function_statement"),
    ("DROP TEMPORARY FUNCTION rt_ds", "_function_statement"),
    (
        "CREATE TABLE rt_p (a INT, p STRING) PARTITIONED BY (p) WITH "
        "('connector' = 'filesystem', 'format' = 'parquet', 'path' = "
        "'{tmp}/rt_p')",
        "_sql_create_table",
    ),
    ("INSERT INTO rt_p PARTITION (p = 'x') SELECT 7", "_sql_insert"),
    ("SHOW PARTITIONS rt_p", "_alter_table_statement"),
    ("ALTER TABLE rt_p SET ('sink.note' = 'n')", "_alter_table_statement"),
    ("DROP TABLE IF EXISTS rt_missing", "_sql_drop_table"),
    ("CREATE CATALOG rt_cat", "_catalog_statement"),
    ("SHOW CATALOGS", "_catalog_statement"),
    ("SHOW CURRENT CATALOG", "_catalog_statement"),
    ("USE CATALOG default_catalog", "_catalog_statement"),
    ("SHOW DATABASES", "_catalog_statement"),
    ("LOAD MODULE rt_mod", "_sql_module"),
    ("USE MODULES rt_mod, core", "_sql_module"),
    ("SHOW FULL MODULES", "_sql_module"),
    ("UNLOAD MODULE rt_mod", "_sql_module"),
    ("SHOW MODULES", "_sql_module"),
    (
        "CREATE CONNECTION rt_conn WITH ('endpoint' = 'https://h/v1', "
        "'api-key' = 'k')",
        "_sql_connection",
    ),
    ("SHOW CONNECTIONS", "_sql_connection"),
    ("DROP CONNECTION rt_conn", "_sql_connection"),
    (
        "CREATE MODEL rt_m INPUT (x ARRAY<FLOAT>) OUTPUT (score "
        "BIGINT, pred_label BIGINT) WITH ('provider' = "
        "'fixed-point-linear')",
        "_sql_model",
    ),
    ("SHOW MODELS", "_sql_model"),
    ("SHOW CREATE MODEL rt_m", "_sql_model"),
    ("DESCRIBE MODEL rt_m", "_sql_model"),
    ("DROP MODEL rt_m", "_sql_model"),
    (
        "CREATE MATERIALIZED TABLE rt_mt FRESHNESS = INTERVAL '1' HOUR "
        "AS SELECT a, b FROM rt_src",
        "_sql_materialized",
    ),
    ("ALTER MATERIALIZED TABLE rt_mt REFRESH", "_sql_materialized"),
    ("SELECT * FROM rt_mt FOR SYSTEM_VERSION AS OF 1", "_sql_time_travel"),
    ("SHOW CREATE MATERIALIZED TABLE rt_mt", "_sql_materialized"),
    ("DROP MATERIALIZED TABLE rt_mt", "_sql_materialized"),
    (
        "SELECT window_start, k, COUNT(*) AS n FROM "
        "TABLE(SESSION(TABLE rt_src PARTITION BY k, DESCRIPTOR(ts), "
        "INTERVAL '5' MINUTES)) GROUP BY window_start, k",
        "_sql_session_window",
    ),
    (
        "CREATE TABLE rt_rates (k STRING, rts TIMESTAMP(3), rate "
        "DOUBLE, WATERMARK FOR rts AS rts - INTERVAL '5' SECOND) WITH "
        "('connector' = 'filesystem', 'format' = 'parquet', 'path' = "
        "'{tmp}/rt_rates')",
        "_sql_create_table",
    ),
    ("INSERT INTO rt_rates SELECT k, ts, v FROM rt_src", "_sql_insert"),
    (
        "SELECT a, rate FROM rt_src AS o JOIN rt_rates FOR SYSTEM_TIME "
        "AS OF o.ts AS r ON o.k = r.k",
        "_sql_temporal_join",
    ),
    (
        "SELECT a, rate FROM rt_src AS o, LATERAL TABLE "
        "(RtRates(o.ts)) AS r WHERE o.k = r.k",
        "_sql_lateral_table",
    ),
    (
        "SELECT * FROM rt_src MATCH_RECOGNIZE (PARTITION BY k ORDER BY "
        "ts MEASURES FIRST(A.a) AS fa, LAST(B.a) AS lb ONE ROW PER "
        "MATCH AFTER MATCH SKIP PAST LAST ROW PATTERN (A B) DEFINE A "
        "AS A.v > 0, B AS B.v > 0)",
        "_sql_match_recognize",
    ),
    (
        "CREATE TABLE rt_like WITH ('path' = '{tmp}/rt_like') LIKE rt_t",
        "_sql_create_table",
    ),
    (
        "CREATE TABLE rt_ctas WITH ('connector' = 'filesystem', "
        "'format' = 'parquet', 'path' = '{tmp}/rt_ctas') AS SELECT a, "
        "b FROM rt_src",
        "_sql_create_table",
    ),
    ("SET 'rt.key' = 'v'", "_sql_set"),
    ("RESET 'rt.key'", "_sql_set"),
    ("SHOW JOBS", "_sql_job"),
    ("DESCRIBE JOB 'rt_none'", "_sql_job"),
    ("STOP JOB 'rt_none'", "_sql_job"),
    ("CREATE VIEW rt_v AS SELECT a FROM rt_src", "_sql_view"),
    ("ALTER VIEW rt_v SET ('p' = '1')", "_sql_view"),
    ("ALTER VIEW rt_v AS SELECT a, b FROM rt_src", "_sql_view"),
    ("SHOW CREATE VIEW rt_v", "_sql_view"),
    ("DROP VIEW rt_v", "_sql_view"),
    ("DROP VIEW IF EXISTS rt_v_missing", "_sql_view"),
    ("SHOW CREATE TABLE rt_t", "_sql_show_create_table"),
    ("DESCRIBE rt_t", "_sql_describe"),
    ("SHOW COLUMNS FROM rt_t", "_sql_show_columns"),
    ("ANALYZE TABLE rt_t COMPUTE STATISTICS", "_sql_analyze"),
    ("TRUNCATE TABLE rt_ctas", "_sql_truncate"),
    ("DROP TABLE rt_like", "_sql_drop_table"),
    ("DESCRIBE rt_src", "spark.sql"),
    ("SHOW FUNCTIONS LIKE 'rt_%'", "_sql_show_like"),
    ("SELECT 1 AS x", "spark.sql"),
    # marker words in identifiers and literals route as plain queries
    (
        "SELECT model, function_name, catalog, module, connection, "
        "materialized, statement FROM rt_words",
        "spark.sql",
    ),
    ("SELECT 'use MODULE x' AS s", "spark.sql"),
    (
        "SELECT 'CREATE MODEL m' AS s, 'LOAD MODULE y' AS t, 'SHOW "
        "CATALOGS' AS u",
        "spark.sql",
    ),
    ("SELECT a AS explain, b AS session FROM rt_src", "spark.sql"),
    # the in-place rewrites
    (
        "SELECT a FROM rt_src WHERE a > ALL (SELECT a FROM rt_src "
        "WHERE a < 0)",
        "spark.sql",
    ),
    (
        "SELECT a FROM rt_src WHERE a NOT IN (SELECT a FROM rt_src "
        "WHERE a > 1) OR b = 'x'",
        "spark.sql",
    ),
    (
        "INSERT INTO rt_t SELECT a, b FROM rt_src WHERE a >= ALL "
        "(SELECT a FROM rt_src)",
        "_sql_insert",
    ),
    (
        "INSERT INTO rt_t SELECT a, b FROM rt_src WHERE a NOT IN "
        "(SELECT a FROM rt_src WHERE a > 1) OR b = 'x'",
        "_sql_insert",
    ),
    ("SELECT (ts, ts) OVERLAPS (ts, ts) AS o FROM rt_src", "spark.sql"),
    (
        "SELECT k, GROUP_ID() AS g, COUNT(*) AS n FROM rt_src GROUP BY "
        "GROUPING SETS ((k), (k))",
        "spark.sql",
    ),
    (
        "INSERT INTO rt_t SELECT GROUP_ID(), k FROM rt_src GROUP BY "
        "GROUPING SETS ((k), (k))",
        "_sql_insert",
    ),
    ("SELECT CAST(b AS CHAR(3)) AS c FROM rt_src", "spark.sql"),
    ("SELECT RAND_INTEGER(1, 10) AS r FROM rt_src", "spark.sql"),
    (
        "SELECT /*+ BROADCAST(s) */ s.a FROM rt_src s JOIN rt_src t ON "
        "s.a = t.a",
        "spark.sql",
    ),
    ("SELECT a FROM rt_t /*+ OPTIONS('format' = 'parquet') */", "spark.sql"),
    ("SELECT OBJECT_OF('c.P', 'x', a) AS p FROM rt_src", "spark.sql"),
    (
        "SELECT window_start, COUNT(*) AS n FROM TABLE(TUMBLE(TABLE "
        "rt_src, DESCRIPTOR(ts), INTERVAL '1' HOUR)) GROUP BY "
        "window_start",
        "spark.sql",
    ),
    (
        "SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, COUNT(*) AS "
        "n FROM rt_src GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)",
        "spark.sql",
    ),
    (
        "SELECT jt.n FROM rt_json, JSON_TABLE(j, '$.items[*]' COLUMNS "
        "(n STRING PATH '$.n')) AS jt",
        "spark.sql",
    ),
    ("(SELECT a FROM rt_src) UNION ALL (SELECT a FROM rt_src)", "spark.sql"),
    (
        "WITH c AS (SELECT a FROM rt_src) SELECT a FROM c WHERE a NOT "
        "IN (SELECT a FROM c WHERE a > 2) OR a = 1",
        "spark.sql",
    ),
    ("VALUES (1, 'a')", "spark.sql"),
]


def _setup(spark, env) -> None:
    """Source views the cases read; made through the DataFrame API so
    that no setup statement reaches the router."""
    spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'x', TIMESTAMP_NTZ '2024-01-01 00:00:00', 'k1', 1.0), "
        "(2, 'y', TIMESTAMP_NTZ '2024-01-01 00:01:00', 'k1', 2.0), "
        "(3, 'z', TIMESTAMP_NTZ '2024-01-01 00:30:00', 'k2', 3.0) "
        "AS t(a, b, ts, k, v)"
    ).createOrReplaceTempView("rt_src")
    spark.sql(
        "SELECT 1 AS model, 'f' AS function_name, 'c' AS catalog, "
        "'m' AS module, 'n' AS connection, 'mt' AS materialized, "
        "'s' AS statement"
    ).createOrReplaceTempView("rt_words")
    spark.sql(
        "SELECT 1 AS id, '{\"items\": [{\"n\": \"a\"}, {\"n\": \"b\"}]}' AS j"
    ).createOrReplaceTempView("rt_json")
    spark.sql(
        "SELECT k, ts AS rts, v AS rate FROM rt_src"
    ).createOrReplaceTempView("rt_rates_hist")
    env.create_temporal_table_function("RtRates", "rt_rates_hist", "rts", "k")
    env.register_procedure("rt_echo", lambda _env, x: ([(x,)], "v string"))


def _registries(env) -> dict:
    return {
        "tables": sorted(env.tables),
        "modules": [list(m) for m in env.modules],
        "models": sorted(env._models.models) if env._models else [],
        "materialized": (sorted(env._materialized.tables)
                         if env._materialized else []),
        "catalogs": sorted(env.catalogs),
        "functions": sorted(env.user_functions),
        "views": sorted(getattr(env, "_view_defs", {})),
        "connections": (sorted(env._connections.connections)
                        if env._connections else []),
    }


class _Normalizer:
    def __init__(self, *paths: str):
        self.paths = [p for p in paths if p]

    def __call__(self, text: str) -> str:
        for p in self.paths:
            text = text.replace(p, "<dir>")
        text = re.sub(
            re.escape(tempfile.gettempdir()) + r"/[\w.-]+", "<tmp>", text
        )
        return re.sub(r"_[0-9a-f]{12}\b", "_<h>", text)


@contextlib.contextmanager
def spy(norm):
    """Record every ``SparkSession.sql`` text, every ``execute_sql`` call
    (nesting depth, statement, result, registry changes) and the handler
    of the routing table that answered it."""
    from pyspark.sql import DataFrame, SparkSession

    from flink_spark.catalog import _HANDLERS, TableEnvironment

    events: list = []
    depth = [0]
    orig_sql = SparkSession.sql
    orig_exec = TableEnvironment.execute_sql
    handlers = {h for _u, h, _k in _HANDLERS}
    orig_handlers = {h: getattr(TableEnvironment, h) for h in handlers}

    def answered(name):
        def handler(self, st):
            try:
                out = orig_handlers[name](self, st)
            except Exception:
                events.append(["handler", depth[0] - 1, name])
                raise
            if out is not NotImplemented:
                events.append(["handler", depth[0] - 1, name])
            return out
        return handler

    def sql(self, sqlQuery, *a, **k):
        events.append(["sql", norm(sqlQuery)])
        return orig_sql(self, sqlQuery, *a, **k)

    def execute_sql(self, stmt):
        events.append(["stmt", depth[0], norm(stmt)])
        before = _registries(self)
        depth[0] += 1
        try:
            out = orig_exec(self, stmt)
        except Exception as exc:
            result = f"!{type(exc).__name__}"
            raise
        else:
            result = (out.schema.simpleString()
                      if isinstance(out, DataFrame)
                      else None if out is None else type(out).__name__)
            return out
        finally:
            depth[0] -= 1
            after = _registries(self)
            events.append(["result", depth[0], result, {
                k: v for k, v in after.items() if v != before[k]
            }])

    SparkSession.sql = sql
    TableEnvironment.execute_sql = execute_sql
    for name in handlers:
        setattr(TableEnvironment, name, answered(name))
    try:
        yield events
    finally:
        SparkSession.sql = orig_sql
        TableEnvironment.execute_sql = orig_exec
        for name, fn in orig_handlers.items():
            setattr(TableEnvironment, name, fn)


def run_cases(spark) -> list:
    from flink_spark.catalog import TableEnvironment

    tmp = tempfile.mkdtemp(prefix="router_")
    try:
        env = TableEnvironment(spark)
        _setup(spark, env)
        with spy(_Normalizer(tmp)) as events:
            for case, _handler in CASES:
                try:
                    env.execute_sql(case.format(tmp=tmp))
                except Exception:  # noqa: BLE001 - the spy records it
                    pass
        return events
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_registry(spark, name: str) -> list:
    from flink_spark.queries import get_queries as queries

    with spy(_Normalizer(SMOKE_SF_DIR)) as events:
        queries()[name](spark, SMOKE_SF_DIR)
    return events


def _split(events: list) -> list:
    """Group a flat event list into one record per top-level statement:
    [statement, [sql texts and nested statements], result, changes]."""
    out, cur = [], None
    for e in events:
        if e[0] == "handler":
            continue
        if e[0] == "stmt" and e[1] == 0:
            cur = [e[2], []]
        elif e[0] == "result" and e[1] == 0:
            cur += [e[2], e[3]]
            out.append(cur)
            cur = None
        elif cur is not None:
            cur[1].append(e)
    return out


def _compare(got: list, want: list) -> None:
    got, want = _split(got), _split(want)
    for g, w in zip(got, want):
        assert g == w, f"statement {w[0]!r} routed differently"
    assert len(got) == len(want)


@pytest.fixture(scope="module")
def pins():
    return json.loads(PINS.read_text())


def _reached(events: list) -> list:
    """The handler that answered each top-level statement, or
    ``spark.sql`` when every handler of its kind declined."""
    out = []
    for e in events:
        if e[0] == "stmt" and e[1] == 0:
            out.append("spark.sql")
        elif e[0] == "handler" and e[1] == 0:
            out[-1] = e[2]
    return out


@pytest.fixture(scope="module")
def case_events(spark):
    return run_cases(spark)


def test_routing_cases_match_pins(case_events, pins):
    _compare(case_events, pins["cases"])


def test_each_case_reaches_its_handler(case_events):
    assert list(zip((c for c, _h in CASES), _reached(case_events))) == CASES


def test_every_handler_is_reached(case_events):
    """Completeness: every entry of the routing table answers at least
    one case."""
    from flink_spark.catalog import _HANDLERS

    reached = {e[2] for e in case_events if e[0] == "handler"}
    assert {h for _u, h, _k in _HANDLERS} - reached == set()


@pytest.mark.parametrize("name", REGISTRY_QUERIES)
def test_registry_statements_match_pins(spark, pins, name):
    _compare(run_registry(spark, name), pins["registry"][name])


if __name__ == "__main__":
    from flink_spark.session import get_spark

    session = get_spark("router-pins", cpus="4", shuffle_partitions=4)
    PINS.write_text(json.dumps({
        "cases": run_cases(session),
        "registry": {n: run_registry(session, n) for n in REGISTRY_QUERIES},
    }, indent=1) + "\n")
