"""TableEnvironment / DDL-dialect layer tests (SURVEY §2.15, §1.4):
CREATE TABLE ... WITH ('connector'=...), WATERMARK DDL lowering, type
mapping, and the connector registry (filesystem/values/datagen/rate)."""

from __future__ import annotations

import pytest

from flink_spark.catalog import TableEnvironment, _map_type


def test_type_mapping():
    assert _map_type("STRING") == "STRING"
    assert _map_type("TIMESTAMP(3)") == "TIMESTAMP_NTZ"
    assert _map_type("TIMESTAMP_LTZ(3)") == "TIMESTAMP"
    assert _map_type("DECIMAL(10,2)") == "DECIMAL(10,2)"
    assert _map_type("ARRAY<INT>") == "ARRAY<INT>"
    assert _map_type("VARCHAR(255)") == "STRING"


def test_filesystem_connector(spark, sf_dir):
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE nat (
          n_nationkey INT,
          n_name STRING,
          n_regionkey INT
        ) WITH (
          'connector' = 'filesystem',
          'path' = '{sf_dir}/nation.parquet',
          'format' = 'parquet'
        )
    """)
    assert env.sql_query("SELECT COUNT(*) AS n FROM nat").collect()[0].n == 25
    top = env.sql_query(
        "SELECT n_name FROM nat ORDER BY n_nationkey LIMIT 1"
    ).collect()
    assert top[0].n_name == "NATION_0"


def test_values_connector(spark):
    env = TableEnvironment(spark)
    env.execute_sql("""
        CREATE TABLE v (a STRING, b STRING)
        WITH ('connector' = 'values', 'data' = 'x|1;y|2')
    """)
    rows = {(r.a, r.b) for r in env.sql_query("SELECT * FROM v").collect()}
    assert rows == {("x", "1"), ("y", "2")}


def test_datagen_connector_sequence(spark):
    env = TableEnvironment(spark)
    env.execute_sql("""
        CREATE TABLE g (id BIGINT, name STRING)
        WITH ('connector' = 'datagen',
              'number-of-rows' = '5',
              'fields.id.kind' = 'sequence',
              'fields.id.start' = '10')
    """)
    ids = sorted(r.id for r in env.sql_query("SELECT id FROM g").collect())
    assert ids == [10, 11, 12, 13, 14]


def test_watermark_ddl_parsed_and_applied(spark):
    env = TableEnvironment(spark)
    env.execute_sql("""
        CREATE TABLE r (ts TIMESTAMP_LTZ(3), v BIGINT,
                        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)
        WITH ('connector' = 'rate', 'rows-per-second' = '10')
    """)
    spec = env.tables["r"]
    assert spec.watermark == ("ts", "5 seconds")
    # rate source exposes (timestamp, value); the declared watermark applies
    # to a streaming read of the table
    df = env.from_table("r")
    assert df.isStreaming


def test_primary_key_parsed(spark):
    env = TableEnvironment(spark)
    env.execute_sql("""
        CREATE TABLE pkt (id BIGINT, v STRING, PRIMARY KEY (id) NOT ENFORCED)
        WITH ('connector' = 'values', 'data' = '1|a')
    """)
    assert env.tables["pkt"].primary_key == ["id"]
    assert [c for c, _ in env.tables["pkt"].columns] == ["id", "v"]


def test_ansi_sql_passthrough(spark):
    env = TableEnvironment(spark)
    out = env.execute_sql("SELECT 1 + 1 AS two")
    assert out.collect()[0].two == 2


def test_statement_set_multi_sink(spark, sf_dir, tmp_path):
    from flink_spark.catalog import TableEnvironment
    from flink_spark.sources.tables import load_table

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("ss_src")
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    env.execute_sql(f"""CREATE TABLE ss_a (s_suppkey BIGINT, s_acctbal DOUBLE)
        WITH ('connector'='filesystem','format'='parquet','path'='{p1}')""")
    env.execute_sql(f"""CREATE TABLE ss_b (s_nationkey BIGINT, cnt BIGINT)
        WITH ('connector'='filesystem','format'='parquet','path'='{p2}')""")
    (
        env.create_statement_set()
        .add_insert_sql("INSERT INTO ss_a SELECT s_suppkey, s_acctbal FROM ss_src")
        .add_insert_sql(
            "INSERT INTO ss_b SELECT s_nationkey, COUNT(*) AS cnt "
            "FROM ss_src GROUP BY s_nationkey"
        )
        .execute()
    )
    n_src = spark.table("ss_src").count()
    assert spark.table("ss_a").count() == n_src
    assert spark.table("ss_b").count() == spark.table("ss_src").select(
        "s_nationkey"
    ).distinct().count()


def test_compile_and_execute_plan(spark, sf_dir, tmp_path):
    from flink_spark.catalog import TableEnvironment
    from flink_spark.sources.tables import load_table

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("cp_nation")
    sql = "SELECT n_regionkey, COUNT(*) AS cnt FROM cp_nation GROUP BY n_regionkey"
    path = str(tmp_path / "plan.json")
    plan = env.compile_plan_sql(sql, path)
    assert plan["plan_sha256"] and "Aggregate" in plan["optimized_plan"]
    df = env.execute_plan(path)
    assert df.count() == 5
    # schema drift detection
    import json

    with open(path) as f:
        broken = json.load(f)
    broken["schema"]["fields"] = broken["schema"]["fields"][:1]
    with open(path, "w") as f:
        json.dump(broken, f)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema drift"):
        env.execute_plan(path)


def test_compiled_plan_version_migration(spark, sf_dir, tmp_path):
    """Compiled-plan version migration (reference FLIP-190 / CompiledPlan
    compatibility): a v1 artifact (r5 layout, no source contracts) keeps
    loading via in-memory migration; migrate_plan_file rewrites it to the
    current format with re-derived source contracts; a FUTURE version
    fails loudly; a v2 source-schema drift fails loudly."""
    import json

    import pytest

    from flink_spark.catalog import TableEnvironment
    from flink_spark.sources.tables import load_table

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    ).write.mode("overwrite").parquet(f"{tmp_path}/cpv_nation")
    env.execute_sql(f"""
        CREATE TABLE cpv_nation (n_nationkey BIGINT, n_regionkey BIGINT)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/cpv_nation')
    """)
    sql = ("SELECT n_regionkey, COUNT(*) AS cnt FROM cpv_nation "
           "GROUP BY n_regionkey")
    path = str(tmp_path / "plan.json")

    # current compile writes v2 with the catalog table's contract
    plan = env.compile_plan_sql(sql, path)
    assert plan["version"] == env.PLAN_FORMAT_VERSION == 2
    assert plan["sources"]["cpv_nation"] == [
        ["n_nationkey", "BIGINT"], ["n_regionkey", "BIGINT"]
    ]
    assert env.execute_plan(path).count() == 5

    # hand-write the v1 layout: loads via migration, executes
    v1 = {k: plan[k] for k in ("sql", "schema", "plan_sha256",
                               "optimized_plan")}
    v1["version"] = 1
    with open(path, "w") as f:
        json.dump(v1, f)
    assert env.execute_plan(path).count() == 5

    # explicit file migration re-derives the source contracts
    migrated = env.migrate_plan_file(path)
    assert migrated["version"] == 2
    assert "cpv_nation" in migrated["sources"]
    with open(path) as f:
        assert json.load(f)["version"] == 2

    # a future version must not be guessed at
    with open(path) as f:
        future = json.load(f)
    future["version"] = 99
    with open(path, "w") as f:
        json.dump(future, f)
    with pytest.raises(ValueError, match="newer than this engine"):
        env.execute_plan(path)

    # v2 source drift: re-declare the table with another schema
    env.compile_plan_sql(sql, path)
    env.execute_sql("DROP TABLE cpv_nation")
    env.execute_sql(f"""
        CREATE TABLE cpv_nation (n_nationkey BIGINT, extra STRING)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/cpv_nation2')
    """)
    with pytest.raises(ValueError, match="source drift"):
        env.execute_plan(path)
    env.execute_sql("DROP TABLE cpv_nation")


def test_explain_sql(spark, sf_dir):
    from flink_spark.catalog import TableEnvironment
    from flink_spark.sources.tables import load_table

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "region").createOrReplaceTempView("ex_region")
    txt = env.explain_sql("SELECT r_regionkey FROM ex_region WHERE r_regionkey > 1")
    assert "Physical Plan" in txt


def test_window_tvf_sql_rewrite(spark, sf_dir):
    """Flink window-TVF SQL text executes through the dialect layer."""
    from flink_spark.catalog import TableEnvironment
    from flink_spark.operators import windows as W
    from flink_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    env = TableEnvironment(spark)
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("tvf_events")

    got = env.execute_sql("""
        SELECT window_start, window_end, COUNT(*) AS n
        FROM TABLE(TUMBLE(TABLE tvf_events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start, window_end
    """)
    expected = (
        W.tumble(ev, "ts", "1 hour")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )

    got_hop = env.execute_sql("""
        SELECT window_start, COUNT(*) AS n
        FROM TABLE(HOP(TABLE tvf_events, DESCRIPTOR(ts),
                       INTERVAL '30' MINUTE, INTERVAL '1' HOUR))
        GROUP BY window_start
    """)
    expected_hop = (
        W.hop(ev, "ts", slide="30 minutes", size="1 hour")
        .groupBy("window_start")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, got_hop.collect())) == sorted(
        map(tuple, expected_hop.collect())
    )


def test_temporal_join_sql(spark, sf_dir, tmp_path):
    """FOR SYSTEM_TIME AS OF through the dialect layer: each probe row
    joins the dim version in effect at its timestamp."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    dim = str(tmp_path / "rates")
    spark.createDataFrame(
        [("EUR", 1, 10.0), ("EUR", 5, 20.0), ("JPY", 2, 7.0)],
        "ccy string, rts long, rate double",
    ).selectExpr("ccy", "CAST(timestamp_seconds(rts) AS TIMESTAMP_NTZ) AS rts",
                 "rate").write.parquet(dim)
    env.execute_sql(f"""
        CREATE TABLE rates (ccy STRING, rts TIMESTAMP(3), rate DOUBLE,
                            WATERMARK FOR rts AS rts - INTERVAL '5' SECOND)
        WITH ('connector'='filesystem','format'='parquet','path'='{dim}')
    """)
    spark.createDataFrame(
        [(1, "EUR", 0), (2, "EUR", 3), (3, "EUR", 6), (4, "JPY", 4)],
        "oid long, ccy string, ots long",
    ).selectExpr("oid", "ccy",
                 "CAST(timestamp_seconds(ots) AS TIMESTAMP_NTZ) AS ots"
                 ).createOrReplaceTempView("orders_t")
    got = env.execute_sql("""
        SELECT oid, rate FROM orders_t AS o
        JOIN rates FOR SYSTEM_TIME AS OF o.ots AS r
        ON o.ccy = r.ccy
    """)
    rows = {r["oid"]: r["rate"] for r in got.collect()}
    assert rows == {1: None, 2: 10.0, 3: 20.0, 4: 7.0}


def test_lateral_temporal_table_function_sql(spark, sf_dir, tmp_path):
    """LATERAL TABLE (Rates(o.ots)) — the temporal-table-function form of
    the temporal join, resolved through the same as-of lowering."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    dim = str(tmp_path / "rates_ttf")
    spark.createDataFrame(
        [("EUR", 1, 10.0), ("EUR", 5, 20.0), ("JPY", 2, 7.0)],
        "ccy string, rts long, rate double",
    ).selectExpr("ccy", "CAST(timestamp_seconds(rts) AS TIMESTAMP_NTZ) AS rts",
                 "rate").createOrReplaceTempView("rates_hist")
    env.create_temporal_table_function("Rates", "rates_hist", "rts", "ccy")
    spark.createDataFrame(
        [(1, "EUR", 0), (2, "EUR", 3), (3, "EUR", 6), (4, "JPY", 4)],
        "oid long, ccy string, ots long",
    ).selectExpr("oid", "ccy",
                 "CAST(timestamp_seconds(ots) AS TIMESTAMP_NTZ) AS ots"
                 ).createOrReplaceTempView("orders_ttf")
    got = env.execute_sql("""
        SELECT oid, rate FROM orders_ttf AS o,
        LATERAL TABLE (Rates(o.ots)) AS r
        WHERE o.ccy = r.ccy
    """)
    rows = {r["oid"]: r["rate"] for r in got.collect()}
    # INNER correlate (reference comma/cross-apply semantics): oid 1 has
    # no version at or before its timestamp and emits NOTHING
    assert rows == {2: 10.0, 3: 20.0, 4: 7.0}

    # declared key mismatch is rejected
    import pytest

    with pytest.raises(ValueError):
        env.execute_sql("""
            SELECT oid, rate FROM orders_ttf AS o,
            LATERAL TABLE (Rates(o.ots)) AS r
            WHERE o.oid = r.rate
        """)


def test_set_reset_statements(spark):
    env = TableEnvironment(spark)
    env.execute_sql("SET 'spark.sql.shuffle.partitions' = '7'")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    env.execute_sql("RESET 'spark.sql.shuffle.partitions'")
    assert spark.conf.get("spark.sql.shuffle.partitions") != "7"


def test_ctas_and_show_create(spark, tmp_path):
    env = TableEnvironment(spark)
    path = str(tmp_path / "ctas_store")
    env.execute_sql(f"""
        CREATE TABLE ctas_t WITH ('connector' = 'filesystem',
                                  'format' = 'parquet', 'path' = '{path}')
        AS SELECT id AS k, id * 2 AS v FROM range(5)
    """)
    got = sorted((r.k, r.v) for r in env.spark.table("ctas_t").collect())
    assert got == [(i, 2 * i) for i in range(5)]
    # OR REPLACE overwrites both schema registration and data
    env.execute_sql(f"""
        CREATE OR REPLACE TABLE ctas_t
        WITH ('connector' = 'filesystem', 'format' = 'parquet',
              'path' = '{path}')
        AS SELECT id AS k, id * 10 AS v FROM range(3)
    """)
    got = sorted((r.k, r.v) for r in env.spark.table("ctas_t").collect())
    assert got == [(0, 0), (1, 10), (2, 20)]
    ddl = env.execute_sql("SHOW CREATE TABLE ctas_t").collect()[0].ddl
    assert "CREATE TABLE ctas_t" in ddl and "'connector' = 'filesystem'" in ddl


def test_show_jobs_and_stop_job(spark, tmp_path):
    import time

    env = TableEnvironment(spark)
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("noop")
        .queryName("catalog_job_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        jobs = {
            (r.job_name, r.status)
            for r in env.execute_sql("SHOW JOBS").collect()
        }
        assert ("catalog_job_probe", "RUNNING") in jobs
        env.execute_sql("STOP JOB 'catalog_job_probe'")
        deadline = time.time() + 30
        while q.isActive and time.time() < deadline:
            time.sleep(0.2)
        assert not q.isActive
    finally:
        if q.isActive:
            q.stop()


def test_truncate_table(spark, tmp_path):
    env = TableEnvironment(spark)
    path = str(tmp_path / "trunc_store")
    env.execute_sql(f"""
        CREATE TABLE trunc_t (k BIGINT, v STRING)
        WITH ('connector' = 'filesystem', 'format' = 'parquet',
              'path' = '{path}')
    """)
    env.execute_sql("INSERT INTO trunc_t SELECT id AS k, 'x' AS v FROM range(4)")
    assert spark.table("trunc_t").count() == 4
    env.execute_sql("TRUNCATE TABLE trunc_t")
    assert spark.table("trunc_t").count() == 0
    # table survives: schema intact, writable again
    env.execute_sql("INSERT INTO trunc_t SELECT id AS k, 'y' AS v FROM range(2)")
    assert spark.table("trunc_t").count() == 2


def test_analyze_table_statistics(spark):
    env = TableEnvironment(spark)
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (3, "c")], "k int, s string"
    ).createOrReplaceTempView("an_src")
    row = env.execute_sql(
        "ANALYZE TABLE an_src COMPUTE STATISTICS FOR COLUMNS k, s"
    ).collect()[0]
    assert row.row_count == 4
    assert row.k_min == "1" and row.k_max == "3" and row.k_nulls == 0
    assert row.s_nulls == 1 and row.s_ndv >= 3


def test_create_table_like(spark, tmp_path):
    env = TableEnvironment(spark)
    src_path = str(tmp_path / "like_src")
    dst_path = str(tmp_path / "like_dst")
    env.execute_sql(f"""
        CREATE TABLE like_src_t (k BIGINT, v STRING)
        WITH ('connector' = 'filesystem', 'format' = 'parquet',
              'path' = '{src_path}')
    """)
    env.execute_sql(f"""
        CREATE TABLE like_dst_t WITH ('path' = '{dst_path}') LIKE like_src_t
    """)
    spec = env.tables["like_dst_t"]
    assert spec.columns == env.tables["like_src_t"].columns
    assert spec.options["path"] == dst_path           # overridden
    assert spec.options["format"] == "parquet"        # inherited
    env.execute_sql("INSERT INTO like_dst_t SELECT id AS k, 'x' AS v FROM range(3)")
    assert spark.table("like_dst_t").count() == 3


def test_static_partition_insert(spark, tmp_path):
    import os

    env = TableEnvironment(spark)
    path = str(tmp_path / "spart")
    env.execute_sql(f"""
        CREATE TABLE spart_t (k BIGINT, region STRING)
        WITH ('connector' = 'filesystem', 'format' = 'parquet',
              'path' = '{path}', 'partition.keys' = 'region')
    """)
    env.execute_sql(
        "INSERT INTO spart_t PARTITION (region = 'emea') SELECT id AS k FROM range(4)"
    )
    env.execute_sql(
        "INSERT INTO spart_t PARTITION (region = 'apac') SELECT id AS k FROM range(2)"
    )
    dirs = sorted(d for d in os.listdir(path) if d.startswith("region="))
    assert dirs == ["region=apac", "region=emea"]
    got = {(r.k, r.region) for r in spark.table("spart_t").collect()}
    assert got == {(i, "emea") for i in range(4)} | {(i, "apac") for i in range(2)}


def test_describe_job(spark, tmp_path):
    env = TableEnvironment(spark)
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("noop")
        .queryName("describe_job_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt_dj"))
        .start()
    )
    try:
        row = env.execute_sql("DESCRIBE JOB 'describe_job_probe'").collect()[0]
        assert row.job_name == "describe_job_probe" and row.status == "RUNNING"
        assert row.job_id == q.id
    finally:
        q.stop()


def test_sql_statement_set(spark, tmp_path):
    """EXECUTE STATEMENT SET BEGIN ... END (reference SqlExecute +
    SqlStatementSet): multiple INSERTs run as one set."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string") \
        .createOrReplaceTempView("sset_src")
    for t in ("sset_a", "sset_b"):
        env.execute_sql(f"""
            CREATE TABLE {t} (k INT, v STRING) WITH (
              'connector' = 'filesystem',
              'path' = '{tmp_path / t}',
              'format' = 'parquet'
            )
        """)
    env.execute_sql("""
        EXECUTE STATEMENT SET BEGIN
          INSERT INTO sset_a SELECT k, v FROM sset_src WHERE k = 1;
          INSERT INTO sset_b SELECT k, v FROM sset_src;
        END
    """)
    assert spark.read.parquet(str(tmp_path / "sset_a")).count() == 1
    assert spark.read.parquet(str(tmp_path / "sset_b")).count() == 2


def test_module_statements(spark):
    """LOAD/UNLOAD MODULE, USE MODULES, SHOW [FULL] MODULES (reference
    SqlLoadModule / ModuleManager semantics: list order = resolution
    order, USE disables unlisted loaded modules)."""
    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    assert [r.module_name for r in env.execute_sql("SHOW MODULES").collect()] \
        == ["core"]
    env.execute_sql("LOAD MODULE hive")
    assert [r.module_name for r in env.execute_sql("SHOW MODULES").collect()] \
        == ["core", "hive"]
    env.execute_sql("USE MODULES hive, core")
    full = [(r.module_name, r.used)
            for r in env.execute_sql("SHOW FULL MODULES").collect()]
    assert full == [("hive", True), ("core", True)]
    env.execute_sql("USE MODULES core")
    full = [(r.module_name, r.used)
            for r in env.execute_sql("SHOW FULL MODULES").collect()]
    assert full == [("core", True), ("hive", False)]
    env.execute_sql("UNLOAD MODULE hive")
    assert [r.module_name for r in env.execute_sql("SHOW MODULES").collect()] \
        == ["core"]
    with pytest.raises(ValueError, match="not loaded"):
        env.execute_sql("UNLOAD MODULE hive")
    with pytest.raises(ValueError, match="already loaded"):
        env.execute_sql("LOAD MODULE core")


def test_catalog_ddl_family(spark):
    """CREATE/DROP/USE CATALOG + SHOW/DESCRIBE (reference
    GenericInMemoryCatalog, SqlCreateCatalog family): extra catalogs
    namespace their databases onto Spark databases `<catalog>__<db>`."""
    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    assert [r.catalog_name for r in env.execute_sql("SHOW CATALOGS").collect()] \
        == ["default_catalog"]
    env.execute_sql("CREATE CATALOG lake WITH ('type'='generic_in_memory')")
    env.execute_sql("CREATE CATALOG IF NOT EXISTS lake")
    with pytest.raises(ValueError, match="already exists"):
        env.execute_sql("CREATE CATALOG lake")
    desc = {r.info_name: r.info_value
            for r in env.execute_sql("DESCRIBE CATALOG lake").collect()}
    assert desc == {"name": "lake", "type": "generic_in_memory"}

    env.execute_sql("USE CATALOG lake")
    assert env.execute_sql("SHOW CURRENT CATALOG").first()[0] == "lake"
    env.execute_sql("CREATE DATABASE IF NOT EXISTS staging")
    assert [r.database_name
            for r in env.execute_sql("SHOW DATABASES").collect()] == ["staging"]
    env.execute_sql("USE staging")
    assert env.execute_sql("SHOW CURRENT DATABASE").first()[0] == "staging"
    # the Flink db is namespaced onto a Spark database
    assert spark.catalog.currentDatabase() == "lake__staging"

    with pytest.raises(ValueError, match="current catalog"):
        env.execute_sql("DROP CATALOG lake")
    # database DDL resolves within the CURRENT catalog's namespace
    spark.sql("USE default")
    env.execute_sql("DROP DATABASE staging")
    assert env.execute_sql("SHOW DATABASES").count() == 0
    env.execute_sql("USE CATALOG default_catalog")
    env.execute_sql("DROP CATALOG lake")
    assert [r.catalog_name for r in env.execute_sql("SHOW CATALOGS").collect()] \
        == ["default_catalog"]
    with pytest.raises(ValueError, match="current catalog"):
        env.execute_sql("DROP CATALOG default_catalog")


def test_create_function_sql_ddl_roundtrip(spark):
    """SQL-text function DDL (reference SqlCreateFunction/SqlDropFunction/
    SqlShowFunctions; FunctionITCase): create from a dotted identifier,
    call from SQL, list via SHOW USER FUNCTIONS, drop — and a dropped
    function fails loudly instead of silently surviving."""
    env = TableEnvironment(spark)
    env.execute_sql(
        "CREATE TEMPORARY FUNCTION digit_sum_py AS "
        "'flink_spark.functions.library.DigitSumFn' LANGUAGE PYTHON"
    )
    assert spark.sql("SELECT digit_sum_py(1234) AS s").first().s == 10
    # plain-callable path (no ScalarFunction subclass)
    env.execute_sql(
        "CREATE FUNCTION upper_trim_py AS "
        "'flink_spark.functions.library.upper_trim'"
    )
    assert spark.sql("SELECT upper_trim_py('  ab ') AS s").first().s == "AB"
    names = [r.function_name
             for r in env.execute_sql("SHOW USER FUNCTIONS").collect()]
    assert names == ["digit_sum_py", "upper_trim_py"]

    with pytest.raises(ValueError, match="already exists"):
        env.execute_sql(
            "CREATE FUNCTION digit_sum_py AS 'flink_spark.functions.library.DigitSumFn'"
        )
    env.execute_sql(
        "CREATE FUNCTION IF NOT EXISTS digit_sum_py AS "
        "'flink_spark.functions.library.DigitSumFn'"
    )  # no-op

    env.execute_sql("DROP FUNCTION digit_sum_py")
    assert [r.function_name
            for r in env.execute_sql("SHOW USER FUNCTIONS").collect()] \
        == ["upper_trim_py"]
    with pytest.raises(Exception, match="dropped"):
        spark.sql("SELECT digit_sum_py(1) AS s").collect()
    with pytest.raises(ValueError, match="does not exist"):
        env.execute_sql("DROP FUNCTION digit_sum_py")
    env.execute_sql("DROP FUNCTION IF EXISTS digit_sum_py")  # no-op
    env.execute_sql("DROP FUNCTION upper_trim_py")


def test_create_function_sql_ddl_errors(spark):
    env = TableEnvironment(spark)
    with pytest.raises(ValueError, match="LANGUAGE PYTHON"):
        env.execute_sql(
            "CREATE FUNCTION j AS 'com.example.Fn' LANGUAGE JAVA"
        )
    with pytest.raises(ValueError, match="dotted"):
        env.execute_sql("CREATE FUNCTION f AS 'notdotted'")
    with pytest.raises(ValueError, match="cannot resolve"):
        env.execute_sql("CREATE FUNCTION f AS 'flink_spark.functions.library.Nope'")


def test_group_id_rewrite_matches_bruteforce(spark):
    """Randomized check of the GROUP_ID decomposition (reference
    DecomposeGroupingSetsRule semantics): for random multisets of
    grouping sets over (a, b), the rewritten query must equal the
    brute-force per-occurrence expansion computed in pandas."""
    import itertools
    import random

    env = TableEnvironment(spark)
    data = [(i % 2, i % 3, i) for i in range(12)]
    pdf_rows = data
    spark.createDataFrame(
        data, "a int, b int, v long"
    ).createOrReplaceTempView("gidp_t")
    pool = ["(a)", "(b)", "(a, b)", "()"]
    rng = random.Random(77)
    try:
        for _ in range(12):
            # the select list names a and b, so the grouping union must
            # cover both (anything else is invalid SQL on both engines)
            sets = [rng.choice(pool) for _ in range(rng.randint(1, 5))]
            covered = {c for s in sets for c in s.strip("() ").replace(",", " ").split()}
            if covered != {"a", "b"}:
                sets.append("(a, b)")
            sql = (
                "SELECT a, b, GROUP_ID() AS g, COUNT(*) AS c FROM gidp_t "
                f"GROUP BY GROUPING SETS ({', '.join(sets)})"
            )
            got = sorted(
                (
                    (r.a, r.b, r.g, r.c)
                    for r in env.execute_sql(sql).collect()
                ),
                key=str,
            )
            # brute force: every occurrence aggregates independently with
            # GROUP_ID = its index among identical sets
            expect, seen = [], {}
            for s in sets:
                cols = [c.strip() for c in s.strip("() ").split(",") if c.strip()]
                key = tuple(sorted(cols))
                gid = seen.get(key, 0)
                seen[key] = gid + 1
                groups: dict = {}
                for a, b, _v in pdf_rows:
                    gk = tuple(
                        (a if "a" in cols else None,
                         b if "b" in cols else None)
                    )
                    groups[gk] = groups.get(gk, 0) + 1
                for (ga, gb), c in groups.items():
                    expect.append((ga, gb, gid, c))
            assert got == sorted(expect, key=str), sql
    finally:
        spark.catalog.dropTempView("gidp_t")


def test_set_reference_config_keys_bridge(spark):
    """Well-known reference table-config keys set through SQL take real
    effect (reference TableConfigOptions.LOCAL_TIME_ZONE → Spark session
    timezone, table.exec.resource.default-parallelism → shuffle
    partitions, table.optimizer.join.broadcast-threshold → broadcast
    threshold); RESET restores the engine's pinned defaults."""
    env = TableEnvironment(spark)
    try:
        env.execute_sql("SET 'table.local-time-zone' = 'Asia/Tokyo'")
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
        # the raw key round-trips for SHOW-style reads
        assert spark.conf.get("table.local-time-zone") == "Asia/Tokyo"
        env.execute_sql(
            "SET 'table.exec.resource.default-parallelism' = '7'"
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        env.execute_sql(
            "SET 'table.optimizer.join.broadcast-threshold' = '1048576'"
        )
        assert (
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            == "1048576"
        )
    finally:
        env.execute_sql("RESET")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_group_id_rewrite(spark):
    """GROUP_ID() (reference FlinkSqlOperatorTable GROUP_ID,
    DecomposeGroupingSetsRule.java per CALCITE-1824): 0 for distinct
    grouping sets (incl. CUBE/ROLLUP); duplicate sets decompose into
    UNION ALL rounds with GROUP_ID = occurrence index, GROUPING/
    GROUPING_ID staying correct in every round, NULL for grouping
    columns outside a round's universe, ORDER BY/LIMIT applied over the
    union."""
    env = TableEnvironment(spark)
    spark.range(6).selectExpr("id % 2 AS a", "id AS v").createOrReplaceTempView(
        "gid_t"
    )
    try:
        rows = env.execute_sql(
            "SELECT a, GROUP_ID() AS g, CAST(GROUPING_ID(a) AS BIGINT) AS gm,"
            " COUNT(*) AS c FROM gid_t"
            " GROUP BY GROUPING SETS ((a), (), (a), ())"
            " ORDER BY a NULLS FIRST, g LIMIT 10"
        ).collect()
        assert [(r.a, r.g, r.gm, r.c) for r in rows] == [
            (None, 0, 1, 6), (None, 1, 1, 6),
            (0, 0, 0, 3), (0, 1, 0, 3),
            (1, 0, 0, 3), (1, 1, 0, 3),
        ]
        distinct = env.execute_sql(
            "SELECT a, GROUP_ID() AS g, COUNT(*) AS c FROM gid_t"
            " GROUP BY GROUPING SETS ((a), ()) ORDER BY a NULLS FIRST"
        ).collect()
        assert [r.g for r in distinct] == [0, 0, 0]
        cube = env.execute_sql(
            "SELECT a, GROUP_ID() AS g FROM gid_t GROUP BY CUBE(a)"
        ).collect()
        assert {r.g for r in cube} == {0}
        # a trailing top-level set-op arm must NOT be duplicated into the
        # decomposition rounds
        spark.range(4).selectExpr("id % 2 AS a").createOrReplaceTempView(
            "gid_u"
        )
        rows = env.execute_sql(
            "SELECT a, GROUP_ID() AS g, COUNT(*) AS c FROM gid_t"
            " GROUP BY GROUPING SETS ((a), (), ())"
            " UNION ALL SELECT a, 9 AS g, COUNT(*) AS c FROM gid_u GROUP BY a"
        ).collect()
        assert sum(1 for r in rows if r.g == 9) == 2  # arm appears once
        # a WITH prologue wraps the whole decomposition once
        rows = env.execute_sql(
            "WITH w AS (SELECT a FROM gid_t)"
            " SELECT a, GROUP_ID() AS g, COUNT(*) AS c FROM w"
            " GROUP BY GROUPING SETS ((a), (), ())"
        ).collect()
        assert sorted(((r.a, r.g, r.c) for r in rows), key=str) == sorted(
            [(0, 0, 3), (1, 0, 3), (None, 0, 6), (None, 1, 6)], key=str
        )
        # expressions over a grouping column absent from a round NULL out
        spark.range(6).selectExpr(
            "id % 2 AS a", "id % 3 AS b"
        ).createOrReplaceTempView("gid_e")
        rows = env.execute_sql(
            "SELECT a, b + 1 AS b1, GROUP_ID() AS g, COUNT(*) AS c"
            " FROM gid_e GROUP BY GROUPING SETS ((a), (a), (b))"
        ).collect()
        assert all(r.b1 is None for r in rows if r.a is not None)
        assert sorted(r.b1 for r in rows if r.a is None) == [1, 2, 3]
        # a UNION nested inside a derived table is NOT a top-level arm
        rows = env.execute_sql(
            "SELECT a, GROUP_ID() AS g, COUNT(*) AS c"
            " FROM (SELECT a FROM gid_t UNION ALL SELECT a FROM gid_t) u"
            " GROUP BY GROUPING SETS ((a), (), ())"
        ).collect()
        assert sorted(((r.a, r.g, r.c) for r in rows), key=str) == sorted(
            [(0, 0, 6), (1, 0, 6), (None, 0, 12), (None, 1, 12)], key=str
        )
        # HAVING stays per round
        rows = env.execute_sql(
            "SELECT a, GROUP_ID() AS g, COUNT(*) AS c FROM gid_t"
            " GROUP BY GROUPING SETS ((a), (), ()) HAVING COUNT(*) > 4"
        ).collect()
        assert sorted(((r.a, r.g, r.c) for r in rows), key=str) == sorted(
            [(None, 0, 6), (None, 1, 6)], key=str
        )
    finally:
        spark.catalog.dropTempView("gid_t")


def test_alter_function_sql_ddl(spark):
    """ALTER FUNCTION rebinds an existing function to a new identifier
    (reference SqlAlterFunction.java / SqlAlterFunctionConverter.java /
    AlterCatalogFunctionOperation.java): subsequent SQL calls use the new
    implementation, TEMPORARY flavors raise the reference's validation
    errors, IF EXISTS swallows a missing name."""
    env = TableEnvironment(spark)
    env.execute_sql(
        "CREATE FUNCTION alterable_py AS "
        "'flink_spark.functions.library.DigitSumFn'"
    )
    assert spark.sql("SELECT alterable_py(1234) AS s").first().s == 10
    env.execute_sql(
        "ALTER FUNCTION alterable_py AS "
        "'flink_spark.functions.library.upper_trim' LANGUAGE PYTHON"
    )
    assert spark.sql("SELECT alterable_py('  ab ') AS s").first().s == "AB"
    # the registry reflects the new identifier (DESCRIBE FUNCTION reads it)
    rows = dict(
        env.execute_sql("DESCRIBE FUNCTION alterable_py").collect()
    )
    assert rows["class name"] == "flink_spark.functions.library.upper_trim"

    with pytest.raises(ValueError, match="does not exist"):
        env.execute_sql(
            "ALTER FUNCTION no_such_fn AS 'flink_spark.functions.library.upper_trim'"
        )
    env.execute_sql(
        "ALTER FUNCTION IF EXISTS no_such_fn AS "
        "'flink_spark.functions.library.upper_trim'"
    )  # no-op
    with pytest.raises(
        ValueError, match="Alter temporary catalog function is not supported"
    ):
        env.execute_sql(
            "ALTER TEMPORARY FUNCTION alterable_py AS "
            "'flink_spark.functions.library.upper_trim'"
        )
    with pytest.raises(
        ValueError, match="Alter temporary system function is not supported"
    ):
        env.execute_sql(
            "ALTER TEMPORARY SYSTEM FUNCTION alterable_py AS "
            "'flink_spark.functions.library.upper_trim'"
        )
    with pytest.raises(ValueError, match="LANGUAGE PYTHON"):
        env.execute_sql(
            "ALTER FUNCTION alterable_py AS 'com.example.Fn' LANGUAGE JAVA"
        )
    env.execute_sql("DROP FUNCTION alterable_py")


def test_show_columns_sql(spark):
    """SHOW COLUMNS (FROM|IN) t [[NOT] LIKE 'p'] (reference
    SqlShowColumns.java, ShowColumnsOperation.java:99): DESCRIBE-shaped
    rows (name/type/null/key/extras/watermark) with PK + watermark
    rendered, LIKE filtering on the name column, and the reference's
    error for a missing table."""
    env = TableEnvironment(spark)
    env.execute_sql(
        "CREATE TABLE show_cols_t ("
        " id BIGINT,"
        " name STRING,"
        " ts TIMESTAMP(3),"
        " WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,"
        " PRIMARY KEY (id) NOT ENFORCED"
        ") WITH ('connector' = 'datagen')"
    )
    try:
        rows = env.execute_sql("SHOW COLUMNS FROM show_cols_t").collect()
        assert [r.name for r in rows] == ["id", "name", "ts"]
        assert rows[0].key == "PRI(NOT ENFORCED)"
        assert rows[2].watermark is not None
        assert env.execute_sql(
            "SHOW COLUMNS IN show_cols_t LIKE '%s'"
        ).count() == 1  # ts
        assert [
            r.name
            for r in env.execute_sql(
                "SHOW COLUMNS FROM show_cols_t NOT LIKE 'i_'"
            ).collect()
        ] == ["name", "ts"]
        # plain Spark temp view fallback: resolved schema, no key/watermark
        spark.range(3).selectExpr(
            "id", "cast(id as string) AS label"
        ).createOrReplaceTempView("show_cols_v")
        vrows = env.execute_sql("SHOW COLUMNS FROM show_cols_v").collect()
        assert [(r.name, r.key) for r in vrows] == [
            ("id", None), ("label", None),
        ]
        with pytest.raises(ValueError, match="doesn't exist"):
            env.execute_sql("SHOW COLUMNS FROM no_such_table_xyz")
    finally:
        env.execute_sql("DROP TABLE show_cols_t")
        spark.catalog.dropTempView("show_cols_v")


def test_alter_table_partition_ddl_roundtrip(spark, tmp_path):
    """ADD/DROP PARTITION + SHOW PARTITIONS over a partitioned filesystem
    table (reference SqlAddPartitions/SqlDropPartitions): partitions are
    real Hive-layout directories — add materializes an empty one, drop
    removes the data, SHOW lists storage truth."""
    import os

    env = TableEnvironment(spark)
    path = str(tmp_path / "apart")
    env.execute_sql(f"""
        CREATE TABLE apart_t (k BIGINT, region STRING)
        WITH ('connector' = 'filesystem', 'format' = 'parquet',
              'path' = '{path}', 'partition.keys' = 'region')
    """)
    env.execute_sql(
        "INSERT INTO apart_t PARTITION (region='eu') SELECT id AS k FROM range(3)"
    )
    env.execute_sql(
        "INSERT INTO apart_t PARTITION (region='us') SELECT id AS k FROM range(2)"
    )
    parts = [r.partition
             for r in env.execute_sql("SHOW PARTITIONS apart_t").collect()]
    assert parts == ["region=eu", "region=us"]

    env.execute_sql("ALTER TABLE apart_t ADD PARTITION (region='apac')")
    assert os.path.isdir(os.path.join(path, "region=apac"))
    parts = [r.partition
             for r in env.execute_sql("SHOW PARTITIONS apart_t").collect()]
    assert parts == ["region=apac", "region=eu", "region=us"]
    with pytest.raises(ValueError, match="already exists"):
        env.execute_sql("ALTER TABLE apart_t ADD PARTITION (region='apac')")
    env.execute_sql(
        "ALTER TABLE apart_t ADD IF NOT EXISTS PARTITION (region='apac')"
    )

    env.execute_sql("ALTER TABLE apart_t DROP PARTITION (region='eu')")
    assert spark.table("apart_t").count() == 2  # eu rows gone from reads
    with pytest.raises(ValueError, match="does not exist"):
        env.execute_sql("ALTER TABLE apart_t DROP PARTITION (region='eu')")
    env.execute_sql("ALTER TABLE apart_t DROP IF EXISTS PARTITION (region='eu')")
    with pytest.raises(ValueError, match="partition keys"):
        env.execute_sql("ALTER TABLE apart_t ADD PARTITION (bogus='x')")
    with pytest.raises(ValueError, match="not partitioned"):
        env2_path = str(tmp_path / "nopart")
        env.execute_sql(f"""
            CREATE TABLE nopart_t (k BIGINT)
            WITH ('connector'='filesystem','format'='parquet',
                  'path'='{env2_path}')
        """)
        env.execute_sql("SHOW PARTITIONS nopart_t")


def test_alter_table_set_reset_rename(spark, tmp_path):
    """ALTER TABLE SET/RESET mutate the WITH options (reference
    SqlAlterTableOptions/SqlAlterTableReset); RENAME TO re-registers the
    table and its view under the new name (SqlAlterTableRename)."""
    env = TableEnvironment(spark)
    path = str(tmp_path / "aopts")
    env.execute_sql(f"""
        CREATE TABLE aopts_t (k BIGINT, v STRING)
        WITH ('connector'='filesystem','format'='parquet','path'='{path}')
    """)
    env.execute_sql("INSERT INTO aopts_t SELECT id, 'x' FROM range(4)")
    env.execute_sql("ALTER TABLE aopts_t SET ('note'='hello', 'compression'='snappy')")
    assert env.tables["aopts_t"].options["note"] == "hello"
    env.execute_sql("ALTER TABLE aopts_t RESET ('note')")
    assert "note" not in env.tables["aopts_t"].options
    with pytest.raises(ValueError, match="cannot change"):
        env.execute_sql("ALTER TABLE aopts_t SET ('path'='/elsewhere')")
    with pytest.raises(ValueError, match="cannot remove"):
        env.execute_sql("ALTER TABLE aopts_t RESET ('connector')")

    env.execute_sql("ALTER TABLE aopts_t RENAME TO bopts_t")
    assert "aopts_t" not in env.tables and "bopts_t" in env.tables
    assert spark.table("bopts_t").count() == 4
    with pytest.raises(Exception):
        spark.table("aopts_t").count()


def test_alter_table_add_drop_columns(spark, tmp_path):
    """ADD/DROP column schema changes (reference .../ddl/table classes):
    rows written before an added column read back null-filled (parquet
    declared-schema evolution); dropped columns disappear from reads;
    partition keys cannot be dropped."""
    env = TableEnvironment(spark)
    path = str(tmp_path / "acols")
    env.execute_sql(f"""
        CREATE TABLE acols_t (k BIGINT, region STRING)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{path}', 'partition.keys'='region')
    """)
    env.execute_sql(
        "INSERT INTO acols_t PARTITION (region='eu') SELECT id AS k FROM range(3)"
    )
    env.execute_sql("ALTER TABLE acols_t ADD (score DOUBLE)")
    got = spark.table("acols_t")
    # Spark surfaces partition-discovery columns last; compare as sets
    assert set(got.columns) == {"k", "region", "score"}
    assert got.filter("score IS NULL").count() == 3
    env.execute_sql("""
        INSERT INTO acols_t PARTITION (region='us')
        SELECT id AS k, CAST(id AS DOUBLE) AS score FROM range(2)
    """)
    assert spark.table("acols_t").filter("score IS NOT NULL").count() == 2
    with pytest.raises(ValueError, match="already exists"):
        env.execute_sql("ALTER TABLE acols_t ADD (score DOUBLE)")
    env.execute_sql("ALTER TABLE acols_t DROP COLUMN score")
    assert set(spark.table("acols_t").columns) == {"k", "region"}
    with pytest.raises(ValueError, match="partition/primary key"):
        env.execute_sql("ALTER TABLE acols_t DROP COLUMN region")
    with pytest.raises(ValueError, match="does not exist"):
        env.execute_sql("ALTER TABLE acols_t DROP COLUMN nope")


def test_drop_table_removes_spec_and_view(spark, tmp_path):
    """DROP TABLE (reference SqlDropTable): removes the engine-managed
    spec and its view; external filesystem data files are kept; IF EXISTS
    is a no-op for absent tables; re-CREATE over the same path sees the
    surviving files."""
    import os

    env = TableEnvironment(spark)
    path = str(tmp_path / "dropt")
    ddl = f"""
        CREATE TABLE drop_t (k BIGINT)
        WITH ('connector'='filesystem','format'='parquet','path'='{path}')
    """
    env.execute_sql(ddl)
    env.execute_sql("INSERT INTO drop_t SELECT id AS k FROM range(3)")
    env.execute_sql("DROP TABLE drop_t")
    assert "drop_t" not in env.tables
    with pytest.raises(Exception):
        spark.table("drop_t").count()
    assert os.path.isdir(path)  # external storage survives the drop
    env.execute_sql("DROP TABLE IF EXISTS drop_t")  # no-op
    with pytest.raises(Exception):
        env.execute_sql("DROP TABLE drop_t")
    env.execute_sql(ddl)  # re-create over the kept files
    assert spark.table("drop_t").count() == 3
    env.execute_sql("DROP TABLE drop_t")


def test_insert_with_column_list(spark, tmp_path):
    """INSERT INTO t (cols...) (reference SqlInsert column list): query
    output maps positionally onto the named columns; unnamed declared
    columns null-fill; unknown names and arity mismatches error."""
    env = TableEnvironment(spark)
    path = str(tmp_path / "collist")
    env.execute_sql(f"""
        CREATE TABLE cl_t (a BIGINT, b STRING, c DOUBLE)
        WITH ('connector'='filesystem','format'='parquet','path'='{path}')
    """)
    env.execute_sql("INSERT INTO cl_t (c, a) SELECT CAST(id AS DOUBLE), id + 10 FROM range(3)")
    got = sorted((r.a, r.b, r.c) for r in spark.table("cl_t").collect())
    assert got == [(10, None, 0.0), (11, None, 1.0), (12, None, 2.0)]
    with pytest.raises(ValueError, match="unknown columns"):
        env.execute_sql("INSERT INTO cl_t (z) SELECT id FROM range(1)")
    with pytest.raises(ValueError, match="query produces"):
        env.execute_sql("INSERT INTO cl_t (a, b) SELECT id FROM range(1)")


def test_dynamic_table_options_hint(spark, tmp_path):
    """FROM t /*+ OPTIONS('k'='v') */ (reference FlinkHints dynamic table
    options): overrides the declared WITH options for one query only —
    here flipping csv.include-header so the same file reads with/without
    its header row; connector/path stay guarded."""
    import os

    env = TableEnvironment(spark)
    path = str(tmp_path / "hintcsv")
    os.makedirs(path)
    with open(os.path.join(path, "data.csv"), "w") as fh:
        fh.write("a,b\n1,x\n2,y\n")
    env.execute_sql(f"""
        CREATE TABLE hint_t (a BIGINT, b STRING)
        WITH ('connector'='filesystem','format'='csv','path'='{path}',
              'csv.include-header'='true')
    """)
    assert spark.table("hint_t").count() == 2  # header consumed
    # hint: treat the header as data for this one query
    out = env.execute_sql(
        "SELECT COUNT(*) AS c FROM hint_t "
        "/*+ OPTIONS('csv.include-header'='false') */"
    )
    assert out.first().c == 3
    # the declared table is untouched
    assert spark.table("hint_t").count() == 2
    assert env.tables["hint_t"].options["csv.include-header"] == "true"
    with pytest.raises(ValueError, match="cannot change"):
        env.execute_sql(
            "SELECT * FROM hint_t /*+ OPTIONS('path'='/elsewhere') */"
        )


def test_create_table_like_feature_list(spark, tmp_path):
    """LIKE merging strategies (reference SqlTableLike featureOption):
    EXCLUDING OPTIONS drops inherited options (WITH must re-declare the
    connector), EXCLUDING WATERMARKS/CONSTRAINTS drop those; default
    stays INCLUDING ALL + OVERWRITING WITH options."""
    env = TableEnvironment(spark)
    p1, p2 = str(tmp_path / "lsrc"), str(tmp_path / "ldst")
    env.execute_sql(f"""
        CREATE TABLE like_src_f (k BIGINT, ts TIMESTAMP(3), v STRING,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
            PRIMARY KEY (k) NOT ENFORCED)
        WITH ('connector'='filesystem','format'='parquet','path'='{p1}',
              'custom.flag'='yes')
    """)
    env.execute_sql(f"""
        CREATE TABLE like_all_f WITH ('path'='{p2}a') LIKE like_src_f
            (INCLUDING ALL)
    """)
    s = env.tables["like_all_f"]
    assert s.options["custom.flag"] == "yes" and s.watermark is not None
    assert s.primary_key == ["k"]
    env.execute_sql(f"""
        CREATE TABLE like_excl_f
        WITH ('connector'='filesystem','format'='parquet','path'='{p2}b')
        LIKE like_src_f (EXCLUDING OPTIONS, EXCLUDING WATERMARKS,
                         EXCLUDING CONSTRAINTS)
    """)
    s2 = env.tables["like_excl_f"]
    assert "custom.flag" not in s2.options
    assert s2.watermark is None and s2.primary_key == []
    assert [c for c, _ in s2.columns] == ["k", "ts", "v"]
    with pytest.raises(ValueError, match="connector"):
        env.execute_sql(
            "CREATE TABLE like_bad_f WITH ('format'='csv') "
            "LIKE like_src_f (EXCLUDING OPTIONS)"
        )
    with pytest.raises(ValueError, match="cannot parse"):
        env.execute_sql(
            f"CREATE TABLE like_bad2_f WITH ('path'='{p2}c') "
            "LIKE like_src_f (FROBNICATING OPTIONS)"
        )


def test_describe_engine_table_flink_shape(spark, tmp_path):
    """DESCRIBE on an engine-managed table yields the reference's
    six-column shape including watermark and NOT ENFORCED key — which
    Spark's DESCRIBE cannot express."""
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE desc_t (k BIGINT, ts TIMESTAMP(3), v STRING,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
            PRIMARY KEY (k) NOT ENFORCED)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/desc_t')
    """)
    rows = {r.name: r for r in env.execute_sql("DESCRIBE desc_t").collect()}
    assert rows["k"].key == "PRI(NOT ENFORCED)"
    assert rows["ts"].watermark is not None and "INTERVAL" in rows["ts"].watermark
    assert rows["v"].key is None and rows["v"].watermark is None
    assert env.execute_sql("DESCRIBE desc_t").columns == [
        "name", "type", "null", "key", "extras", "watermark"
    ]


def test_primary_key_sink_upserts(spark, tmp_path):
    """A PRIMARY KEY'd filesystem sink follows the upsert contract
    (reference SinkUpsertMaterializer): INSERT INTO replaces rows by key
    instead of appending duplicates; INSERT OVERWRITE still truncates."""
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE upsert_t (id BIGINT, v STRING,
            PRIMARY KEY (id) NOT ENFORCED)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/upsert_t')
    """)
    env.execute_sql(
        "INSERT INTO upsert_t SELECT id, 'old' FROM range(3)"
    )
    env.execute_sql(
        "INSERT INTO upsert_t SELECT id + 1, 'new' FROM range(2)"
    )
    got = sorted((r.id, r.v) for r in spark.table("upsert_t").collect())
    # keys 1,2 replaced by the second insert; key 0 kept
    assert got == [(0, "old"), (1, "new"), (2, "new")]
    env.execute_sql("INSERT OVERWRITE upsert_t SELECT 9, 'only'")
    assert [(r.id, r.v) for r in spark.table("upsert_t").collect()] \
        == [(9, "only")]


def test_show_create_table_roundtrips_watermark_and_pk(spark, tmp_path):
    """SHOW CREATE TABLE must emit the full declaration — watermark and
    NOT ENFORCED primary key included — and the emitted DDL must be
    re-executable to an equivalent spec (the reference's round-trip
    contract)."""
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE sct_full (k BIGINT, ts TIMESTAMP(3),
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
            PRIMARY KEY (k) NOT ENFORCED)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/sct_full')
    """)
    ddl = env.execute_sql("SHOW CREATE TABLE sct_full").first().ddl
    assert "WATERMARK FOR ts" in ddl and "PRIMARY KEY (k) NOT ENFORCED" in ddl
    env2 = TableEnvironment(spark)
    env2.execute_sql(ddl.replace("sct_full", "sct_full_rt"))
    clone = env2.tables["sct_full_rt"]
    orig = env.tables["sct_full"]
    assert clone.columns == orig.columns
    assert clone.watermark == orig.watermark
    assert clone.primary_key == orig.primary_key


def test_filesystem_catalog_persists_tables(spark, tmp_path):
    """A catalog WITH ('type'='filesystem','path'=...) persists every
    TableSpec as JSON (reference HiveCatalog durability): a FRESH
    TableEnvironment that re-declares and USEs the catalog sees the
    tables — metadata AND data — and DROP/ALTER keep the store in sync."""
    meta = str(tmp_path / "meta")
    data = str(tmp_path / "pdata")
    env1 = TableEnvironment(spark)
    env1.execute_sql(
        f"CREATE CATALOG pcat WITH ('type'='filesystem','path'='{meta}')"
    )
    env1.execute_sql("USE CATALOG pcat")
    env1.execute_sql(f"""
        CREATE TABLE persisted_t (k BIGINT, v STRING,
            PRIMARY KEY (k) NOT ENFORCED)
        WITH ('connector'='filesystem','format'='parquet','path'='{data}')
    """)
    env1.execute_sql(
        "INSERT INTO persisted_t SELECT id, 'x' FROM range(4)"
    )
    env1.execute_sql("ALTER TABLE persisted_t SET ('note'='kept')")

    env2 = TableEnvironment(spark)
    assert "persisted_t" not in env2.tables
    env2.execute_sql(
        f"CREATE CATALOG pcat WITH ('type'='filesystem','path'='{meta}')"
    )
    env2.execute_sql("USE CATALOG pcat")
    spec = env2.tables["persisted_t"]
    assert spec.primary_key == ["k"] and spec.options["note"] == "kept"
    assert spark.table("persisted_t").count() == 4
    env2.execute_sql("DROP TABLE persisted_t")
    env3 = TableEnvironment(spark)
    env3.execute_sql(
        f"CREATE CATALOG pcat WITH ('type'='filesystem','path'='{meta}')"
    )
    env3.execute_sql("USE CATALOG pcat")
    assert "persisted_t" not in env3.tables


def test_temporary_table_not_persisted(spark, tmp_path):
    """CREATE TEMPORARY TABLE stays session-scoped (reference
    SqlCreateTable#isTemporary) — it must not land in a persistent
    catalog's store."""
    import os

    meta = str(tmp_path / "meta_tmp")
    env = TableEnvironment(spark)
    env.execute_sql(
        f"CREATE CATALOG tcat WITH ('type'='filesystem','path'='{meta}')"
    )
    env.execute_sql("USE CATALOG tcat")
    env.execute_sql(f"""
        CREATE TEMPORARY TABLE temp_only (k BIGINT)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/temp_only')
    """)
    env.execute_sql(f"""
        CREATE TABLE perm_one (k BIGINT)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/perm_one')
    """)
    stored = {f for f in os.listdir(meta) if f.endswith(".json")}
    assert stored == {"perm_one.json"}
    assert "temp_only" in env.tables  # still usable in this session


def test_legacy_group_window_hop_and_rowtime(spark, sf_dir):
    """Legacy `GROUP BY HOP(ts, slide, size)` (reference
    StreamExecGroupWindowAggregate.java:113) maps onto Spark
    window(ts, size, slide); *_ROWTIME is end - 1ms (the TVF
    window_time convention)."""
    from pyspark.sql import functions as F

    from flink_spark.catalog import TableEnvironment
    from flink_spark.sources.tables import load_table

    env = TableEnvironment(spark)
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    ev.createOrReplaceTempView("lgw_hop_ev")
    got = env.execute_sql("""
        SELECT HOP_START(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR) AS ws,
               HOP_ROWTIME(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR) AS rt,
               COUNT(*) AS n
        FROM lgw_hop_ev
        GROUP BY HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR)
    """)
    want = (
        ev.groupBy(F.window("ts", "1 hours", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("ws"),
            (F.col("window.end") - F.expr("INTERVAL '0.001' SECOND"))
            .alias("rt"),
            "n",
        )
    )
    g = sorted((r.ws, r.rt, r.n) for r in got.collect())
    w = sorted((r.ws, r.rt, r.n) for r in want.collect())
    assert g == w and len(g) > 0


def test_legacy_rewrite_leaves_tvf_spelling_alone(spark, sf_dir):
    """A statement using the TVF spelling must not be touched by the
    legacy rewrite gate (TABLE-arg lookahead)."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    # legacy detector must NOT fire on the TVF form
    assert not env._LEGACY_GW_RE.search(
        "SELECT window_start, COUNT(*) FROM TABLE(TUMBLE(TABLE t, "
        "DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    )
    # and must fire on the legacy form
    assert env._LEGACY_GW_RE.search(
        "SELECT COUNT(*) FROM t GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)"
    )
    # a TUMBLE inside a string literal is data, not structure
    from flink_spark.sqltok import mask_literals

    assert not env._LEGACY_GW_RE.search(mask_literals(
        "SELECT 'GROUP BY TUMBLE(ts, INTERVAL ''1'' HOUR)' AS s FROM t"
    ))


def test_lookup_hint_option_validation(spark):
    """LOOKUP hint option schema (reference LookupJoinHintOptions):
    unknown keys, missing 'table', and unparseable values are rejected;
    a valid hint is consumed (and the strategies live in
    operators/joins.py lookup functions)."""
    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    spark.createDataFrame([(1, "a")], "id INT, v STRING") \
        .createOrReplaceTempView("lh_t")
    # valid hint → consumed, query runs
    out = env.execute_sql(
        "SELECT /*+ LOOKUP('table'='lh_t', 'async'='true', "
        "'output-mode'='allow_unordered', 'capacity'='100', "
        "'timeout'='300s', 'retry-predicate'='lookup_miss', "
        "'retry-strategy'='fixed_delay', 'fixed-delay'='10s', "
        "'max-attempts'='3') */ * FROM lh_t"
    )
    assert out.count() == 1
    with pytest.raises(ValueError, match="required option 'table'"):
        env.execute_sql(
            "SELECT /*+ LOOKUP('async'='true') */ * FROM lh_t"
        )
    with pytest.raises(ValueError, match="unsupported option"):
        env.execute_sql(
            "SELECT /*+ LOOKUP('table'='lh_t', 'retries'='3') */ * FROM lh_t"
        )
    with pytest.raises(ValueError, match="could not parse value"):
        env.execute_sql(
            "SELECT /*+ LOOKUP('table'='lh_t', 'async'='maybe') */ "
            "* FROM lh_t"
        )
    # hint text inside a string literal is data, not a hint
    lit = env.execute_sql("SELECT '/*+ LOOKUP(broken' AS s FROM lh_t")
    assert lit.count() == 1


def test_jar_statements(spark, tmp_path):
    """ADD JAR / SHOW JARS / REMOVE JAR (reference jar.md): session-scoped
    jar registry; ADD loads into the running session, REMOVE unregisters."""
    import zipfile

    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    jar = tmp_path / "dummy-udf.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    env.execute_sql(f"ADD JAR '{jar}'")
    jars = [r.jars for r in env.execute_sql("SHOW JARS").collect()]
    assert str(jar) in jars
    env.execute_sql(f"REMOVE JAR '{jar}'")
    assert env.execute_sql("SHOW JARS").count() == 0
    with pytest.raises(ValueError, match="was not added"):
        env.execute_sql(f"REMOVE JAR '{jar}'")
    with pytest.raises(ValueError, match="file not found"):
        env.execute_sql("ADD JAR '/no/such/path.jar'")


def test_call_procedure_compact_and_custom(spark, tmp_path):
    """CALL statements (reference call.md + the Procedure interface):
    built-in sys.compact rewrites a filesystem table into fewer files;
    custom procedures register and run with typed literal args."""
    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS proc_t")
    env.execute_sql(
        "CREATE TABLE proc_t (k BIGINT, v STRING) WITH ("
        f"'connector' = 'filesystem', 'path' = '{tmp_path}/proc_t', "
        "'format' = 'parquet')"
    )
    # write in several batches -> several files
    for i in range(4):
        env.execute_sql(
            f"INSERT INTO proc_t SELECT id + {i * 10}, CAST(id AS STRING) "
            "FROM range(10)"
        )
    before_rows = spark.table("proc_t").count()
    row = env.execute_sql("CALL sys.compact('proc_t', 1)").collect()[0]
    assert row.files_after < row.files_before
    assert row.files_after == 1
    assert spark.table("proc_t").count() == before_rows

    calls = []

    def my_proc(env_, a, b, flag=True):
        calls.append((a, b, flag))
        return [(a * 2, b.upper())], "doubled int, up string"

    env.register_procedure("my_catalog.my_proc", my_proc)
    out = env.execute_sql("CALL my_catalog.my_proc(21, 'hi', false)")
    assert [tuple(r) for r in out.collect()] == [(42, "HI")]
    assert calls == [(21, "hi", False)]
    with pytest.raises(ValueError, match="unknown procedure"):
        env.execute_sql("CALL nope.nothing()")
    env.execute_sql("DROP TABLE IF EXISTS proc_t")


def test_show_procedures_and_overlaps_literal_safety(spark):
    """SHOW PROCEDURES lists builtins + registered; OVERLAPS text inside
    a string literal is data, not a predicate."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    names = [r.procedure_name
             for r in env.execute_sql("SHOW PROCEDURES").collect()]
    assert "sys.compact" in names
    env.register_procedure("my.p", lambda e: ([(1,)], "x int"))
    names = [r.procedure_name
             for r in env.execute_sql("SHOW PROCEDURES").collect()]
    assert "my.p" in names
    r = env.execute_sql(
        "SELECT '(a, b) OVERLAPS (c, d)' AS s"
    ).collect()[0]
    assert r.s == "(a, b) OVERLAPS (c, d)"


def test_row_level_dml_edges(spark, tmp_path):
    """Row-level DML edge cases: DELETE without WHERE truncates with
    exact affected count; UPDATE of an unknown column rejects; non-
    filesystem connector rejects (SupportsRowLevelDelete gate)."""
    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS dml_e")
    env.execute_sql(
        "CREATE TABLE dml_e (k BIGINT, v STRING) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/dml_e', "
        "'format'='parquet')"
    )
    env.execute_sql(
        "INSERT INTO dml_e SELECT id, CAST(id AS STRING) FROM range(10)"
    )
    with pytest.raises(ValueError, match="unknown column"):
        env.execute_sql("UPDATE dml_e SET nope = 1")
    n = env.execute_sql("DELETE FROM dml_e").collect()[0].rows_affected
    assert n == 10 and spark.table("dml_e").count() == 0
    env.execute_sql("DROP TABLE IF EXISTS dml_e")

    env.execute_sql("DROP TABLE IF EXISTS dml_print")
    env.execute_sql(
        "CREATE TABLE dml_print (k BIGINT) WITH ('connector'='print')"
    )
    with pytest.raises(ValueError, match="does not support row-level"):
        env.execute_sql("DELETE FROM dml_print WHERE k = 1")
    env.execute_sql("DROP TABLE IF EXISTS dml_print")


def test_delete_null_predicate_keeps_null_rows(spark, tmp_path):
    """SQL semantics: DELETE removes only WHERE-is-TRUE rows. A row whose
    predicate evaluates NULL must survive, and rows_affected counts TRUE
    rows only (the r6 verdict repro: {(1,10),(2,NULL),(3,30)} DELETE
    WHERE v > 15 must leave {(1,10),(2,NULL)} and report 1)."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS dml_np")
    env.execute_sql(
        "CREATE TABLE dml_np (k BIGINT, v BIGINT) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/dml_np', "
        "'format'='parquet')"
    )
    spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k bigint, v bigint"
    ).createOrReplaceTempView("__np_src")
    env.execute_sql("INSERT INTO dml_np SELECT * FROM __np_src")
    n = env.execute_sql(
        "DELETE FROM dml_np WHERE v > 15"
    ).collect()[0].rows_affected
    assert n == 1, n
    left = {(r.k, r.v) for r in spark.table("dml_np").collect()}
    assert left == {(1, 10), (2, None)}, left
    env.execute_sql("DROP TABLE IF EXISTS dml_np")

    # same semantics on the partition-pruned path: predicate constrains a
    # partition column AND evaluates NULL on some rows inside it
    env.execute_sql("DROP TABLE IF EXISTS dml_npp")
    env.execute_sql(
        "CREATE TABLE dml_npp (k BIGINT, v BIGINT, p STRING) "
        "PARTITIONED BY (p) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/dml_npp', "
        "'format'='parquet')"
    )
    spark.createDataFrame(
        [(1, 10, "a"), (2, None, "a"), (3, 30, "a"), (4, 40, "b")],
        "k bigint, v bigint, p string",
    ).createOrReplaceTempView("__npp_src")
    env.execute_sql("INSERT INTO dml_npp SELECT * FROM __npp_src")
    n = env.execute_sql(
        "DELETE FROM dml_npp WHERE p = 'a' AND v > 15"
    ).collect()[0].rows_affected
    assert n == 1, n
    left = {(r.k, r.v, r.p) for r in spark.table("dml_npp").collect()}
    assert left == {(1, 10, "a"), (2, None, "a"), (4, 40, "b")}, left
    env.execute_sql("DROP TABLE IF EXISTS dml_npp")


def test_managed_bucketed_pk_dml(spark):
    """Row-level DML + upsert INSERT on a PRIMARY-KEY'd managed
    DISTRIBUTED table (reference SupportsRowLevelModificationScan + the
    upsert sink contract): INSERT merges by key, DELETE/UPDATE rewrite
    the bucketed store, TRUNCATE empties it — and the bucket layout
    survives every step."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS mbd_t")
    env.execute_sql(
        "CREATE TABLE mbd_t (k BIGINT, v BIGINT, "
        "PRIMARY KEY (k) NOT ENFORCED) "
        "DISTRIBUTED BY (k) INTO 4 BUCKETS "
        "WITH ('connector'='filesystem','format'='parquet')"
    )
    env.execute_sql("INSERT INTO mbd_t SELECT id, id*10 FROM range(10)")
    env.execute_sql("INSERT INTO mbd_t SELECT id, id*100 FROM range(5)")
    got = {(r.k, r.v) for r in spark.table("mbd_t").collect()}
    want = {(i, i * 100) for i in range(5)} | {(i, i * 10) for i in range(5, 10)}
    assert got == want, got
    n = env.execute_sql(
        "DELETE FROM mbd_t WHERE k >= 8"
    ).collect()[0].rows_affected
    assert n == 2
    n = env.execute_sql(
        "UPDATE mbd_t SET v = -1 WHERE k = 0"
    ).collect()[0].rows_affected
    assert n == 1
    got = {(r.k, r.v) for r in spark.table("mbd_t").collect()}
    assert (0, -1) in got and len(got) == 8, got
    buckets = (
        spark.sql("DESCRIBE EXTENDED mbd_t")
        .filter("col_name = 'Num Buckets'").collect()
    )
    assert buckets and buckets[0].data_type == "4"
    env.execute_sql("TRUNCATE TABLE mbd_t")
    assert spark.table("mbd_t").count() == 0
    env.execute_sql("DROP TABLE IF EXISTS mbd_t")


def test_partition_pruned_dml_boolean_partition_value(spark, tmp_path):
    """Boolean partition values: Spark writes `flag=true` while Python
    str(True) is 'True' — the pruned-rewrite path renderer must agree with
    Spark's layout, and a mismatch must abort rather than silently delete
    the untouched live partition directory."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS dml_bool")
    env.execute_sql(
        "CREATE TABLE dml_bool (k BIGINT, flag BOOLEAN) "
        "PARTITIONED BY (flag) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/dml_bool', "
        "'format'='parquet')"
    )
    spark.range(10).selectExpr(
        "id AS k", "id % 2 = 0 AS flag"
    ).createOrReplaceTempView("__bool_src")
    env.execute_sql("INSERT INTO dml_bool SELECT * FROM __bool_src")
    n = env.execute_sql(
        "DELETE FROM dml_bool WHERE flag = true AND k < 4"
    ).collect()[0].rows_affected
    assert n == 2, n  # k=0,2 deleted; k=4,6,8 stay; odd partition untouched
    left = sorted(r.k for r in spark.table("dml_bool").collect())
    assert left == [1, 3, 4, 5, 6, 7, 8, 9], left
    env.execute_sql("DROP TABLE IF EXISTS dml_bool")


def test_compile_and_execute_plan_sql_statements(spark, sf_dir, tmp_path):
    """SQL spellings COMPILE PLAN / EXECUTE PLAN / COMPILE AND EXECUTE
    PLAN (reference SqlCompilePlan, SqlExecutePlan,
    SqlCompileAndExecutePlan) — incl. an INSERT body replayed into an
    engine-managed sink."""
    from pyspark.sql import functions as F

    from flink_spark.catalog import TableEnvironment
    from flink_spark.sources.tables import load_table

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("cp_nation")
    p1 = str(tmp_path / "q.plan.json")
    env.execute_sql(
        f"COMPILE PLAN '{p1}' FOR SELECT n_regionkey, count(*) AS n "
        "FROM cp_nation GROUP BY n_regionkey"
    )
    out = env.execute_sql(f"EXECUTE PLAN '{p1}'")
    assert out.count() == 5
    # IF NOT EXISTS: second compile is a no-op (file untouched)
    import os

    mtime = os.path.getmtime(p1)
    env.execute_sql(
        f"COMPILE PLAN '{p1}' IF NOT EXISTS FOR SELECT 1 AS x"
    )
    assert os.path.getmtime(p1) == mtime
    # COMPILE AND EXECUTE with an INSERT body into an engine sink
    env.execute_sql("DROP TABLE IF EXISTS cp_sink")
    env.execute_sql(
        "CREATE TABLE cp_sink (rk BIGINT, n BIGINT) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/cp_sink', "
        "'format'='parquet')"
    )
    p2 = str(tmp_path / "ins.plan.json")
    env.execute_sql(
        f"COMPILE AND EXECUTE PLAN '{p2}' FOR "
        "INSERT INTO cp_sink SELECT n_regionkey, count(*) "
        "FROM cp_nation GROUP BY n_regionkey"
    )
    assert os.path.exists(p2)
    assert spark.table("cp_sink").count() == 5
    # replay the compiled INSERT again -> sink doubles
    env.execute_sql(f"EXECUTE PLAN '{p2}'")
    assert spark.table("cp_sink").count() == 10
    env.execute_sql("DROP TABLE IF EXISTS cp_sink")


@pytest.mark.parametrize("body", [
    "VALUES (2, 'y')",
    "(a, b) SELECT 3, 'z'",
    "WITH c AS (SELECT 4 AS a, 'w' AS b) SELECT a, b FROM c",
])
def test_compile_plan_does_not_execute_its_insert(spark, tmp_path, body):
    """COMPILE PLAN ... FOR INSERT compiles the INSERT's body (its schema
    is the plan contract) and writes nothing; EXECUTE PLAN replays the
    INSERT exactly once — for a Spark table and an engine table alike."""
    env = TableEnvironment(spark)
    spark.sql("DROP TABLE IF EXISTS cpx_spark")
    spark.sql("CREATE TABLE cpx_spark (a INT, b STRING) USING parquet")
    env.execute_sql("DROP TABLE IF EXISTS cpx_eng")
    env.execute_sql(
        "CREATE TABLE cpx_eng (a INT, b STRING) WITH ('connector'="
        f"'filesystem', 'path'='{tmp_path}/cpx_eng', 'format'='parquet')"
    )
    try:
        for t in ("cpx_spark", "cpx_eng"):
            plan = str(tmp_path / f"{t}.plan.json")
            env.execute_sql(f"COMPILE PLAN '{plan}' FOR INSERT INTO {t} {body}")
            if t == "cpx_spark":
                assert spark.table(t).count() == 0
            else:  # sink-only until its first write
                assert not spark.catalog.tableExists(t)
            env.execute_sql(f"EXECUTE PLAN '{plan}'")
            assert spark.table(t).count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS cpx_spark")
        env.execute_sql("DROP TABLE IF EXISTS cpx_eng")


def test_compile_plan_partition_insert_and_non_query(spark, tmp_path):
    """A PARTITION insert compiles against its body too, and a statement
    that is neither an INSERT nor a query is refused, not executed."""
    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS cpx_part")
    env.execute_sql(
        "CREATE TABLE cpx_part (a INT, p STRING) PARTITIONED BY (p) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/cpx_part', "
        "'format'='parquet')"
    )
    plan = str(tmp_path / "part.plan.json")
    compiled = env.execute_sql(
        f"COMPILE AND EXECUTE PLAN '{plan}' FOR "
        "INSERT INTO cpx_part PARTITION (p = 'x') SELECT 7"
    )
    assert compiled is None
    assert [tuple(r) for r in spark.table("cpx_part").collect()] == [(7, "x")]
    with pytest.raises(ValueError, match="COMPILE PLAN"):
        env.execute_sql(
            f"COMPILE PLAN '{tmp_path}/ddl.plan.json' FOR "
            "CREATE TABLE cpx_never (a INT) WITH ('connector'='blackhole')"
        )
    assert "cpx_never" not in env.tables
    env.execute_sql("DROP TABLE IF EXISTS cpx_part")


def test_show_like_patterns(spark, tmp_path):
    """SHOW <objects> [[NOT] (LIKE|ILIKE) 'pat'] (reference show.md):
    SQL-LIKE wildcard filtering over the base listing's name column."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    for t in ("likefoo_a", "likefoo_b", "likebar_c"):
        env.execute_sql(f"DROP TABLE IF EXISTS {t}")
        env.execute_sql(
            f"CREATE TABLE {t} (k INT) WITH ('connector'='filesystem', "
            f"'path'='{tmp_path}/{t}', 'format'='parquet')"
        )
        # filesystem tables are sink-only until first write; write one
        # row so the temp view exists for SHOW TABLES
        env.execute_sql(f"INSERT INTO {t} SELECT 1")

    def names(sql):
        df = env.execute_sql(sql)
        col = next((c for c in df.columns if c.lower().endswith("name")),
                   df.columns[0])
        return {getattr(r, col) for r in df.collect()}
    got = names("SHOW TABLES LIKE 'likefoo%'")
    assert got == {"likefoo_a", "likefoo_b"}
    got = names("SHOW TABLES NOT LIKE 'likefoo%'")
    assert "likebar_c" in got and "likefoo_a" not in got
    # ILIKE case-insensitivity with the _ single-char wildcard
    got = names("SHOW TABLES ILIKE 'LIKEFOO_A'")
    assert got == {"likefoo_a"}
    got = names("SHOW COLUMNS FROM likefoo_a LIKE 'k'")
    assert got == {"k"}
    for t in ("likefoo_a", "likefoo_b", "likebar_c"):
        env.execute_sql(f"DROP TABLE IF EXISTS {t}")


def test_show_tables_includes_sink_only_engine_tables(spark, tmp_path):
    """SHOW TABLES lists catalog tables even before their first write
    (reference SqlShowTables over catalog metadata, not storage)."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS sinkonly_t")
    env.execute_sql(
        "CREATE TABLE sinkonly_t (k INT) WITH ('connector'='filesystem', "
        f"'path'='{tmp_path}/sinkonly_t', 'format'='parquet')"
    )
    names = {r.tableName for r in env.execute_sql("SHOW TABLES").collect()}
    assert "sinkonly_t" in names
    # and through the LIKE shim
    names = {r.tableName
             for r in env.execute_sql("SHOW TABLES LIKE 'sinkonly%'")
             .collect()}
    assert names == {"sinkonly_t"}
    env.execute_sql("DROP TABLE IF EXISTS sinkonly_t")


def test_rewrites_preserve_partition_layout(spark, tmp_path):
    """sys.compact and row-level DML on a PARTITIONED filesystem table
    must preserve the hive directory layout (partition.keys)."""
    import os

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS part_rw")
    env.execute_sql(
        "CREATE TABLE part_rw (k BIGINT, grp STRING) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/part_rw', "
        "'format'='parquet', 'partition.keys'='grp')"
    )
    for i in range(3):
        env.execute_sql(
            f"INSERT INTO part_rw SELECT id + {i * 10}, "
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(10)"
        )
    def pdirs():
        return sorted(
            d for d in os.listdir(f"{tmp_path}/part_rw")
            if d.startswith("grp=")
        )
    assert pdirs() == ["grp=a", "grp=b"]
    env.execute_sql("CALL sys.compact('part_rw', 1)")
    assert pdirs() == ["grp=a", "grp=b"]
    assert spark.table("part_rw").count() == 30
    n = env.execute_sql(
        "DELETE FROM part_rw WHERE grp = 'b'"
    ).collect()[0].rows_affected
    assert n == 15 and pdirs() == ["grp=a"]
    assert spark.table("part_rw").count() == 15
    env.execute_sql(
        "UPDATE part_rw SET k = k + 100 WHERE k < 5"
    )
    assert pdirs() == ["grp=a"]
    assert spark.table("part_rw").filter("k >= 100").count() > 0
    env.execute_sql("DROP TABLE IF EXISTS part_rw")


def test_partition_pruned_dml_leaves_other_partitions_untouched(spark, tmp_path):
    """Partition-pruned copy-on-write (reference delete.md/update.md +
    SupportsDeletePushDown): DELETE/UPDATE whose WHERE clause reaches a
    subset of partitions must swap ONLY those directories — the other
    partitions' data files stay byte-for-byte identical (same inode), the
    at-scale contract that a date-targeted DELETE over 10k date partitions
    rewrites one directory, not the table."""
    import os

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS part_pruned")
    env.execute_sql(
        "CREATE TABLE part_pruned (k BIGINT, v STRING, grp STRING) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/part_pruned', "
        "'format'='parquet', 'partition.keys'='grp')"
    )
    env.execute_sql(
        "INSERT INTO part_pruned SELECT id, 'v' || id, "
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END "
        "FROM range(30)"
    )

    def files(part):
        d = f"{tmp_path}/part_pruned/grp={part}"
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d) if f.endswith(".parquet")
        }

    before_a, before_c = files("a"), files("c")
    n = env.execute_sql(
        "DELETE FROM part_pruned WHERE grp = 'b' AND k < 10"
    ).collect()[0].rows_affected
    assert n == 3  # k in {1, 4, 7}
    # grp=a and grp=c data files untouched (same names AND same inodes)
    assert files("a") == before_a and files("c") == before_c
    assert spark.table("part_pruned").count() == 27

    before_a, before_b = files("a"), files("b")
    env.execute_sql("UPDATE part_pruned SET v = 'X' WHERE grp = 'c'")
    assert files("a") == before_a and files("b") == before_b
    got = spark.table("part_pruned").filter("v = 'X'").count()
    assert got == 10

    # condition matching zero rows: no rewrite anywhere
    before_all = (files("a"), files("b"), files("c"))
    n = env.execute_sql(
        "DELETE FROM part_pruned WHERE grp = 'zzz'"
    ).collect()[0].rows_affected
    assert n == 0
    assert (files("a"), files("b"), files("c")) == before_all

    # assignment that writes the partition key moves rows across
    # directories -> falls back to the full rewrite, stays correct
    env.execute_sql("UPDATE part_pruned SET grp = 'a' WHERE grp = 'c'")
    dirs = sorted(
        d for d in os.listdir(f"{tmp_path}/part_pruned") if d.startswith("grp=")
    )
    assert dirs == ["grp=a", "grp=b"]
    assert spark.table("part_pruned").filter("grp = 'a'").count() == 20
    env.execute_sql("DROP TABLE IF EXISTS part_pruned")


def test_partition_pruned_dml_multilevel_and_nulls(spark, tmp_path):
    """Two-level partitioning and NULL partition values: the pruned
    rewrite maps NULL to Hive's __HIVE_DEFAULT_PARTITION__ directory and
    swaps nested key=value paths."""
    import os

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS part_ml")
    env.execute_sql(
        "CREATE TABLE part_ml (k BIGINT, d STRING, h STRING) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/part_ml', "
        "'format'='parquet', 'partition.keys'='d,h')"
    )
    env.execute_sql(
        "INSERT INTO part_ml SELECT id, "
        "CASE WHEN id % 2 = 0 THEN '2024-01-01' ELSE '2024-01-02' END, "
        "CASE WHEN id % 5 = 0 THEN CAST(NULL AS STRING) ELSE CAST(id % 3 AS STRING) END "
        "FROM range(40)"
    )
    root = f"{tmp_path}/part_ml"
    assert os.path.isdir(
        f"{root}/d=2024-01-01/h=__HIVE_DEFAULT_PARTITION__"
    )

    def inodes(rel):
        d = f"{root}/{rel}"
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d) if f.endswith(".parquet")
        }

    keep = inodes("d=2024-01-02/h=1")
    n = env.execute_sql(
        "DELETE FROM part_ml WHERE d = '2024-01-01' AND h IS NULL"
    ).collect()[0].rows_affected
    assert n == 4  # ids 0,10,20,30
    assert not os.path.isdir(f"{root}/d=2024-01-01/h=__HIVE_DEFAULT_PARTITION__")
    assert inodes("d=2024-01-02/h=1") == keep
    assert spark.table("part_ml").count() == 36
    env.execute_sql("DROP TABLE IF EXISTS part_ml")


def test_create_show_drop_view_statements(spark, sf_dir):
    """CREATE [OR REPLACE] [TEMPORARY] VIEW with column list + COMMENT,
    SHOW CREATE VIEW round-trip, DROP VIEW [IF EXISTS] (reference
    SqlCreateView / SqlShowCreateView / SqlDropView, show.md)."""
    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP VIEW IF EXISTS v_nation")
    env.execute_sql(
        f"CREATE TABLE IF NOT EXISTS vn_src (n_nationkey BIGINT, n_name STRING,"
        f" n_regionkey BIGINT, n_comment STRING) WITH ("
        f"'connector'='filesystem', 'path'='{sf_dir}/nation.parquet', "
        "'format'='parquet')"
    )
    env.execute_sql(
        "CREATE TEMPORARY VIEW v_nation (nk, nname) COMMENT 'small dims' AS "
        "SELECT n_nationkey, n_name FROM vn_src WHERE n_regionkey = 1"
    )
    got = spark.table("v_nation")
    assert got.columns == ["nk", "nname"] and got.count() == 5
    ddl = env.execute_sql("SHOW CREATE VIEW v_nation").collect()[0].ddl
    assert ddl.startswith("CREATE TEMPORARY VIEW v_nation (nk, nname)")
    assert "COMMENT 'small dims'" in ddl and "n_regionkey = 1" in ddl
    # duplicate without OR REPLACE/IF NOT EXISTS rejects
    with pytest.raises(Exception, match="already exists"):
        env.execute_sql(
            "CREATE VIEW v_nation AS SELECT * FROM vn_src"
        )
    # IF NOT EXISTS: no-op; OR REPLACE: swaps the definition
    env.execute_sql(
        "CREATE VIEW IF NOT EXISTS v_nation AS SELECT * FROM vn_src"
    )
    assert spark.table("v_nation").columns == ["nk", "nname"]
    env.execute_sql(
        "CREATE OR REPLACE VIEW v_nation AS "
        "SELECT n_nationkey FROM vn_src"
    )
    assert spark.table("v_nation").columns == ["n_nationkey"]
    env.execute_sql("DROP VIEW v_nation")
    with pytest.raises(Exception, match="does not exist"):
        env.execute_sql("SHOW CREATE VIEW v_nation")
    env.execute_sql("DROP VIEW IF EXISTS v_nation")  # absent is fine
    env.execute_sql("DROP TABLE IF EXISTS vn_src")


def test_alter_view_rename_and_as(spark, sf_dir):
    """ALTER VIEW RENAME TO / ALTER VIEW AS (reference SqlAlterViewRename
    / SqlAlterViewAs): rename preserves the recorded definition; AS swaps
    it (and clears column aliases)."""
    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    for v in ("av1", "av2"):
        env.execute_sql(f"DROP VIEW IF EXISTS {v}")
    env.execute_sql("DROP TABLE IF EXISTS av_src")
    env.execute_sql(
        "CREATE TABLE av_src (r_regionkey BIGINT, r_name STRING, r_comment "
        f"STRING) WITH ('connector'='filesystem', "
        f"'path'='{sf_dir}/region.parquet', 'format'='parquet')"
    )
    env.execute_sql(
        "CREATE VIEW av1 (rk) AS SELECT r_regionkey FROM av_src"
    )
    env.execute_sql("ALTER VIEW av1 RENAME TO av2")
    assert spark.table("av2").columns == ["rk"]
    with pytest.raises(Exception, match="does not exist"):
        env.execute_sql("ALTER VIEW av1 AS SELECT 1")
    env.execute_sql("ALTER VIEW av2 AS SELECT r_name FROM av_src")
    assert spark.table("av2").columns == ["r_name"]
    ddl = env.execute_sql("SHOW CREATE VIEW av2").collect()[0].ddl
    assert "r_name" in ddl and "(rk)" not in ddl
    env.execute_sql("DROP VIEW av2")
    env.execute_sql("DROP TABLE IF EXISTS av_src")


def test_database_properties_and_alter(spark):
    """CREATE DATABASE with COMMENT/WITH properties + ALTER DATABASE SET
    (reference SqlCreateDatabase / SqlAlterDatabase: properties live in
    the catalog's CatalogDatabase)."""
    import pytest

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP DATABASE IF EXISTS dbp1")
    env.execute_sql(
        "CREATE DATABASE dbp1 COMMENT 'scratch' WITH ('owner' = 'etl')"
    )
    key = ("default_catalog", "dbp1")
    assert env._db_props[key] == {"comment": "scratch", "owner": "etl"}
    env.execute_sql("ALTER DATABASE dbp1 SET ('owner' = 'ops', 'tier' = '2')")
    assert env._db_props[key] == {
        "comment": "scratch", "owner": "ops", "tier": "2"
    }
    with pytest.raises(Exception, match="does not exist"):
        env.execute_sql("ALTER DATABASE nope_db SET ('a' = 'b')")
    env.execute_sql("DROP DATABASE IF EXISTS dbp1")
    assert key not in env._db_props


def test_alter_table_rename_and_modify_column(spark, tmp_path):
    """ALTER TABLE RENAME col TO new / MODIFY (col TYPE) (reference
    SqlAlterTableRenameColumn.java, SqlAlterTableModify.java): rename
    rewrites storage (parquet resolves by name), MODIFY recasts existing
    data to the new declared type."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS atrc_t")
    env.execute_sql(
        "CREATE TABLE atrc_t (k BIGINT, v INT) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/atrc_t', "
        "'format'='parquet')"
    )
    env.execute_sql(
        "INSERT INTO atrc_t SELECT id, CAST(id * 2 AS INT) FROM range(5)"
    )
    env.execute_sql("ALTER TABLE atrc_t RENAME v TO doubled")
    df = spark.table("atrc_t")
    assert df.columns == ["k", "doubled"]
    assert {(r.k, r.doubled) for r in df.collect()} == {
        (i, 2 * i) for i in range(5)
    }
    with pytest.raises(ValueError, match="does not exist"):
        env.execute_sql("ALTER TABLE atrc_t RENAME nope TO x")
    with pytest.raises(ValueError, match="already exists"):
        env.execute_sql("ALTER TABLE atrc_t RENAME k TO doubled")
    env.execute_sql("ALTER TABLE atrc_t MODIFY (doubled DECIMAL(10,2))")
    df = spark.table("atrc_t")
    assert dict(df.dtypes)["doubled"] == "decimal(10,2)"
    assert df.count() == 5
    with pytest.raises(ValueError, match="does not exist"):
        env.execute_sql("ALTER TABLE atrc_t MODIFY (ghost BIGINT)")
    env.execute_sql("DROP TABLE IF EXISTS atrc_t")


def test_alter_catalog_comment_set_reset(spark):
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP CATALOG IF EXISTS ac_cat")
    env.execute_sql(
        "CREATE CATALOG ac_cat WITH ('type'='generic_in_memory')"
    )
    env.execute_sql("ALTER CATALOG ac_cat COMMENT 'prod metadata'")
    env.execute_sql("ALTER CATALOG ac_cat SET ('owner'='team-a','tier'='1')")
    env.execute_sql("ALTER CATALOG ac_cat RESET ('tier')")
    assert env.catalogs["ac_cat"] == {
        "type": "generic_in_memory", "owner": "team-a"
    }
    ddl = env.execute_sql("SHOW CREATE CATALOG ac_cat").collect()[0].ddl
    assert "COMMENT 'prod metadata'" in ddl and "'owner' = 'team-a'" in ddl
    import pytest as _pytest
    with _pytest.raises(ValueError, match="cannot remove 'type'"):
        env.execute_sql("ALTER CATALOG ac_cat RESET ('type')")
    with _pytest.raises(ValueError, match="does not exist"):
        env.execute_sql("ALTER CATALOG ghost_cat SET ('a'='b')")
    env.execute_sql("DROP CATALOG ac_cat")


def test_alter_view_set_properties(spark):
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    spark.range(3).createOrReplaceTempView("avp_src")
    env.execute_sql("DROP VIEW IF EXISTS avp_v")
    env.execute_sql("CREATE VIEW avp_v AS SELECT id FROM avp_src")
    env.execute_sql("ALTER VIEW avp_v SET ('note'='rollup','ttl'='1d')")
    assert env._view_defs["avp_v"]["properties"] == {
        "note": "rollup", "ttl": "1d"
    }
    env.execute_sql("DROP VIEW avp_v")


def test_alter_model_rename_reset_and_create_as(spark):
    """ALTER MODEL RENAME TO / RESET + CREATE MODEL AS SELECT (reference
    SqlAlterModelRename/Reset.java, SqlCreateModelAs.java)."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP MODEL IF EXISTS amr_m")
    env.execute_sql(
        "CREATE MODEL amr_m WITH ('provider'='fixed-point-linear', "
        "'note'='x')"
    )
    env.execute_sql("ALTER MODEL amr_m RESET ('note')")
    assert "note" not in env.model_manager.models["amr_m"].options
    with pytest.raises(ValueError, match="cannot remove 'provider'"):
        env.execute_sql("ALTER MODEL amr_m RESET ('provider')")
    env.execute_sql("ALTER MODEL amr_m RENAME TO amr_m2")
    assert "amr_m2" in env.model_manager.models
    assert "amr_m" not in env.model_manager.models
    env.execute_sql("ALTER MODEL IF EXISTS ghost RENAME TO ghost2")  # no-op
    env.execute_sql("DROP MODEL amr_m2")

    # CREATE MODEL AS SELECT: input schema derives from the query
    spark.range(4).selectExpr(
        "CAST(id AS DOUBLE) AS f1", "CAST(id * 2 AS DOUBLE) AS f2"
    ).createOrReplaceTempView("cmas_src")
    env.execute_sql("DROP MODEL IF EXISTS cmas_m")
    env.execute_sql(
        "CREATE MODEL cmas_m WITH ('provider'='fixed-point-linear') "
        "AS SELECT f1, f2 FROM cmas_src"
    )
    spec = env.model_manager.models["cmas_m"]
    assert spec.input_schema == "f1 DOUBLE, f2 DOUBLE"
    assert spec.options["training-query"] == "SELECT f1, f2 FROM cmas_src"
    with pytest.raises(ValueError, match="explicit input columns"):
        env.execute_sql(
            "CREATE MODEL cmas_bad INPUT (x DOUBLE) WITH "
            "('provider'='fixed-point-linear') AS SELECT f1 FROM cmas_src"
        )
    env.execute_sql("DROP MODEL cmas_m")


def test_alter_table_add_column_position(spark, tmp_path):
    """ALTER TABLE ADD with column position (reference
    ddl/position/SqlColumnPosSpec.java): FIRST and AFTER col place the
    new column in the declared schema; parquet name-resolution keeps old
    files readable (new columns null-fill)."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS addpos_t")
    env.execute_sql(
        "CREATE TABLE addpos_t (a BIGINT, b BIGINT) WITH ("
        f"'connector'='filesystem', 'path'='{tmp_path}/addpos_t', "
        "'format'='parquet')"
    )
    env.execute_sql("INSERT INTO addpos_t SELECT id, id * 2 FROM range(3)")
    env.execute_sql("ALTER TABLE addpos_t ADD (z STRING FIRST)")
    env.execute_sql("ALTER TABLE addpos_t ADD (mid BIGINT AFTER a)")
    df = spark.table("addpos_t")
    assert df.columns == ["z", "a", "mid", "b"]
    rows = {(r.z, r.a, r.mid, r.b) for r in df.collect()}
    assert rows == {(None, i, None, 2 * i) for i in range(3)}
    with pytest.raises(ValueError, match="does not exist"):
        env.execute_sql("ALTER TABLE addpos_t ADD (q BIGINT AFTER ghost)")
    env.execute_sql("DROP TABLE IF EXISTS addpos_t")


def test_create_model_as_parameterized_types(spark):
    """CREATE MODEL AS SELECT with a parameterized column type
    (DECIMAL(p,s)) and a remote provider: schema derivation must not
    trip on nested parens, and the recorded training-query must not leak
    into provider-option validation."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    spark.range(3).selectExpr(
        "CAST(id AS DECIMAL(10,2)) AS amt", "CAST(id AS DOUBLE) AS f"
    ).createOrReplaceTempView("cmas_dec_src")
    env.execute_sql("DROP MODEL IF EXISTS cmas_dec")
    env.execute_sql(
        "CREATE MODEL cmas_dec WITH ('provider'='openai', "
        "'endpoint'='https://h/v1/embeddings', 'api-key'='k', "
        "'model'='m') AS SELECT amt, f FROM cmas_dec_src"
    )
    spec = env.model_manager.models["cmas_dec"]
    assert spec.input_schema == "amt DECIMAL(10,2), f DOUBLE"
    assert spec.options["training-query"] == "SELECT amt, f FROM cmas_dec_src"
    env.execute_sql("DROP MODEL cmas_dec")


def test_alter_table_distribution_modify_drop(spark):
    """ALTER TABLE MODIFY DISTRIBUTION / DROP DISTRIBUTION (reference
    SqlAlterTableDistribution.java, SqlAlterTableDropDistribution.java):
    re-cluster a managed bucketed table under a new key/bucket layout
    (the one-time shuffle that buys later joins their exchange-free
    plan); DROP demotes to a plain managed table that still reads,
    inserts, and DMLs."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS atd_t")
    env.execute_sql(
        "CREATE TABLE atd_t (k BIGINT, g BIGINT, v BIGINT) "
        "DISTRIBUTED BY (k) INTO 4 BUCKETS "
        "WITH ('connector'='filesystem','format'='parquet')"
    )
    env.execute_sql(
        "INSERT INTO atd_t SELECT id, id % 3, id * 10 FROM range(12)"
    )
    env.execute_sql(
        "ALTER TABLE atd_t MODIFY DISTRIBUTION BY HASH (g) INTO 2 BUCKETS"
    )
    desc = {r.col_name: r.data_type for r in
            spark.sql("DESCRIBE EXTENDED atd_t").collect()}
    assert desc.get("Num Buckets") == "2"
    assert "g" in desc.get("Bucket Columns", "")
    assert spark.table("atd_t").count() == 12
    with pytest.raises(ValueError, match="unknown columns"):
        env.execute_sql(
            "ALTER TABLE atd_t MODIFY DISTRIBUTION BY (ghost) INTO 2 BUCKETS"
        )
    env.execute_sql("ALTER TABLE atd_t DROP DISTRIBUTION")
    desc = {r.col_name: r.data_type for r in
            spark.sql("DESCRIBE EXTENDED atd_t").collect()}
    assert "Num Buckets" not in desc
    # still fully functional as a managed table
    env.execute_sql("INSERT INTO atd_t SELECT 100, 0, 0")
    assert spark.table("atd_t").count() == 13
    n = env.execute_sql(
        "DELETE FROM atd_t WHERE k >= 100"
    ).collect()[0].rows_affected
    assert n == 1 and spark.table("atd_t").count() == 12
    env.execute_sql("DROP TABLE IF EXISTS atd_t")
    # non-managed tables reject the statement
    import tempfile
    path = tempfile.mkdtemp(prefix="atd_plain_")
    env.execute_sql(
        "CREATE TABLE atd_plain (k BIGINT) WITH ("
        f"'connector'='filesystem','path'='{path}','format'='parquet')"
    )
    with pytest.raises(ValueError, match="managed DISTRIBUTED"):
        env.execute_sql(
            "ALTER TABLE atd_plain MODIFY DISTRIBUTION BY (k) INTO 2 BUCKETS"
        )
    env.execute_sql("DROP TABLE IF EXISTS atd_plain")


def test_show_views_and_functions_surface(spark):
    """SHOW VIEWS / SHOW [USER] FUNCTIONS [[NOT] LIKE] (reference
    show.md SqlShowViews/SqlShowFunctions): Spark-native listings flow
    through the uniform LIKE-filter layer; user functions registered via
    CREATE FUNCTION appear under SHOW USER FUNCTIONS."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("CREATE VIEW show_probe_v AS SELECT 1 AS x")
    try:
        views = {r[1] for r in env.execute_sql("SHOW VIEWS").collect()}
        assert "show_probe_v" in views
        assert env.execute_sql("SHOW VIEWS LIKE 'show_probe%'").count() == 1
        assert env.execute_sql(
            "SHOW VIEWS NOT LIKE 'show_probe%'").filter(
            "viewName = 'show_probe_v'").count() == 0
        assert env.execute_sql("SHOW FUNCTIONS").count() > 300
        env.execute_sql(
            "CREATE FUNCTION show_probe_fn AS "
            "'flink_spark.functions.library.upper_trim'")
        ufns = {r[0] for r in
                env.execute_sql("SHOW USER FUNCTIONS").collect()}
        assert "show_probe_fn" in ufns
        assert env.execute_sql(
            "SHOW USER FUNCTIONS LIKE 'show_probe%'").count() == 1
    finally:
        env.execute_sql("DROP VIEW show_probe_v")
        try:
            env.execute_sql("DROP FUNCTION show_probe_fn")
        except Exception:
            pass


class TestPrecisionCasts:
    """CAST to CHAR(n)/VARCHAR(n)/TIMESTAMP[_LTZ](n) — the reference's
    CharVarCharTrimPadCastRule (pad AND trim for CHAR, trim-only for
    VARCHAR) and TimestampToTimestampCastRule (precision reduction
    TRUNCATES fractional seconds)."""

    def _one(self, spark, sql):
        from flink_spark.catalog import TableEnvironment

        return TableEnvironment(spark).execute_sql(
            f"SELECT {sql} AS r").collect()[0].r

    def test_char_pads_and_trims(self, spark):
        assert self._one(spark, "CAST('ab' AS CHAR(5))") == "ab   "
        assert self._one(spark, "CAST('abcdefgh' AS CHAR(5))") == "abcde"
        assert self._one(spark, "CAST(42 AS CHAR(4))") == "42  "
        assert self._one(spark, "CAST(NULL AS CHAR(4))") is None

    def test_varchar_trims_only(self, spark):
        assert self._one(spark, "CAST('abcdefgh' AS VARCHAR(5))") == "abcde"
        assert self._one(spark, "CAST('ab' AS VARCHAR(5))") == "ab"

    def test_nested_char_casts(self, spark):
        # outer rewrites first, then the inner on the next pass
        assert self._one(
            spark, "CAST(CAST('ab' AS CHAR(5)) AS VARCHAR(3))") == "ab "
        # CHAR target with a parenthesized expression inside
        assert self._one(
            spark, "CAST(UPPER(CONCAT('a', 'b')) AS CHAR(3))") == "AB "

    def test_timestamp_precision_truncates(self, spark):
        import datetime

        lit = "CAST('2024-01-01 10:00:00.987654' AS TIMESTAMP(6))"
        assert self._one(spark, f"CAST({lit} AS TIMESTAMP(3))") == \
            datetime.datetime(2024, 1, 1, 10, 0, 0, 987000)
        assert self._one(spark, f"CAST({lit} AS TIMESTAMP(0))") == \
            datetime.datetime(2024, 1, 1, 10, 0, 0)
        # nanosecond literal degrades to Spark's microsecond domain
        assert self._one(
            spark, "CAST('2024-01-01 00:00:00.123456789' AS TIMESTAMP(9))"
        ) == datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)

    def test_timestamp_pre_epoch_truncation(self, spark):
        import datetime

        # PMOD (floor-mod) keeps pre-epoch values truncating the
        # fractional digits, matching millis-zeroing semantics
        r = self._one(
            spark,
            "CAST(CAST('1961-03-05 10:00:00.123456' AS TIMESTAMP(6)) "
            "AS TIMESTAMP(3))",
        )
        assert r == datetime.datetime(1961, 3, 5, 10, 0, 0, 123000)

    def test_ddl_column_types_not_rewritten(self, spark, tmp_path):
        # CHAR(5)/TIMESTAMP(3) in CREATE TABLE column lists must pass
        # through the DDL type mapper untouched (no CAST → no rewrite)
        from flink_spark.catalog import TableEnvironment

        env = TableEnvironment(spark)
        env.execute_sql(f"""
            CREATE TABLE prec_ddl_probe (c CHAR(5), t TIMESTAMP(3))
            WITH ('connector'='filesystem',
                  'path'='{tmp_path}/prec_ddl_probe',
                  'format'='parquet')
        """)
        env.execute_sql(
            "INSERT INTO prec_ddl_probe VALUES "
            "('ab', CAST('2024-01-01 00:00:00.123456' AS TIMESTAMP(3)))"
        )
        row = env.execute_sql("SELECT * FROM prec_ddl_probe").collect()[0]
        assert row.t.microsecond == 123000
        env.execute_sql("DROP TABLE prec_ddl_probe")

    def test_char_literal_inside_string_untouched(self, spark):
        assert self._one(
            spark, "'CAST(x AS CHAR(5))'") == "CAST(x AS CHAR(5))"

    def test_ntz_truncation_timezone_independent(self, spark):
        # ADVICE r8: the NTZ fraction must not be derived through the
        # session timezone — truncation is a wall-clock operation. Same
        # result under offsets with sub-hour components and for
        # LMT-era (pre-standardization) datetimes.
        import datetime

        expr = ("CAST(CAST('1850-06-01 12:00:00.987654' AS TIMESTAMP(6)) "
                "AS TIMESTAMP(3))")
        want = datetime.datetime(1850, 6, 1, 12, 0, 0, 987000)
        prev = spark.conf.get("spark.sql.session.timeZone")
        try:
            for tz in ("UTC", "Asia/Kathmandu", "Europe/Amsterdam",
                       "Pacific/Chatham"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                assert self._one(spark, expr) == want, tz
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)


class TestRandIntegerArgs:
    def test_parenthesized_args(self, spark):
        # ADVICE r7: RAND_INTEGER(1, ABS(n)) fell through the old
        # paren-free regex into a wrong-arity error
        from flink_spark.catalog import TableEnvironment

        env = TableEnvironment(spark)
        r = env.execute_sql(
            "SELECT RAND_INTEGER(CAST(1 AS INT), ABS(-10)) AS r"
        ).collect()[0].r
        assert 0 <= r < 10
        # seeded: deterministic across runs
        r2 = env.execute_sql(
            "SELECT RAND_INTEGER(CAST(1 AS INT), ABS(-10)) AS r"
        ).collect()[0].r
        assert r == r2

    def test_one_arg_form_untouched(self, spark):
        from flink_spark.catalog import TableEnvironment

        r = TableEnvironment(spark).execute_sql(
            "SELECT RAND_INTEGER(10) AS r").collect()[0].r
        assert 0 <= r < 10


def test_group_id_nested_in_derived_table(spark):
    """ADVICE r7: duplicate grouping sets inside a derived table must
    decompose WITHIN that block — the old code matched the first
    'GROUP BY GROUPING SETS' anywhere and duplicated the whole OUTER
    query under UNION ALL, doubling outer aggregates."""
    env = TableEnvironment(spark)
    spark.range(6).selectExpr("id % 2 AS a", "id AS v").createOrReplaceTempView(
        "gidn_t"
    )
    # inner block: dup sets with GROUP_ID; outer: plain aggregate.
    rows = env.execute_sql(
        "SELECT g, SUM(c) AS total FROM ("
        "  SELECT a, GROUP_ID() AS g, COUNT(*) AS c FROM gidn_t"
        "  GROUP BY GROUPING SETS ((a), (), (a), ())"
        ") d GROUP BY g ORDER BY g"
    ).collect()
    # per round: (a=0:3)+(a=1:3)+(():6) = 12, for g=0 and g=1
    assert [(r.g, r.total) for r in rows] == [(0, 12), (1, 12)]
    # outer GROUP_ID over a plain GROUP BY is 0 even with a nested
    # grouping-sets derived table
    rows = env.execute_sql(
        "SELECT g, GROUP_ID() AS og, SUM(c) AS total FROM ("
        "  SELECT a, GROUP_ID() AS g, COUNT(*) AS c FROM gidn_t"
        "  GROUP BY GROUPING SETS ((a), (a))"
        ") d GROUP BY g ORDER BY g"
    ).collect()
    assert [(r.g, r.og, r.total) for r in rows] == [(0, 0, 6), (1, 0, 6)]


def test_group_id_insert_select(spark, tmp_path):
    """ADVICE r7: INSERT INTO ... SELECT with GROUP_ID decomposition —
    the INSERT head must stay outside the UNION ALL rounds and the
    select-list NULL fix must still anchor on the SELECT."""
    env = TableEnvironment(spark)
    spark.range(6).selectExpr("id % 2 AS a", "id % 3 AS b").createOrReplaceTempView(
        "gidi_t"
    )
    env.execute_sql(f"""
        CREATE TABLE gidi_sink (a BIGINT, b BIGINT, g BIGINT, c BIGINT)
        WITH ('connector'='filesystem', 'path'='{tmp_path}/gidi_sink',
              'format'='parquet')
    """)
    try:
        env.execute_sql(
            "INSERT INTO gidi_sink"
            " SELECT a, b, GROUP_ID() AS g, COUNT(*) AS c FROM gidi_t"
            " GROUP BY GROUPING SETS ((a), (a), (b))"
        )
        rows = env.execute_sql("SELECT * FROM gidi_sink").collect()
        # rounds: j=0 has sets {(a),(b)}; j=1 has {(a)} — 2+3 + 2 rows
        assert sorted(((r.a, r.b, r.g, r.c) for r in rows), key=str) == sorted(
            [(0, None, 0, 3), (1, None, 0, 3),
             (None, 0, 0, 2), (None, 1, 0, 2), (None, 2, 0, 2),
             (0, None, 1, 3), (1, None, 1, 3)], key=str
        )
    finally:
        env.execute_sql("DROP TABLE gidi_sink")


def test_group_id_insert_with_cte(spark, tmp_path):
    """ADVICE r8: INSERT INTO ... WITH cte AS (...) SELECT with a
    duplicate-sets GROUP_ID — the INSERT head must stay outside the
    decomposition when the query part starts with WITH, not just
    SELECT (the WITH prologue then wraps the UNION ALL rounds once)."""
    env = TableEnvironment(spark)
    spark.range(6).selectExpr("id % 2 AS a", "id % 3 AS b").createOrReplaceTempView(
        "gidw_t"
    )
    env.execute_sql(f"""
        CREATE TABLE gidw_sink (a BIGINT, b BIGINT, g BIGINT, c BIGINT)
        WITH ('connector'='filesystem', 'path'='{tmp_path}/gidw_sink',
              'format'='parquet')
    """)
    try:
        env.execute_sql(
            "INSERT INTO gidw_sink"
            " WITH src AS (SELECT a, b FROM gidw_t)"
            " SELECT a, b, GROUP_ID() AS g, COUNT(*) AS c FROM src"
            " GROUP BY GROUPING SETS ((a), (a), (b))"
        )
        rows = env.execute_sql("SELECT * FROM gidw_sink").collect()
        assert sorted(((r.a, r.b, r.g, r.c) for r in rows), key=str) == sorted(
            [(0, None, 0, 3), (1, None, 0, 3),
             (None, 0, 0, 2), (None, 1, 0, 2), (None, 2, 0, 2),
             (0, None, 1, 3), (1, None, 1, 3)], key=str
        )
    finally:
        env.execute_sql("DROP TABLE gidw_sink")


def test_watermark_interval_unit_precision(spark, tmp_path):
    """ADVICE r8: INTERVAL '5' SECOND(3) (Calcite unit precision) in a
    WATERMARK clause must parse without leaving a '(3)' residue in the
    column list."""
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE wmp (ts TIMESTAMP(3), v BIGINT,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND(3))
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/wmp')
    """)
    spec = env.tables["wmp"]
    assert spec.watermark == ("ts", "5 seconds")
    assert [c[0] for c in spec.columns] == ["ts", "v"]


def test_watermark_source_watermark_ddl(spark, tmp_path):
    """WATERMARK FOR ts AS SOURCE_WATERMARK() (reference SqlWatermark /
    SupportsSourceWatermark.java): parses to a 0-delay event-time
    watermark, DESCRIBE shows SOURCE_WATERMARK(), and SHOW CREATE TABLE
    round-trips the spelling verbatim."""
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE swt (ts TIMESTAMP(3), v BIGINT,
            WATERMARK FOR ts AS SOURCE_WATERMARK())
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/swt')
    """)
    spec = env.tables["swt"]
    assert spec.watermark == ("ts", "0 seconds")
    assert spec.watermark_kind == "source"
    desc = {r[0]: r for r in env.execute_sql("DESCRIBE swt").collect()}
    assert desc["ts"][-1] == "SOURCE_WATERMARK()"
    ddl = env.execute_sql("SHOW CREATE TABLE swt").first().ddl
    assert "WATERMARK FOR ts AS SOURCE_WATERMARK()" in ddl
    env2 = TableEnvironment(spark)
    env2.execute_sql(ddl.replace("swt", "swt_rt"))
    assert env2.tables["swt_rt"].watermark_kind == "source"
    assert env2.tables["swt_rt"].watermark == ("ts", "0 seconds")


def test_watermark_ascending_ddl(spark, tmp_path):
    """WATERMARK FOR ts AS ts — the strictly-ascending strategy — maps to
    a 0-delay watermark; a watermark expression over a DIFFERENT column
    is rejected with a targeted error."""
    import pytest

    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE awt (ts TIMESTAMP(3), v BIGINT,
            WATERMARK FOR ts AS ts)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/awt')
    """)
    assert env.tables["awt"].watermark == ("ts", "0 seconds")
    assert env.tables["awt"].watermark_kind == "ascending"
    ddl = env.execute_sql("SHOW CREATE TABLE awt").first().ddl
    assert "WATERMARK FOR ts AS ts" in ddl and "INTERVAL" not in ddl
    with pytest.raises(ValueError, match="SOURCE_WATERMARK"):
        env.execute_sql(f"""
            CREATE TABLE bad_wt (ts TIMESTAMP(3), other TIMESTAMP(3),
                WATERMARK FOR ts AS other)
            WITH ('connector'='filesystem','format'='parquet',
                  'path'='{tmp_path}/bad_wt')
        """)


def test_state_ttl_hint_validated_and_stripped(spark):
    """/*+ STATE_TTL('t'='1d') */ (reference StateTtlHint.java): the hint
    validates its KV duration options and is stripped for batch execution
    (the reference also ignores idle-state retention in batch mode); a
    malformed duration raises instead of being silently dropped."""
    import pytest

    env = TableEnvironment(spark)
    spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING") \
        .createOrReplaceTempView("ttl_t")
    rows = env.execute_sql(
        "SELECT /*+ STATE_TTL('ttl_t'='1d') */ k, v FROM ttl_t ORDER BY k"
    ).collect()
    assert [(r.k, r.v) for r in rows] == [(1, "a"), (2, "b")]
    # incl. 'm' for minutes (ADVICE r8: reference TimeUtils.java:226
    # MINUTES carries singular("m"))
    for dur in ("1 h", "36000ms", "2 minutes", "90s", "30 m", "5m"):
        assert env.execute_sql(
            f"SELECT /*+ STATE_TTL('ttl_t'='{dur}') */ count(*) AS c "
            "FROM ttl_t"
        ).first().c == 2
    with pytest.raises(ValueError, match="STATE_TTL"):
        env.execute_sql(
            "SELECT /*+ STATE_TTL('ttl_t'='fortnight') */ k FROM ttl_t"
        )
    with pytest.raises(ValueError, match="STATE_TTL"):
        env.execute_sql("SELECT /*+ STATE_TTL() */ k FROM ttl_t")


def test_proctime_function_registered(spark):
    """PROCTIME() (reference sql_functions.yml): resolves as a SQL
    function returning the statement-clock timestamp — equal to
    CURRENT_ROW_TIMESTAMP() within one statement (both freeze per query,
    the batch materialization of processing time)."""
    from flink_spark.session import prepare_session

    prepare_session(spark)
    r = spark.sql(
        "SELECT proctime() AS pt, current_row_timestamp() AS crt"
    ).first()
    assert r.pt is not None and r.pt == r.crt


def test_state_ttl_hint_keeps_sibling_hints(spark):
    """A STATE_TTL sharing a hint block with a join hint must be excised
    alone — the sibling BROADCAST survives and still pins the strategy."""
    env = TableEnvironment(spark)
    spark.createDataFrame([(i, i % 3) for i in range(100)], "k INT, g INT") \
        .createOrReplaceTempView("ttl_big")
    spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "g INT, name STRING") \
        .createOrReplaceTempView("ttl_dim")
    df = env.execute_sql(
        "SELECT /*+ STATE_TTL('ttl_big'='1h'), BROADCAST(d) */ "
        "b.k, d.name FROM ttl_big b JOIN ttl_dim d ON b.g = d.g"
    )
    assert df.count() == 100
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # middle-position excision keeps both neighbours
    df2 = env.execute_sql(
        "SELECT /*+ BROADCAST(d), STATE_TTL('ttl_big'='2 min'), "
        "BROADCAST(d) */ b.k FROM ttl_big b JOIN ttl_dim d ON b.g = d.g"
    )
    assert df2.count() == 100


def test_watermark_expression_form_rejected_loudly(spark, tmp_path):
    """A watermark expression no strategy regex understands must raise a
    targeted error, not fall through to column parsing as a phantom
    column with the watermark silently dropped."""
    import pytest

    env = TableEnvironment(spark)
    for expr in ("ts + INTERVAL '2' SECOND", "CAST(ts AS TIMESTAMP(3))"):
        with pytest.raises(ValueError, match="WATERMARK FOR"):
            env.execute_sql(f"""
                CREATE TABLE bad_wm_expr (k BIGINT, ts TIMESTAMP(3),
                    WATERMARK FOR ts AS {expr})
                WITH ('connector'='filesystem','format'='parquet',
                      'path'='{tmp_path}/bad_wm_expr')
            """)
        assert "bad_wm_expr" not in env.tables


def test_watermark_text_inside_comment_literal_ignored(spark, tmp_path):
    """Watermark-shaped text inside a column COMMENT is data: the real
    clause drives the spec and the comment column parses intact (the
    strategy regexes run on the literal mask)."""
    env = TableEnvironment(spark)
    env.execute_sql(f"""
        CREATE TABLE wm_cmt (k BIGINT,
            note STRING COMMENT 'WATERMARK FOR x AS SOURCE_WATERMARK(), ok',
            ts TIMESTAMP(3),
            WATERMARK FOR ts AS ts - INTERVAL '7' SECOND)
        WITH ('connector'='filesystem','format'='parquet',
              'path'='{tmp_path}/wm_cmt')
    """)
    spec = env.tables["wm_cmt"]
    assert spec.watermark == ("ts", "7 seconds")
    assert spec.watermark_kind == "bounded"
    assert [c for c, _ in spec.columns] == ["k", "note", "ts"]


def test_lookup_hint_keeps_sibling_hints(spark):
    """A LOOKUP hint sharing a block with a join hint is excised alone —
    the sibling BROADCAST survives and pins the strategy — and a sibling
    hint AFTER the LOOKUP no longer has its options misread as LOOKUP's."""
    env = TableEnvironment(spark)
    spark.createDataFrame([(i, i % 3) for i in range(50)], "k INT, g INT") \
        .createOrReplaceTempView("lk_big")
    spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "g INT, name STRING") \
        .createOrReplaceTempView("lk_dim")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = env.execute_sql(
            "SELECT /*+ LOOKUP('table'='lk_dim','async'='true'), "
            "BROADCAST(d) */ b.k, d.name "
            "FROM lk_big b JOIN lk_dim d ON b.g = d.g"
        )
        assert df.count() == 50
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # STATE_TTL after LOOKUP: neither hint's options leak into the
        # other's validation
        assert env.execute_sql(
            "SELECT /*+ LOOKUP('table'='lk_dim'), "
            "STATE_TTL('lk_big'='1 min') */ count(*) AS c FROM lk_big b "
            "JOIN lk_dim d ON b.g = d.g"
        ).first().c == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fresh_sink_path_round_trip_raises_no_jvm_exception(
    spark, tmp_path, monkeypatch
):
    """CREATE, INSERT and SELECT on a path nobody has written yet: the
    sink-only check is answered in Python, so no JVM exception is raised
    and converted through py4j (plain and PRIMARY KEY'd sinks), and the
    rows read back are the rows written."""
    from pyspark.errors.exceptions import captured

    converted = []
    real = captured.convert_exception

    def spy(e):
        converted.append(real(e))
        return converted[-1]

    monkeypatch.setattr(captured, "convert_exception", spy)
    env = TableEnvironment(spark)
    for name, pk in (("fresh_plain", ""),
                     ("fresh_pk", ", PRIMARY KEY (id) NOT ENFORCED")):
        env.execute_sql(f"""
            CREATE TABLE {name} (id BIGINT, v STRING{pk})
            WITH ('connector'='filesystem','format'='parquet',
                  'path'='{tmp_path}/{name}')
        """)
        env.execute_sql(f"INSERT INTO {name} SELECT id, 'v' || id FROM range(3)")
        got = sorted(
            (r.id, r.v)
            for r in env.execute_sql(f"SELECT id, v FROM {name}").collect()
        )
        assert got == [(0, "v0"), (1, "v1"), (2, "v2")]
    assert converted == []


def test_unwritten_local_path_check_leaves_remote_and_globs_to_jvm(tmp_path):
    check = TableEnvironment._unwritten_local_path
    assert check(str(tmp_path / "missing"))
    assert check(f"file://{tmp_path}/missing")
    assert not check(str(tmp_path))
    assert not check(f"file:{tmp_path}")
    assert not check("s3a://bucket/missing")
    assert not check(f"{tmp_path}/missing/*.parquet")
    assert not check("relative/missing")
