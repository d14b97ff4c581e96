"""DDL-surface gated queries: materialized tables and format round-trips
(SURVEY §2.15; reference flink-sql-parser ddl/materializedtable/*,
flink-formats/*)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_spark.localrows import rows_df
from flink_spark.queries.registry import query
from flink_spark.queries.util import DEC
from flink_spark.sources.tables import load_table


@query(
    "materialized_table_refresh",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def materialized_table_refresh(spark, sf_dir):
    """CREATE MATERIALIZED TABLE + ALTER ... REFRESH (FLIP-435; reference
    SqlCreateMaterializedTable.java, SqlAlterMaterializedTableRefresh.java):
    materialize a grouped rollup of lineitem into the versioned snapshot
    store, run one manual refresh cycle on top of the create-time one, and
    read the result back from the materialized storage (not the defining
    query), proving snapshot contents match the query exactly."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("mt_src_lineitem")
    env.execute_sql("DROP MATERIALIZED TABLE IF EXISTS mt_returnflag_rollup")
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mt_returnflag_rollup
        FRESHNESS = INTERVAL '1' DAY
        AS SELECT l_returnflag,
                  COUNT(*) AS cnt,
                  CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) AS sum_qty
           FROM mt_src_lineitem
           GROUP BY l_returnflag
    """)
    env.execute_sql("ALTER MATERIALIZED TABLE mt_returnflag_rollup REFRESH")
    mt = env.materialized.tables["mt_returnflag_rollup"]
    assert mt.refresh_mode == "full" and mt.version == 2
    return spark.table("mt_returnflag_rollup").orderBy("l_returnflag")


@query(
    "format_avro_roundtrip",
    oracle=f"""
    SELECT s_nationkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(s_acctbal AS {DEC})) AS DOUBLE) AS sum_bal,
           CAST(SUM(s_suppkey) AS BIGINT) AS key_sum
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def format_avro_roundtrip(spark, sf_dir):
    """Avro format (reference flink-formats/flink-avro
    AvroRowDataSerializationSchema, AvroFileFormatFactory): supplier rows
    written as standard Avro object container files and read back, then
    aggregated — equal to the source aggregate iff the codec is lossless.
    Runs through the self-contained zigzag-varint binary codec
    (flink_spark/formats/avro.py) when the spark-avro jar is absent."""
    import tempfile

    from flink_spark.formats.avro import read_avro, write_avro

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = tempfile.mkdtemp(prefix="flink_spark_avro_q_")
    write_avro(sup, path, mode="overwrite")
    back = read_avro(spark, path, sup.schema)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n"),
        F.sum(F.col("s_acctbal").cast(DEC)).cast("double").alias("sum_bal"),
        F.sum("s_suppkey").alias("key_sum"),
    )


@query(
    "format_avro_confluent_roundtrip",
    oracle="""
    SELECT c_nationkey AS nation, COUNT(*) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    FROM customer
    GROUP BY c_nationkey
    """,
)
def format_avro_confluent_roundtrip(spark, sf_dir):
    """Confluent-registry avro (reference
    flink-avro-confluent-registry RegistryAvroFormatFactory,
    ConfluentSchemaRegistryCoder): customer keys encoded into the wire
    format (0x00 magic + big-endian schema id + avro body), decoded back
    through the registry stand-in, and aggregated."""
    from pyspark.sql import types as T

    from flink_spark.formats.avro import (
        SchemaRegistry,
        from_avro_confluent,
        to_avro_confluent,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    reg = SchemaRegistry()
    sid = reg.register(
        T.StructType([cust.schema["c_custkey"], cust.schema["c_nationkey"]])
    )
    enc = to_avro_confluent(cust, ["c_custkey", "c_nationkey"], "payload", sid)
    dec = from_avro_confluent(enc, "payload", reg)
    return dec.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count("*").alias("n"),
        F.sum("c_custkey").alias("key_sum"),
    )


@query(
    "format_sequence_file_roundtrip",
    oracle="""
    SELECT n_name AS k, CAST(n_regionkey AS VARCHAR) AS v
    FROM nation
    """,
)
def format_sequence_file_roundtrip(spark, sf_dir):
    """Hadoop SequenceFile format (reference flink-formats/
    flink-sequence-file SequenceFileWriterFactory): nation rows written as
    Text/Text Writable pairs through the Hadoop writer and read back via
    the splittable SequenceFile input format."""
    import tempfile

    from flink_spark.formats.seqfile import (
        read_sequence_file,
        write_sequence_file,
    )

    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_name"), F.col("n_regionkey").cast("string").alias("v")
    )
    path = tempfile.mkdtemp(prefix="flink_spark_seq_q_") + "/store"
    write_sequence_file(nat, path, "n_name", "v")
    return read_sequence_file(spark, path, "k", "v")


@query(
    "format_compressed_write",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n,
           CAST(SUM(s_suppkey) AS BIGINT) AS key_sum
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def format_compressed_write(spark, sf_dir):
    """Compressed filesystem sink (reference flink-formats/flink-compress
    CompressWriterFactory): supplier written as gzip csv through the DDL
    layer's 'compression' option, read back transparently, aggregated."""
    import os
    import tempfile

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).createOrReplaceTempView("comp_src_supplier")
    path = tempfile.mkdtemp(prefix="flink_spark_comp_q_")
    env.execute_sql(f"""
        CREATE TABLE comp_q_sink (s_suppkey BIGINT, s_nationkey BIGINT)
        WITH ('connector' = 'filesystem', 'format' = 'csv',
              'path' = '{path}', 'compression' = 'gzip')
    """)
    env.execute_sql(
        "INSERT INTO comp_q_sink SELECT * FROM comp_src_supplier"
    )
    files = [f for f in os.listdir(path) if not f.startswith(("_", "."))]
    assert files and all(f.endswith(".csv.gz") for f in files), files
    return (
        spark.table("comp_q_sink")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n"), F.sum("s_suppkey").alias("key_sum"))
    )


@query(
    "ctas_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def ctas_roundtrip(spark, sf_dir):
    """CTAS (reference SqlCreateTableAs.java): schema derived from the
    SELECT, storage from the WITH clause, initial insert in the same
    statement — read back from the created connector table."""
    import tempfile

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ctas_src_orders")
    path = tempfile.mkdtemp(prefix="flink_spark_ctas_q_")
    env.execute_sql(f"""
        CREATE OR REPLACE TABLE ctas_q_priority
        WITH ('connector' = 'filesystem', 'format' = 'parquet',
              'path' = '{path}')
        AS SELECT o_orderpriority AS priority,
                  COUNT(*) AS n,
                  SUM(o_custkey) AS cust_sum
           FROM ctas_src_orders
           GROUP BY o_orderpriority
    """)
    return spark.table("ctas_q_priority")


@query(
    "ddl_catalog_module_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      ('catalog', 'default_catalog'),
      ('catalog', 'warehouse'),
      ('current_catalog', 'warehouse'),
      ('database', 'analytics'),
      ('module', 'core'),
      ('module', 'hive')
    ) t(kind, name)
    """,
)
def ddl_catalog_module_roundtrip(spark, sf_dir):
    """Catalog + module statement surface end-to-end (reference
    GenericInMemoryCatalog, SqlCreateCatalog/SqlUseCatalog/SqlShowCatalogs,
    SqlLoadModule/SqlUseModules): create a catalog, switch into it, create
    a database inside its namespace, load a module — and read every fact
    back through the SHOW statements, proving the registry round-trips."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("CREATE CATALOG IF NOT EXISTS warehouse WITH ('type'='generic_in_memory')")
    env.execute_sql("USE CATALOG warehouse")
    env.execute_sql("CREATE DATABASE IF NOT EXISTS analytics")
    try:
        env.execute_sql("LOAD MODULE hive")
    except ValueError:
        pass  # already loaded in this session
    rows = []
    for r in env.execute_sql("SHOW CATALOGS").collect():
        rows.append(("catalog", r.catalog_name))
    rows.append(
        ("current_catalog", env.execute_sql("SHOW CURRENT CATALOG").first()[0])
    )
    for r in env.execute_sql("SHOW DATABASES").collect():
        rows.append(("database", r.database_name))
    for r in env.execute_sql("SHOW MODULES").collect():
        rows.append(("module", r.module_name))
    out = rows_df(spark, rows, "kind string, name string")
    env.execute_sql("USE CATALOG default_catalog")
    return out


@query(
    "explain_plan_advice_gate",
    oracle="""
    SELECT * FROM (VALUES
      ('clean_advice_rows', '0'),
      ('bad_plan_rule', 'row-python-udf')
    ) t(kind, val)
    """,
)
def explain_plan_advice_gate(spark, sf_dir):
    """EXPLAIN PLAN_ADVICE (reference ExplainDetail#PLAN_ADVICE, the
    plan-advice exec processors): a known-good plan (map-side partial
    aggregate over a pruned scan) produces ZERO advice rows, and a
    deliberately bad plan (row-at-a-time Python UDF) is flagged — the
    rule engine is precise, not vacuous."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("advice_li")
    clean = env.execute_sql(
        "EXPLAIN PLAN_ADVICE SELECT l_returnflag, SUM(l_quantity) AS s "
        "FROM advice_li GROUP BY l_returnflag"
    )
    spark.udf.register("advice_plus1", lambda x: x + 1, "bigint")
    bad = env.execute_sql(
        "EXPLAIN PLAN_ADVICE SELECT advice_plus1(l_orderkey) AS k1 "
        "FROM advice_li"
    )
    rows = [("clean_advice_rows", str(clean.count()))]
    rows += [("bad_plan_rule", r) for r in sorted({x.rule for x in bad.collect()})]
    return rows_df(spark, rows, "kind string, val string")


@query(
    "ddl_alter_partition_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      ('partition', 'region=apac'),
      ('partition', 'region=eu'),
      ('partition', 'region=us'),
      ('rows_after_drop', CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey <> 0) AS VARCHAR)),
      ('option', 'snappy')
    ) t(kind, val)
    """,
)
def ddl_alter_partition_roundtrip(spark, sf_dir):
    """ALTER TABLE partition + options DDL end-to-end (reference
    SqlAddPartitions/SqlDropPartitions, SqlAlterTableOptions): insert the
    nation table partitioned by a derived region bucket, ADD an empty
    partition, SHOW PARTITIONS against storage truth, DROP one partition
    and prove its rows leave the reads, and SET an option that lands in
    the spec."""
    import shutil
    import tempfile

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    root = tempfile.mkdtemp(prefix="flink_spark_alterddl_")
    try:
        env.execute_sql(f"""
            CREATE TABLE alter_nat (n_nationkey BIGINT, n_name STRING,
                                    region STRING)
            WITH ('connector'='filesystem','format'='parquet',
                  'path'='{root}/t', 'partition.keys'='region')
        """)
        load_table(spark, sf_dir, "nation").createOrReplaceTempView("alter_nat_src")
        env.execute_sql("""
            INSERT INTO alter_nat
            SELECT n_nationkey, n_name,
                   CASE WHEN n_regionkey = 0 THEN 'eu' ELSE 'us' END AS region
            FROM alter_nat_src
        """)
        env.execute_sql("ALTER TABLE alter_nat ADD PARTITION (region='apac')")
        rows = [
            ("partition", r.partition)
            for r in env.execute_sql("SHOW PARTITIONS alter_nat").collect()
        ]
        env.execute_sql("ALTER TABLE alter_nat DROP PARTITION (region='eu')")
        rows.append(
            ("rows_after_drop", str(spark.table("alter_nat").count()))
        )
        env.execute_sql("ALTER TABLE alter_nat SET ('compression'='snappy')")
        rows.append(("option", env.tables["alter_nat"].options["compression"]))
        return rows_df(spark, rows, "kind string, val string")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "ddl_create_function_sql",
    oracle="""
    SELECT CAST(o_orderkey % 8 AS BIGINT) AS bucket,
           CAST(SUM(bit_count(CAST(o_orderkey AS BIGINT))) AS BIGINT) AS bits,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    """,
)
def ddl_create_function_sql(spark, sf_dir):
    """SQL-text function DDL end-to-end (reference SqlCreateFunction.java,
    FunctionITCase): CREATE TEMPORARY FUNCTION ... AS 'module.Class'
    LANGUAGE PYTHON resolves a ScalarFunction through the SQL surface,
    the function runs Arrow-vectorized inside a SQL aggregate, and the
    exact oracle is DuckDB's native bit_count — proving the Python popcount
    agrees bit-for-bit with the SQL-native one."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql(
        "CREATE TEMPORARY FUNCTION IF NOT EXISTS bit_count_py AS "
        "'flink_spark.functions.library.BitCountFn' LANGUAGE PYTHON"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_fn_ddl")
    return spark.sql("""
        SELECT CAST(o_orderkey % 8 AS BIGINT) AS bucket,
               CAST(SUM(bit_count_py(o_orderkey)) AS BIGINT) AS bits,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders_fn_ddl GROUP BY o_orderkey % 8
    """)


@query(
    "tableapi_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS {DEC})) AS DOUBLE) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tableapi_pricing_summary(spark, sf_dir):
    """Table API entry point (reference Table.java groupBy/select,
    SURVEY §3.2): the q1-style pricing summary written fluently —
    from_path → where → group_by → select — producing the identical
    Catalyst plan a hand-written DataFrame program yields (the shim
    delegates, it does not interpret)."""
    from flink_spark.table_api import col, from_data_frame

    li = from_data_frame(load_table(spark, sf_dir, "lineitem"))
    return (
        li.where(col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .group_by(col("l_returnflag"), col("l_linestatus"))
        .select(
            col("l_returnflag"), col("l_linestatus"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
            .alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .to_data_frame()
    )


@query(
    "ddl_upsert_sink",
    oracle="""
    SELECT n_nationkey AS id,
           CASE WHEN n_nationkey % 2 = 0 THEN 'even-updated'
                ELSE n_name END AS v
    FROM nation
    """,
)
def ddl_upsert_sink(spark, sf_dir):
    """Batch upsert sink contract (reference SinkUpsertMaterializer /
    upsert sinks): a PRIMARY KEY'd table REPLACES rows by key on INSERT
    INTO — nation loads fully, then every even key is re-inserted with a
    new value; the final state holds exactly one row per key with the
    replacements applied."""
    import shutil
    import tempfile

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    root = tempfile.mkdtemp(prefix="flink_spark_upsertddl_")
    try:
        env.execute_sql(f"""
            CREATE TABLE upsert_nat (id BIGINT, v STRING,
                PRIMARY KEY (id) NOT ENFORCED)
            WITH ('connector'='filesystem','format'='parquet',
                  'path'='{root}/t')
        """)
        load_table(spark, sf_dir, "nation").createOrReplaceTempView(
            "upsert_nat_src"
        )
        env.execute_sql("""
            INSERT INTO upsert_nat
            SELECT n_nationkey, n_name FROM upsert_nat_src
        """)
        env.execute_sql("""
            INSERT INTO upsert_nat
            SELECT n_nationkey, 'even-updated' FROM upsert_nat_src
            WHERE n_nationkey % 2 = 0
        """)
        return spark.table("upsert_nat").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "ddl_distributed_join",
    oracle="""
    SELECT CAST(s_nationkey AS BIGINT) AS nat,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(s_suppkey + s_acct_rounded) AS BIGINT) AS chk
    FROM (SELECT s_suppkey, s_nationkey,
                 CAST(FLOOR(s_acctbal) AS BIGINT) AS s_acct_rounded
          FROM supplier) a
    JOIN (SELECT s_suppkey, CAST(FLOOR(s_acctbal) AS BIGINT) AS s_acct_rounded2
          FROM supplier) b USING (s_suppkey)
    GROUP BY 1
    """,
)
def ddl_distributed_join(spark, sf_dir):
    """DISTRIBUTED BY DDL end-to-end (reference FLIP-376 SqlDistribution
    → Spark bucketBy managed tables): two tables bucketed on the same key
    through SQL DDL, filled by INSERT, joined — the plan carries NO
    Exchange on either join side (asserted in-query; the layout IS the
    shuffle, paid once at ingest), and the joined aggregate matches the
    source-derived oracle exactly."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    for t in ("dq_sup_a", "dq_sup_b"):
        env.execute_sql(f"DROP TABLE IF EXISTS {t}")
    try:
        env.execute_sql("""
            CREATE TABLE dq_sup_a (s_suppkey BIGINT, s_nationkey BIGINT,
                                   s_acct_rounded BIGINT)
            DISTRIBUTED BY (s_suppkey) INTO 4 BUCKETS
            WITH ('connector'='filesystem','format'='parquet')
        """)
        env.execute_sql("""
            CREATE TABLE dq_sup_b (s_suppkey BIGINT, s_acct_rounded2 BIGINT)
            DISTRIBUTED BY (s_suppkey) INTO 4 BUCKETS
            WITH ('connector'='filesystem','format'='parquet')
        """)
        load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
            "dq_sup_src"
        )
        env.execute_sql("""
            INSERT INTO dq_sup_a
            SELECT s_suppkey, s_nationkey, CAST(FLOOR(s_acctbal) AS BIGINT)
            FROM dq_sup_src
        """)
        env.execute_sql("""
            INSERT INTO dq_sup_b
            SELECT s_suppkey, CAST(FLOOR(s_acctbal) AS BIGINT)
            FROM dq_sup_src
        """)
        joined = spark.table("dq_sup_a").join(
            spark.table("dq_sup_b"), "s_suppkey"
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Exchange hashpartitioning" not in plan, "bucket layout lost"
        return (
            joined.groupBy(F.col("s_nationkey").alias("nat"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("s_suppkey") + F.col("s_acct_rounded"))
                .alias("chk"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        for t in ("dq_sup_a", "dq_sup_b"):
            env.execute_sql(f"DROP TABLE IF EXISTS {t}")


@query(
    "explain_changelog_mode_gate",
    oracle="""
    SELECT * FROM (VALUES
      ('upsert_sink_agg', 0, 'Sink', 'NONE'),
      ('upsert_sink_agg', 1, 'GroupAggregate', 'I,UA'),
      ('upsert_sink_agg', 2, 'Calc', 'I'),
      ('upsert_sink_agg', 3, 'TableSourceScan', 'I'),
      ('retract_sink_agg', 0, 'Sink', 'NONE'),
      ('retract_sink_agg', 1, 'GroupAggregate', 'I,UB,UA'),
      ('retract_sink_agg', 2, 'TableSourceScan', 'I'),
      ('normalize_agg', 0, 'Sink', 'NONE'),
      ('normalize_agg', 1, 'GroupAggregate', 'I,UB,UA,D'),
      ('normalize_agg', 2, 'Calc', 'I,UB,UA,D'),
      ('normalize_agg', 3, 'ChangelogNormalize', 'I,UB,UA,D'),
      ('normalize_agg', 4, 'TableSourceScan', 'I,UA,PD'),
      ('agg_topn', 0, 'Sink', 'NONE'),
      ('agg_topn', 1, 'Rank', 'I,UB,UA,D'),
      ('agg_topn', 2, 'GroupAggregate', 'I,UB,UA'),
      ('agg_topn', 3, 'TableSourceScan', 'I'),
      ('dedup_first_append', 0, 'Sink', 'NONE'),
      ('dedup_first_append', 1, 'Deduplicate', 'I'),
      ('dedup_first_append', 2, 'TableSourceScan', 'I'),
      ('sql_pk_source_agg', 0, 'GroupAggregate', 'I,UB,UA,D'),
      ('sql_pk_source_agg', 1, 'ChangelogNormalize', 'I,UB,UA,D'),
      ('sql_pk_source_agg', 2, 'TableSourceScan(cmq_accounts)', 'I,UA,PD')
    ) t(pipeline, ord, node, changelog_mode)
    """,
)
def explain_changelog_mode_gate(spark, sf_dir):
    """EXPLAIN CHANGELOG_MODE (reference ExplainDetail.java:36 +
    FlinkChangelogModeInferenceProgram.scala, the two-pass
    ModifyKindSet/UpdateKind trait inference): five canonical pipelines
    through the IR inference — upsert sink with satisfied PK prefers
    ONLY_UPDATE_AFTER ([I,UA]); a retract consumer forces UPDATE_BEFORE
    ([I,UB,UA]); an upsert source gains ChangelogNormalize — its
    tombstones are key-only deletes ([I,UA,PD], the DeleteKindTrait pass)
    — and deletes propagate through the agg as full deletes ([I,UB,UA,D]); TopN over an updating agg
    emits the full change set; keep-first dedup over insert-only input
    stays append-only ([I]). Plus the SQL spelling over a PK'd engine
    table (upsert source → normalize injection)."""
    from flink_spark.catalog import TableEnvironment
    from flink_spark.changelog_mode import Node, modes_table

    pipelines = {
        "upsert_sink_agg": Node("sink", "Sink", [
            Node("group_agg", "GroupAggregate", [
                Node("calc", "Calc", [
                    Node("source", "TableSourceScan",
                         attrs={"mode": "insert"}),
                ]),
            ], attrs={"keys": ["user_id"]}),
        ], attrs={"mode": "upsert", "pk": ["user_id"]}),
        "retract_sink_agg": Node("sink", "Sink", [
            Node("group_agg", "GroupAggregate", [
                Node("source", "TableSourceScan", attrs={"mode": "insert"}),
            ], attrs={"keys": ["user_id"]}),
        ], attrs={"mode": "retract"}),
        "normalize_agg": Node("sink", "Sink", [
            Node("group_agg", "GroupAggregate", [
                Node("calc", "Calc", [
                    Node("normalize", "ChangelogNormalize", [
                        Node("source", "TableSourceScan",
                             attrs={"mode": "upsert", "pk": ["k"]}),
                    ], attrs={"pk": ["k"]}),
                ]),
            ], attrs={"keys": ["g"]}),
        ], attrs={"mode": "retract"}),
        "agg_topn": Node("sink", "Sink", [
            Node("rank", "Rank", [
                Node("group_agg", "GroupAggregate", [
                    Node("source", "TableSourceScan",
                         attrs={"mode": "insert"}),
                ], attrs={"keys": ["region", "user"]}),
            ], attrs={"partition": ["region"]}),
        ], attrs={"mode": "retract"}),
        "dedup_first_append": Node("sink", "Sink", [
            Node("dedup", "Deduplicate", [
                Node("source", "TableSourceScan", attrs={"mode": "insert"}),
            ], attrs={"keep": "first", "keys": ["id"]}),
        ], attrs={"mode": "append"}),
    }
    rows = []
    for pname, root in pipelines.items():
        for i, (label, mode) in enumerate(modes_table(root)):
            rows.append((pname, i, label, mode))

    # SQL spelling over a PK'd engine table (upsert source analog)
    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS cmq_accounts")
    env.execute_sql(
        "CREATE TABLE cmq_accounts (acct BIGINT, bal DOUBLE, "
        "PRIMARY KEY (acct) NOT ENFORCED) WITH ('connector'='datagen', "
        "'number-of-rows'='5')"
    )
    try:
        txt = env.execute_sql(
            "EXPLAIN CHANGELOG_MODE SELECT acct, count(*) AS n "
            "FROM cmq_accounts GROUP BY acct"
        ).collect()[0][0]
        for i, line in enumerate(txt.splitlines()):
            node = line.strip().removeprefix("+- ")
            name, _, mode = node.partition("(changelogMode=[")
            rows.append(("sql_pk_source_agg", i, name, mode.rstrip("])")))
    finally:
        env.execute_sql("DROP TABLE IF EXISTS cmq_accounts")
    return rows_df(
        spark, rows,
        "pipeline string, ord int, node string, changelog_mode string"
    )


@query(
    "join_hints_gate",
    oracle="""
    SELECT * FROM (VALUES
      ('BROADCAST', 'BroadcastHashJoin'),
      ('SHUFFLE_HASH', 'ShuffledHashJoin'),
      ('SHUFFLE_MERGE', 'SortMergeJoin'),
      ('NEST_LOOP', 'BroadcastNestedLoopJoin_or_Cartesian')
    ) t(hint, join_node)
    """,
)
def join_hints_gate(spark, sf_dir):
    """Join hints (reference hints.md 'Join Hints', the Flink planner's
    JoinStrategy): BROADCAST / SHUFFLE_HASH / SHUFFLE_MERGE route to the
    identically-named Spark strategies; NEST_LOOP maps onto Spark's
    replicated nested-loop. Proven by plan inspection with broadcast
    auto-conversion disabled, so only the hint can pick the strategy."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("jh_n")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("jh_r")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    rows = []
    try:
        for hint in ("BROADCAST(jh_r)", "SHUFFLE_HASH(jh_r)",
                     "SHUFFLE_MERGE(jh_n)"):
            df = env.execute_sql(
                f"SELECT /*+ {hint} */ jh_n.n_name, jh_r.r_name "
                "FROM jh_n JOIN jh_r ON jh_n.n_regionkey = jh_r.r_regionkey"
            )
            plan = df._jdf.queryExecution().executedPlan().toString()
            node = next(
                w for w in ("BroadcastHashJoin", "ShuffledHashJoin",
                            "SortMergeJoin")
                if w in plan
            )
            rows.append((hint.split("(")[0], node))
        df = env.execute_sql(
            "SELECT /*+ NEST_LOOP(jh_r) */ jh_n.n_name, jh_r.r_name "
            "FROM jh_n JOIN jh_r ON jh_n.n_regionkey = jh_r.r_regionkey"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastNestedLoopJoin" in plan
                or "CartesianProduct" in plan), plan
        rows.append(("NEST_LOOP", "BroadcastNestedLoopJoin_or_Cartesian"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return rows_df(spark, rows, "hint string, join_node string")


@query(
    "ddl_delete_update_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
           o_orderpriority
    FROM orders
    WHERE o_orderkey <= 500 AND o_orderstatus <> 'F'
      AND (o_orderkey <= 400 OR o_orderkey % 7 = 0)
    """,
)
def ddl_delete_update_roundtrip(spark, sf_dir):
    """Row-level DML (reference delete.md/update.md —
    SupportsRowLevelDelete/Update, batch-mode copy-on-write): UPDATE
    patches only matching rows (cast back to the declared type), DELETE
    removes by predicate via storage rewrite; the surviving table must
    equal the closed-form oracle. rows_affected counts are asserted
    in-query."""
    import uuid as _uuid

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    path = f"/tmp/flink_spark_dml_{_uuid.uuid4().hex[:8]}"
    env.execute_sql("DROP TABLE IF EXISTS dml_orders")
    env.execute_sql(f"""
        CREATE TABLE dml_orders (
          o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING,
          o_orderstatus STRING
        ) WITH ('connector'='filesystem', 'path'='{path}',
                'format'='parquet')
    """)
    try:
        load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") <= 500
        ).createOrReplaceTempView("__dml_src")
        env.execute_sql("""
            INSERT INTO dml_orders
            SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus
            FROM __dml_src
        """)
        upd = env.execute_sql(
            "UPDATE dml_orders SET o_totalprice = o_totalprice * 1.1 "
            "WHERE o_orderpriority = '1-URGENT'"
        ).collect()[0].rows_affected
        dele = env.execute_sql(
            "DELETE FROM dml_orders WHERE o_orderstatus = 'F'"
        ).collect()[0].rows_affected
        # NULL-evaluating predicate: SQL DELETE removes only WHERE-is-TRUE
        # rows; rows where the condition evaluates NULL (here every 7th
        # orderkey) must be KEPT, and rows_affected counts TRUE rows only.
        null_pred = (
            "(CASE WHEN o_orderkey % 7 = 0 THEN CAST(NULL AS BIGINT) "
            "ELSE o_orderkey END) > 400"
        )
        before = spark.table("dml_orders")
        # one aggregate per table pass instead of one count job per
        # predicate (r13, guide §1.2/§5: the contract asserts stay, the
        # driver round-trips per assert don't)
        pre = before.agg(
            F.sum(F.expr(f"CAST(({null_pred}) AS INT)")).alias("n_true"),
            F.sum(F.expr(f"CAST(({null_pred}) IS NULL AS INT)"))
            .alias("n_null"),
        ).collect()[0]
        n_true, n_null = int(pre.n_true or 0), int(pre.n_null or 0)
        assert n_true > 0 and n_null > 0, (n_true, n_null)
        dele2 = env.execute_sql(
            f"DELETE FROM dml_orders WHERE {null_pred}"
        ).collect()[0].rows_affected
        assert dele2 == n_true, (dele2, n_true)
        out = spark.table("dml_orders")
        post = out.agg(
            F.sum(F.expr(f"CAST(({null_pred}) IS NULL AS INT)"))
            .alias("n_null_left"),
            F.sum(
                (F.col("o_orderpriority") == "1-URGENT").cast("int")
            ).alias("n_urgent_left"),
        ).collect()[0]
        # every NULL-evaluating row survived the delete
        assert int(post.n_null_left or 0) == n_null
        n_urgent_left = int(post.n_urgent_left or 0)
        assert upd >= n_urgent_left and dele > 0, (upd, dele)
        return out.select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).localCheckpoint(eager=True)
    finally:
        env.execute_sql("DROP TABLE IF EXISTS dml_orders")


@query(
    "ddl_pk_upsert_dml",
    oracle="""
    WITH base AS (
      SELECT CAST(n_nationkey AS BIGINT) AS id,
             CASE WHEN n_nationkey % 2 = 0 THEN 'even-' || n_name
                  ELSE n_name END AS name,
             CAST(n_regionkey AS BIGINT) AS rk
      FROM nation),
    survivors AS (SELECT * FROM base WHERE NOT (rk = 0))
    SELECT id,
           CASE WHEN id % 3 = 0 THEN upper(name) ELSE name END AS name,
           rk
    FROM survivors
    """,
)
def ddl_pk_upsert_dml(spark, sf_dir):
    """Row-level DML on a PRIMARY-KEY'd managed DISTRIBUTED table
    (reference SupportsRowLevelModificationScan + the delete/update sink
    abilities, FLIP-376 SqlDistribution): upsert INSERT replaces by key,
    DELETE/UPDATE rewrite the bucketed store in place — the bucket layout
    (and its shuffle-free join property) survives every modification.
    rows_affected counts are asserted in-query."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS pk_dml_nat")
    try:
        env.execute_sql("""
            CREATE TABLE pk_dml_nat (id BIGINT, name STRING, rk BIGINT,
                PRIMARY KEY (id) NOT ENFORCED)
            DISTRIBUTED BY (id) INTO 4 BUCKETS
            WITH ('connector'='filesystem','format'='parquet')
        """)
        load_table(spark, sf_dir, "nation").createOrReplaceTempView(
            "pk_dml_src"
        )
        env.execute_sql("""
            INSERT INTO pk_dml_nat
            SELECT CAST(n_nationkey AS BIGINT), n_name,
                   CAST(n_regionkey AS BIGINT)
            FROM pk_dml_src
        """)
        # upsert: even keys replaced, not appended (PK contract)
        env.execute_sql("""
            INSERT INTO pk_dml_nat
            SELECT CAST(n_nationkey AS BIGINT), 'even-' || n_name,
                   CAST(n_regionkey AS BIGINT)
            FROM pk_dml_src WHERE n_nationkey % 2 = 0
        """)
        total = spark.table("pk_dml_nat").count()
        n_rk0 = spark.table("pk_dml_nat").filter("rk = 0").count()
        dele = env.execute_sql(
            "DELETE FROM pk_dml_nat WHERE rk = 0"
        ).collect()[0].rows_affected
        assert dele == n_rk0, (dele, n_rk0)
        upd = env.execute_sql(
            "UPDATE pk_dml_nat SET name = upper(name) WHERE id % 3 = 0"
        ).collect()[0].rows_affected
        out = spark.table("pk_dml_nat")
        assert out.count() == total - n_rk0
        assert upd == out.filter("id % 3 = 0").count()
        return out.select("id", "name", "rk").localCheckpoint(eager=True)
    finally:
        env.execute_sql("DROP TABLE IF EXISTS pk_dml_nat")


@query(
    "ddl_connection_roundtrip",
    oracle="""
    SELECT info_name, info_value FROM (VALUES
      ('name', 'llm_east'),
      ('type', 'default'),
      ('comment', 'east region llm'),
      ('option:api-key', '****'),
      ('option:endpoint', 'https://api.example.com/v1/embeddings'),
      ('option:region', 'us-east-1')
    ) AS t(info_name, info_value)
    """,
)
def ddl_connection_roundtrip(spark, sf_dir):
    """Connection DDL family (FLIP-529; reference
    ddl/connection/SqlCreateConnection.java + Alter/Drop, dql
    SqlShowConnections/SqlShowCreateConnection/SqlRichDescribeConnection,
    DefaultConnectionFactory secret extraction): create with a sensitive
    option, alter, rename, show — the returned DESCRIBE EXTENDED rows
    prove the secret never leaves the store ('****') while non-sensitive
    options round-trip verbatim. Lifecycle assertions run in-query."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP CONNECTION IF EXISTS llm_east")
    env.execute_sql("DROP CONNECTION IF EXISTS llm_draft")
    env.execute_sql("""
        CREATE CONNECTION llm_draft COMMENT 'east region llm' WITH (
          'endpoint' = 'https://api.example.com/v1/embeddings',
          'api-key' = 'sk-never-shown',
          'region' = 'us-west-0')
    """)
    env.execute_sql("ALTER CONNECTION llm_draft SET ('region'='us-east-1')")
    env.execute_sql("ALTER CONNECTION llm_draft RENAME TO llm_east")
    names = [r.connection_name
             for r in env.execute_sql("SHOW CONNECTIONS").collect()]
    assert "llm_east" in names and "llm_draft" not in names
    txt = env.execute_sql(
        "SHOW CREATE CONNECTION llm_east"
    ).collect()[0].result
    assert "sk-never-shown" not in txt and "'****'" in txt
    # a model can be created against the connection (secrets resolved
    # through the store for provider validation)
    env.execute_sql("DROP MODEL IF EXISTS conn_gate_model")
    env.execute_sql("""
        CREATE MODEL conn_gate_model INPUT (x ARRAY<FLOAT>)
        OUTPUT (emb ARRAY<FLOAT>)
        WITH ('provider'='openai','connection'='llm_east','model'='m-1')
    """)
    env.execute_sql("DROP MODEL conn_gate_model")
    out = env.execute_sql("DESCRIBE CONNECTION EXTENDED llm_east")
    env.execute_sql("DROP CONNECTION llm_east")
    return out


@query(
    "ddl_mt_schema_roundtrip",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS sum_total
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(cnt AS BIGINT) AS cnt,
           sum_total * 2 AS doubled,
           ROUND(sum_total / cnt, 2) AS avg_per
    FROM base
    ORDER BY o_orderpriority
    """,
)
def ddl_mt_schema_roundtrip(spark, sf_dir):
    """Materialized-table schema evolution (reference
    SqlAlterMaterializedTableSchema.java; converters materializedtable/
    SqlAlterMaterializedTableSchemaConverter.java, ...DropSchemaConverter
    .java): CREATE with a declared schema block (type declaration +
    computed column + PK NOT ENFORCED), ALTER ADD a positioned computed
    column, ALTER MODIFY the computed expression, negative-check the
    used-in-query DROP rule, REFRESH under the evolved schema, then prove
    SHOW CREATE MATERIALIZED TABLE re-executes to an identical table.
    Computed columns evaluate on read (never persisted), so the snapshot
    store keeps raw query output and the projection fuses into the scan."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("mt_src_orders")
    env.execute_sql("DROP MATERIALIZED TABLE IF EXISTS mt_prio_rollup")
    env.execute_sql(f"""
        CREATE MATERIALIZED TABLE mt_prio_rollup (
            o_orderpriority STRING,
            cnt BIGINT,
            sum_total DOUBLE,
            avg_per AS ROUND(sum_total / cnt, 2),
            PRIMARY KEY (o_orderpriority) NOT ENFORCED
        )
        FRESHNESS = INTERVAL '1' DAY
        AS SELECT o_orderpriority,
                  COUNT(*) AS cnt,
                  CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS sum_total
           FROM mt_src_orders
           GROUP BY o_orderpriority
    """)
    env.execute_sql(
        "ALTER MATERIALIZED TABLE mt_prio_rollup "
        "ADD doubled AS sum_total * 2 AFTER sum_total"
    )
    env.execute_sql(
        "ALTER MATERIALIZED TABLE mt_prio_rollup "
        "MODIFY avg_per AS ROUND(sum_total / cnt, 2)"
    )
    # the reference's used-in-query DROP rule must hold
    try:
        env.execute_sql("ALTER MATERIALIZED TABLE mt_prio_rollup DROP cnt")
        raise AssertionError("DROP of a query-produced column must fail")
    except ValueError:
        pass
    env.execute_sql("ALTER MATERIALIZED TABLE mt_prio_rollup REFRESH")
    ddl = env.execute_sql(
        "SHOW CREATE MATERIALIZED TABLE mt_prio_rollup"
    ).collect()[0][0]
    env.execute_sql("DROP MATERIALIZED TABLE mt_prio_rollup")
    env.execute_sql(ddl)  # the emitted DDL re-creates the evolved table
    out = spark.table("mt_prio_rollup").select(
        "o_orderpriority", "cnt", "doubled", "avg_per"
    ).orderBy("o_orderpriority")
    return out


@query(
    "ddl_datagen_sequence",
    oracle="""
    SELECT CAST(i + 10 AS BIGINT) AS id,
           CAST(i AS INT) AS sq,
           CAST((i + 10) * 3 + i AS BIGINT) AS mix
    FROM range(100) t(i)
    """,
)
def ddl_datagen_sequence(spark, sf_dir):
    """DataGen source with SEQUENCE field kinds (reference
    datagen connector 'fields.<col>.kind'='sequence' + start): bounded,
    deterministic generation — the one datagen mode with an exact
    oracle; random kinds stay pytest-gated by nature."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    env.execute_sql("DROP TABLE IF EXISTS __dg_seq")
    env.execute_sql("""
        CREATE TABLE __dg_seq (id BIGINT, sq INT) WITH (
          'connector' = 'datagen',
          'number-of-rows' = '100',
          'fields.id.kind' = 'sequence',
          'fields.id.start' = '10',
          'fields.sq.kind' = 'sequence',
          'fields.sq.start' = '0'
        )
    """)
    return env.execute_sql(
        "SELECT id, sq, id * 3 + sq AS mix FROM __dg_seq"
    )


@query(
    "datastream_pipeline",
    oracle="""
    WITH s AS (SELECT i AS id FROM range(1, 201) t(i)),
         m AS (SELECT id, id * 2 + 1 AS y FROM s WHERE id % 3 <> 0),
         u AS (SELECT * FROM m UNION ALL
               SELECT id, id * 2 + 1 AS y FROM s WHERE id <= 10
                 AND id % 3 <> 0)
    SELECT CAST(id % 5 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS total
    FROM u GROUP BY id % 5
    """,
)
def datastream_pipeline(spark, sf_dir):
    """Bounded DataStream program (reference DataStream API / SURVEY
    §3.3 entry point): from_sequence → JVM map → filter → union →
    key_by → reduce, everything delegating to Catalyst — the fluent
    surface with an exact relational oracle."""
    from flink_spark.datastream import StreamExecutionEnvironment

    denv = StreamExecutionEnvironment(spark)
    base = (
        denv.from_sequence(1, 200)
        .map((F.col("id") * 2 + 1).alias("y"))
        .filter(F.col("id") % 3 != 0)
    )
    small = (
        denv.from_sequence(1, 10)
        .map((F.col("id") * 2 + 1).alias("y"))
        .filter(F.col("id") % 3 != 0)
    )
    out = (
        base.union(small)
        .key_by((F.col("id") % 5).alias("k"))
        .reduce(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("total"),
        )
    )
    return out.to_data_frame().select(
        F.col("k").cast("long").alias("k"), "n", "total"
    )


@query(
    "datastream_v2_pipeline",
    oracle="""
    SELECT user_id,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events WHERE user_id <= 50 AND event_type = 'click'
    GROUP BY user_id, date_trunc('hour', ts)
    """,
)
def datastream_v2_pipeline(spark, sf_dir):
    """DataStream API V2 program (reference flink-datastream-api
    FLIP-408/409: ExecutionEnvironment → partition streams →
    BuiltinFuncs → window strategies): fromSource → builtin filter/map
    (JVM Columns, FLIP-409) → key_by → TumblingTimeWindowStrategy
    (extension/window) → reduce — the V2 fluent surface delegating
    everything to Catalyst, with an exact relational oracle (integer
    cents keep the sum engine-exact)."""
    from flink_spark.datastream_v2 import (
        BuiltinFuncs,
        ExecutionEnvironment,
        TumblingTimeWindowStrategy,
    )

    env = ExecutionEnvironment.get_instance(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    s = env.from_source(ev, "events")
    s = BuiltinFuncs.filter(
        s, (F.col("user_id") <= 50) & (F.col("event_type") == "click")
    )
    s = BuiltinFuncs.map(
        s, F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents")
    )
    out = (
        s.key_by("user_id")
        .window(TumblingTimeWindowStrategy("ts", "1 hour"))
        .reduce(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    return out.to_data_frame().select(
        "user_id",
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "n", "cents",
    )


@query(
    "ddl_compile_execute_plan",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS finished
    FROM orders WHERE o_custkey <= 500
    GROUP BY o_orderpriority
    """,
)
def ddl_compile_execute_plan(spark, sf_dir):
    """COMPILE PLAN ... FOR <query> then EXECUTE PLAN (reference
    SqlCompilePlan / SqlExecutePlan; restore.md): the persisted contract
    (SQL + analyzed schema + optimized-plan fingerprint) replays through
    EXECUTE PLAN and must produce the original result exactly — with the
    schema-drift guard armed in between."""
    import os
    import tempfile

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__cep_orders"
    )
    fd, path = tempfile.mkstemp(suffix=".json",
                                prefix="flink_spark_plan_")
    os.close(fd)
    try:
        env.execute_sql(f"""
            COMPILE PLAN '{path}' FOR
            SELECT o_orderpriority,
                   COUNT(*) AS cnt,
                   SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                     AS finished
            FROM __cep_orders WHERE o_custkey <= 500
            GROUP BY o_orderpriority
        """)
        # EXECUTE PLAN reads the artifact eagerly; safe to remove after
        return env.execute_sql(f"EXECUTE PLAN '{path}'")
    finally:
        os.unlink(path)


@query(
    "join_skew_salted",
    oracle="""
    SELECT l.o_orderkey, l.o_custkey,
           CAST(c.c_nationkey AS BIGINT) AS nk
    FROM (SELECT o_orderkey, o_custkey FROM orders
          WHERE o_custkey <= 100) l
    JOIN customer c ON l.o_custkey = c.c_custkey
    """,
)
def join_skew_salted(spark, sf_dir):
    """Manual skew-salted equi-join (reference FLIP-510 /
    AdaptiveSkewedJoinOptimizationStrategy — the statically-planned form
    of AQE's runtime skew split): the large side salts on row identity,
    the small side replicates per salt, the hot key's rows spread over
    n_salts shuffle partitions. Results must equal the plain join
    bit-for-bit; the salt never escapes the operator."""
    from flink_spark.operators.joins import salted_join

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") <= 100
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("nk")
    )
    out = salted_join(
        o, c, left_key="o_custkey", right_key="c_custkey",
        n_salts=8, id_col="o_orderkey",
    )
    return out.select("o_orderkey", "o_custkey", "nk")


@query(
    "ddl_statement_set",
    oracle="""
    SELECT 'hi' AS sink, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(30,6)))
                AS DOUBLE) AS total
    FROM orders WHERE o_custkey <= 300 AND o_totalprice >= 150000
    UNION ALL
    SELECT 'lo' AS sink, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(30,6)))
                AS DOUBLE) AS total
    FROM orders WHERE o_custkey <= 300 AND o_totalprice < 150000
    """,
)
def ddl_statement_set(spark, sf_dir):
    """EXECUTE STATEMENT SET BEGIN ... END (reference statement sets /
    StatementSetOperation): two INSERTs sharing one scan fan out to two
    filesystem sinks in a single execution; reading both sinks back must
    reproduce the partition of the source exactly."""
    import tempfile

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") <= 300
    ).createOrReplaceTempView("__ss_orders")
    root = tempfile.mkdtemp(prefix="flink_spark_ss_")
    for t in ("hi", "lo"):
        env.execute_sql(f"DROP TABLE IF EXISTS __ss_{t}")
        env.execute_sql(f"""
            CREATE TABLE __ss_{t} (o_orderkey BIGINT, o_totalprice DOUBLE)
            WITH ('connector' = 'filesystem', 'path' = '{root}/{t}',
                  'format' = 'parquet')
        """)
    env.execute_sql("""
        EXECUTE STATEMENT SET BEGIN
        INSERT INTO __ss_hi SELECT o_orderkey,
               CAST(o_totalprice AS DOUBLE) FROM __ss_orders
          WHERE o_totalprice >= 150000;
        INSERT INTO __ss_lo SELECT o_orderkey,
               CAST(o_totalprice AS DOUBLE) FROM __ss_orders
          WHERE o_totalprice < 150000;
        END
    """)
    from flink_spark.queries.util import dsum

    hi = spark.table("__ss_hi").agg(
        F.lit("hi").alias("sink"),
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"),
    )
    lo = spark.table("__ss_lo").agg(
        F.lit("lo").alias("sink"),
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"),
    )
    return hi.unionAll(lo).select("sink", "n", "total")


@query(
    "ddl_watermark_strategies",
    oracle="""
    SELECT * FROM (VALUES
      ('wm_asc',     'ascending', 'ts', '0 seconds'),
      ('wm_bounded', 'bounded',   'ts', '5 seconds'),
      ('wm_source',  'source',    'ts', '0 seconds')
    ) t(tbl, kind, wm_col, delay)
    """,
)
def ddl_watermark_strategies(spark, sf_dir):
    """The three WATERMARK DDL strategies (reference SqlWatermark /
    WatermarkSpec): `AS col - INTERVAL` (bounded out-of-orderness),
    `AS col` (strictly ascending), `AS SOURCE_WATERMARK()`
    (connector-provided, SupportsSourceWatermark.java). Each parses to
    its strategy kind, renders back through SHOW CREATE TABLE verbatim,
    and the emitted DDL re-executes in a FRESH TableEnvironment to an
    identical spec — the round-trip row set below is taken from the
    CLONES, so a rendering defect cannot pass."""
    import tempfile

    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    d = tempfile.mkdtemp(prefix="flink_spark_wmgate_")
    specs = {
        "wm_bounded": "WATERMARK FOR ts AS ts - INTERVAL '5' SECOND",
        "wm_asc": "WATERMARK FOR ts AS ts",
        "wm_source": "WATERMARK FOR ts AS SOURCE_WATERMARK()",
    }
    env2 = TableEnvironment(spark)
    rows = []
    for name, clause in specs.items():
        env.execute_sql(f"DROP TABLE IF EXISTS {name}")
        env2.execute_sql(f"DROP TABLE IF EXISTS {name}_rt")
        env.execute_sql(f"""
            CREATE TABLE {name} (k BIGINT, ts TIMESTAMP(3), {clause})
            WITH ('connector'='filesystem','format'='parquet',
                  'path'='{d}/{name}')
        """)
        ddl = env.execute_sql(f"SHOW CREATE TABLE {name}").first().ddl
        assert clause in ddl, (name, ddl)
        env2.execute_sql(ddl.replace(name, f"{name}_rt"))
        clone = env2.tables[f"{name}_rt"]
        rows.append((name, clone.watermark_kind, *clone.watermark))
    return rows_df(
        spark, sorted(rows),
        "tbl string, kind string, wm_col string, delay string"
    )


@query(
    "hint_state_ttl_gate",
    oracle="""
    SELECT n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def hint_state_ttl_gate(spark, sf_dir):
    """STATE_TTL hint (reference StateTtlHint.java / FlinkHintStrategies):
    the hint validates its per-table duration options, is excised for
    batch execution (the reference ignores idle-state retention in batch
    mode too), and a sibling join hint in the SAME block still pins the
    strategy — asserted on the executed plan with broadcast
    auto-conversion disabled, so only the surviving hint can pick it."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("ttlg_n")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("ttlg_r")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = env.execute_sql(
            "SELECT /*+ STATE_TTL('ttlg_n'='1d', 'ttlg_r'='12 h'), "
            "BROADCAST(ttlg_r) */ "
            "ttlg_n.n_name AS n_name, ttlg_r.r_name AS r_name "
            "FROM ttlg_n JOIN ttlg_r "
            "ON ttlg_n.n_regionkey = ttlg_r.r_regionkey"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan  # sibling hint survived
        try:
            env.execute_sql(
                "SELECT /*+ STATE_TTL('ttlg_n'='fortnight') */ n_name "
                "FROM ttlg_n"
            )
            raise AssertionError("bad STATE_TTL duration must raise")
        except ValueError:
            pass
        return df
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
