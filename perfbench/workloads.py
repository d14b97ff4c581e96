"""The benchmark's workloads: which registry queries a pass runs, over
inputs derived from which source tables, and how many timed passes a run
makes.

Every workload is closed loop with one client: each query starts when the
previous one has finished.

Why these sizes: every run starts a JVM and pays a cold warm-up pass
(about twice a warm pass), and the benchmark's whole schedule of runs has
a fixed time budget. Run-to-run noise on a shared machine is bursty, so a
run needs several timed passes to give a steady median. The query lists
are therefore fixed subsets of the registry, each pass a few seconds long.

``batch_sql`` is chosen by measurement, not by hand: ``choose.py`` pools
traced runs of ``batch_sql_all`` (every TPC-H query and every SQL-text
query that fits a run) and picks, per group, the four queries of at most
four times the group's mean query time whose profile (layer shares of
wall time, Spark jobs and py4j calls per second) comes closest to the
whole group's.
"""

from __future__ import annotations

from dataclasses import dataclass

from inputs import TABLES as ALL_TABLES

TESTDATA = "/root/testdata"

TPCH = (
    "tpch_q1_pricing_summary", "tpch_q2_min_cost_supplier", "tpch_q3_shipping_priority",
    "tpch_q4_order_priority", "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q8_market_share", "tpch_q9_product_type_profit",
    "tpch_q10_returned_items", "tpch_q11_important_stock", "tpch_q12_shipmode_priority",
    "tpch_q13_customer_distribution", "tpch_q14_promo_effect", "tpch_q15_top_supplier",
    "tpch_q16_parts_supplier", "tpch_q17_small_quantity", "tpch_q18_large_volume_customer",
    "tpch_q19_discounted_revenue", "tpch_q20_potential_promotion",
    "tpch_q21_suppliers_waiting", "tpch_q22_global_sales_opportunity",
)

#: SQL text through ``TableEnvironment.execute_sql``: DDL/DML round-trips
#: and SELECTs with rewrites. Left out: ``ddl_delete_update_roundtrip``
#: writes a fixed path under ``/tmp``, outside the run's directory, and
#: ``sql_not_in_tuple``'s DuckDB oracle alone takes about 43 s at sf0.1.
SQL_TEXT = (
    "ddl_pk_upsert_dml", "materialized_table_refresh", "ddl_statement_set",
    "ddl_upsert_sink", "ddl_alter_partition_roundtrip", "ddl_mt_schema_roundtrip",
    "ddl_catalog_module_roundtrip", "ctas_roundtrip", "sql_not_in_disjunctive",
    "sql_quantified_any_all", "sql_quantified_correlated",
)



@dataclass(frozen=True)
class Workload:
    name: str
    source: str  # read-only source directory the inputs derive from
    tables: tuple[str, ...]  # the source tables the queries read
    queries: tuple[str, ...]
    passes: int  # timed passes a run makes at least
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_sql",
            f"{TESTDATA}/sf0.1",
            ("region", "nation", "supplier", "part", "orders", "lineitem"),
            (
                # TPC-H reads through the DataFrame API
                "tpch_q4_order_priority",
                "tpch_q14_promo_effect",
                "tpch_q17_small_quantity",
                "tpch_q20_potential_promotion",
                # SQL text through TableEnvironment.execute_sql: statement
                # set, upsert sink, partition ALTER and CTAS round-trips
                "ddl_statement_set",
                "ddl_upsert_sink",
                "ddl_alter_partition_roundtrip",
                "ctas_roundtrip",
            ),
            3,
            "TPC-H reads and SQL-text DDL/DML at sf0.1, picked to match the layer shares of "
            "all 22 TPC-H and 11 SQL-text queries (traced: 51% collect, 31% statement router, "
            "16% build)",
        ),
        Workload(
            "stream_drain",
            f"{TESTDATA}/sf0.1",
            ("events",),
            (
                "stream_tumble_agg",
                "stream_interval_join",
                "stream_dedup_first",
                "stream_topn_changelog",
            ),
            3,
            "the four headline AvailableNow drains at sf0.1: per-batch coordination and "
            "state-store commits (traced: 85% of wall in triggers); bypasses the SQL catalog",
        ),
        # Not a benchmark workload: the population ``batch_sql`` is drawn
        # from (``choose.py``).
        Workload(
            "batch_sql_all",
            f"{TESTDATA}/sf0.1",
            ALL_TABLES,
            TPCH + SQL_TEXT,
            2,
            "every TPC-H and SQL-text query batch_sql is chosen from",
        ),
        # Self-test only: cheap queries over sf0.001-derived inputs.
        Workload(
            "selftest_tiny",
            f"{TESTDATA}/sf0.001",
            ALL_TABLES,
            ("tpch_q6_forecast_revenue", "stream_dedup_first", "ctas_roundtrip"),
            2,
            "self-test: smallest inputs; one batch, one streaming and one "
            "SQL-text query",
        ),
    )
}
