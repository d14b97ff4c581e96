"""Session-level configuration that only shows across repeated work."""

from __future__ import annotations

from flink_spark.session import CODEGEN_CACHE_ENTRIES, janino_compiles


def test_codegen_cache_holds_a_repeating_mix(spark):
    """A mix of more than Spark's default 100 generated classes, run
    twice: the second pass must find every class in the codegen cache
    (zero Janino compiles). At 100 entries the LRU evicts the mix before
    it comes round again and both passes compile all of it."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def run_mix() -> int:
        before = janino_compiles(spark)
        for i in range(90):
            spark.range(5).selectExpr(f"id * {i + 7} + {i}").collect()
        return janino_compiles(spark) - before

    first = run_mix()
    assert first > 100
    assert run_mix() == 0
