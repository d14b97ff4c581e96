"""Single-node double-array literals for large constant operands.

Plans that inline big constant arrays (PQ codebooks, k-means centroids,
LSH hyperplanes) pay plan-ANALYSIS cost proportional to the expression
tree size, and a Dataset chain re-analyzes the whole tree at every
downstream operator (and foreachBatch operators re-plan every
micro-batch). The obvious spellings all leave O(elements) nodes in the
analyzed tree:

  - ``CAST('0.1' AS DOUBLE)`` per element (pre-r13s3): ~212 ms per
    analysis at 8×64 doubles on the bench box;
  - ``F.lit(nested_list)``: PySpark desugars a list to
    ``array(*[lit(x) …])`` — one py4j ROUND TRIP per element (~1.8 s
    construction for 1024 elements under gVisor) and the same
    O(elements) CreateArray tree;
  - a ``0.1D``-suffix ``F.expr`` string: one round trip and ~2× fewer
    nodes, but still O(elements) per analysis.

:func:`double_array_lit` instead materializes the value as ONE Catalyst
``Literal`` node: build the ``D``-suffix SQL text (``repr`` round-trips
every IEEE double exactly, and the double-literal parse is
correctly-rounded — verified bitwise including ±0.0/denormals), let one
tiny ``spark.sql`` statement parse+fold it, and lift the folded
``Literal`` out of the optimized plan into a Column. Analysis of plans
embedding it no longer walks per-element nodes (~41 ms for the same
ranking tree), construction is one round trip (~0.1-0.2 s, memoized on
content), and EXECUTION is identical — the optimizer constant-folded
the old trees to exactly this Literal anyway.

Only the literal's representation changes, never its value: the same
doubles, in the same array structure, compared bitwise in
tests/test_construction_equiv.py. (One representational nuance: the old
``CAST('-0.0' AS DOUBLE)`` normalized to +0.0 while a ``-0.0D`` literal
preserves the sign. Every shipped consumer folds these operands through
squared differences, products-into-sums or equality-on-results, where
±0.0 are indistinguishable; trained codebooks/centroids are checked to
carry no -0.0 on the test corpus.)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

#: content-keyed memo of constructed literal Columns (expressions only —
#: never row data; the values are plan-time constants by definition)
_LIT_MEMO: dict[str, Column] = {}


def _d_suffix_sql(value) -> str:
    """``value`` (arbitrarily nested lists of floats) as a SQL array
    literal with ``D``-suffixed elements. Infinities and NaN have no
    such literal (``infD`` parses as a column name), so they raise here
    instead of failing later as an unresolved column."""
    if isinstance(value, (list, tuple)):
        return "array(" + ",".join(_d_suffix_sql(x) for x in value) + ")"
    x = float(value)
    if not math.isfinite(x):
        raise ValueError(
            f"double_array_lit: non-finite value {x!r} has no SQL literal"
        )
    return f"{x!r}D"


def double_array_lit(spark: SparkSession, value) -> Column:
    """``value`` (nested lists of doubles) as a single-``Literal``-node
    Column, memoized on content. Falls back to the plain parsed-string
    form (same values, O(elements) tree) if the classic-mode internals
    ever move."""
    sql = _d_suffix_sql(value)
    col = _LIT_MEMO.get(sql)
    if col is not None:
        return col
    try:
        alias = (
            spark.sql("SELECT " + sql + " AS v")
            ._jdf.queryExecution().optimizedPlan().expressions().apply(0)
        )
        lit = alias.child()  # ConstantFolding left Alias(Literal, "v")
        if not lit.getClass().getSimpleName() == "Literal":
            raise ValueError("constant folding did not yield a Literal")
        jc = spark._jvm.org.apache.spark.sql.classic.ExpressionUtils.column(
            lit
        )
        col = Column(jc)
    except Exception:  # pragma: no cover - version-drift fallback
        col = F.expr(sql)
    _LIT_MEMO[sql] = col
    return col
