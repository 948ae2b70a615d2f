"""Post-window round-4 additions, part 34 (round-5 rotation material):
functional-dependency profiling over the orders table.

Registered last in queries/__init__.py (after llm40); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# candidate FDs lhs -> rhs over orders: the key ones hold, the rest are
# expected to be violated — the point is MEASURING, not assuming
_FD_PAIRS = [
    ("o_orderkey", "o_custkey"),
    ("o_orderkey", "o_orderstatus"),
    ("o_custkey", "o_orderstatus"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
]


def _fd_sql(lhs: str, rhs: str) -> str:
    return f"""
        SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
               CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_groups,
               CAST(MAX(nd) AS BIGINT) AS max_rhs_per_lhs
        FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS nd
              FROM orders GROUP BY 1)"""


@register(
    "functional_dependency_check",
    oracle=" UNION ALL ".join(_fd_sql(l, r) for l, r in _FD_PAIRS),
)
def functional_dependency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (the Metanome/data-profiling
    primitive behind key discovery and normalization audits): for each
    candidate lhs -> rhs, how many lhs groups exist, how many map to
    more than one rhs value (violations), and the worst fan-out. An FD
    HOLDS iff n_violating_groups = 0 — here the orderkey-led candidates
    hold (it is the key) and the custkey/priority-led ones measure real
    violation mass instead of assuming it.

    Scale: one (lhs, rhs) distinct-pair aggregation + one lhs rollup per
    candidate — each candidate is an independent inverted count, shuffle
    keyed on lhs, each pruning the scan to its two columns. NEVER
    persist() the raw table here: caching a BASE table's plan hijacks
    every other query's scan of it in a shared session (pushed filters
    stop reaching parquet — caught by the plan-contract suite)."""
    orders = load_table(spark, sf_dir, "orders")
    parts = []
    for lhs, rhs in _FD_PAIRS:
        g = (
            orders.groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("nd"))
            .agg(
                F.count(F.lit(1)).alias("n_lhs_groups"),
                F.sum((F.col("nd") > 1).cast("long")).alias("n_violating_groups"),
                F.max("nd").cast("long").alias("max_rhs_per_lhs"),
            )
            .select(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_lhs_groups",
                "n_violating_groups",
                "max_rhs_per_lhs",
            )
        )
        parts.append(g)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _hll_accuracy_oracle() -> str:
    from ..llmops.sketches import hll_oracle_ctes

    return f"""
    WITH src AS (
        SELECT 'o_custkey' AS g, CAST(o_custkey AS VARCHAR) AS k FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'o_orderstatus', o_orderstatus FROM orders
    ),
    {hll_oracle_ctes("k", "g", "src")},
    exact AS (
        SELECT g, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_distinct
        FROM src GROUP BY 1
    )
    SELECT e.g AS column_name, e.exact_distinct,
           round(h.hll_est, 6) AS hll_est,
           round(abs(h.hll_est - e.exact_distinct) / e.exact_distinct, 6)
               AS rel_error,
           CAST(h.zero_registers AS BIGINT) AS zero_registers
    FROM exact e JOIN hll_agg h ON h.grp = e.g
    """


@register("hll_accuracy_profile", oracle=_hll_accuracy_oracle())
def hll_accuracy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for cardinality profiling: per column of
    orders (a key-like BIGINT, a 5-value enum, a 3-value enum), the HLL
    estimate next to the exact distinct count and the relative error —
    the low-cardinality columns exercise the linear-counting branch, the
    key column the raw estimator, so ONE query validates both regimes
    (the quantile-accuracy twin for distinct counts).

    Scale: the three columns union into one (column, key) stream -> one
    register shuffle (<= 3*256 rows survive partial agg); the exact side
    is a distinct per column — the expensive half a production profiler
    would REPLACE with the sketch."""
    from ..llmops.sketches import hll_estimate_from_registers, hll_registers

    orders = load_table(spark, sf_dir, "orders")
    srcs = []
    for colname in ("o_custkey", "o_orderpriority", "o_orderstatus"):
        srcs.append(
            orders.select(
                F.lit(colname).alias("g"), F.col(colname).cast("string").alias("k")
            )
        )
    src = srcs[0].unionByName(srcs[1]).unionByName(srcs[2]).persist()
    est = hll_estimate_from_registers(
        hll_registers(src, "k", ["g"]), ["g"]
    )
    exact = src.groupBy("g").agg(F.countDistinct("k").alias("exact_distinct"))
    return (
        exact.join(est, "g")
        .select(
            F.col("g").alias("column_name"),
            "exact_distinct",
            F.round(F.col("hll_est"), 6).alias("hll_est"),
            F.round(
                F.abs(F.col("hll_est") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_error"),
            F.col("zero_registers").cast("long").alias("zero_registers"),
        )
    )
