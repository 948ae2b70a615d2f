"""Second analytics pack: distribution window functions, range frames,
array aggregates, GROUPING SETS, ALL-variant set ops, exact percentiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from .registry import dsum, register


@register(
    "window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ntile(4)       OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile,
           percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS pct_rank,
           cume_dist()    OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS cdist,
           dense_rank()   OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS drank
    FROM orders WHERE o_orderkey < 400
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile/percent_rank/cume_dist/
    dense_rank in one window spec (one shuffle)."""
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 400)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cdist"),
            F.dense_rank().over(w).alias("drank"),
        )
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           COUNT(*) OVER (ORDER BY o_totalprice
                          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k
    FROM orders WHERE o_orderkey < 300
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): how many orders fall
    within $10k below each order's price."""
    w = Window.orderBy(F.col("o_totalprice")).rangeBetween(-10000, Window.currentRow)
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.count(F.lit(1)).over(w).alias("n_within_10k"),
        )
    )


@register(
    "collect_list_agg",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
           COUNT(*) AS n
    FROM orders WHERE o_custkey < 40
    GROUP BY o_custkey
    """,
)
def collect_list_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregates: collect_list / collect_set (sorted, then
    serialized to a string at the result boundary so the cross-engine hash
    is type-agnostic). The reference's getAllBatchesForBaseId returns
    exactly this shape — all rows for a key as one payload
    (lib.ts:255-277)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 40)
        .groupBy("o_custkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("o_orderkey")), ",").alias("order_keys"),
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
"""


@register("grouping_sets_pricing", oracle=_GROUPING_SETS_SQL)
def grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under cube/rollup)."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "set_intersect_all",
    oracle="""
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiplicity-preserving)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return o.intersectAll(f)


@register(
    "set_except_all",
    oracle="""
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return o.exceptAll(f)


@register(
    "array_functions_pack",
    # the COALESCE-under-NULL-guard mirrors Spark's array_join: an EMPTY
    # list joins to '' (DuckDB's array_to_string returns NULL for it —
    # found by the crafted star fixture's empty-text docs) while a NULL
    # list stays NULL on both engines
    oracle="""
    WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents WHERE doc_id < 30)
    SELECT doc_id,
           len(toks) AS n_toks,
           list_contains(toks, 'the') AS has_the,
           CASE WHEN toks IS NULL THEN NULL ELSE
               COALESCE(array_to_string(list_sort(list_slice(toks, 1, 5)), ','), '')
           END AS first5_sorted,
           CASE WHEN toks IS NULL THEN NULL ELSE
               COALESCE(array_to_string(list_slice(toks, 1, 3), '-'), '')
           END AS head3,
           list_distinct(list_slice(toks, 1, 10)) IS NOT NULL AS distinct_ok,
           len(list_distinct(toks)) AS n_unique
    FROM t
    """,
)
def array_functions_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface: size/contains/slice/sort/join/distinct over
    a materialized token array (one split per row)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    base = docs.select("doc_id", toks.alias("toks"))
    return base.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.array_contains("toks", "the").alias("has_the"),
        F.array_join(F.sort_array(F.slice("toks", 1, 5)), ",").alias("first5_sorted"),
        F.array_join(F.slice("toks", 1, 3), "-").alias("head3"),
        F.array_distinct(F.slice("toks", 1, 10)).isNotNull().alias("distinct_ok"),
        F.size(F.array_distinct("toks")).alias("n_unique"),
    )


@register(
    "exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q1_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolating) percentiles — the small-data twin of
    approx_stats' GK sketches; both engines interpolate identically on the
    same sorted doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
        F.expr("percentile(l_quantity, 0.25)").alias("q1_qty"),
    )
