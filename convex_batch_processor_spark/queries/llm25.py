"""Post-window round-4 additions, part 18 (round-5 rotation material):
decimal-moment Pearson correlation and the histogram (scale-safe) exact
median.

Registered last in queries/__init__.py (after llm24); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "price_quantity_correlation",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)
                        * CAST(round(l_quantity) AS BIGINT)) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)
                        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0)) AS sxy
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n,
           -- DIVISION-FREE zero-variance guard (ANSI Spark throws
           -- DIVIDE_BY_ZERO on a constant column where DuckDB yields
           -- NULL); the variance terms are the same fixed IEEE ops on
           -- both engines, so the branch decision is engine-identical
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                ELSE NULL END AS pearson_r
    FROM m
    """,
)
def price_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag
    — the bivariate-dependence primitive, computed the DETERMINISTIC way:
    the five moments accumulate as EXACT integers in decimal (quantity
    units x price cents — order-free under any partitioning), and r is
    one fixed IEEE op sequence over their conversions, rounded at 6 dp.
    Spark's built-in corr() is a float accumulation whose low bits depend
    on partition order — fine for exploration, wrong for reproducible
    pipelines/oracles.

    Scale: one scan to |flags| moment rows; everything after is
    control-plane. (The moment magnitudes stay < 2^53 through sf0.1; at
    petascale, shard the moments and combine — they are associative.)"""
    li = load_table(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity"), 0).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    m = (
        li.select("l_returnflag", qc.alias("qc"), pc.alias("pc"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("qc").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("pc").cast("decimal(38,0)")).alias("sy"),
            F.sum((F.col("qc") * F.col("qc")).cast("decimal(38,0)")).alias("sxx"),
            F.sum((F.col("pc") * F.col("pc")).cast("decimal(38,0)")).alias("syy"),
            F.sum((F.col("qc") * F.col("pc")).cast("decimal(38,0)")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    denx = F.sqrt(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    deny = F.sqrt(
        nd * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    # division-free zero-variance guard on the UNsquare-rooted terms
    # (identical IEEE ops on both engines -> identical branch decision)
    varx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vary = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return m.select(
        "l_returnflag",
        "n",
        F.when(
            (varx > 0) & (vary > 0), F.round(num / (denx * deny), 6)
        ).alias("pearson_r"),
    )


@register(
    "histogram_median_price",
    oracle="""
    WITH c AS (
        -- NULL prices excluded on BOTH sides (the NOTES histogram rule):
        -- a NULL cents band sorts FIRST in Spark's cumsum window and LAST
        -- in DuckDB's, shifting which band first satisfies 2*cum >= total
        SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    hist AS (
        SELECT o_orderpriority, cents, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY 1, 2
    ),
    cum AS (
        SELECT o_orderpriority, cents, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS total
        FROM hist
    )
    SELECT o_orderpriority, total AS n_orders,
           MIN(cents) / 100.0 AS median_lower
    FROM cum WHERE 2 * cum >= total
    GROUP BY 1, 2
    """,
)
def histogram_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT lower median (type-1 quantile) of order price per priority,
    computed the SCALE-SAFE way: collapse to a per-group value HISTOGRAM
    (bounded by distinct cents, not row count), cumsum over it, and take
    the first value where 2·cum >= total. The percentile()-based medians
    (mad_outliers) hold each group's raw values on one task — correct for
    bounded groups, deadly for corpus-sized ones; this form shuffles only
    histogram rows and is how exact medians survive 100 TB (the
    histogram_rank idea applied to quantiles).

    Every step is integer arithmetic; /100.0 is the single exact-operand
    display division."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.filter(F.col("o_totalprice").isNotNull()).select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    hist = c.groupBy("o_orderpriority", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("o_orderpriority")
    cum = hist.select(
        "o_orderpriority",
        "cents",
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
        F.sum("cnt").over(wtot).cast("long").alias("total"),
    )
    return (
        cum.filter(2 * F.col("cum") >= F.col("total"))
        .groupBy("o_orderpriority", F.col("total").alias("n_orders"))
        .agg((F.min("cents") / F.lit(100.0)).alias("median_lower"))
    )
