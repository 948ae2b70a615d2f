"""Post-window round-4 additions, part 20 (round-5 rotation material):
OLS linear trend as a deterministic distributed aggregate.

Registered last in queries/__init__.py (after llm26); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "ols_trend_daily_revenue",
    oracle="""
    WITH d0 AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS d FROM orders),
    daily AS (
        SELECT CAST(date_diff('day', d0.d, CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        FROM orders CROSS JOIN d0 GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy
        FROM daily
    )
    SELECT n,
           -- DIVISION-FREE degenerate guards (ANSI Spark throws
           -- DIVIDE_BY_ZERO where DuckDB yields NULL): a single-date
           -- corpus zeroes varx; constant daily revenue zeroes vary
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
                ELSE NULL END AS slope_cents_per_day,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
                ELSE NULL END AS r_squared
    FROM m
    """,
)
def ols_trend_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of daily revenue over time (slope in cents/day
    + R^2) — "is revenue growing, and how linearly" as ONE distributed
    aggregate: regression needs only five moments (n, Sx, Sy, Sxx, Syy,
    Sxy), which accumulate associatively — the same shape MLlib's
    summarizers use, here with EXACT integer/decimal moments (the
    price_quantity_correlation recipe) so the fit is bit-reproducible
    across engines and partitionings. regr_slope()/corr() built-ins
    float-accumulate and are partition-order-dependent.

    Scale: one scan -> per-day rollup (bounded by the date span) -> one
    moment row; slope and R^2 are fixed IEEE op sequences rounded at 9
    dp."""
    orders = load_table(spark, sf_dir, "orders")
    d0 = orders.agg(F.min(F.col("o_orderdate").cast("date")).alias("d"))
    daily = (
        orders.crossJoin(F.broadcast(d0))
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d"))
            .cast("long")
            .alias("x")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        # y*y overflows BIGINT (cents-per-day squared): widen through a
        # narrow decimal so the product stays exact (decimal(19)x(19)=(38))
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    num = nd * sxy - sx * sy
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    # division-free degenerate guards (identical IEEE ops on both engines
    # -> identical branch decision): single-date corpus / constant revenue
    return m.select(
        "n",
        F.when(varx > 0, F.round(num / varx, 9)).alias("slope_cents_per_day"),
        F.when(
            (varx > 0) & (vary > 0), F.round((num * num) / (varx * vary), 9)
        ).alias("r_squared"),
    )
