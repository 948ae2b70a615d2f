"""Post-window round-4 additions, part 65 (round-5 rotation material):
time-series diagnostics — the autocorrelation function and CUSUM
change-point detection.

MASE (llm53) asks "is it seasonal?"; the ACF answers WHICH lag carries
the signal, and CUSUM locates WHERE the level shifted — the two
diagnostics a pipeline-metric monitor runs before choosing a model or
blaming a deploy.

Registered last in queries/__init__.py (after llm70); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_MAX_LAG = 7

# ts IS NOT NULL: an event with no timestamp has no day — and a NULL
# day bucket would sort first in Spark's cumulative window but last in
# DuckDB's, shifting every CUSUM position (autocorrelation is immune —
# its lag equi-join never matches NULL — but shares the CTE)
_DAILY_SQL = """
    daily AS (
        SELECT day(ts) AS d,
               CAST(SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2))) AS DECIMAL(18,2))
                   AS v
        FROM events WHERE ts IS NOT NULL GROUP BY 1)
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return ev.groupBy(F.dayofmonth("ts").alias("d")).agg(
        F.sum(F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("v")
    )


@register(
    "daily_autocorrelation",
    oracle=f"""
    WITH {_DAILY_SQL},
    lags AS (SELECT unnest(range(1, {_MAX_LAG + 1})) AS lag),
    pairs AS (
        SELECT l.lag, a.v AS x, b.v AS y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.d = a.d + l.lag),
    m AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM pairs GROUP BY 1)
    SELECT CAST(lag AS INTEGER) AS lag, n AS n_pairs,
           CASE WHEN (sxx - ((sx * sx) / nd)) > 0
                 AND (syy - ((sy * sy) / nd)) > 0
                THEN round((sxy - ((sx * sy) / nd))
                     / sqrt((sxx - ((sx * sx) / nd))
                            * (syy - ((sy * sy) / nd))), 9)
           END AS acf
    FROM m
    """,
)
def daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the daily value series at lags 1..{_MAX_LAG}: Pearson
    correlation between the series and its lagged self from exact
    decimal moments (a spike at lag 7 confirms the weekly cycle MASE
    infers). The llm44/llm51 recipe — exact sums, one fixed IEEE
    expression per lag, IEEE sqrt.

    Scale: one daily aggregation; the lag joins run on the bounded
    30-row series x {_MAX_LAG} lags."""
    daily = _daily(spark, sf_dir).persist()
    lags = daily.sparkSession.range(1, _MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select(F.col("d").alias("da"), F.col("v").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("v").alias("y"))
    pairs = (
        lags.crossJoin(a)
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .select("lag", "x", "y")
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    c = F.col
    varx = c("sxx") - ((c("sx") * c("sx")) / c("nd"))
    vary = c("syy") - ((c("sy") * c("sy")) / c("nd"))
    acf = (c("sxy") - ((c("sx") * c("sy")) / c("nd"))) / F.sqrt(varx * vary)
    return m.select(
        c("lag").cast("int").alias("lag"),
        c("n").alias("n_pairs"),
        # degenerate lags (constant or single-pair series) are undefined:
        # NULL on both engines (ANSI Spark would otherwise throw on /0)
        F.when((varx > 0) & (vary > 0), F.round(acf, 9)).alias("acf"),
    )


@register(
    "cusum_changepoint",
    oracle=f"""
    WITH {_DAILY_SQL},
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS DOUBLE) AS sv
        FROM daily),
    cum AS (
        SELECT d,
               CAST(SUM(v) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS cv,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
        FROM daily),
    dev AS (
        SELECT d, t,
               round(cv - (t * (st.sv / st.n)), 9) AS s
        FROM cum CROSS JOIN st)
    SELECT * FROM (
        SELECT
            (SELECT d FROM dev ORDER BY abs(s) DESC, d LIMIT 1) AS change_day,
            (SELECT CAST(t AS INTEGER) FROM dev ORDER BY abs(s) DESC, d LIMIT 1)
                AS change_pos,
            round((SELECT MAX(abs(s)) FROM dev), 9) AS max_cusum,
            (SELECT n FROM st) AS n_days)
    -- zero rows on an empty corpus, matching the Spark side's empty
    -- limit(1) crossJoin (bare scalar subqueries always emit one row)
    WHERE (SELECT COUNT(*) FROM dev) > 0
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimate: S_t = sum_1..t v_i - t * mean peaks
    at the most likely level-shift position (the classic offline
    changepoint statistic); the query reports the argmax day (min-day
    tie-break), its position, and the peak deviation.

    Cumulative sums are exact decimals cast once; the mean term is one
    mirrored double product; the argmax is a deterministic
    TakeOrdered(1) over the 30-row series.

    Scale: one daily aggregation + bounded-series windows."""
    daily = _daily(spark, sf_dir).persist()
    st = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("double").alias("sv"),
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "d",
        F.sum("v").over(wc).cast("double").alias("cv"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
    )
    dev = cum.crossJoin(F.broadcast(st)).select(
        "d",
        "t",
        "n",
        F.round(
            F.col("cv") - (F.col("t") * (F.col("sv") / F.col("n"))), 9
        ).alias("s"),
    )
    dev = dev.persist()
    peak = dev.orderBy(F.abs(F.col("s")).desc(), F.col("d").asc()).limit(1).select(
        F.col("d").alias("change_day"), F.col("t").cast("int").alias("change_pos")
    )
    mx = dev.agg(
        F.round(F.max(F.abs(F.col("s"))), 9).alias("max_cusum"),
        F.max("n").alias("n_days"),
    )
    return peak.crossJoin(F.broadcast(mx)).select(
        "change_day", "change_pos", "max_cusum", "n_days"
    )
