"""Post-window round-4 additions, part 64 (round-5 rotation material):
distribution-shift metrics — exact 1-D Wasserstein distance and the
Kolmogorov-Smirnov statistic.

PSI (llm22) and chi-squared (llm22) bin before comparing; the
earth-mover and KS views need no binning in one dimension: W1 is the
area between the two empirical CDFs and KS their maximum gap, both
EXACT on the merged value grid — the drift pair that catches mean
shifts PSI's coarse bins blur and tail drifts chi-squared misses.

Registered last in queries/__init__.py (after llm69); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "ks_wasserstein_drift",
    oracle="""
    WITH ev AS (
        -- ts IS NOT NULL on BOTH sides: an event with no timestamp
        -- belongs to neither period (the bare CASE-ELSE counted it as
        -- current while Spark's NULL-skipping sums dropped it)
        SELECT value AS v,
               CASE WHEN day(ts) % 2 = 0 THEN 1 ELSE 0 END AS is_ref
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    h AS (
        SELECT v,
               CAST(SUM(is_ref) AS BIGINT) AS c1,
               CAST(SUM(1 - is_ref) AS BIGINT) AS c2
        FROM ev GROUP BY 1),
    n AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM h),
    cum AS (
        SELECT v,
               CAST(SUM(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS k1,
               CAST(SUM(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS k2,
               lead(v) OVER (ORDER BY v) AS nxt
        FROM h),
    gaps AS (
        -- one-sided splits (every event on one day parity) leave n1 or
        -- n2 at 0: the CDF gap is undefined -> NULL on both engines
        -- instead of an ANSI DIVIDE_BY_ZERO crash on the Spark side
        SELECT v,
               CASE WHEN n.n1 <> 0 AND n.n2 <> 0 THEN
                   round(abs((CAST(k1 AS DOUBLE) / n.n1)
                             - (CAST(k2 AS DOUBLE) / n.n2)), 9) END AS gap,
               CAST(nxt AS DECIMAL(18,2)) - CAST(v AS DECIMAL(18,2)) AS dv
        FROM cum CROSS JOIN n)
    SELECT n.n1 AS n_ref, n.n2 AS n_cur,
           round(CAST(MAX(gap) AS DOUBLE), 9) AS ks_stat,
           round(CAST(SUM(CAST(gap AS DECIMAL(12,9)) * dv) AS DOUBLE), 9)
               AS wasserstein
    FROM gaps CROSS JOIN n
    GROUP BY n.n1, n.n2
    """,
)
def ks_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample drift between even-day (reference) and odd-day
    (current) event values: the Kolmogorov-Smirnov statistic (max CDF
    gap) and the 1-D Wasserstein distance (area between CDFs,
    sum |F1 - F2| * dv over the merged value grid) — binning-free,
    sensitive to both location and tail shifts.

    CDF steps are exact integer cumulative counts over the (value,
    side-count) histogram; each gap is one mirrored double expression
    pinned at 9 dp; the area accumulates as (9-dp decimal gap) x
    (exact 2-dp value step) — order-free.

    Scale: one value-histogram aggregation; the cumulative window runs
    on the VALUE GRID (distinct 2-dp values), never row granularity —
    the histogram_rank discipline."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    h = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum((F.dayofmonth("ts") % 2 == 0).cast("long")).alias("c1"),
        F.sum((F.dayofmonth("ts") % 2 == 1).cast("long")).alias("c2"),
    )
    n = h.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wl = Window.orderBy("v")
    cum = h.select(
        "v",
        F.sum("c1").over(wc).cast("long").alias("k1"),
        F.sum("c2").over(wc).cast("long").alias("k2"),
        F.lead("v").over(wl).alias("nxt"),
    )
    gaps = cum.crossJoin(F.broadcast(n)).select(
        F.when(
            (F.col("n1") != 0) & (F.col("n2") != 0),
            F.round(
                F.abs(
                    (F.col("k1").cast("double") / F.col("n1"))
                    - (F.col("k2").cast("double") / F.col("n2"))
                ),
                9,
            ),
        ).alias("gap"),
        (F.col("nxt").cast("decimal(18,2)") - F.col("v").cast("decimal(18,2)")).alias(
            "dv"
        ),
        "n1",
        "n2",
    )
    return gaps.groupBy("n1", "n2").agg(
        F.round(F.max("gap").cast("double"), 9).alias("ks_stat"),
        F.round(
            F.sum(F.col("gap").cast("decimal(12,9)") * F.col("dv")).cast("double"), 9
        ).alias("wasserstein"),
    ).select(
        F.col("n1").alias("n_ref"),
        F.col("n2").alias("n_cur"),
        "ks_stat",
        "wasserstein",
    )
