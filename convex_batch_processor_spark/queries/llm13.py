"""Post-window round-4 additions, part 6 (round-5 rotation material):
interval analytics and revenue-concentration (Pareto) audit.

Registered last in queries/__init__.py (after llm12); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Inter-purchase interval distribution (exact integer microseconds)
# ---------------------------------------------------------------------------


@register(
    "repeat_purchase_interval",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               -- ts NULLS FIRST pinned on both sides (the
               -- sessionize_events class): a NULL-ts purchase changed
               -- which gap rows survive the prev_ts filter per engine
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev_ts
        FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
        SELECT user_id, date_diff('microsecond', prev_ts, ts) AS gap_us
        FROM p WHERE prev_ts IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           quantile_cont(gap_us, 0.5) AS p50_gap_us,
           quantile_cont(gap_us, 0.9) AS p90_gap_us
    FROM gaps GROUP BY 1
    """,
)
def repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per user: the distribution of gaps between
    consecutive purchases (min/median/p90/max) — the loyalty/churn-risk
    feature behind "days since expected next purchase".

    Gaps are EXACT integer microseconds (unix_micros lag difference);
    exact percentiles over integers interpolate to exact binary halves
    (the integer-cents median argument from mad_outliers), so the whole
    profile is engine-identical with no rounding epsilon.

    Scale: one user-keyed window + one user-keyed aggregate — the same
    single-key shuffle; per-user percentile state is the user's own gap
    list (bounded by purchase history, not corpus)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc()
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    gaps = p.filter(F.col("prev_ts").isNotNull()).select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.expr("percentile(gap_us, 0.5)").alias("p50_gap_us"),
        F.expr("percentile(gap_us, 0.9)").alias("p90_gap_us"),
    )


# ---------------------------------------------------------------------------
# Revenue concentration (Pareto) by price band — scale-safe banded cumsum
# ---------------------------------------------------------------------------

_PARETO_BAND_CENTS = 2_000_00  # 2000-currency-unit bands


@register(
    "revenue_pareto_bands",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    bands AS (
        SELECT cents // {_PARETO_BAND_CENTS} AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS DECIMAL(38,0)) AS rev
        FROM c GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_orders) AS BIGINT) AS n_all,
               CAST(SUM(rev) AS DECIMAL(38,0)) AS rev_all
        FROM bands
    ),
    cum AS (
        SELECT band, n_orders, rev,
               CAST(SUM(n_orders) OVER w AS BIGINT) AS cum_orders,
               CAST(SUM(rev) OVER w AS DECIMAL(38,0)) AS cum_rev
        FROM bands
        WINDOW w AS (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT band,
           n_orders,
           CAST(rev AS DOUBLE) / 100.0 AS band_revenue,
           CAST(cum_orders AS DOUBLE) / CAST(tot.n_all AS DOUBLE) AS top_order_frac,
           CAST(cum_rev AS DOUBLE) / CAST(tot.rev_all AS DOUBLE) AS top_revenue_frac
    FROM cum CROSS JOIN tot
    """,
)
def revenue_pareto_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) curve: for each price band (from
    the most expensive down), the fraction of orders above it vs the
    fraction of total revenue they carry — "the top X% of orders make Y%
    of revenue", read off band by band.

    The classic form ranks every order (a global sort); this is the
    SCALE-SAFE banded variant: orders collapse to fixed price bands
    map-side, and the only ordered computation is a cumsum over the
    BOUNDED band table (the histogram_rank / value-bounded-window
    precedent). Revenue sums are exact integer cents in decimal; the
    final fractions are single divisions of exact operands.

    (cum_rev / rev_all as DOUBLE: both decimal->double conversions are
    correctly rounded in both engines, then one IEEE division —
    deterministic.)"""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    bands = (
        c.select(F.expr(f"cents div {_PARETO_BAND_CENTS}").alias("band"), "cents")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("rev"),
        )
    )
    tot = bands.agg(
        F.sum("n_orders").cast("long").alias("n_all"),
        F.sum("rev").cast("decimal(38,0)").alias("rev_all"),
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bands.select(
        "band",
        "n_orders",
        "rev",
        F.sum("n_orders").over(w).cast("long").alias("cum_orders"),
        F.sum("rev").over(w).cast("decimal(38,0)").alias("cum_rev"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_orders",
        (F.col("rev").cast("double") / F.lit(100.0)).alias("band_revenue"),
        (F.col("cum_orders").cast("double") / F.col("n_all").cast("double")).alias(
            "top_order_frac"
        ),
        (F.col("cum_rev").cast("double") / F.col("rev_all").cast("double")).alias(
            "top_revenue_frac"
        ),
    )
