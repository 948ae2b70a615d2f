"""Post-window round-4 additions, part 19 (round-5 rotation material):
Wilson-interval rate ranking and the time-bounded window funnel.

Registered last in queries/__init__.py (after llm25); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


_Z = 1.959964  # ~97.5th normal quantile, fixed literal on both engines


@register(
    "ctr_wilson_bounds",
    oracle=f"""
    WITH c AS (
        SELECT user_id,
               CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
               CAST(COUNT(*) FILTER (WHERE event_type IN ('view', 'click')) AS BIGINT)
                   AS interactions
        FROM events GROUP BY 1
    )
    SELECT user_id, interactions, clicks,
           CAST(clicks AS DOUBLE) / CAST(interactions AS DOUBLE) AS click_share,
           round((CAST(clicks AS DOUBLE) / CAST(interactions AS DOUBLE)
                  + {_Z!r} * {_Z!r} / (2.0 * CAST(interactions AS DOUBLE))
                  - {_Z!r} * sqrt((CAST(clicks AS DOUBLE) / CAST(interactions AS DOUBLE))
                                  * (1.0 - CAST(clicks AS DOUBLE) / CAST(interactions AS DOUBLE))
                                  / CAST(interactions AS DOUBLE)
                                  + {_Z!r} * {_Z!r}
                                    / (4.0 * CAST(interactions AS DOUBLE)
                                       * CAST(interactions AS DOUBLE))))
                 / (1.0 + {_Z!r} * {_Z!r} / CAST(interactions AS DOUBLE)), 9)
               AS wilson_lower
    FROM c WHERE interactions > 0
    """,
)
def ctr_wilson_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click share per user (clicks over view+click interactions — a
    true proportion in [0, 1]) with the WILSON score lower bound — the
    correct way to rank rates with unequal sample sizes (the raw-ratio
    ranking puts a 1/1 user above a 95/100 user; the lower bound does
    not). The standard "sort by lower confidence bound" primitive for
    CTR/conversion/review ranking.

    Determinism: counts are exact ints; the Wilson formula is one fixed
    sequence of IEEE ops (sqrt included — correctly rounded) written
    identically on both engines, rounded once at 9 dp.

    Scale: one user-keyed count aggregation; scoring is map-side."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "click").alias("clicks"),
        F.count_if(F.col("event_type").isin("view", "click")).alias("interactions"),
    )
    n = F.col("interactions").cast("double")
    p = F.col("clicks").cast("double") / n
    z2 = _Z * _Z
    wilson = (
        p + F.lit(z2) / (2.0 * n)
        - _Z * F.sqrt(p * (F.lit(1.0) - p) / n + F.lit(z2) / (4.0 * n * n))
    ) / (F.lit(1.0) + F.lit(z2) / n)
    return c.filter(F.col("interactions") > 0).select(
        "user_id",
        "interactions",
        "clicks",
        p.alias("click_share"),
        F.round(wilson, 9).alias("wilson_lower"),
    )


_FUNNEL_WINDOW_S = 3600  # each next stage within 1h of the previous


@register(
    "window_funnel_depth",
    oracle=f"""
    WITH t1 AS (
        SELECT user_id, MIN(ts) AS ts1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    t2 AS (
        SELECT e.user_id, MIN(e.ts) AS ts2
        FROM events e JOIN t1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > t1.ts1
          AND epoch_us(e.ts) <= epoch_us(t1.ts1) + CAST({_FUNNEL_WINDOW_S} AS BIGINT) * 1000000
        GROUP BY 1
    ),
    t3 AS (
        SELECT e.user_id, MIN(e.ts) AS ts3
        FROM events e JOIN t2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
          AND epoch_us(e.ts) <= epoch_us(t2.ts2) + CAST({_FUNNEL_WINDOW_S} AS BIGINT) * 1000000
        GROUP BY 1
    )
    SELECT t1.user_id,
           CAST(1 + (t2.user_id IS NOT NULL)::INT + (t3.user_id IS NOT NULL)::INT
                AS INTEGER) AS funnel_depth,
           t1.ts1 AS view_ts, t2.ts2 AS click_ts, t3.ts3 AS purchase_ts
    FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
    """,
)
def window_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel (ClickHouse windowFunnel semantics): per user,
    how deep the view -> click -> purchase chain progresses when each
    next stage must land within {_FUNNEL_WINDOW_S}s of the previous
    stage's first occurrence — the intent-attribution form of
    funnel_conversion, whose unbounded chain credits conversions days
    later.

    Deterministic: stage anchors are MINs, the window test is exact
    integer microseconds (epoch_us == unix_micros). Scale: three
    user-keyed aggregations/joins on the same key, each stage's input
    pre-filtered by type before the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    win_us = _FUNNEL_WINDOW_S * 1_000_000
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(
            (F.col("ts") > F.col("ts1"))
            & (F.unix_micros("ts") <= F.unix_micros("ts1") + win_us)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(
            (F.col("ts") > F.col("ts2"))
            & (F.unix_micros("ts") <= F.unix_micros("ts2") + win_us)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts3"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("ts2").isNotNull().cast("int")
                + F.col("ts3").isNotNull().cast("int")
            ).alias("funnel_depth"),
            F.col("ts1").alias("view_ts"),
            F.col("ts2").alias("click_ts"),
            F.col("ts3").alias("purchase_ts"),
        )
    )
