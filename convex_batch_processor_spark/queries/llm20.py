"""Post-window round-4 additions, part 13 (round-5 rotation material):
time-series feature engineering for forecasting.

Registered last in queries/__init__.py (after llm19); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "ts_feature_matrix",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    span AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
    grid AS (
        SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM span),
    filled AS (
        SELECT g.event_type, g.day, COALESCE(d.n, 0) AS n
        FROM grid g LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day)
    SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
           CAST(lag(n, 1) OVER w AS BIGINT) AS lag_1d,
           CAST(lag(n, 7) OVER w AS BIGINT) AS lag_7d,
           CASE WHEN COUNT(*) OVER tw = 7
                THEN CAST(SUM(n) OVER tw AS BIGINT) END AS trail7_sum,
           CAST(isodow(day) - 1 AS INTEGER) AS dow
    FROM filled
    WINDOW w AS (PARTITION BY event_type ORDER BY day),
           tw AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    """,
)
def ts_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting feature matrix: per (event type, day) over the
    ZERO-FILLED grid — target count, 1-day and 7-day (same-weekday) lags,
    the trailing-week sum (full windows only, nulls at the warm-up edge
    rather than silently-partial sums), and day-of-week — the standard
    supervised-learning table a demand-forecast model trains on. Lags are
    only correct on a gap-filled series: on a sparse one, lag(1) means
    "previous row", not "yesterday".

    All features are exact integers; dow uses Monday=0 on both engines
    (Spark weekday == DuckDB isodow - 1 — engines disagree on the default
    dayofweek origin, which is exactly the off-by-one a feature pipeline
    must pin down).

    Scale: the one corpus-scale op is the (type, day) rollup; windows run
    type-partitioned over the bounded grid."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "event_type", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    filled = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    tw = w.rowsBetween(-7, -1)
    return filled.select(
        "event_type",
        "day",
        F.col("n").alias("n_events"),
        F.lag("n", 1).over(w).cast("long").alias("lag_1d"),
        F.lag("n", 7).over(w).cast("long").alias("lag_7d"),
        F.when(F.count(F.lit(1)).over(tw) == 7, F.sum("n").over(tw).cast("long")).alias(
            "trail7_sum"
        ),
        F.weekday("day").alias("dow"),
    )
