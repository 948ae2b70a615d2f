"""Post-window round-4 additions, part 16 (round-5 rotation material):
telemetry debounce and longest-streak (gaps-and-islands) analytics.

Registered last in queries/__init__.py (after llm22); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


_DEBOUNCE_S = 300  # suppress same-type repeats within 5 minutes


@register(
    "event_debounce",
    oracle=f"""
    WITH seq AS (
        SELECT event_id, user_id, event_type, ts,
               -- ts NULLS FIRST pinned on both sides (the
               -- sessionize_events class): a NULL-ts event changed which
               -- rows pass the debounce filter per engine
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts NULLS FIRST, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM seq
    WHERE prev_ts IS NULL
       OR date_diff('microsecond', prev_ts, ts) > {_DEBOUNCE_S} * 1000000
    """,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: drop same-(user, type) events arriving within
    {_DEBOUNCE_S}s of the PREVIOUS KEPT-OR-DROPPED event — the standard
    double-fire/retry suppressor for instrumentation streams (distinct
    from exact-id dedup: these are legitimate distinct events, just too
    close together).

    Note the semantics deliberately used here: the gap test is against
    the immediately preceding RAW event (one lag window — exactly
    SQL-expressible and engine-exact on integer microseconds). The
    alternative "anchor on last KEPT event" is a sequential fold — that
    variant is the recursive-CTE/applyInPandas pattern token_pack_greedy
    demonstrates.

    Scale: one (user, type)-keyed window, no other shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc()
    )
    prev = F.lag("ts").over(w)
    return (
        ev.select("event_id", "user_id", "event_type", "ts", prev.alias("prev_ts"))
        .filter(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros("ts") - F.unix_micros("prev_ts")
                > _DEBOUNCE_S * 1_000_000
            )
        )
        .select("event_id", "user_id", "event_type", "ts")
    )


@register(
    "longest_active_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                          AS INTEGER) AS anchor
        FROM days
    ),
    runs AS (
        SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len,
               MIN(day) AS streak_start, MAX(day) AS streak_end
        FROM grp GROUP BY 1, 2
    )
    SELECT user_id, len AS streak_days, streak_start, streak_end FROM (
        -- streak_start NULLS FIRST pinned on both sides: a NULL-ts
        -- event casts to a NULL day/run, which won len ties on one
        -- engine only
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY len DESC, streak_start ASC NULLS FIRST) AS rk
        FROM runs
    ) WHERE rk = 1
    """,
)
def longest_active_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (earliest streak
    on ties) — the engagement metric behind "N-day streak" product
    features, and the canonical GAPS-AND-ISLANDS identity: consecutive
    days share ``day - row_number()`` (an exact integer-date anchor), so
    runs fall out of one groupBy with no self-join and no iteration.

    Scale: distinct (user, day) bounds the working set at users x days;
    both windows and the rollup key on user_id (uniform)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    runs = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start").asc_nulls_first()
    )
    return (
        runs.select("*", F.row_number().over(wr).alias("rk"))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("len").alias("streak_days"),
            "streak_start",
            "streak_end",
        )
    )
