"""Dataflow/state-machine-shaped named queries (SURVEY.md §2.1 S10-S11,
§2.9) runnable on the driver tables, plus Spark-idiomatic stream-window
forms of D1 expressed as batch queries (same plan shapes as their
readStream twins — see tests/test_streaming_windows.py for the streaming
execution of the identical aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import dsum, register


@register(
    "s11_delete_anti_join",
    oracle="""
    WITH doomed AS (
        SELECT event_id FROM (
            SELECT event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn > 1
    )
    SELECT e.event_id, e.user_id, e.event_type FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM doomed d WHERE d.event_id = e.event_id)
    """,
)
def s11_delete_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: DELETE as an anti-join rewrite — survivors = state ∖ doomed.

    The reference deletes rows in per-row loops (lib.ts:684-692); the
    engine's immutable-storage equivalent is: compute the doomed set (the
    W1 retention rank), anti-join, overwrite. This query returns the
    surviving state (here: newest event per user)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    doomed = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("event_id")
    )
    return ev.join(doomed, "event_id", "left_anti").select("event_id", "user_id", "event_type")


@register(
    "s10_state_upsert",
    oracle="""
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN 'patched' ELSE o.o_orderstatus END AS o_orderstatus,
           COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice
    FROM orders o
    FULL OUTER JOIN (
        SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderstatus = 'P'
    ) n ON n.o_orderkey = o.o_orderkey
    """,
)
def s10_state_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: status/progress patch as a MERGE-style upsert — full-outer join
    of current state with a patch set, COALESCE per column (the Delta MERGE
    emulation; reference patches rows in place, lib.ts:527-532 et al).

    Scale: both sides shuffle on the key once; with Delta/Iceberg this
    becomes a real MERGE with file skipping — the logical shape is
    identical."""
    orders = load_table(spark, sf_dir, "orders")
    patch = (
        orders.filter(F.col("o_orderstatus") == "P")
        .select("o_orderkey", (F.col("o_totalprice") * 1.1).alias("p_totalprice"))
    )
    cur = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    joined = cur.join(patch, "o_orderkey", "full_outer")
    return joined.select(
        F.col("o_orderkey"),
        F.when(F.col("p_totalprice").isNotNull(), "patched")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.coalesce("p_totalprice", "o_totalprice").alias("o_totalprice"),
    )


@register(
    "tumbling_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 Spark-idiomatic: tumbling event-time window aggregation
    (``F.window`` — identical semantics under readStream + watermark; the
    streaming twin runs in tests/test_streaming_windows.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "sliding_window_counts",
    oracle="""
    WITH offsets AS (SELECT UNNEST([0, 12]) AS off_h),
    slid AS (
        SELECT time_bucket(INTERVAL '1 day', ts - to_hours(off_h)) + to_hours(off_h) AS window_start,
               event_id, value
        FROM events, offsets
    )
    SELECT window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM slid GROUP BY 1
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1-day window, 12-h slide): each event
    lands in 2 overlapping windows (Spark expands them map-side — no
    self-join)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@register("approx_stats")  # rows-only: HLL/GK sketches differ across engines
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — approx_count_distinct (HyperLogLog++) and
    percentile_approx (GK sketch): the 100 TB substitutes for exact
    distinct/median. Engine-specific sketch values → rows-only check;
    tests assert error bounds against exact values."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "f6_null_coalesce_guards",
    oracle="""
    SELECT o.o_orderkey,
           COALESCE(li.n, 0) AS item_count,
           CASE WHEN li.n IS NULL THEN 'empty'
                WHEN li.n >= 5 THEN 'large' ELSE 'small' END AS batch_class,
           COALESCE(li.first_ship, TIMESTAMP '1990-01-01') AS first_ship
    FROM orders o
    LEFT JOIN (SELECT l_orderkey, COUNT(*) AS n, MIN(l_shipdate) AS first_ship
               FROM lineitem GROUP BY l_orderkey) li
      ON li.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 300
    """,
)
def f6_null_coalesce_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: ?? null-coalescing + ternary guards (lib.ts:61,104,363,513…)
    as COALESCE / CASE over an outer join's null side."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("l_shipdate").alias("first_ship"))
    )
    j = orders.select("o_orderkey").join(li, "o_orderkey", "left")
    return j.select(
        "o_orderkey",
        F.coalesce("n", F.lit(0)).alias("item_count"),
        F.when(F.col("n").isNull(), "empty")
        .when(F.col("n") >= 5, "large")
        .otherwise("small")
        .alias("batch_class"),
        F.coalesce("first_ship", F.lit("1990-01-01").cast("timestamp")).alias("first_ship"),
    )
