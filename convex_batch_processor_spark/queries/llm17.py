"""Post-window round-4 additions, part 10 (round-5 rotation material):
CDC changelog application and the forward as-of join.

Registered last in queries/__init__.py (after llm16); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# ---------------------------------------------------------------------------
# CDC changelog apply
# ---------------------------------------------------------------------------


@register(
    "cdc_apply_changelog",
    oracle="""
    WITH log AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               event_type, value
        FROM events
    ),
    last AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM log
        ) WHERE rn = 1
    )
    SELECT user_id, event_type AS last_state, value AS last_value, ts AS updated_at
    FROM last WHERE op <> 'D'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application: collapse an upsert/delete change log to
    final table state — the MERGE a Debezium/Delta CDC feed needs on
    arrival. Here the log is derived from events ('error' rows model
    tombstones, everything else an upsert keyed by user); the op is
    latest-row-per-key with DELETE-wins-if-last semantics — the
    relational core of the reference's patch-then-delete state machine
    (lib.ts:82, 527-532, 671-692) applied as one set operation.

    One key-partitioned window (rank state O(1) per key), tombstones
    filtered AFTER the rank so a delete that is not last never
    resurrects. Scale: single shuffle on the key; composes with
    incremental_dedup_delta for the delta-vs-base variant and with
    sinks.upsert_partitioned for the write."""
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "event_type",
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    last = log.select("*", F.row_number().over(w).alias("rn")).filter(F.col("rn") == 1)
    return last.filter(F.col("op") != "D").select(
        "user_id",
        F.col("event_type").alias("last_state"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("updated_at"),
    )


# ---------------------------------------------------------------------------
# Forward as-of join
# ---------------------------------------------------------------------------


def asof_forward(ev: DataFrame, orders: DataFrame) -> DataFrame:
    """Forward as-of core over pre-loaded tables (split out so the
    same-instant tie rule is unit-testable on crafted inputs — the fixed
    testdata never collides an event timestamp with an order date)."""
    ev = ev.select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
    )
    # NULL-semantics parity with the oracle's ON o_custkey = user_id AND
    # o_orderdate > ts: SQL equality/inequality never matches NULL, but
    # Spark's partitionBy groups NULL keys into ONE partition (a NULL-key
    # event would capture NULL-custkey orders) and a NULL-ts event sorts
    # first in the t-asc window (its frame would span every order). Orders
    # without a date can never satisfy t > ts; events with a NULL key or
    # ts are masked to the oracle's no-match NULL below.
    orders = orders.filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        "o_orderkey",
        "o_orderdate",
    )
    unioned = ev.unionByName(orders)
    # t asc; at equal t ORDERS sort first (is_event asc) so a same-instant
    # order lands BEFORE the event row and falls OUTSIDE the event's
    # [current, following) frame — that is what makes the match strict
    # (o_orderdate > ts); o_orderkey asc -> first() takes the min key.
    # (The backward as-of uses the opposite tie, orders-first for an
    # INCLUSIVE <= over [preceding, current].)
    w = (
        Window.partitionBy("key")
        .orderBy(
            F.col("t").asc(), F.col("is_event").asc(), F.col("o_orderkey").asc_nulls_last()
        )
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    no_match = F.col("key").isNull() | F.col("ts").isNull()
    nxt_key = F.when(no_match, F.lit(None).cast("bigint")).otherwise(
        F.first(F.col("o_orderkey"), ignorenulls=True).over(w)
    )
    nxt_date = F.when(no_match, F.lit(None).cast("timestamp")).otherwise(
        F.first(F.col("o_orderdate"), ignorenulls=True).over(w)
    )
    return (
        unioned.select(
            "key",
            "is_event",
            "event_id",
            "ts",
            nxt_key.alias("o_orderkey"),
            nxt_date.alias("o_orderdate"),
        )
        .filter(F.col("is_event") == 1)
        .select(
            "event_id", F.col("key").alias("user_id"), "ts", "o_orderkey", "o_orderdate"
        )
    )


@register(
    "asof_join_next_order",
    oracle="""
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        FROM events e
        LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate > e.ts
    ) WHERE rn = 1
    """,
)
def asof_join_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each event, the earliest order of the same
    customer STRICTLY AFTER the event time — "what did they buy next",
    the attribution twin of asof_join_latest_order's "state at the time".

    Same union-and-window shape, mirrored: one shuffle on the key, a
    [current, following] frame with first(ignorenulls) carrying the next
    order backward; same-instant orders sort before the event row and so
    fall outside its frame (strict >, unit-tested on a crafted
    collision). Cost is O(|events| + |orders|) shuffled once — no
    row-multiplying range join."""
    return asof_forward(load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders"))
