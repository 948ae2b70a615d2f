"""Post-window round-4 additions, part 42 (round-5 rotation material):
sweep-line interval aggregation, training-batch padding economics, and a
partition-skew audit.

- ``peak_concurrency_by_user`` is the classic sweep-line (+1/-1 event
  points, running sum) — the interval-AGGREGATION family the pairwise
  interval join (operators/rangejoin) does not cover.
- ``padding_waste_buckets`` prices the padding overhead of
  length-bucketed training batches — the efficiency metric that decides
  bucket boundaries for sequence packing.
- ``partition_skew_audit`` measures hash-partition balance with the
  portable md5-bucket recipe — the operational pre-check before keying
  a 100 TB shuffle on a column.

Registered last in queries/__init__.py (after llm48); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_HOLD_S = 300  # each event holds a session slot for 5 minutes


@register(
    "peak_concurrency_by_user",
    oracle=f"""
    WITH pts AS (
        SELECT user_id, ts AS t, 1 AS d, event_id FROM events
        UNION ALL
        SELECT user_id, ts + INTERVAL {_HOLD_S} SECOND, -1, event_id FROM events),
    run AS (
        SELECT user_id,
               CAST(SUM(d) OVER (PARTITION BY user_id
                    ORDER BY t, d, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
        FROM pts),
    pk AS (SELECT user_id, CAST(MAX(c) AS INTEGER) AS peak FROM run GROUP BY 1)
    SELECT peak, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM pk GROUP BY 1
    """,
)
def peak_concurrency_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: each event holds a slot for
    {_HOLD_S} s; the peak number of simultaneously-open slots per user is
    the max of a running +1/-1 sum over the time-ordered endpoint stream
    — the textbook interval-aggregation algorithm (room scheduling, max
    concurrent sessions, license counting), distributed per key.

    Endpoint ties are pinned: at an instant where one slot closes and
    another opens, the close (-1) sorts first (half-open [t, t+hold)
    intervals), then event_id — the running sum, and therefore the peak,
    is fully deterministic in both engines with integer-only state.

    Scale: one user-keyed shuffle of 2x|events| endpoint rows; the
    running sum is O(1) window state per key, and the output collapses
    to the bounded peak histogram."""
    ev = load_table(spark, sf_dir, "events")
    opens = ev.select(
        "user_id", F.col("ts").alias("t"), F.lit(1).alias("d"), "event_id"
    )
    closes = ev.select(
        "user_id",
        (F.col("ts") + F.expr(f"INTERVAL {_HOLD_S} SECOND")).alias("t"),
        F.lit(-1).alias("d"),
        "event_id",
    )
    pts = opens.unionByName(closes)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("user_id", F.sum("d").over(w).cast("long").alias("c"))
    pk = run.groupBy("user_id").agg(F.max("c").cast("int").alias("peak"))
    return pk.groupBy("peak").agg(F.count(F.lit(1)).cast("long").alias("n_users"))


_BUCKETS = [64, 128, 256, 512, 1024]  # right-closed length-bucket bounds
_MAX_LEN = _BUCKETS[-1]


@register(
    "padding_waste_buckets",
    oracle=f"""
    WITH lens AS (
        -- coalesce BEFORE least: both engines' least() skips NULLs, so
        -- a NULL-text tombstone would count as a MAXIMAL {_MAX_LEN}-token
        -- document instead of an all-padding empty one (token_pack_greedy
        -- pins the same row as 0 tokens)
        SELECT least(coalesce(len(list_filter(string_split(text, ' '),
                                              x -> x <> '')), 0),
                     {_MAX_LEN}) AS n
        FROM documents),
    b AS (
        SELECT n,
               CASE WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                    WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
                    ELSE 1024 END AS bucket
        FROM lens)
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS real_tokens,
           CAST(SUM(bucket - n) AS BIGINT) AS pad_tokens,
           CAST(SUM(bucket - n) AS BIGINT)
                 / CAST(COUNT(*) * bucket AS DOUBLE) AS pad_frac
    FROM b GROUP BY bucket
    """,
)
def padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch padding economics: documents are truncated at
    {_MAX_LEN} tokens and assigned to the smallest length bucket
    {_BUCKETS}; per bucket the query reports real vs padding tokens and
    the padded fraction — the metric that justifies (or indicts) a
    bucket layout before sequence packing (token_pack_* are the cure;
    this is the diagnosis).

    Integer-only until the final mirrored double division — emitted
    UNROUNDED (rule 14: rounding an exact-integer ratio lands on .5e-9
    ties the engines break differently; the raw division is bit-exact).

    Scale: per-row map + one bounded-key aggregation; the token count
    never leaves the map side."""
    docs = load_table(spark, sf_dir, "documents")
    # coalesce mirrors the oracle: a NULL text is 0 real tokens
    n = F.least(
        F.coalesce(
            F.size(F.filter(F.split("text", " "), lambda x: x != F.lit(""))),
            F.lit(0),
        ),
        F.lit(_MAX_LEN),
    )
    bucket = (
        F.when(n <= 64, 64)
        .when(n <= 128, 128)
        .when(n <= 256, 256)
        .when(n <= 512, 512)
        .otherwise(1024)
    )
    b = docs.select(n.alias("n"), bucket.alias("bucket"))
    g = b.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("real_tokens"),
        F.sum(F.col("bucket") - F.col("n")).cast("long").alias("pad_tokens"),
    )
    return g.select(
        "bucket",
        "n_docs",
        "real_tokens",
        "pad_tokens",
        (
            F.col("pad_tokens")
            / (F.col("n_docs") * F.col("bucket")).cast("double")
        ).alias("pad_frac"),
    )


_SKEW_BUCKETS = 32


@register(
    "partition_skew_audit",
    oracle=f"""
    WITH b AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                    AS BIGINT) % {_SKEW_BUCKETS} AS INTEGER) AS bucket
        FROM orders),
    g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows FROM b GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n FROM g)
    SELECT bucket, n_rows,
           CAST(n_rows * {_SKEW_BUCKETS} AS BIGINT)
                 / CAST(tot.n AS DOUBLE) AS skew_ratio
    FROM g CROSS JOIN tot
    """,
)
def partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-partition balance report for a candidate shuffle key: rows
    per {_SKEW_BUCKETS}-way hash bucket of the customer key plus each
    bucket's ratio to the uniform share (1.0 = perfectly balanced; the
    max ratio predicts the straggler factor of keying a shuffle on this
    column). The operational pre-check before repartition()/bucketing
    decisions at 100 TB — run it on a sample before committing a layout.

    Uses the portable md5-bucket recipe (llm6) rather than Spark's
    internal hash so the oracle replays bucket assignment exactly; the
    diagnosis (relative balance) is hash-family-invariant for uniform
    keys.

    Scale: one map + bounded-key aggregation; output is {_SKEW_BUCKETS}
    rows."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _SKEW_BUCKETS
    ).cast("int")
    g = orders.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    tot = g.agg(F.sum("n_rows").cast("long").alias("n"))
    return g.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_rows",
        # rule 14 (r12 strip): one IEEE division of exact int64 counts —
        # bit-identical raw in both engines; round(,9) could only mask.
        (
            (F.col("n_rows") * _SKEW_BUCKETS).cast("long") / F.col("n").cast("double")
        ).alias("skew_ratio"),
    )
