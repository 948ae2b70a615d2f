"""Relational-core named queries (SURVEY.md §2.1-§2.8, §7 Phase 1).

Every query here mirrors an access pattern of the reference component
(cited per-query) re-expressed on the driver's star schema, paired with a
DuckDB oracle. All are pure DataFrame plans — scans stay pushdown-friendly,
joins are Catalyst-selected (AQE converts to broadcast where profitable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import relational as R
from .registry import DEC, DEC_SMALL, davg, dec, dsum, dsum_expr, register


# ---------------------------------------------------------------------------
# Flagship: TPC-H-Q1-style pricing summary (scan + filter + hash agg + sort)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
               AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: groupBy(2 keys) + 8 aggregates over filtered lineitem.

    Scale: filter + 2-column grouping push into the parquet scan (only the
    7 referenced columns are read); partial aggregation happens map-side, so
    the shuffle carries ~|groups| rows per partition, not the fact table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast(DEC_SMALL)
    disc_price = dec("l_extendedprice") * (one - dec("l_discount", DEC_SMALL))
    charge = disc_price * (one + dec("l_tax", DEC_SMALL))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum_expr(disc_price, "sum_disc_price"),
            dsum_expr(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc", DEC_SMALL),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.1 scans (S1-S4)
# ---------------------------------------------------------------------------

@register(
    "s1_point_lookup",
    oracle="SELECT * FROM orders WHERE o_orderkey = 42",
)
def s1_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: indexed equality point lookup (reference lib.ts:45-50 withIndex
    .eq().first()). The predicate reaches the parquet scan (PushedFilters),
    which at scale becomes row-group/partition pruning, not a table scan."""
    return R.point_lookup(load_table(spark, sf_dir, "orders"), o_orderkey=42)


@register(
    "s2_snapshot_range_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_orderkey <= 199 AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
)
def s2_snapshot_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: composite-index range scan — equality prefix + createdAt < cutoff
    (the snapshot-cutoff flush read, lib.ts:366-371). Both predicates and the
    4-column projection push into the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_orderkey") <= 199) & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    )


@register(
    "s3_key_collect",
    oracle="SELECT * FROM lineitem WHERE l_orderkey IN (1, 2, 3, 5, 8, 13, 21, 34)",
)
def s3_key_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: full-index collect — all rows for a key set (lib.ts:151-154 et al).
    IN-list pushes down as an OR-of-equals filter."""
    return load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey").isin(1, 2, 3, 5, 8, 13, 21, 34))


@register(
    "p1_projection_view",
    oracle="""
    SELECT o_orderkey AS job_id, o_orderstatus AS status,
           o_orderdate AS created_at, o_totalprice AS total
    FROM orders WHERE o_orderkey < 500
    """,
)
def p1_projection_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: projection + rename — the reference's job/batch list views select
    a subset of fields into a client shape (lib.ts:915-923). Column pruning
    means only 4 of 6 columns are read from parquet."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            F.col("o_orderkey").alias("job_id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("created_at"),
            F.col("o_totalprice").alias("total"),
        )
    )


@register(
    "p4_status_guard_branch",
    oracle="""
    SELECT CASE WHEN o_orderstatus = 'O' THEN 'accumulating'
                WHEN o_orderstatus = 'F' THEN 'completed'
                ELSE 'flushing' END AS batch_status,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
)
def p4_status_guard_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: status-guard predicate + branch (filter-then-branch guards at
    lib.ts:146-148, 493-496 …) as a CASE projection + aggregate."""
    status = (
        F.when(F.col("o_orderstatus") == "O", "accumulating")
        .when(F.col("o_orderstatus") == "F", "completed")
        .otherwise("flushing")
        .alias("batch_status")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(status)
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
    )


@register(
    "p5_batch_id_roundtrip",
    # NULL-bid guard: DuckDB's split_part(NULL, ...) returns '' (not
    # NULL), and CAST('' AS BIGINT) errors — the CASE mirrors Spark's
    # substring_index/contains NULL-in-NULL-out on the NULL-event_type
    # fixture row
    oracle="""
    SELECT CASE WHEN bid IS NULL THEN NULL
                ELSE split_part(bid, '::', 1) END AS base_id,
           COUNT(*) AS n,
           MAX(CASE WHEN bid IS NULL THEN NULL
                    ELSE CAST(split_part(bid, '::', 2) AS BIGINT) END) AS max_seq
    FROM (SELECT event_type || '::' || CAST(event_id AS VARCHAR) AS bid FROM events)
    GROUP BY 1
    """,
)
def p5_batch_id_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+P6: compose `base::seq` ids then parse them back (lib.ts:62 concat;
    lib.ts:40-42 split) — pure string codegen, no UDF."""
    ev = load_table(spark, sf_dir, "events")
    bid = R.make_batch_id(F.col("event_type"), F.col("event_id"))
    df = ev.select(bid.alias("bid"))
    df = R.parse_batch_id(df, "bid")
    return df.groupBy("base_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("seq").alias("max_seq")
    )


# ---------------------------------------------------------------------------
# §2.3 join patterns (J1, J2)
# ---------------------------------------------------------------------------

@register(
    "j1_per_key_agg_join",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           COALESCE(li.item_count, 0) AS item_count,
           COALESCE(li.sum_qty, CAST(0.0 AS DOUBLE)) AS sum_qty,
           li.last_ship
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey,
               COUNT(*) AS item_count,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               MAX(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_orderkey
    ) li ON li.l_orderkey = o.o_orderkey
    """,
)
def j1_per_key_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the reference's correlated per-batch item aggregation
    (getBatchStatus, lib.ts:214-232: fetch items, reduce itemCount/maxCreated)
    as aggregate-then-left-join.

    Scale: aggregating lineitem BEFORE the join shrinks the shuffled build
    side to one row per order; joining raw rows then grouping would shuffle
    the whole fact table twice. AQE may then broadcast the compact side.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = R.per_key_agg_join(
        orders.select("o_orderkey", "o_orderstatus"),
        li,
        "o_orderkey",
        "l_orderkey",
        [
            F.count(F.lit(1)).alias("item_count"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.max("l_shipdate").alias("last_ship"),
        ],
    )
    return joined.select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce("item_count", F.lit(0)).alias("item_count"),
        F.coalesce("sum_qty", F.lit(0.0)).alias("sum_qty"),
        "last_ship",
    )


@register(
    "j2_semi_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
)
def j2_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (exists): left-semi join — the duplicate-jobId existence probe
    (lib.ts:749-756) generalized: customers having a >450k order."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return R.exists_join(cust, big, "c_custkey")


@register(
    "j2_anti_not_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def j2_anti_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (not exists): left-anti join — the reuse-or-create probe
    (lib.ts:45-53): customers with no large (>400k) order."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return R.not_exists_join(cust, big, "c_custkey")


# ---------------------------------------------------------------------------
# §2.4 aggregation patterns (A1-A5)
# ---------------------------------------------------------------------------

@register(
    "a3_next_sequence",
    oracle="""
    SELECT user_id AS base_key, MAX(event_id) + 1 AS next_seq, COUNT(*) AS n_epochs
    FROM events GROUP BY user_id
    """,
)
def a3_next_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: next-sequence allocation — MAX(sequence)+1 per base id
    (lib.ts:55-62's desc-order .first() then +1), as a hash aggregate."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("base_key"))
        .agg((F.max("event_id") + 1).alias("next_seq"), F.count(F.lit(1)).alias("n_epochs"))
    )


@register(
    "agg_having",
    oracle="""
    SELECT l_suppkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 15300
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregate + HAVING (the reference's empty-group short-circuit
    lib.ts:157-159 generalized to a post-aggregation guard)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 15300)
    )


@register(
    "distinct_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase agg in Spark)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 windows (W1, W2)
# ---------------------------------------------------------------------------

@register(
    "w1_retention_doomed",
    oracle="""
    SELECT event_id, user_id, ts FROM (
        SELECT event_id, user_id, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn > 1
    """,
)
def w1_retention_doomed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: retention delete-set — rank per key by recency, keep newest 1,
    return the doomed rest (cleanupOldBatches, lib.ts:671-692). The engine's
    DELETE is an anti-join against this set (S11). event_id is the unique
    tiebreak (the adversarial fixture crafts equal-ts pairs)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return R.retention_doomed(ev, ["user_id"], ["ts", "event_id"], keep=1)


@register(
    "w2_latest_per_key",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value FROM (
        SELECT event_id, user_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def w2_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: latest-row-per-key (the desc .first() at lib.ts:55-59);
    event_id tiebreak for a deterministic row on ts ties."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type", "value")
    return R.latest_per_key(ev, ["user_id"], ["ts", "event_id"])


# ---------------------------------------------------------------------------
# §2.6 sort / limit / top-k
# ---------------------------------------------------------------------------

@register(
    "o2_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def o2_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: order-desc + take(k) (flush-history listing, lib.ts:292-294).

    Spark compiles this to TakeOrderedAndProject — per-partition k-row heaps
    merged at the driver; no global sort at any scale. o_orderkey tiebreak
    makes the row set deterministic."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return R.top_k(
        orders, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 10
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (window rank ≤ k): each customer's 3 biggest orders
    (o_orderkey asc tiebreak)."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return R.top_k_per_group(
        orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3
    )


# ---------------------------------------------------------------------------
# §2.7 set ops / array ops
# ---------------------------------------------------------------------------

@register(
    "u1_union_views",
    oracle="""
    SELECT 'flushing' AS phase, o_orderkey AS batch_key, o_totalprice AS total
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 'accumulating' AS phase, o_orderkey AS batch_key, o_totalprice AS total
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def u1_union_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: order-significant concat of two filtered views — the reference
    returns flushing ∪ accumulating batches in one list (lib.ts:190-204).
    unionByName; the hash comparison is order-insensitive anyway."""
    orders = load_table(spark, sf_dir, "orders")

    def view(status: str, phase: str) -> DataFrame:
        return orders.filter(F.col("o_orderstatus") == status).select(
            F.lit(phase).alias("phase"),
            F.col("o_orderkey").alias("batch_key"),
            F.col("o_totalprice").alias("total"),
        )

    return view("F", "flushing").unionByName(view("O", "accumulating"))


@register(
    "u2_explode_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id < 50
    ) WHERE token <> '' GROUP BY token
    """,
)
def u2_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: flatten/unnest an array column across rows — the reference's
    items.push(...doc.items) flatten (lib.ts:374-378) as explode + count."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers active in both 1995 and 1996."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers active in 1995 but not 1996."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.subtract(y96)


# ---------------------------------------------------------------------------
# §2.8 scalar functions
# ---------------------------------------------------------------------------

@register(
    "f4_backoff_schedule",
    oracle="""
    SELECT retry, CAST(LEAST(30000, 1000 * pow(2, retry)) AS BIGINT) AS backoff_ms
    FROM (SELECT DISTINCT event_id % 8 AS retry FROM events)
    """,
)
def f4_backoff_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: the retry backoff expression min(1000*2^n, 30000) (lib.ts:1059)
    as a vectorized column over derived retry counts."""
    retries = load_table(spark, sf_dir, "events").select((F.col("event_id") % 8).alias("retry")).distinct()
    return retries.withColumn(
        "backoff_ms",
        F.least(F.lit(30000).cast("double"), F.lit(1000) * F.pow(F.lit(2), F.col("retry"))).cast("bigint"),
    )


@register(
    "scalar_datetime_math",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mon,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           upper(substr(o_orderpriority, 1, 3)) AS prio,
           length(o_orderpriority) AS prio_len,
           round(o_totalprice / 1000, 2) AS total_k,
           greatest(o_totalprice, 200000.0) AS floored,
           abs(o_totalprice - 200000.0) AS dist
    FROM orders WHERE o_orderkey < 200
    """,
)
def scalar_datetime_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F6 representative scalar expressions: date parts, truncation,
    string slice/case, math round/abs, greatest (lib.ts:223 Math.max,
    lib.ts:1059 Math.min) — all codegen'd, no UDFs."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mon"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio"),
            F.length("o_orderpriority").alias("prio_len"),
            F.round(F.col("o_totalprice") / 1000, 2).alias("total_k"),
            F.greatest(F.col("o_totalprice"), F.lit(200000.0)).alias("floored"),
            F.abs(F.col("o_totalprice") - 200000.0).alias("dist"),
        )
    )


@register(
    "json_extract_props",
    # Mirrors Spark's TYPED from_json('k BIGINT') exactly: the value must
    # be a JSON integer token (json_type UBIGINT/BIGINT — not a quoted
    # "7", not 1.9/1.0, which Spark's Jackson long parse rejects to NULL)
    # and fit in int64 (TRY_CAST: a uint64-range literal overflows to
    # NULL on both engines). json_valid guards malformed JSON (DuckDB's
    # bare json_extract ERRORS on the star fixture's 'not json' row).
    # The earlier bare-TRY_CAST oracle was LOOSER — it accepted quoted
    # numbers and rounded '1.9' to 2 (found by the r8 line review).
    # json_extract must stay INSIDE a json_valid-guarded THEN branch
    # (lazy on both engines' fixture runs) — an AND-conjunction works on
    # this DuckDB build but r7's no-short-circuit rule says don't rely
    # on it.
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN json_valid(props) THEN
               CASE WHEN json_type(json_extract(props, '$.k'))
                        IN ('UBIGINT', 'BIGINT') THEN
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               END END) AS BIGINT) AS sum_k,
           CAST(MAX(CASE WHEN json_valid(props) THEN
               CASE WHEN json_type(json_extract(props, '$.k'))
                        IN ('UBIGINT', 'BIGINT') THEN
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               END END) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from events.props (the reference's open
    v.record properties map, example/convex/usage.ts:16) via a single
    schema-directed from_json per row — JVM-side, no Python. (The
    get_json_object form re-parses the document once per referencing
    aggregate; one typed parse in a projection halves the JSON work.)"""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k BIGINT").getField("k").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )
