"""Multi-join analytical queries in the TPC-H shapes the star schema
supports — the engine's "whole plan" showcases: multi-way joins with
aggregation, ordered top-k output, and join-order/broadcast decisions left
to Catalyst + AQE.

Scale notes: dimension chains (region→nation→customer/supplier) are tiny
and broadcast end-to-end; the only large shuffles are fact-side groupBys,
which partial-aggregate map-side first. All money aggregates use the
decimal-accumulation pattern (registry.py) for engine parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from .registry import DEC_SMALL, dec, dsum_expr, register


_REVENUE = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"


def _revenue_col():
    one = F.lit(1).cast(DEC_SMALL)
    return dec("l_extendedprice") * (one - dec("l_discount", DEC_SMALL))




_CORRELATED_AVG_SQL = """
    SELECT p_partkey, p_type, p_retailprice FROM part p
    WHERE p_retailprice > 1.0 * (
        SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM part p2 WHERE p2.p_type = p.p_type
    )
"""


@register("correlated_avg_filter", oracle=_CORRELATED_AVG_SQL)
def correlated_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: parts priced above their type's
    average. Catalyst decorrelates this into aggregate + join — the same
    plan the hand-written window form would give (free optimization the
    reference's imperative code can't do)."""
    register_views(spark, sf_dir)
    return spark.sql(_CORRELATED_AVG_SQL)


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly-selective scan + global aggregate — the
    pushdown showcase (all four predicates reach the parquet reader; the
    aggregate is a single map-side partial + 1-row final)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount", DEC_SMALL))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q2_SQL = """
    SELECT s_acctbal, s_name, n_name, p.p_partkey, p_type, l_extendedprice AS min_price
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE' AND p.p_size <= 15
      AND l_extendedprice = (
          SELECT MIN(l2.l_extendedprice)
          FROM lineitem l2
          JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
          JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
          WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
    LIMIT 100
"""


@register("q2_min_cost_supplier", oracle=_Q2_SQL)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-cost supplier per part via a correlated MIN
    subquery (lineitem price stands in for partsupp supplycost — the
    testdata has no partsupp table). Catalyst decorrelates the subquery
    into a per-part aggregate + equi-join; the region→nation→supplier
    chain broadcasts on both the outer and inner sides. The LIMIT's
    ordering key functionally determines every output column, so the cut
    is deterministic."""
    register_views(spark, sf_dir)
    return spark.sql(_Q2_SQL)


_Q21_SQL = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 100
"""


@register("q21_waiting_supplier", oracle=_Q21_SQL)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late shipper of a multi-supplier order
    (shipdate >60d after ordering stands in for receipt-vs-commit — the
    testdata has no commit/receipt dates). Exercises EXISTS + NOT EXISTS
    with a non-equality correlated predicate referencing two outer
    tables — Catalyst plans a left-semi and a left-anti join against
    lineitem, both shuffling on l_orderkey only."""
    register_views(spark, sf_dir)
    return spark.sql(_Q21_SQL)


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE}
                                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM({_REVENUE}) AS DOUBLE) AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-ratio aggregate (promo revenue share of
    one ship month). One fact-dim join — part is the small side and
    broadcasts — then a single global aggregate computing numerator and
    denominator in the same pass (no second scan for the ratio)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _revenue_col()
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            # try_divide: a zero-revenue month (every line 100%-discounted
            # or zero-priced) must yield NULL like the oracle's `/`, not
            # an ANSI DIVIDE_BY_ZERO crash (r7 recurring class)
            F.try_divide(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double"),
                F.sum(rev).cast("double"),
            ).alias("promo_pct")
        )
    )


_Q15_SQL = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""


@register("q15_top_supplier", oracle=_Q15_SQL)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate-over-aggregate — the supplier(s) whose
    quarterly revenue equals the MAX over all suppliers' revenues. The CTE
    aggregates once; the scalar MAX subquery reuses it (Catalyst plans the
    revenue aggregate + a 1-row broadcast of the max). Revenue is
    decimal-accumulated then cast to double, so the equality compares
    identical bits in both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_Q15_SQL)


_Q16_SQL = """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


@register("q16_supplier_part_count", oracle=_Q16_SQL)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part group with a
    NOT IN exclusion subquery — Catalyst plans it as a null-aware anti
    join (broadcast: the excluded-supplier list is tiny). lineitem stands
    in for partsupp (the testdata has none)."""
    register_views(spark, sf_dir)
    return spark.sql(_Q16_SQL)


_Q17_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
          SELECT 0.2 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@register("q17_small_quantity_revenue", oracle=_Q17_SQL)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: rows below 20% of their part's average quantity
    (correlated scalar aggregate over the same fact table), summed. The
    per-part average is decimal-accumulated exact-sum / count in BOTH
    engines so the < boundary cannot drift between them. Catalyst
    decorrelates to a per-partkey aggregate joined back to lineitem."""
    register_views(spark, sf_dir)
    return spark.sql(_Q17_SQL)


@register(
    "q8_market_share",
    oracle=f"""
    SELECT year(o_orderdate) AS yr,
           CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_7' THEN {_REVENUE}
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM({_REVENUE}) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY year(o_orderdate)
    ORDER BY yr
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a customer region's
    purchase volume per year — two roles for the nation dimension plus a
    conditional-ratio aggregate per group. All dimensions broadcast; the
    lineitem↔orders shuffle is the only large exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    rev = _revenue_col()
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(n1, cust.c_nationkey == F.col("c_nk"))
        .join(region, F.col("c_rk") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n2, supp.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            # try_divide: a zero-revenue year group yields NULL like the
            # oracle's `/`, not an ANSI DIVIDE_BY_ZERO crash
            F.try_divide(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(zero)).cast("double"),
                F.sum(rev).cast("double"),
            ).alias("mkt_share")
        )
        .orderBy("yr")
    )


@register(
    "q4_priority_with_late_lines",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-filtered aggregate — orders with at least one
    line shipped >60 days after ordering, counted by priority (semi join,
    no row multiplication before the group-by)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        # interval addition on the FULL timestamp — date_add would
        # truncate o_orderdate's time-of-day and shift the lateness
        # threshold to midnight, diverging from the oracle's
        # `+ INTERVAL 60 DAY` for intra-day orderdates
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


_Q9_SQL = f"""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(SUM({_REVENUE}) AS DOUBLE)
             - 0.6 * CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
                              * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation ASC, o_year DESC
"""


@register("q9_product_type_profit", oracle=_Q9_SQL)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    matching a name pattern (0.6×retailprice×quantity stands in for
    ps_supplycost — the testdata has no partsupp). Both money terms are
    decimal-accumulated separately and subtracted as two exact doubles, so
    parity holds without nesting decimals past Spark's precision cap. The
    LIKE filter prunes part before the join; part/supplier/nation
    broadcast, lineitem↔orders is the one big shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cost = dec("p_retailprice") * dec("l_quantity")
    return (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .join(F.broadcast(nation), nation.n_nationkey == supp.s_nationkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(_revenue_col()).cast("double")
                - F.lit(0.6) * F.sum(cost).cast("double")
            ).alias("sum_profit")
        )
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


_Q11_SQL = """
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS part_value
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) >
           (SELECT 0.001 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3')
    ORDER BY part_value DESC, l_partkey ASC
"""


@register("q11_important_part_value", oracle=_Q11_SQL)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from one nation's
    suppliers exceeds a fraction of that nation's total (value×quantity
    from lineitem stands in for partsupp stock value). Exercises HAVING
    with an uncorrelated scalar subquery — Catalyst computes the total
    once and broadcasts the 1-row result into the filter; both the
    per-part and the grand aggregate reuse the same broadcast-joined
    scan shape."""
    register_views(spark, sf_dir)
    return spark.sql(_Q11_SQL)


@register(
    "q12_shipping_delay_priority",
    oracle="""
    SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90 THEN '90+'
                WHEN datediff('day', o_orderdate, l_shipdate) > 30 THEN '31-90'
                ELSE '0-30' END AS delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    ORDER BY delay_bucket ASC
    """,
)
def q12_shipping_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts per shipping-delay
    bucket (the delay bucket stands in for l_shipmode — the testdata has
    no shipmode column). One fact↔fact equi-join with the date filter
    pushed to the lineitem scan; the CASE aggregation computes both
    branches in a single pass."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay > 90, F.lit("90+")).when(delay > 30, F.lit("31-90")).otherwise(F.lit("0-30"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy(F.col("delay_bucket").asc())
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    customers with zero qualifying orders included (LEFT OUTER join with
    the filter in the join condition, not WHERE — moving it to WHERE would
    silently drop the zero bucket). COUNT(o_orderkey) counts non-nulls, so
    unmatched customers land in c_count=0; the second aggregate is over
    ~distinct-count rows — tiny."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "4-NOT SPECIFIED"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q19_BRANCHES = [
    ("Brand#12", 5, (1, 11)),
    ("Brand#19", 10, (10, 20)),
    ("Brand#5", 15, (20, 30)),
]


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REVENUE}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a disjunction of per-brand
    conjunctions mixing part and lineitem columns. Catalyst extracts the
    common sub-predicates it can push below the join (brand/size terms to
    the part scan, the quantity range union to lineitem) and evaluates the
    residual OR above the broadcast join — one pass, no union-of-three-scans."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    cond = None
    for brand, size_hi, (q_lo, q_hi) in _Q19_BRANCHES:
        branch = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        cond = branch if cond is None else (cond | branch)
    return joined.filter(cond).agg(dsum_expr(_revenue_col(), "revenue"))


_Q20_SQL = """
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_5', 'NATION_7')
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_name LIKE '%gear%'
          GROUP BY l_suppkey, l_partkey
          HAVING CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                               AND l_shipdate < TIMESTAMP '1998-01-01'
                               THEN CAST(l_quantity AS DECIMAL(18,2))
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) >
                 0.3 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE))
    ORDER BY s_name
"""


@register("q20_excess_shippers", oracle=_Q20_SQL)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in given nations who shipped >30% of
    their all-time quantity of pattern-matched parts within one year
    (lineitem grouped by (suppkey, partkey) stands in for partsupp
    availability). Nested IN over a conditional-HAVING aggregate —
    Catalyst plans the IN as a left-semi join against the aggregated
    subquery; the supplier×nation side is a broadcast chain."""
    register_views(spark, sf_dir)
    return spark.sql(_Q20_SQL)


@register(
    "q22_dormant_customer_balance",
    oracle="""
    SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c_nationkey IN (7, 13, 17, 19, 23)
      AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                              / COUNT(*)
                       FROM customer
                       WHERE c_acctbal > 0.0
                         AND c_nationkey IN (7, 13, 17, 19, 23))
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    ORDER BY cntry
    """,
)
def q22_dormant_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers dormant since 2000
    (no recent orders; every customer has SOME order in this testdata, so
    the anti-join carries a date predicate), grouped by country
    (c_nationkey stands in for the phone country code — the testdata has
    no phone column). The scalar average is computed as a 1-row aggregate
    and broadcast via crossJoin — the idiomatic distributed form of an
    uncorrelated scalar subquery (no collect); the NOT EXISTS is a
    left-anti join shuffling only on custkey, with the date filter pushed
    to the orders scan. Average is exact-sum/count so the > boundary
    cannot drift between engines."""
    cntries = [7, 13, 17, 19, 23]
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(cntries))
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntry")
    )
