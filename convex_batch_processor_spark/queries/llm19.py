"""Post-window round-4 additions, part 12 (round-5 rotation material):
market-basket association rules.

Registered last in queries/__init__.py (after llm18); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


_MB_MIN_SUPPORT = 5  # min co-occurring baskets


@register(
    "market_basket_rules",
    oracle=f"""
    WITH baskets AS MATERIALIZED (
        SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n FROM baskets),
    freq AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_i FROM baskets GROUP BY 1),
    co AS (
        SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= {_MB_MIN_SUPPORT}
    )
    SELECT co.item_a, co.item_b, co.n_ab,
           CAST(co.n_ab AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
           CAST(co.n_ab AS DOUBLE) / CAST(fa.n_i AS DOUBLE) AS conf_a_to_b,
           CAST(co.n_ab AS DOUBLE) / CAST(fb.n_i AS DOUBLE) AS conf_b_to_a,
           CAST(co.n_ab * nb.n AS DOUBLE) / CAST(fa.n_i * fb.n_i AS DOUBLE) AS lift
    FROM co
    JOIN freq fa ON fa.item = co.item_a
    JOIN freq fb ON fb.item = co.item_b
    CROSS JOIN nb
    """,
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Apriori 2-itemsets): brand pairs
    co-purchased in the same order with support, both confidences, and
    lift — the recommendation/affinity primitive, and (as PMI's
    basket-shaped twin) the second member of the co-occurrence family.

    Every metric is a single division of exact integer counts (lift's
    numerator/denominator are exact bigint products < 2^53) — engine-
    identical with no rounding step at all.

    Scale: baskets are (order, brand) DISTINCT rows (bounded by orders x
    25 brands); the pair join shuffles on basket id (uniform); item
    frequencies broadcast. The 2-itemset lattice level is the whole cost
    — Apriori's deeper levels reuse this exact shape with `co` as the
    new posting list."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # ONE basket-keyed aggregation replaces the former distinct + basket
    # self-join (guide §2.3/§2.4 "aggregate before you shuffle"):
    # collect_set dedups (basket, item) in the same pass the old
    # .distinct() needed its own exchange for, and the 2-itemset
    # expansion happens MAP-SIDE over the sorted per-basket item set
    # (bounded by the brand inventory, ≤25 items → ≤300 pairs), feeding
    # partial aggregation — the old shape shuffled the exploded basket
    # rows twice more (both self-join sides). sort_array + (i < j) index
    # pairs ≡ the old item_a < item_b filter on distinct items.
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("items"))
        .persist()  # three consumers: N, item freq, pair expansion
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("n"))
    freq = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    pair_structs = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.slice("items", i + 2, F.size("items")),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    co = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _MB_MIN_SUPPORT)
    )
    fa = freq.select(F.col("item").alias("item_a"), F.col("n_i").alias("na"))
    fb = freq.select(F.col("item").alias("item_b"), F.col("n_i").alias("nb_i"))
    return (
        co.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n").cast("double")).alias("support"),
            (F.col("n_ab").cast("double") / F.col("na").cast("double")).alias(
                "conf_a_to_b"
            ),
            (F.col("n_ab").cast("double") / F.col("nb_i").cast("double")).alias(
                "conf_b_to_a"
            ),
            (
                (F.col("n_ab") * F.col("n")).cast("double")
                / (F.col("na") * F.col("nb_i")).cast("double")
            ).alias("lift"),
        )
    )
