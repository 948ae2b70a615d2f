"""Post-window round-4 additions, part 29 (round-5 rotation material):
multi-touch attribution with exact integer credit, and cluster-quality
scoring (simplified silhouette) for the deterministic k-means fit.

Registered last in queries/__init__.py (after llm35); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "linear_attribution_credit",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id AS view_id, ts AS view_ts
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    pr AS (
        SELECT v.user_id, v.view_id, v.view_ts, p.purchase_id, p.cents
        FROM v JOIN p ON v.user_id = p.user_id
         AND p.purchase_ts > v.view_ts
         AND p.purchase_ts <= v.view_ts + INTERVAL 6 HOUR
    ),
    rk AS (
        SELECT user_id, view_id, purchase_id, cents,
               CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY view_ts, view_id) AS rn
        FROM pr
    ),
    cr AS (
        SELECT user_id, purchase_id,
               cents // n + CASE WHEN rn <= cents % n THEN 1 ELSE 0 END AS credit
        FROM rk
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS purchases_touched,
           CAST(COUNT(*) AS BIGINT) AS views_credited,
           CAST(SUM(credit) AS BIGINT) AS credited_cents
    FROM cr GROUP BY 1
    """,
)
def linear_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution: each purchase's value is split
    equally (in integer cents, largest-remainder — earliest views get the
    leftover cents) across every view by the same user in the 6 h before
    it. The marketing-analytics upgrade of last-touch attribution, with
    credit that sums back to the purchase EXACTLY — no float pennies lost
    (the conservation law the invariant test pins).

    Scale: the candidate pairs come from the bucketed interval join
    (operators/rangejoin.py — (user, time-bucket) equi-join, no nested
    loop); the split runs in purchase-keyed windows; one final per-user
    rollup."""
    from ..operators.rangejoin import interval_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    purchases = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    pairs = interval_join_bucketed(
        views, purchases, ["user_id"], "view_ts", "purchase_ts", 6 * 3600
    )
    wn = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("view_ts", "view_id")
    rk = pairs.select(
        "user_id",
        "purchase_id",
        "cents",
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wr).alias("rn"),
    )
    credit = F.expr("cents div n") + F.when(
        F.col("rn") <= F.col("cents") % F.col("n"), 1
    ).otherwise(0)
    return (
        rk.select("user_id", "purchase_id", credit.alias("credit"))
        .groupBy("user_id")
        .agg(
            F.countDistinct("purchase_id").alias("purchases_touched"),
            F.count(F.lit(1)).alias("views_credited"),
            F.sum("credit").cast("long").alias("credited_cents"),
        )
    )


def _silhouette_oracle(k: int = 8, n_iter: int = 4, dim: int = 64) -> str:
    """Simplified silhouette over the round_dp=6 kmeans fit: replayable
    because the model state is pinned per round (the kmeans_clusters
    recipe) and raw squared-L2 doubles are bit-exact cross-engine."""
    from .sqlfrags import kmeans_ctes, kmeans_d2

    d2 = kmeans_d2(dim)
    return f"""
    WITH {kmeans_ctes(k, n_iter, dim)},
    ranked AS (
        SELECT vec_id, cluster_id, d2, rn FROM (
            SELECT e.vec_id, c.cluster_id, {d2} AS d2,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {d2} ASC, c.cluster_id ASC) AS rn
            FROM e CROSS JOIN c{n_iter} c) WHERE rn <= 2
    ),
    s AS (
        SELECT a.vec_id, a.cluster_id,
               CASE WHEN greatest(sqrt(a.d2), sqrt(b.d2)) > 0
                    THEN round((sqrt(b.d2) - sqrt(a.d2))
                               / greatest(sqrt(a.d2), sqrt(b.d2)), 9)
               END AS sil
        FROM ranked a JOIN ranked b
          ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(sil AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
               AS avg_silhouette
    FROM s GROUP BY 1
    """


@register("kmeans_silhouette", oracle=_silhouette_oracle())
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report for the deterministic k-means fit (k=8, 4
    rounds, 6-dp-pinned centroids): per cluster the mean SIMPLIFIED
    silhouette s = (d_nearest_other - d_own) / max(d_own, d_nearest_other)
    over centroid distances — the O(n·k) quality score used at scale in
    place of the O(n²) pairwise silhouette. s near 1 = tight/separated,
    near 0 = boundary, negative = likely misassigned.

    Determinism: distances reuse the bit-exact zip_with fold, s is one
    fixed IEEE sequence rounded at 9 dp, and the per-cluster mean is a
    decimal-exact sum over rounded values (the bigram-LM recipe).

    Scale: one broadcast of the k-centroid array, a single map-side
    projection computing own/other distances per row (array_sort over k
    structs — no explode to n*k rows), one cluster-keyed rollup."""
    from ..llmops.cluster import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, n_iter=4, round_dp=6)
    carr = cents.groupBy().agg(
        F.collect_list(F.struct("cluster_id", "centroid")).alias("_cents")
    )
    dist2 = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(
            F.col("embedding"),
            c["centroid"],
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    ranked = F.array_sort(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(dist2(c).alias("d2"), c["cluster_id"].alias("cluster_id")),
        )
    )
    own = F.element_at(F.col("_r"), 1)
    nxt = F.element_at(F.col("_r"), 2)
    a, b = F.sqrt(own["d2"]), F.sqrt(nxt["d2"])
    sil = F.when(F.greatest(a, b) > 0, F.round((b - a) / F.greatest(a, b), 9))
    per_vec = (
        emb.join(F.broadcast(carr))
        .withColumn("_r", ranked)
        # a 1-centroid fit (single non-NULL vector) has no second-nearest
        # centroid: the oracle's rn=2 self-join matches nothing and
        # returns 0 rows, and ANSI element_at(_r, 2) would crash — the
        # size filter mirrors the empty result instead
        .filter(F.size("_r") >= 2)
        .select(own["cluster_id"].alias("cluster_id"), sil.alias("sil"))
    )
    return per_vec.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.sum(F.col("sil").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_silhouette"),
    )
