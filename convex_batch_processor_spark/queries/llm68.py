"""Post-window round-4 additions, part 62 (round-5 rotation material):
external clustering evaluation — Adjusted Rand Index and purity of the
DBSCAN clustering against the embedding labels.

The clustering family (k-means, SemDeDup, DBSCAN) gains its scoring
layer: pair-counting agreement (ARI, the chance-corrected standard)
and majority purity, both against the ground-truth label column. Noise
points are EXCLUDED on both sides (the standard DBSCAN evaluation
convention — noise is a refusal, not a cluster). As with
langid_confusion_matrix, the oracle is COMPOSED from the clustering's
own verified SQL, so the evaluation can never drift from the
clustering it scores.

Determinism: the contingency table is exact integers, every C(n,2) is
n(n-1)/2 in BIGINT, and ARI's chance correction is one mirrored double
expression.

Registered last in queries/__init__.py (after llm67); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import QUERIES, register


def _asg_sql() -> str:
    return f"""asg AS MATERIALIZED (
        SELECT p.vec_id, p.cluster_id, e.label
        FROM ({QUERIES["dbscan_embedding_clusters"].oracle}) p
        JOIN embeddings e ON e.vec_id = p.vec_id
        WHERE p.cluster_id IS NOT NULL)"""


def _asg_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = QUERIES["dbscan_embedding_clusters"].fn(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        pred.filter(F.col("cluster_id").isNotNull())
        .join(emb, "vec_id")
        .select("vec_id", "cluster_id", "label")
    )


@register(
    "dbscan_label_ari",
    oracle=f"""
    WITH {_asg_sql()},
    ct AS (SELECT cluster_id, label, CAST(COUNT(*) AS BIGINT) AS n
           FROM asg GROUP BY 1, 2),
    rm AS (SELECT cluster_id, CAST(SUM(n) AS BIGINT) AS a FROM ct GROUP BY 1),
    cm AS (SELECT label, CAST(SUM(n) AS BIGINT) AS b FROM ct GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM ct),
    sums AS (
        SELECT (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) FROM ct) AS sij,
               (SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) FROM rm) AS sa,
               (SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) FROM cm) AS sb,
               (SELECT CAST(n * (n - 1) // 2 AS BIGINT) FROM tot) AS cn2,
               (SELECT n FROM tot) AS n_pts)
    -- guards: cn2 = 0 (a single clustered point) and a zero ARI
    -- denominator (perfect agreement on ONE cluster x ONE label makes
    -- expectation == index) are both undefined -> NULL, never an ANSI
    -- DIVIDE_BY_ZERO crash on the Spark side
    SELECT n_pts, sij AS pair_agree, sa AS pairs_pred, sb AS pairs_true,
           CASE WHEN cn2 <> 0
                     AND ((0.5 * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)))
                          - ((CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                             / CAST(cn2 AS DOUBLE))) <> 0
                THEN round((CAST(sij AS DOUBLE)
                  - ((CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                     / CAST(cn2 AS DOUBLE)))
                 / ((0.5 * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)))
                    - ((CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                       / CAST(cn2 AS DOUBLE))), 9) END AS ari
    FROM sums
    """,
)
def dbscan_label_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index of the DBSCAN clustering against the label
    column (noise excluded): pair-counting agreement chance-corrected by
    the hypergeometric expectation — the standard external clustering
    score (1 = perfect recovery, ~0 = random).

    The contingency/marginal C(n,2) sums are exact integers; the
    correction is one fixed double expression mirrored in the oracle,
    which itself embeds the clustering's verified SQL.

    Scale: the clustering dominates; the evaluation is a
    (clusters x labels) contingency aggregation plus O(1) arithmetic."""
    asg = _asg_df(spark, sf_dir)
    ct = asg.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ct = ct.persist()

    def c2(col):
        return ((F.col(col) * (F.col(col) - 1)) / 2).cast("long")

    sij = ct.agg(F.sum(c2("n")).cast("long").alias("sij"))
    sa = (
        ct.groupBy("cluster_id")
        .agg(F.sum("n").alias("a"))
        .agg(F.sum(c2("a")).cast("long").alias("sa"))
    )
    sb = (
        ct.groupBy("label")
        .agg(F.sum("n").alias("b"))
        .agg(F.sum(c2("b")).cast("long").alias("sb"))
    )
    tot = ct.agg(F.sum("n").cast("long").alias("n_pts"))
    m = (
        sij.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(tot))
        .withColumn("cn2", ((F.col("n_pts") * (F.col("n_pts") - 1)) / 2).cast("long"))
    )
    exp = (F.col("sa").cast("double") * F.col("sb").cast("double")) / F.col(
        "cn2"
    ).cast("double")
    denom = (
        F.lit(0.5) * (F.col("sa").cast("double") + F.col("sb").cast("double"))
    ) - exp
    # guards mirror the oracle's CASE: single clustered point (cn2 = 0)
    # or perfect one-cluster/one-label agreement (denominator 0) -> NULL
    return m.select(
        "n_pts",
        F.col("sij").alias("pair_agree"),
        F.col("sa").alias("pairs_pred"),
        F.col("sb").alias("pairs_true"),
        F.when(
            (F.col("cn2") != 0) & (denom != 0),
            F.round((F.col("sij").cast("double") - exp) / denom, 9),
        ).alias("ari"),
    )


@register(
    "clustering_purity",
    oracle=f"""
    WITH {_asg_sql()},
    ct AS (SELECT cluster_id, label, CAST(COUNT(*) AS BIGINT) AS n
           FROM asg GROUP BY 1, 2),
    mx AS (SELECT cluster_id, CAST(MAX(n) AS BIGINT) AS m,
                  CAST(SUM(n) AS BIGINT) AS sz
           FROM ct GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_points,
           CAST(SUM(m) AS BIGINT) AS majority_points,
           CAST(SUM(m) AS DOUBLE) / SUM(sz) AS purity
    FROM mx
    """,
)
def clustering_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority purity of the DBSCAN clusters against the labels (noise
    excluded): the fraction of clustered points that agree with their
    cluster's majority label — the intuitive companion to ARI (purity
    ignores chance and cluster fragmentation; read them together).

    Integer-only until the final mirrored division.

    Scale: same contingency aggregation as the ARI query."""
    asg = _asg_df(spark, sf_dir)
    ct = asg.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    mx = ct.groupBy("cluster_id").agg(
        F.max("n").cast("long").alias("m"), F.sum("n").cast("long").alias("sz")
    )
    return mx.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_points"),
        F.sum("m").cast("long").alias("majority_points"),
        # rule 14 (r12 strip): single IEEE division of exact int64 sums —
        # bit-identical raw in both engines; round(,9) could only mask.
        (F.sum("m").cast("double") / F.sum("sz")).alias("purity"),
    )
