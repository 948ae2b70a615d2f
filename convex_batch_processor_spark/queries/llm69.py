"""Post-window round-4 additions, part 63 (round-5 rotation material):
information-theoretic clustering scores — NMI, homogeneity,
completeness, V-measure.

Completes the external clustering-evaluation trio (ARI/purity, llm68)
with the mutual-information family over the same noise-excluded
DBSCAN-vs-label contingency table: MI from per-cell ln of exact
integer ratios (the PMI recipe), marginal entropies from the
char-entropy recipe (ln n - (1/n) sum c ln c), NMI with the sqrt
normalization (IEEE sqrt is portable), and the homogeneity /
completeness / V-measure decomposition every sklearn user expects.

Registered last in queries/__init__.py (after llm68); oracle-backed.
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


@register(
    "clustering_nmi_vmeasure",
    oracle=f"""
    WITH {_asg_sql()},
    ct AS (SELECT cluster_id, label, CAST(COUNT(*) AS BIGINT) AS n
           FROM asg GROUP BY 1, 2),
    rm AS (SELECT cluster_id, CAST(SUM(n) AS BIGINT) AS a FROM ct GROUP BY 1),
    cm AS (SELECT label, CAST(SUM(n) AS BIGINT) AS b FROM ct GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM ct),
    mi AS (
        SELECT CAST(SUM(CAST(ct.n AS DECIMAL(12,0))
                 * CAST(round(ln(CAST(tot.nn * ct.n AS DOUBLE)
                                 / CAST(rm.a * cm.b AS DOUBLE)), 9)
                        AS DECIMAL(12,9))) AS DOUBLE)
               / CAST(MAX(tot.nn) AS DOUBLE) AS mi
        FROM ct
        JOIN rm USING (cluster_id)
        JOIN cm USING (label)
        CROSS JOIN tot),
    hp AS (
        SELECT round(ln(MAX(tot.nn)), 9)
               - (CAST(SUM(CAST(a AS DECIMAL(12,0))
                    * CAST(round(ln(a), 9) AS DECIMAL(12,9))) AS DOUBLE)
                  / CAST(MAX(tot.nn) AS DOUBLE)) AS h
        FROM rm CROSS JOIN tot),
    ht AS (
        SELECT round(ln(MAX(tot.nn)), 9)
               - (CAST(SUM(CAST(b AS DECIMAL(12,0))
                    * CAST(round(ln(b), 9) AS DECIMAL(12,9))) AS DOUBLE)
                  / CAST(MAX(tot.nn) AS DOUBLE)) AS h
        FROM cm CROSS JOIN tot)
    -- degenerate-clustering guards: ONE cluster makes h_pred = 0, ONE
    -- label makes h_true = 0 — every normalization below divides by
    -- them, NULL instead of an ANSI DIVIDE_BY_ZERO crash on Spark
    SELECT tot.nn AS n_pts,
           round(mi.mi, 9) AS mi,
           round(hp.h, 9) AS h_pred,
           round(ht.h, 9) AS h_true,
           CASE WHEN (hp.h * ht.h) > 0
                THEN round(mi.mi / sqrt(hp.h * ht.h), 9) END AS nmi,
           CASE WHEN ht.h <> 0 THEN mi.mi / ht.h END AS homogeneity,
           CASE WHEN hp.h <> 0 THEN mi.mi / hp.h END AS completeness,
           CASE WHEN ht.h <> 0 AND hp.h <> 0
                     AND ((mi.mi / ht.h) + (mi.mi / hp.h)) <> 0
                THEN (2.0 * ((mi.mi / ht.h) * (mi.mi / hp.h)))
                     / ((mi.mi / ht.h) + (mi.mi / hp.h)) END AS v_measure
    FROM tot CROSS JOIN mi CROSS JOIN hp CROSS JOIN ht
    """,
)
def clustering_nmi_vmeasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information (sqrt normalization), homogeneity
    (MI / H(labels)), completeness (MI / H(clusters)), and their
    harmonic mean V-measure, over the noise-excluded DBSCAN-vs-label
    contingency — the information-theoretic complements to ARI that
    decompose WHERE a clustering fails (mixed clusters vs fragmented
    labels).

    MI cells are ln of exact integer ratios (PMI recipe), marginal
    entropies use the ln n - (1/n) sum c ln c identity (char-entropy
    recipe), every ln leaf is 9-dp-pinned into exact decimal sums, and
    the final normalizations are mirrored double expressions (sqrt is
    IEEE-portable).

    Scale: identical to the ARI query — the clustering dominates, the
    evaluation is contingency-sized."""
    asg_pred = QUERIES["dbscan_embedding_clusters"].fn(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    asg = (
        asg_pred.filter(F.col("cluster_id").isNotNull())
        .join(emb, "vec_id")
        .select("cluster_id", "label")
    )
    ct = asg.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ct = ct.persist()
    rm = ct.groupBy("cluster_id").agg(F.sum("n").cast("long").alias("a"))
    cm = ct.groupBy("label").agg(F.sum("n").cast("long").alias("b"))
    tot = ct.agg(F.sum("n").cast("long").alias("nn"))
    mi_cells = (
        ct.join(rm, "cluster_id")
        .join(cm, "label")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("n").cast("decimal(12,0)")
                * F.round(
                    F.log(
                        (F.col("nn") * F.col("n")).cast("double")
                        / (F.col("a") * F.col("b")).cast("double")
                    ),
                    9,
                ).cast("decimal(12,9)")
            ).alias("term"),
            "nn",
        )
    )
    mi = mi_cells.agg(
        (F.sum("term").cast("double") / F.max("nn").cast("double")).alias("mi")
    )

    def entropy(marg: DataFrame, col: str):
        return (
            marg.crossJoin(F.broadcast(tot))
            .agg(
                (
                    F.round(F.log(F.max("nn")), 9)
                    - (
                        F.sum(
                            F.col(col).cast("decimal(12,0)")
                            * F.round(F.log(col), 9).cast("decimal(12,9)")
                        ).cast("double")
                        / F.max("nn").cast("double")
                    )
                ).alias("h")
            )
        )

    hp = entropy(rm, "a").select(F.col("h").alias("h_pred"))
    ht = entropy(cm, "b").select(F.col("h").alias("h_true"))
    m = (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hp))
        .crossJoin(F.broadcast(ht))
    )
    # degenerate-clustering guards mirror the oracle's CASEs (one
    # cluster -> h_pred = 0, one label -> h_true = 0): NULL, never an
    # ANSI DIVIDE_BY_ZERO crash
    hom = F.col("mi") / F.col("h_true")
    com = F.col("mi") / F.col("h_pred")
    return m.select(
        F.col("nn").alias("n_pts"),
        F.round(F.col("mi"), 9).alias("mi"),
        F.round(F.col("h_pred"), 9).alias("h_pred"),
        F.round(F.col("h_true"), 9).alias("h_true"),
        F.when(
            (F.col("h_pred") * F.col("h_true")) > 0,
            F.round(
                F.col("mi") / F.sqrt(F.col("h_pred") * F.col("h_true")), 9
            ),
        ).alias("nmi"),
        # rule 14 (r12 strip): mi / h_pred / h_true are deterministic
        # doubles (9-dp-pinned ln leaves into exact decimal sums whose
        # unscaled values stay ~100x under 2^53 at sf0.1, one division
        # each), so homogeneity/completeness/v_measure are mirrored
        # fixed IEEE trees over bit-identical operands — raw matches;
        # round(,9) could only mask. nmi keeps its round: sqrt is a
        # correctly-rounded IEEE op too, but the round there is the
        # documented transcendental-leaf shape the gate exempts.
        F.when(F.col("h_true") != 0, hom).alias("homogeneity"),
        F.when(F.col("h_pred") != 0, com).alias("completeness"),
        F.when(
            (F.col("h_true") != 0)
            & (F.col("h_pred") != 0)
            & ((hom + com) != 0),
            (F.lit(2.0) * (hom * com)) / (hom + com),
        ).alias("v_measure"),
    )
