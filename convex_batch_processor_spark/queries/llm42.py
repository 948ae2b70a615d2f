"""Post-window round-4 additions, part 35 (round-5 rotation material):
exact model-evaluation metrics — AUC and log-loss without a sort.

Registered last in queries/__init__.py (after llm41); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "auc_quantity_returnflag",
    oracle="""
    WITH hist AS (
        -- NULL quantities excluded on BOTH sides (a NULL score can't be
        -- ranked, and the engines' NULL-ordering defaults would shift
        -- every neg_before); single-class corpora (pp or nn = 0) leave
        -- AUC undefined -> NULL, guarded below
        SELECT l_quantity AS v,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS n
        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
    ),
    cum AS (
        SELECT v, p, n,
               CAST(coalesce(SUM(n) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS neg_before
        FROM hist
    ),
    mo AS (
        SELECT CAST(SUM(p) AS BIGINT) AS pp,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(p * (2 * neg_before + n)) AS BIGINT) AS num2
        FROM cum
    )
    SELECT pp AS n_pos, nn AS n_neg,
           CASE WHEN pp > 0 AND nn > 0 THEN
               round(CAST(num2 AS DOUBLE) / (2.0 * pp * nn), 9) END AS auc
    FROM mo
    """,
)
def auc_quantity_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of 'quantity predicts return' — WITHOUT sorting the
    table: AUC is the Mann-Whitney U statistic, and with midrank tie
    handling it collapses onto the score's VALUE HISTOGRAM:
    AUC = Σ_v p_v·(neg_below(v) + n_v/2) / (P·N), kept exact by carrying
    the numerator doubled in integers. One bounded cumulative window over
    ~50 histogram rows replaces the global rank sort every textbook
    implementation plans.

    Scale: one scan -> (value, class-count) agg -> histogram window ->
    one moment row; the ranking never touches row granularity."""
    li = load_table(spark, sf_dir, "lineitem")
    # NULL scores excluded to mirror the oracle (see oracle comment)
    hist = (
        li.filter(F.col("l_quantity").isNotNull())
        .groupBy(F.col("l_quantity").alias("v"))
        .agg(
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias("p"),
            F.sum((F.col("l_returnflag") != "R").cast("long")).alias("n"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "neg_before", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    )
    mo = cum.agg(
        F.sum("p").cast("long").alias("pp"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("p") * (2 * F.col("neg_before") + F.col("n")))
        .cast("long")
        .alias("num2"),
    )
    return mo.select(
        F.col("pp").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.when(
            (F.col("pp") > 0) & (F.col("nn") > 0),
            F.round(
                F.col("num2").cast("double")
                / (2.0 * F.col("pp") * F.col("nn")),
                9,
            ),
        ).alias("auc"),
    )


@register(
    "logloss_quantity_model",
    oracle="""
    WITH hist AS (
        SELECT l_quantity AS v,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS p
        FROM lineitem GROUP BY 1
    ),
    terms AS (
        SELECT c, p,
               round(ln((p + 1.0) / (c + 2.0)), 9) AS lnp,
               round(ln((c - p + 1.0) / (c + 2.0)), 9) AS lnq
        FROM hist
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
           round(CAST(-SUM(p * CAST(lnp AS DECIMAL(12,9))
                           + (c - p) * CAST(lnq AS DECIMAL(12,9))) AS DOUBLE)
                 / SUM(c), 9) AS logloss
    FROM terms
    """,
)
def logloss_quantity_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary log-loss of the Laplace-smoothed per-quantity model
    π_v = (pos_v + 1)/(c_v + 2) predicting the return flag — the proper
    scoring rule next to AUC's pure ranking. Every ln is leaf-rounded at
    9 dp and the loss accumulates as (integer count × decimal ln) — an
    order-independent exact sum, so the metric is bit-stable under any
    partitioning (built-in float reductions are not).

    Scale: the model AND its evaluation both live on the ~50-row value
    histogram; the corpus is touched once for the class counts."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("p"),
    )
    # decimal(12,9), NOT (18,9): a long count is decimal(20,0), and
    # 20+18+1 = 39 > 38 forces Spark's precision-loss mode, which rounds
    # every product to scale 8 (star-fixture find — a 1e-8 drift the
    # 9-dp final round can expose); 20+12+1 = 33 keeps products exact,
    # and |ln| < 1000 fits (12,9) with room
    lnp = F.round(F.log((F.col("p") + 1.0) / (F.col("c") + 2.0)), 9).cast(
        "decimal(12,9)"
    )
    lnq = F.round(
        F.log((F.col("c") - F.col("p") + 1.0) / (F.col("c") + 2.0)), 9
    ).cast("decimal(12,9)")
    terms = hist.select("c", "p", lnp.alias("lnp"), lnq.alias("lnq"))
    return terms.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.round(
            (
                -F.sum(
                    F.col("p") * F.col("lnp") + (F.col("c") - F.col("p")) * F.col("lnq")
                )
            ).cast("double")
            / F.sum("c"),
            9,
        ).alias("logloss"),
    )
