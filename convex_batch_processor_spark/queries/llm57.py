"""Post-window round-4 additions, part 50 (round-5 rotation material):
density-based outlier detection and conformal calibration.

- ``lof_embedding_outliers`` is the classic Local Outlier Factor over
  the embedding table: per-vector k-distance, local reachability
  density, and the LOF ratio — the density-based anomaly score that
  catches outliers a global z-score misses. The exact all-pairs kNN
  graph is the verification baseline (same contract as
  embedding_neardup_pairs / knn_bruteforce: the LSH/IVF bucketed kNN is
  the 100 TB path; this form pins its correctness).
- ``conformal_interval_coverage`` runs split-conformal calibration: the
  90th-percentile nonconformity score on a calibration split becomes
  the prediction-interval radius, and the held-out split measures
  empirical coverage — the distribution-free uncertainty layer modern
  model serving adds.

Determinism: distances are diff-square folds (bit-identical zip_with /
list_dot_product twins) rounded at 6 dp, ranks break ties by id, and
every averaged quantity passes through 9-dp decimals before exact sums.

Registered last in queries/__init__.py (after llm56); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_LOF_K = 3


_D6_SQL = """round(sqrt(list_dot_product(
        list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)),
        list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))), 6)"""


@register(
    "lof_embedding_outliers",
    oracle=f"""
    WITH live AS (  -- NULL embeddings (failed encoder) carry no distance
        SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS ia, b.vec_id AS ib, {_D6_SQL} AS d6
        FROM live a JOIN live b ON b.vec_id <> a.vec_id),
    rk AS MATERIALIZED (
        SELECT ia, ib, d6,
               row_number() OVER (PARTITION BY ia ORDER BY d6 ASC, ib ASC) AS rn
        FROM pairs),
    kd AS (SELECT ia AS v, d6 AS kdist FROM rk WHERE rn = {_LOF_K}),
    nb AS (SELECT ia, ib, d6 FROM rk WHERE rn <= {_LOF_K}),
    reach AS (
        SELECT nb.ia, nb.ib,
               CAST(greatest(kd.kdist, nb.d6) AS DECIMAL(18,6)) AS r6
        FROM nb JOIN kd ON kd.v = nb.ib),
    lrd AS (
        SELECT ia AS v,
               round({_LOF_K} / CAST(nullif(SUM(r6), 0) AS DOUBLE), 9) AS lrd
        FROM reach GROUP BY 1),
    lof AS (
        SELECT nb.ia AS vec_id,
               round(CAST(SUM(CAST(lb.lrd AS DECIMAL(18,9))) AS DOUBLE)
                     / ({_LOF_K} * la.lrd), 9) AS lof
        FROM nb
        JOIN lrd lb ON lb.v = nb.ib
        JOIN lrd la ON la.v = nb.ia
        GROUP BY nb.ia, la.lrd)
    SELECT lof.vec_id, kd.kdist, lof.lof,
           CAST(lof.lof > 1.5 AS BOOLEAN) AS is_outlier
    FROM lof JOIN kd ON kd.v = lof.vec_id
    """,
)
def lof_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (k = {_LOF_K}) over the embedding corpus:
    LOF(a) = mean_b in kNN(a) lrd(b) / lrd(a), where lrd is the inverse
    mean reachability distance max(kdist(b), d(a, b)) — points whose
    local density is far below their neighbors' score > 1 and flag at
    1.5, the standard density-based anomaly detector for embedding
    quality control (mislabeled points, encoder failures).

    Every distance is the diff-square fold rounded at 6 dp (the proven
    bit-exact zip_with twin of list_dot_product), ranks tie-break on id,
    reach/lrd sums are exact decimals, and duplicate-heavy neighborhoods
    (reach sum 0) yield NULL on both engines (NULLIF mirror).

    Scale: the exact all-pairs kNN graph here is the verification
    baseline; at 100 TB the kNN edges come from the bucketed LSH / IVF
    path (similarity.py) and everything downstream of `nb` is unchanged
    — per-key windows and k-bounded joins."""
    # NULL embeddings carry no distance — excluded on BOTH sides (the
    # kmeans_fit convention; a NULL d6 would also scramble the rank window)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    diff2 = F.aggregate(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.round(F.sqrt(diff2), 6).alias("d6"))
    )
    w = Window.partitionBy("ia").orderBy(F.col("d6").asc(), F.col("ib").asc())
    rk = pairs.select("ia", "ib", "d6", F.row_number().over(w).alias("rn"))
    rk = rk.filter(F.col("rn") <= _LOF_K).persist()
    kd = rk.filter(F.col("rn") == _LOF_K).select(
        F.col("ia").alias("v"), F.col("d6").alias("kdist")
    )
    nb = rk.select("ia", "ib", "d6")
    reach = nb.join(kd, nb["ib"] == kd["v"]).select(
        "ia",
        "ib",
        F.greatest(F.col("kdist"), F.col("d6")).cast("decimal(18,6)").alias("r6"),
    )
    lrd = reach.groupBy(F.col("ia").alias("v")).agg(
        F.round(
            F.lit(_LOF_K)
            / F.nullif(F.sum("r6"), F.lit(0).cast("decimal(18,6)")).cast("double"),
            9,
        ).alias("lrd")
    )
    lb = lrd.select(F.col("v").alias("ib"), F.col("lrd").alias("lrd_b"))
    la = lrd.select(F.col("v").alias("ia"), F.col("lrd").alias("lrd_a"))
    lof = (
        nb.join(lb, "ib")
        .join(la, "ia")
        .groupBy(F.col("ia").alias("vec_id"), F.col("lrd_a"))
        .agg(
            F.round(
                F.sum(F.col("lrd_b").cast("decimal(18,9)")).cast("double")
                / (_LOF_K * F.col("lrd_a")),
                9,
            ).alias("lof")
        )
    )
    return lof.join(kd, lof["vec_id"] == kd["v"]).select(
        "vec_id",
        "kdist",
        "lof",
        (F.col("lof") > 1.5).alias("is_outlier"),
    )


_CONF_ALPHA = 0.9


@register(
    "conformal_interval_coverage",
    oracle=f"""
    WITH mean_t AS (
        SELECT event_type,
               round(CAST(SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*), 9) AS mu
        FROM events WHERE day(ts) % 2 = 0 GROUP BY 1),
    cal AS (
        SELECT e.event_type, round(abs(coalesce(e.value, 0) - m.mu), 9) AS score
        FROM events e JOIN mean_t m ON m.event_type = e.event_type
        WHERE day(e.ts) % 2 = 0),
    hist AS (
        SELECT event_type, score, CAST(COUNT(*) AS BIGINT) AS c
        FROM cal GROUP BY 1, 2),
    cum AS (
        SELECT event_type, score, c,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_c,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n_cal
        FROM hist),
    q AS (
        SELECT event_type, n_cal, MIN(score) AS qhat
        FROM cum
        WHERE cum_c >= CAST(ceil(CAST({_CONF_ALPHA!r} AS DOUBLE) * (n_cal + 1)) AS BIGINT)
        GROUP BY 1, 2),
    test AS (
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN round(abs(coalesce(e.value, 0) - m.mu), 9)
                             <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS covered
        FROM events e
        JOIN mean_t m ON m.event_type = e.event_type
        JOIN q ON q.event_type = e.event_type
        WHERE day(e.ts) % 2 = 1
        GROUP BY 1)
    SELECT q.event_type, q.n_cal, q.qhat, t.n_test, t.covered,
           round(CAST(t.covered AS DOUBLE) / t.n_test, 9) AS coverage
    FROM q JOIN test t ON t.event_type = q.event_type
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals: the per-type mean on the
    even-day calibration split is the point predictor, |value - mean| the
    nonconformity score, and qhat the ceil((n+1)*{_CONF_ALPHA})-th
    smallest calibration score — the distribution-free interval radius.
    Odd days are the held-out split; empirical coverage should land near
    {_CONF_ALPHA} (conformal's finite-sample guarantee), and the query
    reports exactly that.

    The score quantile is computed on the per-type SCORE HISTOGRAM with
    a bounded cumulative window (histogram_rank discipline — scores
    inherit the value column's bounded 2-dp grid), never a row sort.

    Scale: two passes over events (calibration aggregate, test
    coverage), a broadcast per-type quantile table in between."""
    ev = load_table(spark, sf_dir, "events")
    val = F.coalesce(F.col("value"), F.lit(0.0))
    cal_rows = ev.filter(F.dayofmonth("ts") % 2 == 0)
    mean_t = cal_rows.groupBy("event_type").agg(
        F.round(
            F.sum(val.cast("decimal(18,2)")).cast("double") / F.count(F.lit(1)), 9
        ).alias("mu")
    )
    cal = cal_rows.join(F.broadcast(mean_t), "event_type").select(
        "event_type", F.round(F.abs(val - F.col("mu")), 9).alias("score")
    )
    hist = cal.groupBy("event_type", "score").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "score",
        F.sum("c").over(wcum).cast("long").alias("cum_c"),
        F.sum("c").over(wtot).cast("long").alias("n_cal"),
    )
    q = (
        cum.filter(
            F.col("cum_c")
            >= F.ceil(F.lit(_CONF_ALPHA) * (F.col("n_cal") + 1)).cast("long")
        )
        .groupBy("event_type", "n_cal")
        .agg(F.min("score").alias("qhat"))
    )
    test = (
        ev.filter(F.dayofmonth("ts") % 2 == 1)
        .join(F.broadcast(mean_t), "event_type")
        .join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n_cal", "qhat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                (F.round(F.abs(val - F.col("mu")), 9) <= F.col("qhat")).cast("long")
            )
            .cast("long")
            .alias("covered"),
        )
    )
    return test.select(
        "event_type",
        "n_cal",
        "qhat",
        "n_test",
        "covered",
        F.round(F.col("covered").cast("double") / F.col("n_test"), 9).alias(
            "coverage"
        ),
    )
