"""Post-window round-4 additions, part 54 (round-5 rotation material):
retrieval quality evaluation — graded nDCG, MRR, and recall for the
BM25 run.

The retrieval family has scoring (bm25_topk), fusion (rrf_fusion_topk),
and decontamination; this adds the EVALUATION layer: graded relevance
(how many query terms a document actually contains, 0..3) scored
against the ranking with the standard log2-discounted cumulative gain,
the ideal ranking derived in closed form from the bounded gain
histogram, plus MRR and recall at the cutoff — the metrics that decide
whether a retrieval change ships.

Determinism: discounts 1/log2(i+1) are 9-dp literals computed at
registration; gains are exact integers; DCG/IDCG are (int x decimal)
exact sums; ranks come from the 6-dp BM25 scores with id tie-breaks.

Registered last in queries/__init__.py (after llm60); oracle-backed.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import retrieval as R
from .registry import register
from .sqlfrags import bm25_rank_ctes

_TERMS = ["join", "sort", "merge"]
_K = 10
_REL_TAU = 2  # gain >= 2 counts as "relevant" for MRR / recall
_DISC = {i: round(1.0 / math.log2(i + 1), 9) for i in range(1, _K + 1)}

_DISC_SQL = " ".join(f"WHEN {i} THEN {_DISC[i]!r}" for i in range(1, _K + 1))


_GAIN_SQL = " + ".join(
    f"CASE WHEN list_contains(t, '{t}') THEN 1 ELSE 0 END" for t in _TERMS
)


@register(
    "retrieval_eval_ndcg",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl
        FROM toks
    ),
    {bm25_rank_ctes(_TERMS, _K, "q_")},
    gains AS (
        SELECT doc_id, CAST({_GAIN_SQL} AS BIGINT) AS gain FROM toks),
    disc AS (
        SELECT i, CAST(CASE i {_DISC_SQL} END AS DECIMAL(12,9)) AS d
        FROM unnest(range(1, {_K + 1})) AS u(i)),
    run AS (
        SELECT r.rnk AS i, g.gain
        FROM q_rnk r JOIN gains g ON g.doc_id = r.doc_id),
    dcg AS (
        SELECT CAST(SUM(CAST(run.gain AS DECIMAL(4,0)) * disc.d) AS DOUBLE) AS dcg
        FROM run JOIN disc ON disc.i = run.i),
    gh AS (
        SELECT CAST(SUM(CASE WHEN gain = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
               CAST(SUM(CASE WHEN gain = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN gain = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN gain >= {_REL_TAU} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rel
        FROM gains),
    idcg AS (
        SELECT CAST(SUM(
                 CAST(CASE WHEN disc.i <= gh.n3 THEN 3
                           WHEN disc.i <= gh.n3 + gh.n2 THEN 2
                           WHEN disc.i <= gh.n3 + gh.n2 + gh.n1 THEN 1
                           ELSE 0 END AS DECIMAL(4,0)) * disc.d) AS DOUBLE) AS idcg
        FROM disc CROSS JOIN gh),
    mrr AS (
        SELECT coalesce(round(1.0 / MIN(run.i), 9), 0.0) AS mrr
        FROM run WHERE run.gain >= {_REL_TAU}),
    hits AS (
        SELECT CAST(SUM(CASE WHEN gain >= {_REL_TAU} THEN 1 ELSE 0 END) AS BIGINT)
                   AS h
        FROM run)
    -- n_rel = 0 (no relevant doc in the corpus) and idcg = 0 (no graded
    -- doc at all) leave recall/ndcg undefined: NULL on both engines, not
    -- an ANSI DIVIDE_BY_ZERO crash on the Spark side
    SELECT gh.n_rel, hits.h AS hits_at_k,
           CASE WHEN gh.n_rel <> 0 THEN
               round(CAST(hits.h AS DOUBLE) / gh.n_rel, 9) END AS recall_at_k,
           mrr.mrr,
           round(dcg.dcg, 9) AS dcg,
           round(idcg.idcg, 9) AS idcg,
           CASE WHEN idcg.idcg <> 0 THEN
               round(dcg.dcg / idcg.idcg, 9) END AS ndcg
    FROM gh CROSS JOIN hits CROSS JOIN mrr CROSS JOIN dcg CROSS JOIN idcg
    """,
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded retrieval evaluation of the BM25 top-{_K} for the query
    {_TERMS}: each document's gain is the number of query terms it
    contains (0..{len(_TERMS)}); the query reports DCG with 9-dp
    log2-discount literals, the IDEAL DCG derived closed-form from the
    bounded gain histogram (no corpus sort — the ideal prefix is just
    'all 3-gain docs, then 2-gain, ...'), nDCG, MRR and recall at the
    cutoff with gain >= {_REL_TAU} as the relevance bar.

    Scale: the run is the term-filtered inverted-index BM25 plan; gains
    are one map over the token arrays; every metric lives on the
    {_K}-row run plus a 4-cell gain census."""
    docs = load_table(spark, sf_dir, "documents")
    run = R.bm25_topk(docs, _TERMS, k=_K)
    wr = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    run = run.select("doc_id", F.row_number().over(wr).alias("i"))
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != F.lit("")).alias("t"),
    )
    gain = None
    for t in _TERMS:
        g = F.array_contains(F.col("t"), t).cast("int")
        gain = g if gain is None else gain + g
    gains = toks.select("doc_id", gain.cast("long").alias("gain"))
    disc = spark.createDataFrame(
        [(i, _DISC[i]) for i in range(1, _K + 1)], "i int, d double"
    ).select("i", F.col("d").cast("decimal(12,9)").alias("d"))
    rung = run.join(gains, "doc_id").select("i", "gain")
    dcg = rung.join(F.broadcast(disc), "i").agg(
        F.sum(F.col("gain").cast("decimal(4,0)") * F.col("d"))
        .cast("double")
        .alias("dcg")
    )
    gh = gains.agg(
        F.sum((F.col("gain") == 3).cast("long")).cast("long").alias("n3"),
        F.sum((F.col("gain") == 2).cast("long")).cast("long").alias("n2"),
        F.sum((F.col("gain") == 1).cast("long")).cast("long").alias("n1"),
        F.sum((F.col("gain") >= _REL_TAU).cast("long")).cast("long").alias("n_rel"),
    )
    ideal_gain = (
        F.when(F.col("i") <= F.col("n3"), 3)
        .when(F.col("i") <= F.col("n3") + F.col("n2"), 2)
        .when(F.col("i") <= F.col("n3") + F.col("n2") + F.col("n1"), 1)
        .otherwise(0)
    )
    idcg = (
        disc.crossJoin(F.broadcast(gh))
        .agg(
            F.sum(ideal_gain.cast("decimal(4,0)") * F.col("d"))
            .cast("double")
            .alias("idcg")
        )
    )
    mrr = rung.filter(F.col("gain") >= _REL_TAU).agg(
        F.coalesce(F.round(F.lit(1.0) / F.min("i"), 9), F.lit(0.0)).alias("mrr")
    )
    hits = rung.agg(
        F.sum((F.col("gain") >= _REL_TAU).cast("long")).cast("long").alias("h")
    )
    return (
        gh.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(mrr))
        .crossJoin(F.broadcast(dcg))
        .crossJoin(F.broadcast(idcg))
        .select(
            "n_rel",
            F.col("h").alias("hits_at_k"),
            # guards mirror the oracle: zero relevant docs / zero ideal
            # gain leave the metric undefined (NULL), never a crash
            F.when(
                F.col("n_rel") != 0,
                F.round(F.col("h").cast("double") / F.col("n_rel"), 9),
            ).alias("recall_at_k"),
            "mrr",
            F.round(F.col("dcg"), 9).alias("dcg"),
            F.round(F.col("idcg"), 9).alias("idcg"),
            F.when(
                F.col("idcg") != 0, F.round(F.col("dcg") / F.col("idcg"), 9)
            ).alias("ndcg"),
        )
    )
