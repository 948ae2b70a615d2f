"""Post-window round-4 additions, part 27 (round-5 rotation material):
the feature-hashing trick and a histogram-based 2D skyline.

Registered last in queries/__init__.py (after llm33); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import sketches as K
from ..llmops.dedup import tokens_col
from .registry import register


_FH_DIM = 64


@register(
    "feature_hash_stats",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id, t,
               {K.md5_int_sql('t')} % {_FH_DIM} AS bucket,
               CASE WHEN {K.md5_int_sql('t', 's')} % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM tok
    ),
    vec AS (
        SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
        FROM h GROUP BY 1, 2
    ),
    d AS (
        SELECT doc_id, CAST(COUNT(DISTINCT t) AS BIGINT) AS n_distinct_tokens
        FROM tok GROUP BY 1
    )
    SELECT v.doc_id,
           d.n_distinct_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST(d.n_distinct_tokens - COUNT(*) AS BIGINT) AS n_collisions,
           CAST(SUM(CASE WHEN v.v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
           CAST(SUM(v.v * v.v) AS BIGINT) AS l2_sq
    FROM vec v JOIN d USING (doc_id)
    GROUP BY 1, 2
    """,
)
def feature_hash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): project each document's
    bag-of-words into a fixed 64-dim signed-hash vector — the
    dimensionality-blind featurizer linear models and online learners use
    when the vocabulary is unbounded. Per doc: buckets used, collision
    count (distinct tokens minus distinct buckets), nnz after sign
    cancellation, and the exact integer squared L2 norm.

    Hashes are the engine-portable md5-int family (llmops/sketches.py),
    sign from an independently salted hash, so the oracle replays every
    vector coordinate exactly — a wrong modulus, sign rule, or
    cancellation shows as an l2/nnz mismatch.

    Scale: explode -> (doc, bucket) partial-agg shuffle -> per-doc
    rollup; the vector space is fixed-width no matter the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col("text")).alias("t"))
    h = tok.select(
        "doc_id",
        "t",
        (K.md5_int("t") % _FH_DIM).alias("bucket"),
        F.when(K.md5_int("t", "s") % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias(
            "sgn"
        ),
    )
    vec = h.groupBy("doc_id", "bucket").agg(
        F.sum("sgn").cast("long").alias("v")
    )
    d = tok.groupBy("doc_id").agg(
        F.countDistinct("t").cast("long").alias("n_distinct_tokens")
    )
    return (
        vec.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets_used"),
            F.sum((F.col("v") != 0).cast("int")).cast("long").alias("nnz"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("l2_sq"),
        )
        .join(d, "doc_id")
        .select(
            "doc_id",
            "n_distinct_tokens",
            "n_buckets_used",
            (F.col("n_distinct_tokens") - F.col("n_buckets_used")).alias(
                "n_collisions"
            ),
            "nnz",
            "l2_sq",
        )
    )


@register(
    "pareto_front_parts",
    oracle="""
    WITH p AS (
        -- a NULL price can't be dominated or dominate (and a NULL cents
        -- group would enter the cumulative-min window first on Spark,
        -- last on DuckDB — poisoning m_strict on one engine only)
        SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents, p_size
        FROM part WHERE p_retailprice IS NOT NULL
    ),
    hist AS (
        SELECT cents, MIN(p_size) AS msize FROM p GROUP BY 1
    ),
    cum AS (
        SELECT cents, msize,
               MIN(msize) OVER (ORDER BY cents
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS m_strict
        FROM hist
    )
    SELECT p.p_partkey, p.cents, CAST(p.p_size AS INTEGER) AS p_size
    FROM p JOIN cum USING (cents)
    WHERE p.p_size = cum.msize
      AND (cum.m_strict IS NULL OR p.p_size < cum.m_strict)
    """,
)
def pareto_front_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) of parts minimizing (retail price,
    size): the multi-objective shortlist query — every part not dominated
    by a both-cheaper-and-smaller (or equal-and-strictly-better)
    alternative. Equal (price, size) twins are mutually non-dominating
    and both survive.

    Scale shape: the naive skyline is a dominance THETA join (O(n^2));
    the 2-D form collapses to the value histogram — per distinct price
    the min size, one cumulative-min window over that bounded histogram,
    then an equi-join back. Same discipline as histogram_rank: the only
    unpartitioned window runs over (price, min_size) rows.

    A part is on the front iff its size equals its price-group minimum
    AND beats the strict-cheaper running minimum."""
    part = load_table(spark, sf_dir, "part")
    p = part.filter(F.col("p_retailprice").isNotNull()).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        "p_size",
    )
    hist = p.groupBy("cents").agg(F.min("p_size").alias("msize"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn("m_strict", F.min("msize").over(w))
    return (
        p.join(cum, "cents")
        .filter(
            (F.col("p_size") == F.col("msize"))
            & (F.col("m_strict").isNull() | (F.col("p_size") < F.col("m_strict")))
        )
        .select("p_partkey", "cents", F.col("p_size").cast("int").alias("p_size"))
    )
