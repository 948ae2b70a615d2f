"""Post-window round-4 additions, part 36 (round-5 rotation material):
word2vec-style training-pair preparation — skip-gram pair extraction,
the unigram^0.75 negative-sampling table, and frequent-word subsampling.

These are the three data-side ingredients of embedding training (the
model itself is out of scope for a batch engine; producing its training
set at corpus scale is squarely in scope). Determinism recipes:

- ``cnt^0.75`` is computed as ``sqrt(sqrt(cnt^3))`` — ``pow`` is NOT
  bit-identical across engines (NOTES), but IEEE ``sqrt`` is, and
  ``cnt^3`` stays an exact BIGINT before one long->double conversion
  (round-to-nearest, identical in both engines).
- probability columns follow the decimal-accumulation pattern: 9-dp
  rounded weights in DECIMAL, exact sums, one final double division.

Registered last in queries/__init__.py (after llm42); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_W = 2  # skip-gram window radius
_PAIR_TOPK = 200
_NEG_VOCAB = 150
_SUBS_TOPK = 100
_SUBS_T = 1e-4  # word2vec frequent-word subsample threshold

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


def _toks():
    return F.filter(F.split("text", " "), lambda x: x != F.lit(""))


@register(
    "skipgram_pairs_topk",
    oracle=f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
    pos AS MATERIALIZED (
        SELECT doc_id, i, toks[i] AS term
        FROM d, unnest(range(1, len(toks) + 1)) AS t(i)),
    pr AS (
        SELECT a.term AS center, b.term AS context
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id
         AND b.i BETWEEN a.i - {_W} AND a.i + {_W}
         AND b.i <> a.i)
    SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pr GROUP BY 1, 2
    ORDER BY n_pairs DESC, center, context LIMIT {_PAIR_TOPK}
    """,
)
def skipgram_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts within a +/-{_W}-token
    window, top-{_PAIR_TOPK} by frequency — the positive-example stream
    of word2vec/SGNS training.

    The pair stream is generated MAP-SIDE from each token array (nested
    transform over in-bounds offsets), so unlike the textbook
    position-table self-join there is no doc-keyed join shuffle at all —
    the only exchange is the pair-count partial aggregation, and the
    top-k is a TakeOrdered, never a global sort. The oracle replays the
    same multiset via the position self-join form. The pair expression
    stays INSIDE the explode (exploded_shingles rule) and empty docs are
    guarded with a lazy CASE (Spark's ``sequence(1,0)`` is descending).

    Scale: pair volume is len * 2w per doc (linear), aggregated
    map-side first; the 100 TB plan is scan -> generate -> one shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(_toks().alias("_toks"))
    sz = F.size("_toks")

    def ctx(i):
        return F.filter(
            F.sequence(F.greatest(F.lit(1), i - _W), F.least(sz, i + _W)),
            lambda j: j != i,
        )

    pairs_expr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), sz),
            lambda i: F.transform(
                ctx(i),
                lambda j: F.struct(
                    F.element_at(F.col("_toks"), i).alias("center"),
                    F.element_at(F.col("_toks"), j).alias("context"),
                ),
            ),
        )
    )
    p = toks.select(F.explode(F.when(sz >= 1, pairs_expr)).alias("pr"))
    return (
        p.groupBy(
            F.col("pr.center").alias("center"), F.col("pr.context").alias("context")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "center", "context")
        .limit(_PAIR_TOPK)
    )


@register(
    "negative_sampling_table",
    oracle=f"""
    WITH tok AS MATERIALIZED (
        SELECT unnest({_TOK_SQL}) AS term FROM documents),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
    vocab AS (SELECT term, cnt FROM cnt ORDER BY cnt DESC, term LIMIT {_NEG_VOCAB}),
    v AS (SELECT term, cnt,
             CAST(round(sqrt(sqrt(CAST(cnt * cnt * cnt AS DOUBLE))), 9)
                  AS DECIMAL(28,9)) AS w9
          FROM vocab),
    tot AS (SELECT SUM(w9) AS tot FROM v)
    SELECT term, cnt,
           CAST(w9 AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS prob,
           CAST(SUM(w9) OVER (ORDER BY cnt DESC, term
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(tot.tot AS DOUBLE) AS cum_prob
    FROM v CROSS JOIN tot
    """,
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SGNS negative-sampling distribution: unigram count^0.75 over
    the top-{_NEG_VOCAB} vocabulary, normalised, with the cumulative
    probability column an alias/inverse-CDF sampler binary-searches.

    count^0.75 = sqrt(sqrt(count^3)) keeps the weight bit-identical
    across engines (IEEE sqrt; exact BIGINT cube) where ``pow`` would
    not be; weights are then 9-dp-rounded decimals so the normaliser
    and the running sum are exact in any accumulation order.

    Scale: one token-count shuffle, a bounded top-k vocabulary, and a
    window + broadcast normaliser over {_NEG_VOCAB} rows — the ordered
    window never sees corpus-sized input."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_toks()).alias("term"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = cnt.orderBy(F.col("cnt").desc(), "term").limit(_NEG_VOCAB)
    w9 = F.round(
        F.sqrt(F.sqrt((F.col("cnt") * F.col("cnt") * F.col("cnt")).cast("double"))), 9
    ).cast("decimal(28,9)")
    v = vocab.select("term", "cnt", w9.alias("w9"))
    tot = v.agg(F.sum("w9").alias("tot"))
    win = Window.orderBy(F.col("cnt").desc(), "term").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        v.withColumn("cw", F.sum("w9").over(win))
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            "cnt",
            # rule 14 (r12 strip): w9 / running sum / tot are exact
            # DECIMAL(28,9); their ->DOUBLE casts are exact while the
            # scaled integer stays under 2^53 (measured sf0.1 tot:
            # 2.78e13 scaled — 300x headroom), so the division is a
            # single bit-identical IEEE op and round(,9) could only mask.
            (F.col("w9").cast("double") / F.col("tot").cast("double")).alias(
                "prob"
            ),
            (F.col("cw").cast("double") / F.col("tot").cast("double")).alias(
                "cum_prob"
            ),
        )
    )


@register(
    "frequent_word_subsample",
    oracle=f"""
    WITH tok AS MATERIALIZED (
        SELECT unnest({_TOK_SQL}) AS term FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
    top AS (SELECT term, cnt FROM cnt ORDER BY cnt DESC, term LIMIT {_SUBS_TOPK}),
    p AS (
        SELECT term, cnt, tot.n,
               CAST(cnt AS DOUBLE) / CAST(tot.n AS DOUBLE) AS freq,
               least(1.0, round(
                   sqrt({_SUBS_T} / (CAST(cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)))
                   + {_SUBS_T} / (CAST(cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)), 9))
                   AS keep_prob
        FROM top CROSS JOIN tot)
    SELECT term, cnt, freq, keep_prob,
           CAST(CAST(cnt AS DECIMAL(12,0)) * CAST(keep_prob AS DECIMAL(12,9))
                AS DOUBLE) AS exp_kept
    FROM p
    """,
)
def frequent_word_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec frequent-word subsampling: for the top-{_SUBS_TOPK}
    terms, the keep probability min(1, sqrt(t/f) + t/f) with
    t = {_SUBS_T}, plus the expected surviving occurrence count — the
    step that stops 'the'-class tokens from dominating the pair stream.

    Every float step mirrors the oracle expression-for-expression
    (double divisions and one IEEE sqrt are bit-identical; keep_prob is
    9-dp-rounded before the exact decimal x integer expectation, with
    the integer side cast to a NARROW decimal first — the silent
    precision-clamp sharp edge).

    Scale: token-count shuffle + bounded top-k; the expectation is a
    per-row map over {_SUBS_TOPK} rows."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_toks()).alias("term"))
    tok = tok.persist()  # two consumers (total + counts); derived, not a base table
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    top = cnt.orderBy(F.col("cnt").desc(), "term").limit(_SUBS_TOPK)
    f = F.col("cnt").cast("double") / F.col("n").cast("double")
    keep = F.least(
        F.lit(1.0), F.round(F.sqrt(F.lit(_SUBS_T) / f) + F.lit(_SUBS_T) / f, 9)
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "term",
            "cnt",
            # rule 14 (r12 strip): freq is a single IEEE division of
            # exact int64 counts (not consumed downstream — keep_prob
            # recomputes f raw), bit-identical in both engines unrounded.
            f.alias("freq"),
            keep.alias("keep_prob"),
        )
        .withColumn(
            "exp_kept",
            (
                F.col("cnt").cast("decimal(12,0)")
                * F.col("keep_prob").cast("decimal(12,9)")
            ).cast("double"),
        )
    )
