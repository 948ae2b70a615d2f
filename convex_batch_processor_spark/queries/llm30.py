"""Post-window round-4 additions, part 23 (round-5 rotation material):
weighted sparse-vector similarity join, sorted-neighborhood dedup, and
sequential journey mining.

Registered last in queries/__init__.py (after llm29); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import dedup as D
from ..llmops import retrieval as R
from .registry import register


@register(
    "tfidf_cosine_pairs",
    oracle="""
    WITH tokd AS (
        SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    tok AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, greatest(1, len(t) - 1)),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        FROM tokd
    ),
    tf AS (SELECT doc_id, source, g, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2, 3),
    dft AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT tf.doc_id, tf.source, tf.g, dft.df,
               tf.tf * CAST(round(round(ln((n.n_docs + 1.0) / (dft.df + 1.0)), 9)
                                  * 1000000000) AS BIGINT) AS wn
        FROM tf JOIN dft USING (g) CROSS JOIN n
        WHERE dft.df <= 64
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(CAST(SUM(CAST(wn AS DECIMAL(19,0)) * CAST(wn AS DECIMAL(19,0)))
                         AS DOUBLE)) AS nrm
        FROM w GROUP BY 1
    ),
    dot AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(SUM(CAST(a.wn AS DECIMAL(19,0)) * CAST(b.wn AS DECIMAL(19,0)))
                    AS DOUBLE) AS dot
        FROM w a JOIN w b
          ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, cos_sim FROM (
        SELECT d.id_a, d.id_b,
               CASE WHEN na.nrm * nb.nrm > 0
                    THEN round(d.dot / (na.nrm * nb.nrm), 6) END AS cos_sim
        FROM dot d JOIN nrm na ON na.doc_id = d.id_a
                   JOIN nrm nb ON nb.doc_id = d.id_b)
    WHERE cos_sim >= 0.04
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs over word 3-grams (cos >= 0.04,
    source-blocked, df-capped at 64): the WEIGHTED sibling of
    ngram_jaccard_pairs — rare shared phrasing dominates, boilerplate
    grams are discounted by IDF, and hyper-common grams (df > 64) leave
    the vector space entirely (DISCO stop-term pruning, which is also
    what bounds the inverted-index join's per-term fan-out).

    Exact within the pruned space: integer nano-unit weights, decimal
    dot/norm accumulation, one IEEE division — bit-stable cross-engine.

    Rule-14 KEEP (measured at the r12 swap): the decimal dot/norm sums
    have unscaled values up to 3.8e21 >> 2^53 at sf0.1, so their
    ->DOUBLE casts can land 1 ulp apart between engines (Java
    BigDecimal.doubleValue vs DuckDB int128/10^s) — the round(,6) is
    LEAF-ABSORPTION of that drift and guards the >= 0.04 threshold from
    boundary flapping; a 6-dp tie on these noisy operands is
    measure-zero. Stripping it risks sf0.1 parity (zipf counter-case).

    Scale: explode -> (source, gram) equi-join -> pair agg; no term
    yields more than df_cap^2/2 candidates, no cross join, no UDF."""
    return R.tfidf_cosine_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH tokd AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    keyed AS (
        SELECT doc_id,
               coalesce(t[1], '') AS blk,
               coalesce(array_to_string(t[2:], ' '), '') AS rest,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    ELSE [] END AS sh
        FROM tokd
    ),
    nbr AS (
        SELECT doc_id, rest, sh,
               lag(doc_id, 1) OVER w AS n1_id, lag(sh, 1) OVER w AS n1_sh,
               lag(rest, 1) OVER w AS n1_rest,
               lag(doc_id, 2) OVER w AS n2_id, lag(sh, 2) OVER w AS n2_sh,
               lag(rest, 2) OVER w AS n2_rest
        FROM keyed WINDOW w AS (PARTITION BY blk ORDER BY rest, doc_id)
    ),
    cand AS (
        SELECT least(doc_id, n1_id) AS id_a, greatest(doc_id, n1_id) AS id_b,
               1 AS neighbor_dist,
               len(list_intersect(sh, n1_sh)) AS i, len(sh) + len(n1_sh) AS ab,
               rest = n1_rest AS same_key
        FROM nbr WHERE n1_id IS NOT NULL
        UNION ALL
        SELECT least(doc_id, n2_id), greatest(doc_id, n2_id), 2,
               len(list_intersect(sh, n2_sh)), len(sh) + len(n2_sh),
               rest = n2_rest
        FROM nbr WHERE n2_id IS NOT NULL
    )
    SELECT id_a, id_b, neighbor_dist, jaccard FROM (
        -- identical sub-3-token docs (empty shingle sets, ab = 0) score
        -- 1.0 on both sides instead of NULL-dropping (same block + same
        -- rest == identical token sequences)
        SELECT id_a, id_b, neighbor_dist,
               CASE WHEN ab - i > 0 THEN CAST(i AS DOUBLE) / (ab - i)
                    WHEN ab = 0 AND same_key THEN 1.0 END AS jaccard
        FROM cand)
    WHERE jaccard >= 0.5
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood near-dup pairs (window 2, 3-gram
    Jaccard >= 0.5): sort docs by (first-token block, remaining text) and
    compare each doc to its 2 sorted neighbors — O(n·w) candidates, the
    cheapest of the three classic near-dup families (vs the gram
    inverted-index join and MinHash banding), trading recall for cost
    when keys sort apart.

    Scale: the sort is per-block (lag() windows partitioned by first
    token — no global order, no single-partition WindowExec); one
    exchange on the block key; verification is O(n·w) array intersects."""
    return D.sorted_neighborhood_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "journey_triples_topk",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        -- NULLS FIRST matches Spark's ASC window default (a NULL-ts
        -- event threads at the journey START on both engines)
        FROM events WINDOW w AS (PARTITION BY user_id
                                 ORDER BY ts NULLS FIRST, event_id)
    ),
    j AS (
        SELECT user_id, event_type || ' > ' || t2 || ' > ' || t3 AS journey
        FROM seq WHERE t3 IS NOT NULL
    )
    SELECT journey, n_users, n_total FROM (
        SELECT journey,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               row_number() OVER (ORDER BY COUNT(DISTINCT user_id) DESC,
                                           COUNT(*) DESC, journey ASC) AS rn
        FROM j GROUP BY journey)
    WHERE rn <= 20
    """,
)
def journey_triples_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most common 3-step user journeys (consecutive event-type
    triples) by distinct-user support — sequential-pattern mining one
    level up from the Markov pair matrix (event_type_transitions):
    'what do users actually DO in order', the funnel-discovery primitive.

    Scale: per-user lead() windows (one exchange on user_id), a
    (journey) agg bounded by |event_types|^3, and a TakeOrdered top-20 —
    the global rank runs on the tiny journey census, never on events."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    j = seq.select(
        "user_id",
        # F.concat, NOT concat_ws: the oracle's || propagates NULL, while
        # concat_ws silently drops NULL components — a NULL event_type
        # must yield a NULL journey on both engines, not a 2-step string
        F.concat(
            F.col("event_type"), F.lit(" > "), F.col("t2"),
            F.lit(" > "), F.col("t3"),
        ).alias("journey"),
    )
    agg = j.groupBy("journey").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return (
        agg.orderBy(F.col("n_users").desc(), F.col("n_total").desc(), F.col("journey"))
        .limit(20)
        .select("journey", "n_users", "n_total")
    )
