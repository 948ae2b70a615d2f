"""Round-14 pack.

The tranche fills the data-mixing / retrieval-eval / dedup-decision gaps
left after llm72-74: deterministic weighted sampling WITHOUT replacement
(Gumbel-top-k — the sampler temperature-mixing weights feed), a
Dirichlet-smoothed query-likelihood ranker (the BM25 sibling), per-source
OOV-rate accounting against a frequency vocabulary, multi-signal quality
rank fusion, a deterministic curriculum interleave plan, rank-biased
overlap between source rankings, a near-dup threshold decision sweep,
cross-fold duplicate-leakage accounting, kNN-graph in-degree diagnostics
(ANN hub detection), and a per-source epoch/budget schedule.

``tests/test_r14_preflight.py`` runs every entry through the same
compare() harness the fixture gates use at sf0.001, a crafted boundary
fixture, AND sf0.1 (the rounding-tie tier).

Provenance: extends the reference's batch-processing surface
(blocknavi/convex-batch-processor, src/lib.ts — per-key aggregation and
retention state machines) with LLM-pipeline operators the task brief
names as first-class; none have a reference counterpart.

Determinism: the established recipes — exact integer counts until one
raw double division (rule 14: never round an exact ratio; zipf
counter-lesson: a final round is load-bearing ONLY over engine-skewed
casts, none of which appear here), leaf-rounded transcendentals at 9 dp,
md5-derived integers for portable pseudo-randomness kept under 2^53
(44-bit slices — exact int->double), division-free guards by row
exclusion, NULLS FIRST pinned on nullable tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops.dedup import tokens_col
from ..llmops.similarity import cosine_col
from ..operators.rank import histogram_rank
from .registry import register


# DuckDB twin of the normalized token array (shared shape with llm73).
_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


# --- 1. Gumbel-top-k weighted sampling without replacement --------------------

_GUM_K = 10  # sample size per source
_GUM_DENOM = (1 << 44) + 1  # u = (h44 + 1) / (2^44 + 1) in (0, 1), exact ints


@register(
    "gumbel_topk_sample",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               CAST(coalesce(len({_TOKS_SQL}), 0) + 1 AS BIGINT) AS w,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':gum'),
                                   1, 11) AS BIGINT) AS h
        FROM documents),
    keyed AS (
        SELECT doc_id, source, w,
               round(ln(CAST(w AS DOUBLE))
                     - ln(-ln((CAST(h AS DOUBLE) + 1.0) / {_GUM_DENOM}.0)), 9)
                   AS gumbel_key
        FROM base)
    SELECT doc_id, source, w AS weight, gumbel_key,
           CAST(rn AS BIGINT) AS sample_rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY source
                   ORDER BY gumbel_key DESC, doc_id ASC) AS rn
        FROM keyed
    ) WHERE rn <= {_GUM_K}
    """,
)
def gumbel_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: top-10 (_GUM_K)
    docs per source under the Gumbel-top-k trick (Vieira; Kool et al.) —
    key = ln(w) - ln(-ln(u)) ranks exactly like sequential weighted
    draws without replacement, so a data-mixing plan can take each
    source's quota in one pass, reproducibly across engines, retries,
    and repartitions (no rand()). Weight = token count + 1 (longer docs
    proportionally likelier; +1 keeps empty/NULL docs sampleable with
    ln(w) = 0 finite).

    Determinism: u = (h44 + 1) / (2^44 + 1) from a 44-bit md5 slice —
    both operands exact integers under 2^53, so int->double conversion
    and the division are bit-identical in both engines, and u lies
    STRICTLY inside (0, 1) (h44 + 1 <= 2^44 < 2^44 + 1), keeping both
    ln calls finite. The key is one transcendental expression,
    leaf-rounded at 9 dp (rule 14's blessed shape); ties break on
    doc_id.

    Scale: map-side key computation + one per-source top-k window —
    bounded groups, no global sort, no shuffle beyond the source key."""
    docs = load_table(spark, sf_dir, "documents")
    w = (F.coalesce(F.size(tokens_col("text")), F.lit(0)) + 1).cast("long")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":gum"))), 1, 11),
        16, 10,
    ).cast("long")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(_GUM_DENOM))
    key = F.round(F.log(w.cast("double")) - F.log(-F.log(u)), 9)
    keyed = docs.select(
        "doc_id", "source", w.alias("weight"), key.alias("gumbel_key")
    )
    win = Window.partitionBy("source").orderBy(
        F.col("gumbel_key").desc(), F.col("doc_id").asc()
    )
    return (
        keyed.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= _GUM_K)
        .select(
            "doc_id", "source", "weight", "gumbel_key",
            F.col("rn").cast("long").alias("sample_rank"),
        )
    )


# --- 2. Dirichlet-smoothed query likelihood ------------------------------------

_QL_TERMS = ("spark", "window", "hash")  # the bm25_topk query bag
_QL_MU = 100  # Dirichlet prior mass
_QL_K = 10


@register(
    "query_likelihood_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
    corpus AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS total FROM toks),
    cf AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
        FROM toks, unnest(t) AS u(term)
        WHERE term IN ('spark', 'window', 'hash')
        GROUP BY term),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks, unnest(t) AS u(term)
        WHERE term IN ('spark', 'window', 'hash')
        GROUP BY doc_id, term),
    grid AS (
        SELECT dl.doc_id, dl.dl, cf.term, cf.cf,
               coalesce(tf.tf, 0) AS tf
        FROM dl CROSS JOIN cf
        LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term),
    scored AS (
        SELECT doc_id,
               CAST(SUM(CAST(round(ln(
                   (CAST(tf AS DOUBLE)
                    + {_QL_MU}.0 * (CAST(cf AS DOUBLE) / CAST(c.total AS DOUBLE)))
                   / (CAST(dl AS DOUBLE) + {_QL_MU}.0)), 9)
                 AS DECIMAL(18,9))) AS DOUBLE) AS ql_score
        FROM grid CROSS JOIN corpus c
        GROUP BY doc_id)
    SELECT doc_id, ql_score FROM scored
    ORDER BY ql_score DESC, doc_id ASC
    LIMIT {_QL_K}
    """,
)
def query_likelihood_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 (_QL_K) documents by Dirichlet-smoothed query likelihood
    (Zhai & Lafferty, mu = 100, _QL_MU) for the same 3-term bag bm25_topk
    ranks — the language-modeling retrieval baseline next to BM25's
    tf-idf family. score(d) = sum over query terms of
    ln((tf + mu * cf/|C|) / (|d| + mu)); smoothing means every doc
    scores on every term (the doc x |q| grid), so docs missing a term
    are penalized, not skipped.

    Determinism: cf/|C| is an exact ratio consumed INSIDE ln (leaf
    rounded at 9 dp — rule 14); per-term 9-dp terms sum exactly in
    DECIMAL(18,9) (order-independent; |q| = 3 terms keeps the unscaled
    sum far under 2^52); top-k orders by (score DESC, doc_id).

    Scale: the term grid is |docs| x 3 (the bounded query bag cross
    join — never doc x doc); tf filters to query terms BEFORE its
    shuffle (inverted-index discipline); corpus stats broadcast; the
    top-k is a TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").cast("long").alias("dl"))
    corpus = toks.agg(F.sum(F.size("t")).cast("long").alias("total"))
    terms = toks.select("doc_id", F.explode("t").alias("term")).filter(
        F.col("term").isin(*_QL_TERMS)
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    grid = (
        dl.crossJoin(F.broadcast(cf))
        .join(tf, ["doc_id", "term"], "left")
        .select("doc_id", "dl", "term", "cf", F.coalesce("tf", F.lit(0)).alias("tf"))
    )
    mu = F.lit(float(_QL_MU))
    term9 = F.round(
        F.log(
            (F.col("tf").cast("double")
             + mu * (F.col("cf").cast("double") / F.col("total").cast("double")))
            / (F.col("dl").cast("double") + mu)
        ),
        9,
    ).cast("decimal(18,9)")
    return (
        grid.crossJoin(F.broadcast(corpus))
        .select("doc_id", term9.alias("term9"))
        .groupBy("doc_id")
        .agg(F.sum("term9").cast("double").alias("ql_score"))
        .orderBy(F.col("ql_score").desc(), F.col("doc_id").asc())
        .limit(_QL_K)
    )


# --- 3. OOV rate per source vs a frequency vocabulary ---------------------------

_OOV_VOCAB_K = 10  # vocabulary = top-K corpus terms


@register(
    "oov_rate_by_source",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS_SQL}) AS term
        FROM documents WHERE text IS NOT NULL),
    tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY term),
    vocab AS (
        SELECT term FROM (
            SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rn
            FROM tc
        ) WHERE rn <= {_OOV_VOCAB_K})
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS oov_rate
    FROM toks LEFT JOIN vocab v USING (term)
    GROUP BY source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the top-10 (_OOV_VOCAB_K)
    corpus-frequency vocabulary — the tokenizer-coverage screen run
    before fixing a vocab: a source whose OOV rate spikes will fragment
    into byte-fallback tokens and train poorly. Vocabulary ranking
    breaks count ties by term (total order).

    Determinism: exact integer token counts; the rate is one raw double
    division (rule 14 — unrounded).

    Scale: the vocab ranks via operators/rank.histogram_rank (its only
    unpartitioned window runs over the (count, n_terms) HISTOGRAM, not
    the vocabulary — the zipf plan shape); the vocab itself is K rows,
    broadcast into a map-side membership probe; one (source) rollup."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("source", F.explode(tokens_col("text")).alias("term"))
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        histogram_rank(tc, "cnt", "term", ascending=False, out_col="rn")
        .filter(F.col("rn") <= _OOV_VOCAB_K)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "term", "left")
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        oov.cast("long").alias("oov_tokens"),
        (oov.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )


# --- 4. multi-signal quality rank fusion (per-source Borda) --------------------

_FUSION_K = 5


@register(
    "quality_signal_fusion",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, source,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
               CAST(len(array_to_string(t, '')) AS DOUBLE) / len(t)
                   AS mean_tok_len
        FROM (SELECT doc_id, source, {_TOKS_SQL} AS t
              FROM documents WHERE text IS NOT NULL)
        WHERE len(t) >= 1),
    ranked AS (
        SELECT doc_id, source, n_tokens,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_tokens DESC, doc_id ASC) AS r1,
               row_number() OVER (PARTITION BY source
                                  ORDER BY ttr DESC, doc_id ASC) AS r2,
               row_number() OVER (PARTITION BY source
                                  ORDER BY mean_tok_len DESC, doc_id ASC) AS r3,
               COUNT(*) OVER (PARTITION BY source) AS ns
        FROM sig)
    SELECT doc_id, source, n_tokens,
           CAST(3 * ns - r1 - r2 - r3 AS BIGINT) AS borda,
           CAST(rn AS BIGINT) AS fused_rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY source
                   ORDER BY 3 * ns - r1 - r2 - r3 DESC, doc_id ASC) AS rn
        FROM ranked
    ) WHERE rn <= {_FUSION_K}
    """,
)
def quality_signal_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 (_FUSION_K) documents per source by Borda rank fusion of three
    cheap quality signals — token count, type-token ratio, mean token
    length (each ranked descending within source, doc_id tiebreak;
    borda = sum of (n_source - rank)) — the ensemble trick that makes
    single-signal quality filters robust to any one signal's failure
    mode (a long spam doc loses on TTR; a keyword-stuffed one loses on
    length). Empty-token docs are EXCLUDED by row filter (division-free
    guard: the ratio signals divide by len(t)).

    Determinism: ranks are row_numbers with doc_id tiebreaks (total
    orders; the ratio signals are identical doubles in both engines so
    their comparisons agree); borda is exact integer arithmetic.

    Scale: signals are map-side; four windows all partition by source
    (bounded, uniform groups — no global window, no skew)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sig = (
        docs.select("doc_id", "source", tokens_col("text").alias("t"))
        .filter(F.size("t") >= 1)
        .select(
            "doc_id",
            "source",
            F.size("t").cast("long").alias("n_tokens"),
            (F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias("ttr"),
            (F.length(F.array_join("t", "")).cast("double") / F.size("t")).alias(
                "mean_tok_len"
            ),
        )
    )
    def _rank(col: str) -> Window:
        return Window.partitionBy("source").orderBy(
            F.col(col).desc(), F.col("doc_id").asc()
        )

    ranked = (
        sig.withColumn("r1", F.row_number().over(_rank("n_tokens")))
        .withColumn("r2", F.row_number().over(_rank("ttr")))
        .withColumn("r3", F.row_number().over(_rank("mean_tok_len")))
        .withColumn("ns", F.count(F.lit(1)).over(Window.partitionBy("source")))
        .withColumn(
            "borda",
            (3 * F.col("ns") - F.col("r1") - F.col("r2") - F.col("r3")).cast("long"),
        )
    )
    wf = Window.partitionBy("source").orderBy(
        F.col("borda").desc(), F.col("doc_id").asc()
    )
    return (
        ranked.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= _FUSION_K)
        .select(
            "doc_id", "source", "n_tokens", "borda",
            F.col("rn").cast("long").alias("fused_rank"),
        )
    )


# --- 5. deterministic curriculum interleave plan --------------------------------


@register(
    "curriculum_interleave_plan",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(coalesce(len({_TOKS_SQL}), 0) AS BIGINT) AS n_tokens
        FROM documents),
    src AS (
        SELECT source,
               CAST(row_number() OVER (ORDER BY source ASC NULLS FIRST)
                    AS BIGINT) AS src_idx
        FROM (SELECT DISTINCT source FROM sized)),
    nsrc AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM src),
    rn AS (
        SELECT doc_id, sized.source, n_tokens,
               CAST(row_number() OVER (PARTITION BY sized.source
                                       ORDER BY n_tokens ASC, doc_id ASC)
                    AS BIGINT) AS rn_in_source
        FROM sized)
    SELECT rn.doc_id, rn.source, rn.n_tokens, rn.rn_in_source,
           CAST((rn.rn_in_source - 1) * nsrc.s + src.src_idx AS BIGINT)
               AS interleave_pos
    FROM rn JOIN src ON src.source IS NOT DISTINCT FROM rn.source
    CROSS JOIN nsrc
    """,
)
def curriculum_interleave_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-curriculum interleave: within each source,
    docs order shortest-first (the classic easy-to-hard curriculum);
    across sources, positions round-robin (pos = (rank-1) * n_sources +
    source_index) so no source monopolizes any training window — the
    schedule a data loader can join against without coordination,
    stable under re-runs and repartitions. Positions are globally
    unique; gaps appear where a shorter source runs out (acceptable:
    loaders consume in pos order).

    Determinism: pure integer arithmetic; the per-source rank breaks
    token-count ties by doc_id; the source index orders lexically with
    NULLS FIRST pinned on both engines (Spark windows default NULLS
    FIRST, DuckDB NULLS LAST — the rule-9 class), and the index joins
    back NULL-SAFELY so a NULL source forms its own interleave stream
    instead of silently vanishing from the schedule.

    Scale: one per-source window (bounded groups); the source index and
    count are |sources|-row broadcasts — no global window over docs."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.coalesce(F.size(tokens_col("text")), F.lit(0)).cast("long").alias("n_tokens"),
    )
    src = (
        sized.select("source").distinct()
        .withColumnRenamed("source", "_src")
        .withColumn(
            "src_idx",
            F.row_number().over(
                Window.orderBy(F.col("_src").asc_nulls_first())
            ).cast("long"),
        )
    )
    nsrc = src.agg(F.count(F.lit(1)).cast("long").alias("s"))
    win = Window.partitionBy("source").orderBy(
        F.col("n_tokens").asc(), F.col("doc_id").asc()
    )
    return (
        sized.withColumn("rn_in_source", F.row_number().over(win).cast("long"))
        .join(F.broadcast(src), F.col("source").eqNullSafe(F.col("_src")))
        .drop("_src")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "rn_in_source",
            ((F.col("rn_in_source") - 1) * F.col("s") + F.col("src_idx"))
            .cast("long")
            .alias("interleave_pos"),
        )
    )


# --- 6. rank-biased overlap between source rankings ------------------------------

_RBO_P = 0.9


@register(
    "rbo_ranking_agreement",
    oracle=f"""
    WITH stats AS (
        SELECT source,
               CAST(SUM(coalesce(len({_TOKS_SQL}), 0)) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source),
    r AS (
        SELECT source,
               CAST(row_number() OVER (ORDER BY n_tokens DESC, source ASC NULLS FIRST)
                    AS BIGINT) AS ra,
               CAST(row_number() OVER (ORDER BY n_docs DESC, source ASC NULLS FIRST)
                    AS BIGINT) AS rb
        FROM stats),
    depths AS (SELECT DISTINCT ra AS depth FROM r)
    SELECT d.depth,
           CAST(SUM(CASE WHEN r.ra <= d.depth AND r.rb <= d.depth
                         THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
           round(pow({_RBO_P}, d.depth - 1), 9) AS p_weight,
           round(pow({_RBO_P}, d.depth - 1), 9)
               * (CAST(SUM(CASE WHEN r.ra <= d.depth AND r.rb <= d.depth
                                THEN 1 ELSE 0 END) AS DOUBLE) / d.depth)
               AS weighted_agreement
    FROM depths d CROSS JOIN r
    GROUP BY d.depth
    """,
)
def rbo_ranking_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., p = 0.9, _RBO_P) between two source
    rankings — by total tokens vs by document count — the
    top-weighted agreement diagnostic for "do my size metrics tell the
    same story" (and, swapped for quality-signal rankings, for
    comparing curation policies). Emits the per-depth table (overlap at
    depth d, geometric weight p^(d-1), weighted agreement term);
    RBO = (1-p) * sum(terms) / (extrapolation constant) is one scalar
    fold the consumer applies — keeping per-depth rows makes the
    agreement profile auditable, not just its scalar.

    Determinism: ranks are row_numbers over the bounded source table
    with source tiebreaks; pow is leaf-rounded at 9 dp (engine pow may
    skew an ulp); the weighted term multiplies that 9-dp double by an
    exact overlap/depth ratio and is emitted RAW (never re-rounded —
    the tfidf re-round lesson).

    Scale: everything after the one per-source rollup is
    |sources|-bounded; the two ranking windows run over that bounded
    aggregate (the audited bounded-global-window class)."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.sum(F.coalesce(F.size(tokens_col("text")), F.lit(0)))
        .cast("long")
        .alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    ra = Window.orderBy(F.col("n_tokens").desc(), F.col("source").asc_nulls_first())
    rb = Window.orderBy(F.col("n_docs").desc(), F.col("source").asc_nulls_first())
    r = stats.select(
        "source",
        F.row_number().over(ra).cast("long").alias("ra"),
        F.row_number().over(rb).cast("long").alias("rb"),
    )
    depths = r.select(F.col("ra").alias("depth")).distinct()
    hit = F.when((F.col("ra") <= F.col("depth")) & (F.col("rb") <= F.col("depth")), 1).otherwise(0)
    pw = F.round(F.pow(F.lit(_RBO_P), F.col("depth") - 1), 9)
    return (
        depths.crossJoin(r)
        .groupBy("depth")
        .agg(F.sum(hit).cast("long").alias("overlap"))
        .select(
            "depth",
            "overlap",
            pw.alias("p_weight"),
            (pw * (F.col("overlap").cast("double") / F.col("depth"))).alias(
                "weighted_agreement"
            ),
        )
    )


# --- 7. near-dup threshold decision sweep ----------------------------------------

_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _sweep_oracle() -> str:
    """Built from llm.py's shared pair CTEs so the sweep's pair
    semantics and ngram_jaccard_pairs' can never drift (the
    scrub-policy one-text rule). Import is deferred so module import
    order can't cycle."""
    from .llm import _NGRAM_PAIRS_CTES

    return f"""
    WITH {_NGRAM_PAIRS_CTES},
    th AS (SELECT CAST(unnest([{', '.join(str(t) for t in _SWEEP_THRESHOLDS)}])
                       AS DOUBLE) AS threshold),
    q AS (
        SELECT th.threshold, p.id_a, p.id_b
        FROM th LEFT JOIN pairs p ON p.jaccard >= th.threshold)
    -- the lateral unnest doubles every pair row (one per endpoint), so
    -- the pair count halves back; COUNT(id_a) ignores the NULL rows the
    -- zero-qualifying thresholds carry
    SELECT threshold,
           CAST(COUNT(id_a) // 2 AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT u.id) AS BIGINT) AS n_docs_flagged
    FROM q, unnest([q.id_a, q.id_b]) AS u(id)
    GROUP BY threshold
    """


@register("neardup_threshold_sweep", oracle=_sweep_oracle())
def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup THRESHOLD decision sweep: for each candidate Jaccard
    cutoff in (0.5, 0.6, 0.7, 0.8, 0.9) (_SWEEP_THRESHOLDS), the number
    of 3-gram-Jaccard pairs at or above it and the number of DISTINCT
    documents those pairs flag — the table a pipeline owner reads to
    pick a dedup threshold (pair counts alone overstate impact when
    duplicates cluster; the distinct doc count is the actual removal
    exposure). Zero-qualifying thresholds still emit a (0, 0) row (the
    report-shape rule: LEFT JOIN from the threshold table, never
    filter-then-group).

    The pair set IS ngram_jaccard_pairs' output (every sweep threshold
    is >= its 0.5 floor) — both the Spark plan and the oracle CTEs are
    REUSED from queries/llm.py, not re-derived, so a fix to the
    PPJoin pipeline lands in both places at once.

    Determinism: Jaccard is one exact-integer-ratio double, identical in
    both engines, so >= comparisons against the same literal doubles
    agree; counts are exact integers.

    Scale: pair generation is the audited PPJoin count plan (distinct
    shingles -> one (source, gram) equi-join -> pair rollup, never
    doc x doc); the sweep joins the bounded pair table against a
    five-row literal — negligible."""
    from .llm import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    th = docs.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])).alias("threshold")
    )
    q = F.broadcast(th).join(
        pairs, pairs.jaccard >= F.col("threshold"), "left"
    )
    return (
        q.select(
            "threshold", "id_a",
            F.explode_outer(F.array("id_a", "id_b")).alias("id"),
        )
        .groupBy("threshold")
        .agg(
            (F.count("id") / 2).cast("long").alias("n_pairs"),
            F.countDistinct("id").alias("n_docs_flagged"),
        )
    )


# --- 8. cross-fold duplicate leakage ------------------------------------------------

_LEAK_FOLDS = 5  # mirrors dataset_split_folds' assignment


@register(
    "fold_leakage_pairs",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               md5(array_to_string({_TOKS_SQL}[1:8], ' ')) AS digest,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % {_LEAK_FOLDS} AS INTEGER) AS fold
        FROM documents WHERE text IS NOT NULL),
    c AS (
        SELECT digest, fold, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(COUNT(*)) OVER (PARTITION BY digest) >= 2 AS dup
        FROM d GROUP BY digest, fold)
    SELECT a.fold AS fold_a, b.fold AS fold_b,
           CAST(COUNT(*) AS BIGINT) AS n_digests,
           CAST(SUM(CASE WHEN a.fold = b.fold
                         THEN a.n * (a.n - 1) // 2
                         ELSE a.n * b.n END) AS BIGINT) AS n_dup_pairs
    FROM (SELECT * FROM c WHERE dup) a
    JOIN (SELECT * FROM c WHERE dup) b
      ON a.digest = b.digest AND a.fold <= b.fold
    GROUP BY a.fold, b.fold
    """,
)
def fold_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-pair placement audit for the deterministic
    five-fold (_LEAK_FOLDS) split (the dataset_split_folds assignment,
    md5(doc_id) mod 5): for every fold pair (fold_a <=
    fold_b), how many near-verbatim duplicate texts (same 8-token
    prefix fingerprint — llmops/textstats.prefix_fingerprint, the
    dedup_prefix_groups key; group size >= 2 anywhere in the corpus)
    have members in both folds and how many duplicate DOC PAIRS that
    placement creates — within-fold pairs (fold_a = fold_b, n*(n-1)/2)
    are the harmless baseline; any CROSS-fold row (fold_a < fold_b,
    n_a*n_b) is leakage: the folds share boilerplate/duplicated content
    and cross-validation scores are inflated. The fix is splitting by
    fingerprint, not doc.

    Determinism: exact integers end to end (digest-group fold counts,
    pair products; n*(n-1) is even, so the halving division is exact in
    both engines' integer division).

    Scale: one digest+fold rollup (the exact-dedup shuffle) filtered to
    duplicated digests, then a digest-keyed self-join whose per-digest
    fanout is bounded by _LEAK_FOLDS^2 = 25 — never doc x doc."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % _LEAK_FOLDS
    ).cast("int")
    from ..llmops.textstats import prefix_fingerprint

    wdig = Window.partitionBy("digest")
    c = (
        docs.select(prefix_fingerprint("text", 8).alias("digest"), fold.alias("fold"))
        .groupBy("digest", "fold")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("dup", F.sum("n").over(wdig) >= 2)
        .filter(F.col("dup"))
    )
    a = c.select(
        "digest", F.col("fold").alias("fold_a"), F.col("n").alias("n_a")
    )
    b = c.select(
        "digest", F.col("fold").alias("fold_b"), F.col("n").alias("n_b")
    )
    pairs = F.when(
        F.col("fold_a") == F.col("fold_b"),
        F.expr("n_a * (n_a - 1) div 2"),
    ).otherwise(F.col("n_a") * F.col("n_b"))
    return (
        a.join(b, "digest")
        .filter(F.col("fold_a") <= F.col("fold_b"))
        .groupBy("fold_a", "fold_b")
        .agg(
            F.count(F.lit(1)).alias("n_digests"),
            F.sum(pairs).cast("long").alias("n_dup_pairs"),
        )
    )


# --- 9. kNN-graph in-degree diagnostics ------------------------------------------

_KNNG_K = 5
_KNNG_SAMPLE_MOD = 20  # query side = vec_id % 20 == 0 (deterministic probe set)


@register(
    "knn_graph_degree_stats",
    oracle=f"""
    WITH nz AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0),
    edges AS (
        SELECT vec_id FROM (
            SELECT q.vec_id AS q_vec_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.v, c.v)
                                      / (sqrt(list_dot_product(q.v, q.v))
                                         * sqrt(list_dot_product(c.v, c.v))), 6)
                                DESC,
                                c.vec_id ASC) AS rn
            FROM nz q JOIN nz c ON c.vec_id <> q.vec_id
            WHERE q.vec_id % {_KNNG_SAMPLE_MOD} = 0
        ) WHERE rn <= {_KNNG_K}),
    indeg AS (
        SELECT nz.vec_id,
               CAST(coalesce(e.cnt, 0) AS BIGINT) AS in_degree
        FROM nz LEFT JOIN (
            SELECT vec_id, COUNT(*) AS cnt FROM edges GROUP BY vec_id
        ) e USING (vec_id))
    SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM indeg GROUP BY in_degree
    """,
)
def knn_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the exact cosine k-NN graph (k = 5, _KNNG_K)
    built from a deterministic probe set (every 20th vec_id,
    _KNNG_SAMPLE_MOD) — the ANN hub/anti-hub diagnostic: a heavy right tail means
    a few vectors dominate every neighbor list (hubness — recall will
    look fine while retrieval diversity collapses), a spike at zero
    means dead regions. Vectors never chosen by any probe count at
    in-degree 0 (LEFT JOIN from the candidate set — the report-shape
    rule).

    Determinism: similarity rounds at 6 dp before ranking with a vec_id
    tiebreak (the knn_bruteforce recipe); zero-norm vectors are
    excluded on BOTH sides by the same norm > 0 filter (cosine
    undefined).

    Scale: this exact form is the bounded verification baseline (probe
    x corpus with the probe side a twentieth of vecs); at
    100 TB the edges come from the ANN path (ivf_assign / banded LSH —
    llmops/similarity.py) and this histogram is unchanged downstream of
    whatever edge set is supplied."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    dot_self = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    nz = emb.select("vec_id", "embedding").filter(dot_self > 0)
    q = nz.filter(F.col("vec_id") % _KNNG_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_vec")
    )
    c = nz.select(F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_vec"))
    sim = F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6)
    win = Window.partitionBy("q_vec_id").orderBy(
        F.col("sim").desc(), F.col("c_vec_id").asc()
    )
    edges = (
        F.broadcast(q)
        .join(c, F.col("q_vec_id") != F.col("c_vec_id"))
        .select("q_vec_id", "c_vec_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= _KNNG_K)
        .select(F.col("c_vec_id").alias("vec_id"))
    )
    cnt = edges.groupBy("vec_id").agg(F.count(F.lit(1)).alias("cnt"))
    indeg = nz.select("vec_id").join(cnt, "vec_id", "left").select(
        F.coalesce("cnt", F.lit(0)).cast("long").alias("in_degree")
    )
    return indeg.groupBy("in_degree").agg(F.count(F.lit(1)).alias("n_vecs"))


# --- 10. per-source epoch/budget schedule ------------------------------------------

_SCHED_BUDGET = 1_000_000  # token budget to apportion


@register(
    "source_epoch_schedule",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(SUM(coalesce(len({_TOKS_SQL}), 0)) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
    w AS (
        SELECT source, n_tokens,
               CAST(round(sqrt(n_tokens) * 1000000) AS BIGINT) AS wi
        FROM s WHERE n_tokens > 0),
    tot AS (SELECT CAST(SUM(wi) AS BIGINT) AS tw FROM w),
    d AS (
        SELECT source, n_tokens, wi,
               CAST(({_SCHED_BUDGET} * wi) // tw AS BIGINT) AS base,
               CAST(({_SCHED_BUDGET} * wi) % tw AS BIGINT) AS rem
        FROM w CROSS JOIN tot),
    r AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC NULLS FIRST)
                   AS rk,
               {_SCHED_BUDGET} - CAST(SUM(base) OVER () AS BIGINT) AS leftover
        FROM d)
    SELECT source, n_tokens, wi AS weight_scaled,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_tokens,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS DOUBLE)
               / CAST(n_tokens AS DOUBLE) AS epochs
    FROM r
    """,
)
def source_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training budget schedule: apportion a
    1,000,000-token (_SCHED_BUDGET) budget across sources proportionally to
    sqrt(source tokens) (temperature 0.5 up-weighting of small sources,
    the mixture_weights_sqrt policy applied to an actual token budget)
    via exact largest-remainder allocation, and report epochs =
    allocation / source size — the "how many times does each source
    repeat" table that decides whether a mix over-epochs its small
    slices (the Muennighoff data-constrained scaling question).
    Allocations sum to the budget exactly.

    Determinism: weights are integerized sqrt values
    (round(sqrt(n) * 1e6) — sqrt is IEEE-correctly-rounded,
    integer-rounding a bit-identical double is engine-identical);
    base/remainder arithmetic is exact integer division (DuckDB `//`
    on integers truncates exactly like Spark `div`); the remainder
    tiebreak pins (rem DESC, source ASC NULLS FIRST) — the neyman
    lesson; epochs is one raw exact-integer division (rule 14).

    Scale: one corpus rollup to |sources| rows; everything after is
    bounded (the largest-remainder window runs over that table)."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.coalesce(F.size(tokens_col("text")), F.lit(0)))
        .cast("long")
        .alias("n_tokens")
    )
    w = s.filter(F.col("n_tokens") > 0).select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens")) * 1_000_000, 0).cast("long").alias("wi"),
    )
    tot = w.agg(F.sum("wi").cast("long").alias("tw"))
    d = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "wi",
        F.expr(f"({_SCHED_BUDGET} * wi) div tw").cast("long").alias("base"),
        F.expr(f"({_SCHED_BUDGET} * wi) % tw").cast("long").alias("rem"),
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("source").asc_nulls_first())
    wall = Window.partitionBy()
    r = d.select(
        "source",
        "n_tokens",
        "wi",
        "base",
        F.row_number().over(wr).alias("rk"),
        (F.lit(_SCHED_BUDGET) - F.sum("base").over(wall).cast("long")).alias(
            "leftover"
        ),
    )
    alloc = F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return r.select(
        "source",
        "n_tokens",
        F.col("wi").alias("weight_scaled"),
        alloc.cast("long").alias("alloc_tokens"),
        (alloc.cast("double") / F.col("n_tokens").cast("double")).alias("epochs"),
    )
