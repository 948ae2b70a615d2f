"""Round-13 pack.

The tranche closes the REPORTING layer of the LLM-data pipeline — the
queries a pipeline owner reads to decide what to ship: cross-source
leakage, dedup impact, quality-filter retention, vocabulary scaling,
embedding-space outliers, and fill-in-middle split planning.

``tests/test_r13_preflight.py`` runs every entry through the same
compare() harness the fixture gates use at sf0.001, a crafted boundary
fixture, AND sf0.1 (the rounding-tie tier).

Provenance: extends the reference's batch-processing surface
(blocknavi/convex-batch-processor, src/lib.ts — per-key aggregation and
retention state machines) with LLM-pipeline operators the task brief
names as first-class; none have a reference counterpart.

Determinism: the established recipes — exact integer counts until one
raw double division (rule 14), leaf-rounded transcendentals at 9 dp,
decimal sums kept under 2^52 unscaled (rule 15b), division-free guard
conditions, md5-derived integers for portable pseudo-randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops.dedup import (
    positional_gram_array,
    scrub_covered_positions,
    tokens_col,
)
from .llm72 import _SPAN_N
from .llm73 import (
    SCRUB_COVERED_CTES,
    hashed_token_weight,
    hashed_token_weight_sql,
)
from .registry import register


# --- 1. cross-source contamination matrix --------------------------------------


@register(
    "cross_source_contamination_matrix",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents WHERE text IS NOT NULL),
    sg AS (
        SELECT DISTINCT source,
               array_to_string(t[i:i + {_SPAN_N - 1}], ' ') AS gram
        FROM toks, unnest(range(1, len(t) - {_SPAN_N - 2})) AS r(i)
        WHERE len(t) >= {_SPAN_N}),
    totals AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM sg GROUP BY source),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2)
    SELECT s.source_a, s.source_b, s.n_shared,
           ta.n_grams AS n_grams_a, tb.n_grams AS n_grams_b,
           CAST(s.n_shared AS DOUBLE)
               / CAST(ta.n_grams + tb.n_grams - s.n_shared AS DOUBLE)
               AS jaccard
    FROM shared s
    JOIN totals ta ON ta.source = s.source_a
    JOIN totals tb ON tb.source = s.source_b
    """,
)
def cross_source_contamination_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise cross-source leakage matrix: for every source pair, the
    count and Jaccard similarity of shared DISTINCT token 8-grams
    (_SPAN_N, the substring-dedup width) — the generalization of the
    train/eval contamination check (eval_contamination) to the full
    source x source grid a pipeline owner reads before declaring splits
    independent. Pairs sharing nothing emit no row.

    Determinism: exact integer gram-set sizes; the Jaccard is one raw
    double division (rule 14 — unrounded); the union-size denominator is
    positive whenever a row exists (n_shared >= 1 implies both totals
    >= 1).

    Scale: distinct (source, gram) collapses the corpus to gram types x
    their source sets BEFORE any pairing; the self-join is gram-keyed
    with per-gram fanout <= |sources|^2 (bounded by the source count,
    never doc x doc); totals join back on the bounded source key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select("source", tokens_col("text").alias("t"))
        .filter(F.size("t") >= _SPAN_N)
    )
    sg = toks.select(
        "source",
        F.explode(positional_gram_array("t", _SPAN_N)).alias("gram"),
    ).distinct()
    # three consumers below (totals + both self-join sides) — without
    # persist each re-runs the tokenize + gram explode + distinct
    # (the 4-6x multi-consumer recompute class; session-lifetime cache
    # per the positional_gram_index / kneser_ney contract)
    sg = sg.persist()
    totals = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.alias("a")
    b = sg.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("n_grams_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("n_grams_b")
    )
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_grams_a",
            "n_grams_b",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


# --- 2. dedup impact report ------------------------------------------------------


@register(
    "dedup_impact_report",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text,
               CAST(coalesce(len(list_filter(string_split(text, ' '),
                                             x -> x <> '')), 0) AS BIGINT)
                   AS n_tokens
        FROM documents WHERE text IS NOT NULL),
    corpus AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM base),
    exact_flag AS (
        -- exact dedup: every doc beyond the min-doc_id keeper of a text
        SELECT doc_id, n_tokens
        FROM (SELECT doc_id, n_tokens,
                     ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id)
                         AS rn
              FROM base)
        WHERE rn > 1),
    -- the scrub removal set is the SHARED CTE chain (llm73's
    -- SCRUB_COVERED_CTES) — one policy with substring_dedup_scrub
    {SCRUB_COVERED_CTES},
    scrub_flag AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM covered GROUP BY doc_id),
    report AS (
        SELECT 'exact_duplicate_docs' AS method,
               CAST(COUNT(*) AS BIGINT) AS n_docs_flagged,
               CAST(coalesce(SUM(n_tokens), 0) AS BIGINT) AS n_tokens_flagged
        FROM exact_flag
        UNION ALL
        SELECT 'substring_scrub_tokens' AS method,
               CAST(COUNT(*) AS BIGINT) AS n_docs_flagged,
               CAST(coalesce(SUM(n_tokens), 0) AS BIGINT) AS n_tokens_flagged
        FROM scrub_flag)
    SELECT r.method, r.n_docs_flagged, r.n_tokens_flagged,
           -- both fractions NULL-guard the empty corpus DIVISION-FREE:
           -- the report rows always emit (global aggregates), so an
           -- all-NULL-text corpus reaches this select with n_docs = 0
           CASE WHEN c.n_docs > 0
                THEN CAST(r.n_docs_flagged AS DOUBLE)
                     / CAST(c.n_docs AS DOUBLE)
                ELSE NULL END AS frac_docs,
           CASE WHEN c.n_tokens > 0
                THEN CAST(r.n_tokens_flagged AS DOUBLE)
                     / CAST(c.n_tokens AS DOUBLE)
                ELSE NULL END AS frac_tokens
    FROM report r CROSS JOIN corpus c
    """,
)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact summary — the two-row report a pipeline owner reads
    before committing a scrub: per method (exact full-text duplicates
    beyond the min-doc_id keeper; substring-scrub token removal at the
    8-gram policy), the flagged doc count, flagged token budget, and
    both as fractions of the tokenizable corpus. The near-dup family
    keeps its own cluster-census reports (dup_cluster_size_census,
    neardup_eval_metrics) because flagging there depends on a keeper
    policy over components, not a per-doc predicate.

    Determinism: exact integers; the fractions are raw double divisions
    of exact integers (rule 14 — unrounded). The report rows ALWAYS emit
    (global aggregates emit one row even over an empty input), so an
    all-NULL-text corpus reaches the division with n_docs = 0 — both
    fractions NULL-guard it with DIVISION-FREE conditions on both
    engines (ANSI Spark would otherwise throw where DuckDB yields NULL).

    Scale: exact dedup is one text-keyed window (the dedup_exact shape);
    the scrub reuses the shared positional-gram index (one gram-keyed
    shuffle, duplication-bounded coverage explode); the final report is
    two rows crossed with a one-row broadcast."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(
        "doc_id",
        "text",
        F.coalesce(F.size(tokens_col("text")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    corpus = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens_total"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("text").orderBy("doc_id")
    exact_flag = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_flagged"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens_flagged"),
        )
        .select(
            F.lit("exact_duplicate_docs").alias("method"),
            "n_docs_flagged",
            "n_tokens_flagged",
        )
    )
    # the shared removal set — one policy with substring_dedup_scrub
    covered = scrub_covered_positions(docs, _SPAN_N)
    scrub_flag = (
        covered.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_removed"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_flagged"),
            F.coalesce(F.sum("n_removed"), F.lit(0))
            .cast("long")
            .alias("n_tokens_flagged"),
        )
        .select(
            F.lit("substring_scrub_tokens").alias("method"),
            "n_docs_flagged",
            "n_tokens_flagged",
        )
    )
    report = exact_flag.unionAll(scrub_flag)
    return report.crossJoin(corpus).select(
        "method",
        "n_docs_flagged",
        "n_tokens_flagged",
        # both fractions NULL-guard the empty corpus (oracle comment)
        F.when(
            F.col("n_docs") > 0,
            F.col("n_docs_flagged").cast("double")
            / F.col("n_docs").cast("double"),
        ).otherwise(F.lit(None).cast("double")).alias("frac_docs"),
        F.when(
            F.col("n_tokens_total") > 0,
            F.col("n_tokens_flagged").cast("double")
            / F.col("n_tokens_total").cast("double"),
        ).otherwise(F.lit(None).cast("double")).alias("frac_tokens"),
    )


# --- 3. quality-filter retention by source --------------------------------------


@register(
    "quality_filter_retention",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, unnest(list_filter(string_split(text, ' '),
                                                  x -> x <> '')) AS tok
        FROM documents WHERE text IS NOT NULL),
    s AS (
        SELECT doc_id, source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM({hashed_token_weight_sql("tok")}) AS BIGINT) AS w_sum
        FROM tok GROUP BY doc_id, source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN w_sum >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
           CAST(SUM(CASE WHEN w_sum >= 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS doc_retention,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN w_sum >= 0 THEN n_tokens ELSE 0 END) AS BIGINT)
               AS n_tokens_pass,
           CAST(SUM(CASE WHEN w_sum >= 0 THEN n_tokens ELSE 0 END) AS DOUBLE)
               / CAST(SUM(n_tokens) AS DOUBLE) AS token_retention
    FROM s GROUP BY source
    """,
)
def quality_filter_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter retention by source under the hashed linear scorer
    (llm73.hashed_linear_quality_score) at the 0.5-probability threshold:
    docs/tokens passing per source — the "who loses data" report that
    decides whether a filter threshold is shippable. The threshold is
    evaluated in INTEGER space (sigmoid(mean_w) >= 0.5 <=> w_sum >= 0,
    since sigmoid is monotone and n_tokens > 0), so the filter decision
    involves no float at all. Docs with zero tokens never reach the
    grouping (no token rows), so SUM(n_tokens) >= COUNT(*) >= 1 per
    emitted source and both retention divisions are safe raw doubles
    (rule 14 — unrounded).

    Scale: token explode -> one doc-keyed reduce -> one source-keyed
    reduce; the weight is a pure column expression (no model state)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id", "source", F.explode(tokens_col("text")).alias("tok")
    )
    s = (
        tok.select("doc_id", "source", hashed_token_weight("tok").alias("wi"))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("wi").cast("long").alias("w_sum"),
        )
    )
    passed = (F.col("w_sum") >= 0).cast("long")
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(passed).cast("long").alias("n_pass"),
        (F.sum(passed).cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("doc_retention"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(passed * F.col("n_tokens")).cast("long").alias("n_tokens_pass"),
        (
            F.sum(passed * F.col("n_tokens")).cast("double")
            / F.sum("n_tokens").cast("double")
        ).alias("token_retention"),
    )


# --- 4. Heaps' law fit over per-source vocabularies ------------------------------


@register(
    "heaps_law_fit",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS tok
        FROM documents WHERE text IS NOT NULL),
    pts AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_vocab
        FROM tok GROUP BY source),
    xy AS (
        SELECT CAST(round(ln(CAST(n_tokens AS DOUBLE)), 9) AS DECIMAL(18,9))
                   AS x,
               CAST(round(ln(CAST(n_vocab AS DOUBLE)), 9) AS DECIMAL(18,9))
                   AS y
        FROM pts),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                             AS DECIMAL(27,9))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                             AS DECIMAL(27,9))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9)
                             AS DECIMAL(27,9))) AS DOUBLE) AS syy
        FROM xy)
    SELECT n AS n_points,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
                THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx)
                ELSE NULL END AS beta,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
                THEN (sy - sx * ((CAST(n AS DOUBLE) * sxy - sx * sy)
                                 / (CAST(n AS DOUBLE) * sxx - sx * sx)))
                     / CAST(n AS DOUBLE)
                ELSE NULL END AS ln_k,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n AS DOUBLE) * syy - sy * sy) > 0
                THEN ((CAST(n AS DOUBLE) * sxy - sx * sy)
                      * (CAST(n AS DOUBLE) * sxy - sx * sy))
                     / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy))
                ELSE NULL END AS r2
    FROM m
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K * N^beta over per-source (token count,
    vocabulary size) points: log-log OLS slope (beta), intercept (ln K),
    and r^2 — the vocabulary scaling-law snapshot that says whether more
    of the same data keeps buying new types (beta near the English
    ~0.4-0.6 band) or the corpus has saturated (beta -> 0, a dedup/
    diversity smell).

    Determinism: counts are exact integers; ln is a leaf-rounded
    transcendental at 9 dp pinned to DECIMAL(18,9); the moment products
    re-round at 9 dp into DECIMAL(27,9) (transcendental-contaminated —
    measure-zero ties) so every sum is an exact fold under 2^52
    unscaled (rule 15b); the OLS closed form is fixed-shape raw double
    arithmetic with DIVISION-FREE degenerate guards (single source or
    all-equal points -> NULL slope, the zero-variance-numerator rule).

    Scale: token explode -> one (source, tok)-keyed distinct/count pass
    -> |sources| points -> one-row moments. The OLS is O(1) after the
    vocabulary count."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select("source", F.explode(tokens_col("text")).alias("tok"))
    pts = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("n_vocab"),
    )
    x = F.round(F.log(F.col("n_tokens").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    y = F.round(F.log(F.col("n_vocab").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    xy = pts.select(x.alias("x"), y.alias("y"))

    def _p9(a, b):
        return F.round(a.cast("double") * b.cast("double"), 9).cast(
            "decimal(27,9)"
        )

    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(_p9(F.col("x"), F.col("y"))).cast("double").alias("sxy"),
        F.sum(_p9(F.col("x"), F.col("x"))).cast("double").alias("sxx"),
        F.sum(_p9(F.col("y"), F.col("y"))).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    beta = num / den
    return m.select(
        F.col("n").alias("n_points"),
        F.when(den > 0, beta).otherwise(F.lit(None).cast("double"))
        .alias("beta"),
        F.when(den > 0, (F.col("sy") - F.col("sx") * beta) / nd)
        .otherwise(F.lit(None).cast("double"))
        .alias("ln_k"),
        F.when(den * deny > 0, (num * num) / (den * deny))
        .otherwise(F.lit(None).cast("double"))
        .alias("r2"),
    )


# --- 5. diagonal-Mahalanobis embedding outliers ----------------------------------

_OUT_K = 50


@register(
    "mahalanobis_outlier_topk",
    oracle=f"""
    WITH el AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
                    AS DECIMAL(12,6)) AS e
        FROM embeddings WHERE embedding IS NOT NULL),
    m AS (
        SELECT dim,
               CAST(SUM(e) AS DOUBLE) AS s,
               CAST(SUM(CAST(round(e * e, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   AS sq,
               CAST(COUNT(*) AS DOUBLE) AS nd
        FROM el GROUP BY dim),
    stats AS (
        SELECT dim, s / nd AS mu,
               (sq - ((s * s) / nd)) / nd AS var
        FROM m),
    terms AS (
        SELECT el.vec_id,
               CAST(round(CASE WHEN st.var > 0
                    THEN ((CAST(el.e AS DOUBLE) - st.mu)
                          * (CAST(el.e AS DOUBLE) - st.mu)) / st.var
                    ELSE 0.0 END, 6) AS DECIMAL(20,6)) AS z2
        FROM el JOIN stats st ON st.dim = el.dim),
    scored AS (
        SELECT vec_id, CAST(SUM(z2) AS DOUBLE) AS m2
        FROM terms GROUP BY vec_id)
    SELECT vec_id, m2,
           CAST(ROW_NUMBER() OVER (ORDER BY m2 DESC, vec_id) AS BIGINT)
               AS outlier_rank
    FROM scored
    ORDER BY m2 DESC, vec_id
    LIMIT {_OUT_K}
    """,
)
def mahalanobis_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 (_OUT_K) embedding-space outliers by DIAGONAL Mahalanobis distance
    (sum over dims of ((e - mu_d)^2 / var_d), the standardization
    moments of embedding_dim_standardize reused as a screening
    statistic) — the curation step that quarantines mis-embedded or
    corrupted vectors before they poison ANN/cluster stages. Constant
    dims (var = 0) contribute 0 through a guard whose condition divides
    only by n >= 1 (never crashes).

    Determinism: elements leaf-round at 6 dp into exact decimals; the
    per-dim square rounds decimal->decimal to scale 6 BEFORE summing
    (rule 15b: the scale-6 accumulator keeps the unscaled sum under
    2^52 to ~4.5e9 of summed e^2 vs ~4.5e3 at scale 12); mu/var are
    fixed-shape double expressions of exact decimal sums; each z^2
    term re-rounds at 6 dp into DECIMAL(20,6) (variance-contaminated —
    tie measure-zero) so the per-vector sum is an exact fold.
    Quantization floor (the headroom trade): rounding e^2 at scale 6
    zeroes dims whose per-element square is under 0.5e-6 (|e| below
    ~7.1e-4) — such a dim computes sq = 0, var <= 0, and contributes
    nothing to the score (the var > 0 guard excludes it). Document
    embeddings at unit-ish norm (|e| ~ 1/sqrt(d)) sit orders of
    magnitude above the floor; for corpora with genuinely
    sub-milli-magnitude dims, move the term to scale 9
    (DECIMAL(21,9) — headroom drops to ~4.5e6 of summed e^2, the
    calibration_ece_brier bound) on BOTH sides. Rule-15b
    residual: a single z^2 term above ~4.5e9 (a >67000-sigma outlier
    under a near-zero variance dim) would push the per-vector DECIMAL
    (20,6) sum past 2^52 in its double cast — document-level screening
    data doesn't produce that, but a constant-except-one-vector dim
    could; if that corpus shape matters, coarsen z2 to scale 3 first.
    The top-k orders by (m2 DESC, vec_id) — a total order.

    Scale: posexplode -> ONE shuffle on the 64-value dim key for the
    moments (|dims| rows, broadcast back) -> per-vector reduce ->
    TakeOrderedAndProject for the top-k. No pair expansion anywhere."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    e6 = F.round(F.col("e").cast("double"), 6).cast("decimal(12,6)")
    el = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "e")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), e6.alias("e"))
    m = el.groupBy("dim").agg(
        F.sum("e").cast("double").alias("s"),
        # round the exact scale-12 square to scale 6 BEFORE summing
        # (rule 15b headroom: at scale 12 the unscaled per-dim sum of
        # e^2 exceeds 2^52 once SUM(e^2) passes ~4.5e3 — a few hundred
        # thousand vectors; at scale 6 the bound is ~4.5e9. Decimal->
        # decimal rescale of a nonnegative exact value rounds half-up
        # identically in both engines — no float tie surface; the
        # embedding_energy_profile pattern)
        F.sum(F.round(F.col("e") * F.col("e"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("sq"),
        F.count(F.lit(1)).cast("double").alias("nd"),
    )
    stats = F.broadcast(
        m.select(
            "dim",
            (F.col("s") / F.col("nd")).alias("mu"),
            (
                (F.col("sq") - ((F.col("s") * F.col("s")) / F.col("nd")))
                / F.col("nd")
            ).alias("var"),
        )
    )
    d = F.col("e").cast("double") - F.col("mu")
    z2 = F.round(
        F.when(F.col("var") > 0, (d * d) / F.col("var")).otherwise(F.lit(0.0)),
        6,
    ).cast("decimal(20,6)")
    scored = (
        el.join(stats, "dim")
        .select("vec_id", z2.alias("z2"))
        .groupBy("vec_id")
        .agg(F.sum("z2").cast("double").alias("m2"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("m2").desc(), "vec_id")
    return (
        scored.orderBy(F.col("m2").desc(), "vec_id")
        .limit(_OUT_K)
        .withColumn("outlier_rank", F.row_number().over(w).cast("long"))
    )


# --- 6. fill-in-middle (FIM) split planning --------------------------------------

_FIM_PCT = 20  # middle-span target percentage of tokens


@register(
    "fim_split_plan",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL),
    planned AS (
        SELECT doc_id, n_tokens,
               greatest(1, (n_tokens * {_FIM_PCT}) // 100) AS m_len
        FROM sized WHERE n_tokens >= 2),
    placed AS (
        SELECT doc_id, n_tokens, m_len,
               2 + (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim'),
                                        1, 15) AS BIGINT)
                    % (n_tokens - m_len)) AS middle_start
        FROM planned)
    SELECT doc_id, n_tokens,
           CAST(middle_start - 1 AS BIGINT) AS prefix_len,
           CAST(middle_start AS BIGINT) AS middle_start,
           CAST(m_len AS BIGINT) AS middle_len,
           CAST(n_tokens - (middle_start - 1) - m_len AS BIGINT) AS suffix_len
    FROM placed
    """,
)
def fim_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fill-in-middle (FIM) split planning — the code-model
    data transform (Bavarian et al.): per document with >= 2 tokens,
    pick a middle span of max(1, 20% of tokens) (_FIM_PCT) at an
    md5-derived start, leaving a NON-EMPTY prefix (middle_start >= 2,
    1-based) and a possibly-empty suffix; emit (prefix_len, middle_start,
    middle_len, suffix_len) with prefix + middle + suffix = n always.
    Reproducible across engines/retries/partitions, unlike rand().

    Determinism: exact integer arithmetic end to end (m_len is an
    integer division truncated identically by Spark's long-cast and
    DuckDB's `//`; the start offset is a 60-bit md5 mod). The mod
    denominator n_tokens - m_len is >= 1 for every planned doc: n >= 2
    and m_len <= max(1, n/5) <= n - 1.

    Scale: pure map-side column math — no shuffle, no explode."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") >= 2)
    m_len = F.greatest(
        F.lit(1).cast("long"),
        ((F.col("n_tokens") * _FIM_PCT) / F.lit(100)).cast("long"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(":fim")).cast(
                    "binary"
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    planned = sized.withColumn("m_len", m_len).withColumn(
        "middle_start", F.lit(2) + (h % (F.col("n_tokens") - F.col("m_len")))
    )
    return planned.select(
        "doc_id",
        "n_tokens",
        (F.col("middle_start") - 1).cast("long").alias("prefix_len"),
        F.col("middle_start").cast("long").alias("middle_start"),
        F.col("m_len").cast("long").alias("middle_len"),
        (F.col("n_tokens") - (F.col("middle_start") - 1) - F.col("m_len"))
        .cast("long")
        .alias("suffix_len"),
    )
