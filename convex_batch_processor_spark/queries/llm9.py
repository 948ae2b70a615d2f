"""Post-window round-4 additions, part 2 (round-5 rotation material):
ML-dataset construction operators — RAG chunking, hard-negative mining,
class balancing, recency-decayed scoring, and k-fold assignment.

Registered last in queries/__init__.py (after llm8); all oracle-backed.

Determinism recipes reused (registry.py / NOTES.md): md5 as the portable
per-row uniform, 6-dp rounded cosines with id tiebreaks, exact integer
cents, and — new here — EXACT power-of-two decay weights (value_cents *
2^(30-age) summed as integers, one final scaling division), which makes
an exponentially-decayed float aggregate bit-reproducible across engines
and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops.similarity import cosine_col
from .registry import register

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


# ---------------------------------------------------------------------------
# RAG chunking with overlap
# ---------------------------------------------------------------------------

_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # tokens between chunk starts (overlap = _CHUNK - _STRIDE)


@register(
    "rag_chunk_overlap",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, {_TOK_SQL} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, t, len(t) AS n,
               CAST(unnest(range(0, len(t), {_STRIDE})) AS INTEGER) AS start_tok
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(start_tok // {_STRIDE} AS INTEGER) AS chunk_idx,
           start_tok,
           CAST(least({_CHUNK}, n - start_tok) AS INTEGER) AS n_tokens,
           md5(array_to_string(t[start_tok + 1:start_tok + {_CHUNK}], ' ')) AS chunk_hash
    FROM g
    """,
)
def rag_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (the RAG / context-window
    prep step): {_CHUNK}-token chunks every {_STRIDE} tokens ({_CHUNK - _STRIDE}-token
    overlap so no retrieval span straddles a chunk boundary unseen),
    emitting (doc, chunk_idx, start, length, content hash).

    Map-only: the token array is materialized once per doc, chunk starts
    are a cheap integer sequence explode (exploding ints is
    inferred-filter-safe — the expensive slice/hash runs AFTER the
    Generate, once per chunk). No shuffle at any scale; output size is
    ~n_tokens/{_STRIDE} rows per doc. The chunk hash stands in for chunk
    text in the checked output (full text emission is the same plan minus
    the md5)."""
    from ..llmops.dedup import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    g = (
        toks.filter(F.size("t") > 0)
        .select(
            "doc_id",
            "t",
            F.size("t").alias("n"),
            F.explode(F.sequence(F.lit(0), F.size("t") - 1, F.lit(_STRIDE))).alias(
                "start_tok"
            ),
        )
    )
    return g.select(
        "doc_id",
        (F.col("start_tok") / _STRIDE).cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("start_tok")).cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("start_tok") + 1, _CHUNK))).alias(
            "chunk_hash"
        ),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining
# ---------------------------------------------------------------------------

_HN_QUERIES = [0, 1, 2, 3, 4]
_HN_K = 5

_COS = (
    "round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    " / NULLIF(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))), 0), 6)"
)


@register(
    "hard_negative_mining",
    oracle=f"""
    SELECT q_vec_id, neg_vec_id, neg_label, sim, rn FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS neg_vec_id, c.label AS neg_label,
               {_COS} AS sim,
               row_number() OVER (
                   PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id ASC) AS rn
        FROM embeddings q JOIN embeddings c ON c.label <> q.label
        WHERE q.vec_id IN ({", ".join(map(str, _HN_QUERIES))})
    ) WHERE rn <= {_HN_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-{_HN_K} most-similar vectors with a DIFFERENT label —
    the negatives that actually teach the model something (random
    negatives are trivially separable).

    Same shape as knn_bruteforce (broadcast query side, 6-dp rounded
    cosine, id tiebreak) plus the label-mismatch predicate applied BEFORE
    ranking. Scale: per-query candidate stream never materializes beyond
    the window top-k; query set is bounded. For full-corpus mining (every
    vector a query), swap the broadcast for the IVF/LSH bucketed paths
    (ivf_search_topk / lsh_ann_probe) with the same label filter."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(_HN_QUERIES)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("neg_vec_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("neg_label"),
    )
    sim = F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6)
    scored = (
        F.broadcast(q)
        .join(c, F.col("neg_label") != F.col("q_label"))
        .select("q_vec_id", "neg_vec_id", "neg_label", sim.alias("sim"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("sim").desc(), F.col("neg_vec_id").asc()
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _HN_K)
    )


# ---------------------------------------------------------------------------
# Class-balanced undersampling
# ---------------------------------------------------------------------------


@register(
    "label_balance_undersample",
    oracle="""
    WITH tgt AS (
        SELECT CAST(MIN(n) AS BIGINT) AS target FROM (
            SELECT COUNT(*) AS n FROM embeddings GROUP BY label)
    ),
    ranked AS (
        SELECT vec_id, label,
               row_number() OVER (
                   PARTITION BY label
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
    )
    SELECT vec_id, label FROM ranked CROSS JOIN tgt WHERE rn <= target
    """,
)
def label_balance_undersample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced undersampling: every label keeps exactly
    min-class-count rows, chosen by md5(id) order — a deterministic,
    engine/partitioning-independent uniform draw per class (same
    portability argument as sampled_by_lang; a seeded sample is not
    re-runnable across engines or retries).

    Scale: one bounded per-label count aggregate (broadcast scalar), one
    label-keyed window — rank state is O(1) per label task; labels are
    the partition key, so extreme class skew is the one hazard (the
    dominant class lands on one task: pre-filter with a per-partition
    top-target heap via the skew-salting helpers if a class is corpus-
    sized)."""
    emb = load_table(spark, sf_dir, "embeddings")
    tgt = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("target"))
    )
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    )
    return (
        emb.select("vec_id", "label", F.row_number().over(w).alias("rn"))
        .crossJoin(F.broadcast(tgt))
        .filter(F.col("rn") <= F.col("target"))
        .select("vec_id", "label")
    )


# ---------------------------------------------------------------------------
# Recency-decayed scoring with EXACT power-of-two weights
# ---------------------------------------------------------------------------

_DECAY_CAP = 30  # ages beyond this keep the floor weight 2^-30
_TWO30 = 1073741824.0  # 2^30


@register(
    "time_decay_user_score",
    oracle=f"""
    WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS r FROM events),
    c AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT)
                   * (CAST(1 AS BIGINT) << ({_DECAY_CAP} - least(
                          date_diff('day', CAST(ts AS DATE), ref.r), {_DECAY_CAP})))
                   AS wv
        FROM events CROSS JOIN ref WHERE value IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(CAST(wv AS DECIMAL(38,0))) AS DOUBLE) / {_TWO30!r} / 100.0
               AS decayed_score,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM c GROUP BY 1
    """,
)
def time_decay_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score: sum(value * 2^-age_days) per
    user, halving daily (age capped at {_DECAY_CAP} days) — the freshness
    weighting feed-ranking and data-mixture schedulers use.

    Exactness: the decay base is 2, so each weighted term is value_cents
    SHIFTED by (cap - age) bits — an exact integer. Terms sum in
    decimal(38,0) (order-free), and the single final scaling
    (/2^{_DECAY_CAP}, an exact exponent shift, then /100) is the only
    float arithmetic — the whole aggregate is bit-reproducible across
    engines, partitionings, and retries, which a pow(0.5, age) float sum
    is not (pow is not engine-identical, float sums are order-dependent).

    Scale: map-side weighting + one user-keyed sum; the reference date is
    a broadcast scalar."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.col("ts").cast("date")).alias("r"))
    age = F.datediff(F.col("r"), F.col("ts").cast("date"))
    return (
        ev.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
            F.least(age, F.lit(_DECAY_CAP)).alias("k"),
        )
        # pyspark's shiftleft() only takes a literal bit count — the SQL
        # form takes an expression
        .select("user_id", F.expr(f"vc * (CAST(1 AS BIGINT) << ({_DECAY_CAP} - k))").alias("wv"))
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.col("wv").cast("decimal(38,0)")).cast("double")
                / F.lit(_TWO30)
                / F.lit(100.0)
            ).alias("decayed_score"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic k-fold assignment
# ---------------------------------------------------------------------------

_FOLDS = 5


@register(
    "dataset_split_folds",
    oracle=f"""
    WITH f AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                    % {_FOLDS} AS INTEGER) AS fold,
               n_chars, lang
        FROM documents
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM f GROUP BY 1
    """,
)
def dataset_split_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold split ({_FOLDS} folds): fold =
    md5(doc_id) mod {_FOLDS} — stable under re-runs, engine changes, and
    data re-partitioning (a row's fold NEVER depends on what other rows
    exist, so folds stay consistent as the corpus grows — the property
    cross-validation over a living dataset needs). Output is the per-fold
    profile (count, chars, language spread) that validates the split is
    balanced.

    Map-side assignment + one bounded {_FOLDS}-group rollup."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % _FOLDS
    ).cast("int")
    return (
        docs.select(fold.alias("fold"), "n_chars", "lang")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )
