"""LLM-pipeline named queries (SURVEY.md §2.11, §7 Phase 4).

SQL-expressible ops carry DuckDB oracles; hash-based ops (MinHash, SimHash,
hyperplane LSH — xxhash64 has no DuckDB equivalent) are registered as
rows-only checks, with their exact-arithmetic counterparts oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import dedup as D
from ..llmops import multimodal as M
from ..llmops import similarity as S
from ..llmops import textstats as X
from .registry import register
from .sqlfrags import MINHASH_MD5_CTES as _MINHASH_MD5_CTES


# --- dedup ------------------------------------------------------------------

# sampled_by_lang registers FIRST in this module: it gained its oracle in
# round 4 and must sit inside the driver-window cutoff (__init__.py notes).
@register(
    "sampled_by_lang",
    oracle="""
    WITH langs AS (
        SELECT lang, row_number() OVER (ORDER BY lang NULLS FIRST) - 1 AS idx
        FROM (SELECT DISTINCT lang FROM documents)
    ),
    thr AS (
        SELECT lang, CASE WHEN idx % 2 = 0 THEN '3333' ELSE 'cccc' END AS t
        FROM langs
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr USING (lang)
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < t
    """,
)
def sampled_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-stratum Bernoulli sampling: downsample dominant
    languages (20%), keep rare ones (80%) — the data-mixing knob.

    The sampler is a DETERMINISTIC hash gate, not a seeded RNG: keep a row
    iff the first 4 hex chars of md5(doc_id) sort below the stratum's
    threshold (0.2 → floor(0.2·16⁴) = 0x3333, 0.8 → 0xcccc). md5 is
    identical across engines and the comparison is plain string ordering,
    so the sample is reproducible across engines, retries, and cluster
    layouts — which a partition-seeded sampleBy is not — and each row is
    decided map-side with no coordination. The only window runs over the
    DISTINCT-LANG table (bounded: the language inventory)."""
    docs = load_table(spark, sf_dir, "documents")
    # NULLS FIRST pinned EXPLICITLY on both sides: Spark defaults to
    # nulls-first asc, DuckDB to nulls-last — a NULL lang row would shift
    # every real stratum's idx on one engine only (the
    # length_curriculum_buckets class)
    w = Window.orderBy(F.col("lang").asc_nulls_first())
    thr = (
        docs.select("lang")
        .distinct()
        .select(
            "lang",
            F.when((F.row_number().over(w) - 1) % 2 == 0, "3333")
            .otherwise("cccc")
            .alias("t"),
        )
    )
    return (
        docs.join(F.broadcast(thr), "lang")
        .filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < F.col("t"))
        .select("doc_id", "lang")
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content digest → keep lowest id per digest. One shuffle
    on the digest, uniform keys (no skew) at any scale."""
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_prefix_groups",
    oracle="""
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id, MAX(doc_id) AS max_doc_id
    FROM (SELECT doc_id,
                 md5(COALESCE(array_to_string(list_slice(list_filter(string_split(text, ' '), x -> x <> ''), 1, 8), ' '), '')) AS fp
          FROM documents)
    GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def dedup_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: md5 of the 8-token prefix; groups with >1 doc are
    duplicate clusters (the testdata contains real ones)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", X.prefix_fingerprint().alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# Shared by ngram_jaccard_pairs and the cluster-collapse queries below.
_NGRAM_PAIRS_CTES = """
    sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, greatest(1, len(list_filter(string_split(text,' '), x -> x <> '')) - 1)),
                   i -> list_filter(string_split(text,' '), x -> x <> '')[i] || ' ' ||
                        list_filter(string_split(text,' '), x -> x <> '')[i+1] || ' ' ||
                        list_filter(string_split(text,' '), x -> x <> '')[i+2])) AS grams
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
        FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
    )
"""


@register(
    "ngram_jaccard_pairs",
    oracle=f"WITH {_NGRAM_PAIRS_CTES} SELECT id_a, id_b, jaccard FROM pairs",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs, blocked by source bucket.

    PPJoin-style count verification: shingles are DISTINCT per doc, so in
    the shared-gram self-join the number of matching rows per pair IS
    |A∩B| — Jaccard follows exactly from the co-occurrence count and the
    two (carried-along) set sizes, with no array_intersect re-verify, no
    candidate distinct(), and no second join back to the wide shingle
    arrays. Plan: one explode → one (source, gram) equi-join → one pair
    aggregation. Lossless vs the all-pairs-within-source oracle spec (a
    pair with Jaccard ≥ 0.5 shares ≥ 1 gram). The 100 TB version swaps
    the shared-gram block for MinHash-LSH bands (constant bands instead
    of every gram) — see minhash_neardup, the scale path; this exact form
    is its verification baseline."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: both self-join sides explode from it — without the cache
    # the (expensive) shingle construction runs once per side. Tokens are
    # materialized in their OWN projection first: inlining tokens_col()
    # into the shingle lambda re-splits the text once per gram
    # (the shingles_from_tokens perf contract; measured 1.5x on this query)
    sh = (
        docs.select("doc_id", "source", D.tokens_col().alias("_t"))
        .select(
            "doc_id", "source", D.shingles_from_tokens("_t").alias("sh")
        )
        .persist()
    )
    ex = sh.select(
        "doc_id", "source", F.size("sh").alias("n"), F.explode("sh").alias("g")
    )
    a = ex.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src"),
        F.col("n").alias("n_a"), "g",
    )
    b = ex.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src"),
        F.col("n").alias("n_b"), "g",
    )
    inter = (
        a.join(b, ["src", "g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.5
    )


# --- similarity search ------------------------------------------------------

@register(
    "knn_bruteforce",
    oracle="""
    SELECT q_vec_id, vec_id, sim, rn FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS vec_id,
               round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                     / NULLIF(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))), 0), 6) AS sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                     / NULLIF(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))), 0), 6) DESC,
                            c.vec_id ASC) AS rn
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id IN (0, 1, 2)
    ) WHERE rn <= 5
    """,
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 3 query vectors — the ANN baseline.
    Query side broadcast; candidates never materialize beyond k per query."""
    return S.knn_bruteforce(load_table(spark, sf_dir, "embeddings"), [0, 1, 2], k=5)


@register(
    "embedding_neardup_pairs",
    oracle="""
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                 / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6) > 0.42
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above 0.42 — EXACT all-pairs form.

    This is the verification baseline (O(n²) theta join): it exists so the
    oracle and the recall tests have exact ground truth. The scale path is
    ``cosine_neardup_bucketed`` (banded LSH + rerank, shuffle O(n·bands));
    use that one on real corpora."""
    return S.cosine_neardup_pairs(load_table(spark, sf_dir, "embeddings"), 0.42)


@register(
    "vector_stats",
    oracle="""
    SELECT label, COUNT(*) AS n,
           CAST(SUM(CAST(round(CAST(embedding[1] AS DOUBLE), 6)
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_dim0,
           -- CASE guard: DuckDB's list_dot_product ERRORS on a NULL list
           -- (Spark's fold just yields NULL, which MAX skips — same result)
           round(CAST(MAX(CASE WHEN embedding IS NULL THEN NULL
                               ELSE list_dot_product(CAST(embedding AS DOUBLE[]),
                                                     CAST(embedding AS DOUBLE[])) END)
                      AS DOUBLE), 6) AS max_sq_norm
    FROM embeddings GROUP BY label
    """,
)
def vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregates: element access + exact decimal sum of a
    float component + norm via the array fold (F.aggregate, JVM-side).

    sum_dim0 is ORDER-INDEPENDENT: each element is rounded to 6 dp (an
    exact double→double op both engines agree on, the ivf centroid
    precedent) then accumulated in DECIMAL(18,6) — a raw double SUM
    differs across partition orders in the last ulps and can round to
    different 4-dp values (r8 review finding)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.element_at("embedding", 1).cast("double"), 6).cast("decimal(18,6)")
        ).cast("double").alias("sum_dim0"),
        F.round(F.max(S.dot_col(F.col("embedding"), F.col("embedding"))), 6).alias("max_sq_norm"),
    )


# --- text analysis ----------------------------------------------------------

@register(
    "text_quality_stats",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]')) AS n_tokens_re,
           CAST(len(list_filter(string_split(text, ' '),
                    x -> x = 'the' OR x = 'a' OR x = 'and' OR x = 'of' OR x = 'to' OR x = 'in')) AS DOUBLE)
             / NULLIF(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) AS stop_ratio,
           CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) BETWEEN 20 AND 1000
                 AND CAST(len(list_filter(string_split(text, ' '),
                        x -> x = 'the' OR x = 'a' OR x = 'and' OR x = 'of' OR x = 'to' OR x = 'in')) AS DOUBLE)
                     / len(list_filter(string_split(text, ' '), x -> x <> '')) < 0.5
                THEN 'ok' ELSE 'low' END AS quality
    FROM documents
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality scoring: token counts (whitespace + BPE-ish regex),
    stopword ratio, quality gate. Map-only — zero shuffles."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        X.token_count().alias("n_tokens"),
        X.token_count_re().alias("n_tokens_re"),
        X.stopword_ratio().alias("stop_ratio"),
        X.quality_label().alias("quality"),
    )


@register(
    "lang_source_profile",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS sum_tokens
    FROM documents GROUP BY lang, source
    """,
)
def lang_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition profile per (lang, source) — the distribution
    tables a data-mixing pipeline reads."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(X.token_count().cast("long")).alias("sum_tokens"),
        )
    )


@register(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id, md5(text) AS fp_full,
           md5(COALESCE(array_to_string(list_slice(list_filter(string_split(text, ' '), x -> x <> ''), 1, 8), ' '), '')) AS fp_prefix
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level fingerprints: full-content md5 + prefix shingle md5."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_full"),
        X.prefix_fingerprint().alias("fp_prefix"),
    )


@register(
    "language_id",
    oracle="""
    WITH tg AS (
        SELECT DISTINCT doc_id, lang, substr(text, CAST(i AS INT), 3) AS tg
        FROM documents, unnest(range(1, length(text) - 1)) AS t(i)
        WHERE length(text) >= 3
    ),
    prof AS (
        SELECT lang AS predicted_lang, tg FROM (
            SELECT lang, tg,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY COUNT(*) DESC, tg ASC
                   ) AS rk
            FROM tg GROUP BY lang, tg
        ) WHERE rk <= 200
    ),
    ov AS (
        SELECT t.doc_id, t.lang AS actual_lang, p.predicted_lang,
               COUNT(*) AS overlap
        FROM tg t JOIN prof p ON t.tg = p.tg
        GROUP BY 1, 2, 3
    )
    SELECT doc_id, actual_lang, predicted_lang, overlap FROM (
        SELECT ov.*, row_number() OVER (
            PARTITION BY doc_id ORDER BY overlap DESC, predicted_lang ASC
        ) AS rn FROM ov
    ) WHERE rn = 1
    """,
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID (distributed n-gram heuristic).

    Fully oracle-expressible: profiles are the top-200 DISTINCT trigrams
    per language by document frequency (row_number tiebreak df desc, tg
    asc), classification is argmax overlap (tiebreak predicted_lang asc) —
    integer counts end to end, no float drift."""
    return X.language_id(load_table(spark, sf_dir, "documents"))


# --- multimodal -------------------------------------------------------------

@register(
    "multimodal_payload_stats",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS checksum,
           CASE WHEN octet_length(encode(text)) > 300 THEN 'large' ELSE 'small' END AS size_class
    FROM documents
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata: the multimodal column pattern where filters
    read ONLY the metadata struct (column pruning keeps the binary unread)."""
    with_payload = M.attach_payload(load_table(spark, sf_dir, "documents"))
    return with_payload.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.when(F.col("meta.n_bytes") > 300, "large").otherwise("small").alias("size_class"),
    )


@register(
    "payload_byte_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN text IS NULL THEN NULL
                     WHEN length(text) = 0 THEN -1
                     ELSE ascii(substr(text, 1, 1)) END AS INTEGER) AS head_byte,
           CASE WHEN text IS NULL THEN NULL
                WHEN length(text) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(range(1, length(text) + 1),
                                                  i -> ascii(substr(text, i, 1)))) AS DOUBLE)
                     / length(text) END AS feat_mean
    FROM documents
    """,
)
def payload_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas byte statistics over binary payloads —
    length, head byte, mean byte value. NOT a decode: this is the
    Arrow-plumbing exerciser (JVM→Arrow→pandas→JVM round-trip, typed
    batch iterator contract); real decodes live in
    audio/image/video/png/gif_decode_features. Registered as
    ``multimodal_decode_features`` through round 4; renamed in round 5
    so no "decode" name is backed by byte stats.

    ORACLE-CHECKED via prediction: the payload is the utf-8 text bytes,
    and this corpus is pure ASCII (byte ≡ code point, asserted by the
    oracle itself: a non-ASCII regeneration would hash-fail loudly), so
    SQL predicts byte length, first byte, and mean byte value without
    running any Python."""
    return M.payload_byte_features(M.attach_payload(load_table(spark, sf_dir, "documents")))


@register(
    "doc_embedding_join",
    oracle="""
    SELECT d.doc_id, d.lang,
           len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_tokens,
           round(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))), 4) AS emb_norm,
           e.label
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    """,
)
def doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: text table ⋈ embedding table on shared ids — the
    shape of joining a document corpus to its embedding index. Small side
    broadcastable; vector math stays a JVM array fold."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "lang",
            X.token_count().alias("n_tokens"),
            F.round(F.sqrt(S.dot_col(F.col("embedding"), F.col("embedding"))), 4).alias("emb_norm"),
            "label",
        )
    )


@register(
    "vocab_top_terms",
    oracle="""
    SELECT token, n FROM (
        SELECT token, COUNT(*) AS n,
               row_number() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rn
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> ''
        GROUP BY token
    ) WHERE rn <= 25
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-25 terms by frequency — the tokenizer-training
    / vocab-pruning primitive. Explode is map-side; one agg shuffle; the
    top-k is a TakeOrdered over the (small) distinct-term table."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(25)


@register(
    "ivf_centroid_assign",
    oracle="""
    WITH dm AS (
        SELECT label, i AS dim, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM embeddings, unnest(range(1, 65)) AS t(i)
        GROUP BY label, i
    ),
    cent AS (
        SELECT label AS centroid_id, list(m ORDER BY dim) AS centroid
        FROM dm GROUP BY label
    )
    SELECT vec_id, centroid_id, sim FROM (
        SELECT e.vec_id, c.centroid_id,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS sim,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(c.centroid, c.centroid))), 6) DESC,
                            c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
    """,
)
def ivf_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: per-label centroids (distributed elementwise
    mean) + nearest-centroid assignment for every vector — the training +
    list-assignment steps of IVF ANN. Tests verify centroids against numpy.

    Oracle parity: centroid dims are rounded to 6 dp in both engines (an
    elementwise float mean is order-dependent in the last ulp; rounding
    pins it), then cosine is the same sequential double fold on both sides
    (list_dot_product ≡ the JVM zip_with/aggregate fold, proven bit-exact
    by knn_bruteforce)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = S.label_centroids(emb).select(
        "label",
        F.transform("centroid", lambda v: F.round(v, 6)).alias("centroid"),
    )
    return S.ivf_assign(emb, cent)


@register(
    "grouped_map_zscore",
    oracle="""
    WITH g AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(CAST(round(value * 100) AS BIGINT)) AS s,
               SUM(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS s2
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT user_id, n,
               CAST(s AS DOUBLE) / (100.0 * n) AS mean,
               CASE WHEN n > 1 THEN
                   (CAST(s2 AS DOUBLE) / 10000.0
                    - (n * (CAST(s AS DOUBLE) / (100.0 * n)))
                      * (CAST(s AS DOUBLE) / (100.0 * n))) / (n - 1.0)
               ELSE 0.0 END AS var
        FROM g
    )
    SELECT e.user_id, e.event_id, e.value,
           CASE WHEN m.var > 0
                THEN round((e.value - m.mean) / sqrt(m.var), 6)
                ELSE e.value * 0.0 END AS zscore
    FROM events e JOIN m USING (user_id)
    """,
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-user z-score of event values (the X1
    per-group UDF surface; tests also pin it against the window-function
    equivalent).

    Oracle parity: the pandas body derives mean/variance from exact integer
    sums of the 2-dp values and combines them in float64 with the operand
    order the oracle mirrors expression-for-expression (see
    llmops/groupedmap.py)."""
    from ..llmops.groupedmap import group_zscore

    return group_zscore(load_table(spark, sf_dir, "events"))


@register(
    "stratified_sample_systematic",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn % 5 = 1
    """,
)
def stratified_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: every 5th doc per language by id
    order — the reproducible data-mixing primitive (seeded Bernoulli
    sampling is sampled_by_lang below; this systematic form is exactly
    re-runnable across engines and retries, which matters for dataset
    versioning)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") % 5 == 1)
        .drop("rn")
    )


_PIPELINE_SQL = """
    WITH quality AS (
        SELECT doc_id, lang, source, text,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) BETWEEN 20 AND 1000
          AND CAST(len(list_filter(string_split(text, ' '),
                       x -> x = 'the' OR x = 'a' OR x = 'and' OR x = 'of' OR x = 'to' OR x = 'in')) AS DOUBLE)
              / len(list_filter(string_split(text, ' '), x -> x <> '')) < 0.5
    ), deduped AS (
        SELECT doc_id, lang, source, n_tokens FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rn
            FROM quality
        ) WHERE dup_rn = 1
    )
    SELECT doc_id, lang, source, n_tokens
    FROM deduped WHERE doc_id % 3 = 0
"""


@register("training_data_pipeline", oracle=_PIPELINE_SQL)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline: quality gate → exact dedup →
    deterministic 1-in-3 sample — the composed form of the individual
    §2.11 operators, registered so the composition itself is
    oracle-verified.

    Scale contract: ONE wide shuffle total. The quality gate is map-only
    Column math; dedup ranks within md5(text) groups (uniform hash keys,
    no skew — the only exchange); the sample is a modulo on doc_id, NOT a
    per-lang window (a rank over each language would serialize each
    stratum through one partition at 100 TB; uniform ids make mod-sampling
    stratification-preserving in expectation, and exactly reproducible
    across engines, retries, and AQE re-plans)."""
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.filter(X.quality_label() == "ok").select(
        "doc_id", "lang", "source", "text", X.token_count().alias("n_tokens")
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        quality.withColumn("dup_rn", F.row_number().over(w))
        .filter(F.col("dup_rn") == 1)
        .select("doc_id", "lang", "source", "n_tokens")
    )
    return deduped.filter(F.col("doc_id") % 3 == 0)


@register(
    "training_mix_report",
    oracle=f"""
    WITH sampled AS ({_PIPELINE_SQL})
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(CAST(SUM(n_tokens) AS DOUBLE)
                / (SELECT SUM(n_tokens) FROM sampled) AS DOUBLE) AS token_share
    FROM sampled
    GROUP BY lang
    ORDER BY lang
    """,
)
def training_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture report over the pipeline output: per-language doc/token
    counts and each language's token share — the dataset card a training
    run records. The share denominator is a 1-row aggregate broadcast via
    crossJoin (no collect); adds one tiny exchange over the ~|langs|-row
    aggregate, nothing at data scale."""
    sampled = training_data_pipeline(spark, sf_dir)
    per_lang = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    total = per_lang.agg(F.sum("n_tokens").alias("total_tokens"))
    return (
        per_lang.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias("token_share"),
        )
        .orderBy("lang")
    )


_MINHASH_EST_ORACLE = f"""
    WITH {_MINHASH_MD5_CTES}
    SELECT id_a, id_b, est AS jaccard_est FROM (
        SELECT c.id_a, c.id_b,
               CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS DOUBLE) / 16
                   AS est
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.p = sa.p
        GROUP BY 1, 2)
    WHERE est >= 0.5
    """


@register("minhash_estimate_neardup", oracle=_MINHASH_EST_ORACLE)
def minhash_estimate_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup with signature-agreement Jaccard estimate — the
    verify-free variant (no second shingle materialization; candidates
    carry only 2×num_perm signature components). Estimator error vs the
    exact path is bounded in tests.

    ORACLE-CHECKED since round 5 via the md5 hash family
    (dedup.minhash_estimate_neardup with family=MD5, 16 perms):
    signatures, bands, candidates AND the agreement estimate replay in
    SQL; jaccard_est = agree/16 is an exact power-of-two division, so
    even the threshold comparison is engine-exact. The xxhash64 family
    keeps the throughput crown and its estimator-error test, like
    minhash_neardup vs the portable twin."""
    return D.minhash_estimate_neardup(
        load_table(spark, sf_dir, "documents"), num_perm=16, threshold=0.5, family=D.MD5
    )


# --- near-dup cluster collapse ----------------------------------------------

_COMPONENTS_CTES = f"""
    {_NGRAM_PAIRS_CTES},
    fp AS (
        SELECT doc_id,
               md5(COALESCE(array_to_string(list_slice(list_filter(string_split(text, ' '), x -> x <> ''), 1, 8), ' '), '')) AS f
        FROM documents
    ),
    fp_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    ),
    all_pairs AS (
        SELECT id_a, id_b FROM pairs UNION SELECT id_a, id_b FROM fp_pairs
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM all_pairs
        UNION SELECT id_b, id_a FROM all_pairs
    ),
    reach(node, peer) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.peer
    ),
    comp AS (SELECT node AS doc_id, MIN(peer) AS component_id FROM reach GROUP BY node)
"""


def _neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-evidence edges: exact-Jaccard pairs (≥0.5) ∪ shared
    8-token-prefix pairs — the two deterministic, oracle-expressible
    near-dup signals. Duplicate edges are harmless downstream (min-label
    propagation is idempotent over repeated edges)."""
    jac = ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    fp = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.prefix_fingerprint().alias("f")
    )
    fp_pairs = (
        fp.select(F.col("doc_id").alias("id_a"), "f")
        .join(fp.select(F.col("doc_id").alias("id_b"), "f"), "f")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return jac.union(fp_pairs)


@register(
    "neardup_components",
    oracle=f"WITH RECURSIVE {_COMPONENTS_CTES} SELECT doc_id, component_id FROM comp",
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the duplicate-evidence
    pair graph (exact-Jaccard ∪ shared-prefix) — the transitive closure
    that turns pairwise matches into duplicate groups (component_id = min
    doc_id in the group).

    Spark side is iterative min-label propagation (operators/graph.py:
    one equi-join + min-agg per round, lineage truncated per round,
    converges in ~cluster-diameter rounds; large-star/small-star is the
    documented log-round path for adversarial chains). Oracle is a DuckDB
    recursive-CTE transitive closure over the same pairs."""
    from ..operators.graph import connected_components

    return (
        connected_components(_neardup_edges(spark, sf_dir), "id_a", "id_b")
        .select(F.col("node").alias("doc_id"), "component_id")
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTES},
    scored AS (
        SELECT c.component_id, c.doc_id,
               len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_tokens
        FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT component_id, doc_id AS keep_doc_id, n_tokens AS keep_n_tokens,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
        SELECT *,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY n_tokens DESC, doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY component_id) AS n_members
        FROM scored
    ) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster survivors: for each near-dup component keep the
    best representative (most tokens, ties to lowest doc_id) — the final
    collapse step of corpus dedup, with cluster size for audit.

    Scale: the component table is tiny relative to the corpus (only docs
    in some duplicate pair), so the docs join broadcasts it; the ranking
    window partitions by component (small, uniform groups — no skew)."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(_neardup_edges(spark, sf_dir), "id_a", "id_b")
    scored = (
        docs.join(F.broadcast(comp), docs.doc_id == comp.node)
        .select("component_id", "doc_id", X.token_count().alias("n_tokens"))
    )
    # ONE component-keyed hash aggregation replaces the two windows
    # (row_number + count over the same partition key): the (n_tokens
    # desc, doc_id asc → rn=1) winner is exactly max(struct(n_tokens,
    # -doc_id)) — NULL n_tokens orders lowest in the struct comparison,
    # matching the window's desc-NULLS-LAST (guide §2.4: aggregate
    # before you shuffle; no sort, partial agg map-side).
    return (
        scored.groupBy("component_id")
        .agg(
            F.max(
                F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("_negid"))
            ).alias("_best"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "component_id",
            (-F.col("_best._negid")).alias("keep_doc_id"),
            F.col("_best.n_tokens").alias("keep_n_tokens"),
            "n_members",
        )
    )


# --- edit-distance near-dup -------------------------------------------------


@register(
    "edit_distance_neardup",
    oracle="""
    WITH base AS MATERIALIZED (
        -- text IS NOT NULL mirrors the library filter: tombstoned docs
        -- all share the md5('') block and would pair as false dups
        SELECT doc_id, text, length(text) AS len,
               md5(COALESCE(array_to_string(list_slice(
                   list_filter(string_split(text, ' '), x -> x <> ''), 1, 4), ' '), '')) AS blk
        FROM documents WHERE text IS NOT NULL)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist,
           CASE WHEN greatest(a.len, b.len) > 0
                THEN CAST(levenshtein(a.text, b.text) AS DOUBLE)
                     / greatest(a.len, b.len) ELSE 0.0 END AS rel_dist
    FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CASE WHEN greatest(a.len, b.len) > 0
               THEN CAST(levenshtein(a.text, b.text) AS DOUBLE)
                    / greatest(a.len, b.len) ELSE 0.0 END <= 0.4
    """,
)
def edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs with 4-token-prefix blocking — the
    fuzzy-dedup family shingle methods miss (typo-level edits). Exact
    char-level DP distance on candidate pairs only; see
    llmops/dedup.py:edit_distance_neardup for the blocking/scale story
    (equi-join blocks, Σ|block|² pairs, never corpus²; ASCII corpus makes
    Spark's char-based and DuckDB's byte-based levenshtein identical)."""
    from ..llmops.dedup import edit_distance_neardup as _ed

    return _ed(load_table(spark, sf_dir, "documents"))


# --- rows-only (xxhash / seeded-hyperplane) variants -----------------------
# Rows-only by design: hash families a SQL oracle cannot replay; each has a
# parity/recall test and an engine-portable oracle-checked twin in llm5.


@register("minhash_neardup")  # rows-only: xxhash64 not reproducible in DuckDB
def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands×4) near-dup pipeline with exact-Jaccard
    verification ≥0.5 — the scale path for ngram_jaccard_pairs. Checked
    rows-only by the driver; tests assert it finds exactly the exact-Jaccard
    pairs (LSH@this config catches jaccard≥0.5 w.h.p.)."""
    return D.minhash_neardup(load_table(spark, sf_dir, "documents"))


@register("simhash_neardup")  # rows-only: bit-mix hashing, no SQL equivalent
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming ≤ 3) with 16-bit-chunk blocking."""
    return D.simhash_neardup(load_table(spark, sf_dir, "documents"))


@register("cosine_neardup_bucketed")  # rows-only: seeded-hyperplane buckets, not SQL
def cosine_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs above 0.42 via banded hyperplane LSH:
    candidates from any-band bucket collisions (equi-join on (band,
    bucket)), exact cosine rerank of the deduped candidate set. Precision
    1.0 vs ``embedding_neardup_pairs``; recall asserted in
    tests/test_llmops.py."""
    return S.cosine_neardup_pairs_bucketed(load_table(spark, sf_dir, "embeddings"), 0.42)


@register("lsh_ann_probe")  # rows-only: seeded-hyperplane buckets, not SQL
def lsh_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane-LSH ANN: probe the query's bucket, exact-rerank
    inside. Tests measure recall vs knn_bruteforce."""
    return S.lsh_ann(load_table(spark, sf_dir, "embeddings"), [0, 1, 2], k=5, n_bits=8)
