"""Round-4 query pack: training-data-pipeline operators beyond the round-3
surface — real audio decode (stdlib ``wave`` IS a PCM codec: no stub),
CCNet-style per-language perplexity terciles, n-gram novelty scoring,
largest-remainder token-budget apportionment, epoch snapshot diffing (the
reference's state-machine epochs re-expressed relationally,
reference src/component/lib.ts:82 patch/replace semantics), DSIR-style
importance weights, incremental-batch exact dedup, ENGINE-PORTABLE
MinHash-LSH and SimHash (md5-derived hash families a SQL oracle can
replay — the first hash-verified LSH pipelines in the registry), and the
top PCA component by power iteration (per-step 6-dp model-state rounding
makes the iterative fit engine-reproducible).

All eleven (including ivf_search_topk, relocated from llm2 once its
oracle landed) are oracle-checked; registered early (see __init__.py rotation)
so the round-4 driver window verifies them. Scale notes live on each
query; the shared discipline: inverted-index shuffles keyed by
gram/term/key — never doc×doc — and the only unpartitioned windows run
over bounded inventories (sources), pinned by tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import retrieval as R
from ..llmops import similarity as S
from ..llmops import textstats as X
from ..llmops.dedup import shingles_from_tokens, tokens_col
from .registry import register
from .sqlfrags import LM_CTES as _LM_CTES
from .sqlfrags import MINHASH_MD5_CTES as _MINHASH_CTES


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- multimodal: REAL audio decode -----------------------------------------

@register(
    "audio_decode_features",
    oracle="""
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(800 + doc_id % 160 AS BIGINT) AS n_samples,
           (800 + doc_id % 160) / 8000.0 AS duration_s,
           CAST(1000 + (doc_id % 100) * 10 AS BIGINT) AS peak,
           CAST(1000 + (doc_id % 100) * 10 AS DOUBLE) AS rms
    FROM documents
    """,
)
def audio_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL audio pipeline: synthesize a genuine RIFF/WAVE PCM16
    payload per document (stdlib ``wave`` writer), then DECODE it with the
    stdlib ``wave`` reader — header fields + int16 frames + numpy
    amplitude stats. Nothing is stubbed on this path (unlike the
    image/video decode, where the codecs aren't in the container).

    The oracle never sees the bytes: because the synthesis parameters are
    closed-form in doc_id (8 kHz mono square wave, n = 800 + id%160
    samples, amplitude 1000 + (id%100)·10), SQL PREDICTS what a correct
    decoder must report — a wrong header parse, frame count, or RMS fails
    the hash. duration = n/8000 is one IEEE division on both engines; the
    square wave makes RMS exactly the amplitude (integer-exact float64).

    Scale shape: ONE fused mapInPandas over Arrow batches — the same
    synth and decode batch transforms composed in a single Python stage
    (identical math; the WAV bytes never cross back to the JVM between
    encode and decode), partition-parallel with no shuffle at all."""
    from ..llmops.multimodal import audio_features_fused

    docs = _t(spark, sf_dir, "documents")
    return audio_features_fused(docs)


# --- CCNet-style perplexity terciles ---------------------------------------

@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH {_LM_CTES},
    scored AS (
        SELECT d.doc_id, d.lang, lm.avg_logp
        FROM documents d JOIN lm USING (doc_id)
    ),
    b AS (
        SELECT lang, avg_logp,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY avg_logp DESC, doc_id ASC) AS bucket
        FROM scored
    )
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(avg_logp) AS min_logp, MAX(avg_logp) AS max_logp
    FROM b GROUP BY 1, 2
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al., 2020): per language,
    tercile documents by LM quality (corpus-trained bigram log-prob, the
    lm_bigram_quality scorer) — the standard keep-head / drop-tail
    curation gate. Buckets: 1 = best (highest avg log-prob).

    Scale: the scorer is inverted-index shaped (vocabulary-bounded count
    shuffles); the tercile window is PARTITIONED by lang — exact
    per-stratum quantiles without any global operator. avg_logp doubles
    are bit-identical cross-engine (decimal-accumulated ln sums), so the
    ntile order and min/max bounds hash-match exactly."""
    docs = _t(spark, sf_dir, "documents")
    lm = R.bigram_logprob_scores(docs)
    scored = docs.select("doc_id", "lang").join(
        lm.select("doc_id", "avg_logp"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logp").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select("lang", "avg_logp", F.ntile(3).over(w).alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_logp").alias("min_logp"),
            F.max("avg_logp").alias("max_logp"),
        )
    )


# --- n-gram novelty ---------------------------------------------------------

@register(
    "ngram_novelty_score",
    oracle="""
    WITH g AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(1, len(list_filter(string_split(text, ' '), x -> x <> '')) - 6)),
            i -> array_to_string(list_slice(list_filter(string_split(text, ' '), x -> x <> ''), i, i + 7), ' ')
        ))) AS gram FROM documents
    ),
    f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS novelty
    FROM g JOIN f USING (gram) GROUP BY g.doc_id
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 8-gram
    shingles whose FIRST corpus occurrence (min doc_id over docs
    containing the gram) is the doc itself — the dedup-adjacent curation
    signal for ordering ingestion (high novelty = new content, low = echo
    of earlier documents). Docs with <8 tokens have no grams and no row.

    Scale: the inverted-index shape — explode distinct grams (map-side),
    ONE gram-keyed shuffle for first-occurrence, join back on the gram
    key, one doc-keyed reduce. Candidate volume is Σ grams, never doc²;
    the novelty ratio is int/int in double (bit-exact, no rounding)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    # persisted: grams feeds BOTH the per-doc gram count and the
    # first-occurrence aggregate — unpersisted, the shingle explode
    # re-runs over the corpus for each consumer (the dup_span_coverage /
    # token_pmi_pairs class). Deliberate session-lifetime cache: the plan
    # is returned lazily, so the unpersist point is the caller's last
    # action; LRU-evictable (ADVICE r8)
    grams = toks.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("t"), 8)).alias("gram")
    ).persist()
    # No corpus-scale join-back (guide §2.4): shingles are DISTINCT per
    # doc, so each gram credits novelty to exactly ONE doc — its
    # first_doc. n_novel(doc) is therefore a count over the
    # first-occurrence table alone (first.groupBy(first_doc)), and
    # n_grams(doc) a count over the gram stream — two per-doc aggregates
    # joined on doc_id, instead of shipping every (doc, gram) row through
    # a gram-keyed join + doc-keyed reduce. A doc with grams but zero
    # firsts still appears (left join, coalesce 0); a doc with <8 tokens
    # has no grams and no row, as before.
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    n_grams = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    n_novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        n_grams.join(n_novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams")).alias("novelty"),
        )
    )


# --- token budget apportionment --------------------------------------------

@register(
    "token_budget_allocation",
    oracle="""
    WITH tc AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_total FROM tc),
    d AS (
        SELECT source, n_tokens,
               CAST((500000 * n_tokens) // t_total AS BIGINT) AS base,
               CAST((500000 * n_tokens) % t_total AS BIGINT) AS rem
        FROM tc, tot
    ),
    r AS (
        -- source NULLS FIRST pinned on both sides: a NULL-source stratum
        -- tying another source's rem took the +1 unit on one engine only
        SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC NULLS FIRST) AS rk,
               500000 - SUM(base) OVER () AS leftover
        FROM d
    )
    SELECT source, n_tokens,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM r
    """,
)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch planning: apportion a 500k-token training budget across
    sources proportionally to their token mass with LARGEST-REMAINDER
    (Hamilton) rounding — allocations are integers, sum exactly to the
    budget, and every step is integer arithmetic (div/mod/rank), so the
    result is bit-identical on any engine.

    Scale: one corpus scan reduces to the per-source token table (bounded
    by the source inventory); the rank/leftover windows run over THAT
    bounded table only — pinned in test_plans.py. (budget·n_tokens is
    BIGINT; at petascale token counts move the multiply to DECIMAL.)"""
    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select("source", X.token_count().alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    tot = tc.agg(F.sum("n_tokens").alias("t_total"))
    d = tc.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr("CAST((500000 * n_tokens) div t_total AS BIGINT)").alias("base"),
        F.expr("CAST((500000 * n_tokens) % t_total AS BIGINT)").alias("rem"),
    )
    out = (
        d.withColumn("leftover", F.lit(500000) - F.sum("base").over(Window.partitionBy()))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("rem").desc(), F.col("source").asc_nulls_first())
            ),
        )
    )
    return out.select(
        "source",
        "n_tokens",
        (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long")).alias("alloc"),
    )


# --- epoch snapshot diff ----------------------------------------------------

@register(
    "snapshot_state_diff",
    oracle="""
    WITH before AS (
        SELECT user_id, event_type, value FROM (
            SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15'
        ) WHERE rn = 1
    ),
    after AS (
        SELECT user_id, event_type, value FROM (
            SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT a.user_id, a.event_type,
           b.value AS old_value, a.value AS new_value,
           CASE WHEN b.user_id IS NULL THEN 'added'
                WHEN a.value = b.value THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM after a LEFT JOIN before b USING (user_id, event_type)
    """,
)
def snapshot_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch snapshot diff — the reference's snapshot/epoch semantics
    (reference src/component/lib.ts:82 state patches; D3 snapshot epochs
    in SURVEY §2) re-expressed relationally: materialize latest-per-key
    state at an epoch cutoff and at head, then classify every live key as
    added / changed / unchanged. The relational core of incremental
    recompute and state-audit tooling.

    Scale: two latest-per-key reductions (PARTITIONED windows on the
    state key — the w2_latest_per_key shape) and one equi-join on the
    same key; everything shuffles once on (user_id, event_type). The
    before-keys are a subset of after-keys (append-only input), so a left
    join is total."""
    ev = _t(spark, sf_dir, "events")

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "value")
        )

    before = latest(ev.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp")))
    after = latest(ev)
    # presence marker: 'added' means the KEY was absent before the cutoff;
    # testing old_value IS NULL would misclassify a key whose latest
    # before-cutoff VALUE is NULL as added (oracle tests b.user_id IS NULL)
    b = before.select(
        F.col("user_id"), F.col("event_type"), F.col("value").alias("old_value"),
        F.lit(1).alias("_present"),
    )
    joined = after.withColumnRenamed("value", "new_value").join(
        b, ["user_id", "event_type"], "left"
    )
    status = (
        F.when(F.col("_present").isNull(), "added")
        .when(F.col("new_value") == F.col("old_value"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(
        "user_id", "event_type", "old_value", "new_value", status.alias("status")
    )


# --- DSIR importance weights ------------------------------------------------

@register(
    "dsir_importance_weights",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    ct AS (SELECT w, COUNT(*) AS ct FROM tok WHERE source = 'src0' GROUP BY 1),
    cs AS (SELECT w, COUNT(*) AS cs FROM tok WHERE source <> 'src0' GROUP BY 1),
    stats AS (
        SELECT COUNT(DISTINCT w) AS v,
               CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tt,
               CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tsrc
        FROM tok
    ),
    contrib AS (
        SELECT tf.doc_id, tf.tf,
               CAST(round(ln((coalesce(ct.ct, 0) + 1.0) / (stats.tt + stats.v)), 9)
                    AS DECIMAL(20,9))
               - CAST(round(ln((coalesce(cs.cs, 0) + 1.0) / (stats.tsrc + stats.v)), 9)
                      AS DECIMAL(20,9)) AS dlp
        FROM tf LEFT JOIN ct USING (w) LEFT JOIN cs USING (w), stats
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(tf AS DECIMAL(10,0)) * dlp) AS DOUBLE) AS weight
    FROM contrib GROUP BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al., 2023): per-doc
    log-likelihood ratio between a TARGET unigram model (the 'src0'
    slice standing in for the high-quality target distribution) and the
    SOURCE model (everything else), both Laplace-smoothed over the shared
    vocabulary — the importance-resampling score for targeted data
    selection. weight > 0 ⇒ doc looks more target-like.

    Determinism: each ln is leaf-rounded to 9 dp, the per-term delta is
    an exact DECIMAL difference, tf·Δ is an exact DECIMAL product, and
    the per-doc sum accumulates in DECIMAL — order-independent, so
    Spark's partial aggregation and the oracle's serial sum agree bitwise
    (the lm_bigram_quality discipline).

    Scale: term-keyed count shuffles (vocabulary-bounded tables joined
    back on the term key), a 1-row broadcast stats frame, one doc-keyed
    reduce. No doc×doc, no global operator anywhere."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(tokens_col("text")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    ct = tok.filter(F.col("source") == "src0").groupBy("w").agg(
        F.count(F.lit(1)).alias("ct")
    )
    cs = tok.filter(F.col("source") != "src0").groupBy("w").agg(
        F.count(F.lit(1)).alias("cs")
    )
    stats = tok.agg(
        F.countDistinct("w").alias("v"),
        F.sum((F.col("source") == "src0").cast("long")).alias("tt"),
        F.sum((F.col("source") != "src0").cast("long")).alias("tsrc"),
    )
    lnt = F.round(
        F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("tt") + F.col("v"))), 9
    ).cast("decimal(20,9)")
    lns = F.round(
        F.log((F.coalesce(F.col("cs"), F.lit(0)) + 1.0) / (F.col("tsrc") + F.col("v"))),
        9,
    ).cast("decimal(20,9)")
    contrib = (
        tf.join(ct, "w", "left")
        .join(cs, "w", "left")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tf", (lnt - lns).alias("dlp"))
    )
    # tf must be a NARROW decimal before the product: long×decimal(21,9)
    # exceeds precision 38 and Spark silently drops scale digits —
    # decimal(10,0)×decimal(21,9) = decimal(32,9) stays exact.
    return contrib.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf").cast("decimal(10,0)") * F.col("dlp"))
        .cast("double")
        .alias("weight"),
    )


# --- engine-portable MinHash LSH -------------------------------------------

@register(
    "minhash_portable_neardup",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
    """,
)
def minhash_portable_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate detection, ORACLE-CHECKED end to end —
    the first hash-verified LSH in the registry. The hash family is
    md5-derived (llmops/dedup.minhash_neardup, family=MD5): permutation
    p = 4b+r is an exact 32-bit slice of md5(f"{b}:"+shingle) — 4 md5 calls per
    shingle cover all 16 permutations with independent digest bits —
    minimized in int64, 16 perms in 4 bands of 4, exact-Jaccard
    verification ≥ 0.5. Because
    md5 is engine-universal, DuckDB replays the EXACT signature, band,
    candidate, and verified-pair computation — the xxhash64 variant
    (minhash_neardup) keeps the throughput crown but can only be
    rows-only.

    Scale: one shingle-keyed groupBy computes all 16 mins in a single
    pass; candidates come from a (band_idx, band_key) equi-join — shuffle
    O(n·bands), never all-pairs; verification touches candidates only."""
    from ..llmops.dedup import MD5, minhash_neardup

    return minhash_neardup(_t(spark, sf_dir, "documents"), num_perm=16, family=MD5)


# --- engine-portable SimHash ------------------------------------------------

@register(
    "simhash_portable_neardup",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               substr(md5(unnest(list_filter(string_split(text, ' '), x -> x <> ''))), 1, 8) AS hx
        FROM documents
    ),
    bits AS (
        SELECT doc_id, b,
               ((strpos('0123456789abcdef', substr(hx, (b // 4) + 1, 1)) - 1)
                >> (b % 4)) & 1 AS bit
        FROM tok, unnest(range(0, 32)) AS t(b)
    ),
    sums AS (
        SELECT doc_id, b,
               SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS s
        FROM bits GROUP BY 1, 2
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        FROM sums GROUP BY 1
    ),
    blocks AS (
        SELECT doc_id, simhash, m, (simhash >> (8 * m)) & 255 AS bv
        FROM sig, unnest(range(0, 4)) AS t(m)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM blocks a JOIN blocks b
          ON a.m = b.m AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 1
    """,
)
def simhash_portable_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs, ORACLE-CHECKED end to end: 32-bit
    signatures from md5 NIBBLES (hex-char position arithmetic any engine
    reproduces), 8-bit block pigeonhole candidates, exact
    bit_count(XOR) ≤ 1 verification (llmops/dedup.simhash_neardup,
    family=MD5 — 32 bits discriminate less than the 64-bit variant, so
    the hamming budget is proportionally tighter).
    Companion to the 64-bit xxhash64 variant (simhash_neardup, rows-only,
    faster): use this one when the near-dup decision must replay
    identically outside Spark.

    Scale: one conditional-sum groupBy for all 32 bits, O(n·4) block
    shuffle, integer verify — no all-pairs stage exists."""
    from ..llmops.dedup import MD5, simhash_neardup

    pairs = simhash_neardup(_t(spark, sf_dir, "documents"), max_hamming=1, family=MD5)
    # BIGINT, the oracle's type: bit_count yields int
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


# --- PCA top component (power iteration) ------------------------------------

def _pca_oracle(n_iter: int = 3, dim: int = 64) -> str:
    """Power iteration unrolled to SQL: replayable because every model
    state (mean, iterate) is rounded to 6 dp each step (the kmeans
    recipe), the per-row score is the bit-exact sequential dot-product
    fold, and normalization divides by sqrt(list_dot_product(w,w)) —
    the same index-order accumulation the driver performs."""
    d1 = dim + 1
    xc = f"list_transform(range(1, {d1}), i -> e.x[i] - mu.m[i])"
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    # iteration chain references each previous stage more than once
    # (list_dot_product(w, w) alone uses w twice) — inlining would blow
    # the query tree up 2^n_iter before a single row is scanned.
    ctes = [
        # isNotNull mirrors pca_power_top_component's input filter: a NULL
        # vector would expand to a list OF NULLs in xc and error
        # list_dot_product; Spark never feeds it to the iteration either
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x "
        "FROM embeddings WHERE embedding IS NOT NULL)",
        f"""mu AS MATERIALIZED (SELECT list(m ORDER BY i) AS m FROM (
            SELECT i, round(avg(x[i]), 6) AS m
            FROM e, unnest(range(1, {d1})) AS t(i) GROUP BY 1))""",
        # CASE WHEN nrm > 0 mirrors the library's zero-norm guard: a
        # constant corpus has no principal direction -> all-zero loading
        # (zeros are a fixpoint, so the unrolled rounds stay zero)
        f"""v0 AS MATERIALIZED (SELECT list_transform(xc,
                c -> CASE WHEN nrm > 0 THEN round(c / nrm, 6) ELSE 0.0 END) AS v FROM (
            SELECT xc, sqrt(list_dot_product(xc, xc)) AS nrm FROM (
                SELECT {xc} AS xc
                FROM e, mu WHERE e.vec_id = (SELECT MIN(vec_id) FROM e))))""",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT e.vec_id, list_dot_product({xc}, v{t - 1}.v) AS s
            FROM e, mu, v{t - 1})""")
        ctes.append(f"""w{t} AS MATERIALIZED (
            SELECT list(wi ORDER BY i) AS w FROM (
                SELECT i, round(avg((e.x[i] - mu.m[i]) * s{t}.s), 6) AS wi
                FROM e JOIN s{t} USING (vec_id), mu, unnest(range(1, {d1})) AS t(i)
                GROUP BY 1))""")
        ctes.append(f"""v{t} AS MATERIALIZED (
            SELECT list_transform(w,
                c -> CASE WHEN nrm > 0 THEN round(c / nrm, 6) ELSE 0.0 END) AS v
            FROM (SELECT w, sqrt(list_dot_product(w, w)) AS nrm FROM w{t}))""")
    ctes.append(f"""fin AS MATERIALIZED (
        SELECT CASE WHEN v[1] < 0 THEN list_transform(v, c -> -c) ELSE v END AS v
        FROM v{n_iter})""")
    return f"""
    WITH {",".join(ctes)}
    SELECT CAST(i AS INTEGER) AS dim, mu.m[i] AS mu, fin.v[i] AS loading
    FROM fin, mu, unnest(range(1, {d1})) AS t(i)
    """


@register("pca_top_component", oracle=_pca_oracle(n_iter=20, dim=64))
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First PCA axis of the embedding corpus via power iteration
    (llmops/cluster.pca_power_top_component) — embedding-health
    diagnostics (anisotropy, 'all-but-the-top' correction, whitening).
    ORACLE-CHECKED: per-step 6-dp rounding of the model state makes the
    whole iterative fit engine-reproducible, so DuckDB's unrolled replay
    matches every loading bit-for-bit — the kmeans_clusters recipe
    applied to linear algebra.

    20 rounds because the synthetic embeddings are near-isotropic
    (lambda2/lambda1 = 0.93 -> cos ~0.99 at t=20); real embedding spectra
    separate faster.

    Scale: per iteration, one map-side score projection against
    broadcast literals + one dim-keyed aggregation returning 64 doubles
    to the driver; the corpus never shuffles."""
    from ..llmops.cluster import pca_power_top_component

    return pca_power_top_component(_t(spark, sf_dir, "embeddings"), n_iter=20)


# --- incremental batch dedup ------------------------------------------------

@register(
    "incremental_dedup_delta",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
    ),
    seen AS (SELECT h, MIN(doc_id) AS corpus_doc FROM corpus GROUP BY 1),
    ranked AS (
        SELECT b.doc_id, b.h, s.corpus_doc,
               row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rn
        FROM batch b LEFT JOIN seen s USING (h)
    )
    SELECT doc_id,
           CASE WHEN corpus_doc IS NOT NULL THEN 'dup_of_corpus'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'new' END AS status,
           corpus_doc
    FROM ranked
    """,
)
def incremental_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion exact dedup: classify an incoming batch
    (docs with doc_id % 10 = 0 standing in for the new partition) against
    the already-ingested corpus by content hash — 'dup_of_corpus' (hash
    exists in corpus; reports the min corpus doc), 'dup_in_batch' (first
    batch occurrence wins), or 'new'. The day-2 operation of every
    training-data pipeline: never re-deduplicate the whole corpus, only
    the delta.

    Scale: the corpus side reduces to (hash, min_id) — one digest-keyed
    shuffle over the CORPUS DIGESTS (16-byte hashes, not text); the batch
    joins that table on the hash and ranks within batch-hash groups
    (partitioned window). Incremental cost is O(batch) + a hash-table
    probe, the reason this beats rerunning dedup_exact end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    seen = corpus.groupBy("h").agg(F.min("doc_id").alias("corpus_doc"))
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = (
        batch.join(seen, "h", "left").withColumn("rn", F.row_number().over(w))
    )
    status = (
        F.when(F.col("corpus_doc").isNotNull(), "dup_of_corpus")
        .when(F.col("rn") > 1, "dup_in_batch")
        .otherwise("new")
    )
    return ranked.select("doc_id", status.alias("status"), "corpus_doc")


# --- IVF search (moved from llm2 so the round-4 window verifies it) --------

def _ivf_search_oracle(k: int = 5, nprobe: int = 5, dim: int = 64) -> str:
    """IVF search replayed in SQL: 6-dp-rounded per-label centroids (the
    ivf_centroid_assign recipe), cosine via the bit-exact
    list_dot_product pairing, probe/assign/rerank ranks with total-order
    tiebreaks. MATERIALIZED — cent/e feed several consumers."""

    def cos(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    return f"""
    WITH dm AS MATERIALIZED (
        SELECT label, i AS dim, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM embeddings, unnest(range(1, {dim + 1})) AS t(i)
        GROUP BY 1, 2),
    cent AS MATERIALIZED (
        SELECT label AS centroid_id, list(m ORDER BY dim) AS centroid
        FROM dm GROUP BY 1),
    e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign AS MATERIALIZED (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos("e.v", "c.centroid")} DESC,
                                               c.centroid_id ASC) AS rn
            FROM e CROSS JOIN cent c) WHERE rn = 1),
    q AS MATERIALIZED (
        SELECT vec_id AS q_vec_id, v AS q_vec FROM e WHERE vec_id IN (0, 1, 2)),
    probes AS MATERIALIZED (
        SELECT q_vec_id, q_vec, centroid_id FROM (
            SELECT q.q_vec_id, q.q_vec, c.centroid_id,
                   row_number() OVER (PARTITION BY q.q_vec_id
                                      ORDER BY {cos("q.q_vec", "c.centroid")} DESC,
                                               c.centroid_id ASC) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= {nprobe}),
    cand AS MATERIALIZED (
        SELECT p.q_vec_id, p.q_vec, a.vec_id
        FROM probes p JOIN assign a USING (centroid_id)
        WHERE a.vec_id <> p.q_vec_id)
    SELECT q_vec_id, vec_id, sim, rn FROM (
        SELECT c.q_vec_id, c.vec_id, {cos("c.q_vec", "e2.v")} AS sim,
               row_number() OVER (PARTITION BY c.q_vec_id
                                  ORDER BY {cos("c.q_vec", "e2.v")} DESC,
                                           c.vec_id ASC) AS rn
        FROM cand c JOIN e e2 ON e2.vec_id = c.vec_id) WHERE rn <= {k}
    """


@register("ivf_search_topk", oracle=_ivf_search_oracle(k=5, nprobe=5))
def ivf_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: probe the 5 nearest of 10 inverted lists per query,
    exact-rerank inside — the scale path for similarity search (corpus
    shuffles once onto lists; queries touch nprobe/n_lists of it).
    nprobe=n_lists reproduces knn_bruteforce exactly (tested); at
    nprobe=5 recall is 0.6 on this corpus — the synthetic labels are
    weak coarse quantizers, so that is a data floor, not the operator's
    (llmops/similarity.py).

    ORACLE-CHECKED since round 4: centroids rounded to 6 dp (round_dp=6)
    make training/assignment/probing/reranking engine-reproducible — the
    whole ANN search replays in SQL."""
    return S.ivf_search(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2], k=5, nprobe=5, round_dp=6
    )
