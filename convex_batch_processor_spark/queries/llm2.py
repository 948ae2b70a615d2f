"""Round-2 LLM-pipeline query additions: retrieval (BM25), benchmark
decontamination, sequence packing, content-defined chunking, IVF ANN
search, semantic dedup, bigram-LM quality scoring, the composed
curation pipeline v2, and the per-source corpus report card.

Registered AFTER the round-2 driver-verification window (the driver
oracle-checks the first 50 registry entries per round; these rotate to
the front in round 3 — see NOTES.md). The local gate
(tests/oracle_check.py) checks them every run regardless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import packing as P
from ..llmops import retrieval as R
from ..llmops import similarity as S
from ..llmops import textstats as X
from .registry import register
from .sqlfrags import LM_CTES


_BM25_TERMS = ["spark", "window", "hash"]

_BM25_SQL = """
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
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks, unnest(t) AS u(term)
        WHERE term IN ('spark', 'window', 'hash')
        GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               round(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0), 9) AS idf
        FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term) d, stats s
    ),
    contrib AS (
        SELECT tf.doc_id, tf.term,
               idf.idf * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS c
        FROM tf
        JOIN idf USING (term)
        JOIN dl USING (doc_id), stats s
    ),
    pivoted AS (
        SELECT doc_id,
               MAX(CASE WHEN term = 'spark'  THEN c END) AS c_0,
               MAX(CASE WHEN term = 'window' THEN c END) AS c_1,
               MAX(CASE WHEN term = 'hash'   THEN c END) AS c_2
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id,
           round(0.0 + coalesce(c_0, 0.0) + coalesce(c_1, 0.0) + coalesce(c_2, 0.0), 6) AS score
    FROM pivoted
    ORDER BY score DESC, doc_id
    LIMIT 20
"""


@register("bm25_topk", oracle=_BM25_SQL)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a 3-term bag-of-words query — the
    retrieval/importance-scoring primitive of training-data curation.
    Inverted-index plan: explode filters to query terms before the one
    shuffle; corpus stats and idf broadcast (llmops/retrieval.py)."""
    return R.bm25_topk(load_table(spark, sf_dir, "documents"), _BM25_TERMS, k=20)


@register(
    "eval_contamination",
    oracle="""
    WITH grams AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, greatest(1, len(list_filter(string_split(text,' '), x -> x <> '')) - 6)),
                   i -> array_to_string(list_slice(list_filter(string_split(text,' '), x -> x <> ''), i, i + 7), ' ')
               )) AS g
        FROM documents
    ),
    train AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE source <> 'src0'),
    eval  AS (SELECT doc_id AS eval_doc_id, unnest(g) AS gram FROM grams WHERE source = 'src0')
    SELECT t.doc_id,
           COUNT(DISTINCT e.eval_doc_id) AS n_eval_docs,
           COUNT(DISTINCT t.gram) AS n_shared_grams
    FROM train t JOIN eval e ON t.gram = e.gram
    GROUP BY t.doc_id
    """,
)
def eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (source != src0) sharing
    any token 8-gram with the eval split (source = src0). Blocked on the
    gram key — one equi-join shuffle, no doc×doc pairing
    (llmops/retrieval.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return R.ngram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=8,
    )


@register(
    "token_pack_chunks",
    oracle="""
    WITH sized AS (
        SELECT source, doc_id,
               COALESCE(len(list_filter(string_split(text, ' '), x -> x <> '')), 0)
                   AS n_tokens
        FROM documents
    )
    SELECT source, doc_id, n_tokens,
           CAST(floor((CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
                      / 512.0) AS BIGINT) AS bin_id
    FROM sized
    """,
)
def token_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, streaming-chunk variant: per source in doc order,
    bin = exclusive token cumsum div 512 — one window cumsum, no Python
    (llmops/packing.py; the strict ≤capacity greedy twin is
    token_pack_greedy)."""
    return P.pack_chunks(load_table(spark, sf_dir, "documents"), capacity=512)


@register(
    "token_pack_greedy",
    # late-r4: the "not SQL-expressible" claim was wrong — a sequential
    # fold IS expressible as a linear recursive CTE that advances every
    # source by one row per step (state = (bin_id, fill)); depth = max
    # docs per source. Converted from rows-only to a full oracle.
    oracle="""
    WITH RECURSIVE sized AS MATERIALIZED (
        SELECT source, doc_id,
               CAST(COALESCE(len(list_filter(string_split(text, ' '), x -> x <> '')), 0)
                    AS INTEGER) AS n_tokens,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ),
    walk(source, rn, doc_id, n_tokens, bin_id, fill) AS (
        SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT), CAST(n_tokens AS BIGINT)
        FROM sized WHERE rn = 1
        UNION ALL
        SELECT s.source, s.rn, s.doc_id, s.n_tokens,
               CASE WHEN w.fill > 0 AND w.fill + s.n_tokens > 512
                    THEN w.bin_id + 1 ELSE w.bin_id END,
               CASE WHEN w.fill > 0 AND w.fill + s.n_tokens > 512
                    THEN CAST(s.n_tokens AS BIGINT) ELSE w.fill + s.n_tokens END
        FROM walk w JOIN sized s ON s.source = w.source AND s.rn = w.rn + 1
    )
    SELECT source, doc_id, n_tokens, bin_id FROM walk
    """,
)
def token_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, first-fit variant: bins never exceed 512 tokens
    (oversize docs alone excepted). Sequential per source →
    applyInPandas with source as the parallelism unit; verified against a
    python reference in tests (llmops/packing.py) AND against a DuckDB
    recursive-CTE replay of the identical fold."""
    return P.pack_greedy(load_table(spark, sf_dir, "documents"), capacity=512)


@register(
    "cdc_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id,
               unnest(range(1, len(t) + 1)) AS pos,
               unnest(t) AS w
        FROM toks
    ),
    chunked AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN pos > 1 AND substr(md5(w), 1, 1) = '0'
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chunk_idx
        FROM pos
    )
    SELECT doc_id, chunk_idx, CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM chunked GROUP BY doc_id, chunk_idx
    """,
)
def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: token-hash boundaries (md5 prefix '0',
    ~1/16 → ~16-token expected chunks) split docs so an early edit shifts
    one chunk instead of re-chunking the tail — the dedup-friendly
    long-doc splitter. One doc-keyed shuffle end-to-end
    (llmops/packing.py:cdc_chunks)."""
    return P.cdc_chunks(load_table(spark, sf_dir, "documents"))


@register("bpe_merges")  # rows-only: iterative merge training, not SQL-expressible
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: the first 8 merge rules learned from the
    corpus (pair-count argmax per round, greedy left-to-right rewrite).
    Working state is the vocabulary-bounded word table, one pair-count
    shuffle per round; python-reference parity in tests
    (llmops/bpe.py:bpe_train_merges)."""
    from ..llmops.bpe import bpe_train_merges

    return bpe_train_merges(load_table(spark, sf_dir, "documents"), n_merges=8)


@register("bpe_tokenize_stats")  # rows-only: iterative rule training, not SQL
def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train + apply end-to-end: learn 8 merge rules from the corpus,
    tokenize the DISTINCT vocabulary with them (per-rule JVM fold), and
    join token counts back to docs — (doc_id, n_words, n_bpe_tokens).
    The rewrite touches only the vocabulary; the corpus side is a
    dictionary-lookup join (llmops/bpe.py:bpe_apply)."""
    from ..llmops.bpe import bpe_apply, bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    rules = [
        (r.left, r.right)
        for r in bpe_train_merges(docs, n_merges=8).collect()
    ]
    return bpe_apply(docs, rules)


# ivf_search_topk moved to llm5.py so the round-4 driver window (first 50
# registry entries) verifies its new oracle — see queries/__init__.py.


# Shared SQL (lives in sqlfrags so importing it never registers queries).
_LM_CTES = LM_CTES


@register(
    "lm_bigram_quality",
    oracle=f"WITH {_LM_CTES} SELECT doc_id, n_bigrams, avg_logp FROM lm",
)
def lm_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM quality scoring: per-doc average bigram log-prob under a
    Laplace-smoothed bigram model trained on the corpus — the
    CCNet/KenLM-style perplexity filter shape. Inverted-index plan (two
    vocabulary-bounded count shuffles), decimal-accumulated log sums for
    cross-engine determinism (llmops/retrieval.py:bigram_logprob_scores)."""
    return R.bigram_logprob_scores(load_table(spark, sf_dir, "documents"))


def _semantic_dedup_keep_oracle() -> str:
    """Portable-banded pairs (sqlfrags.plsh_pair_ctes) → transitive
    closure via a recursive CTE (min reachable id == the min-label
    propagation fixpoint of operators/graph.connected_components) →
    keep-min labeling of EVERY vector."""
    from .sqlfrags import plsh_pair_ctes

    return f"""
    WITH RECURSIVE {plsh_pair_ctes(threshold=0.42)},
    edges AS MATERIALIZED (
        SELECT vec_id_a AS u, vec_id_b AS v FROM ppairs
        UNION
        SELECT vec_id_b AS u, vec_id_a AS v FROM ppairs),
    reach AS (
        SELECT u AS node, u AS r FROM edges
        UNION
        SELECT re.node, e.v AS r FROM reach re JOIN edges e ON e.u = re.r),
    comp AS (SELECT node, MIN(r) AS component_id FROM reach GROUP BY node)
    SELECT e.vec_id,
           COALESCE(c.component_id, e.vec_id) AS component_id,
           COALESCE(c.component_id, e.vec_id) = e.vec_id AS keep
    FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
    """


@register("semantic_dedup_keep", oracle=_semantic_dedup_keep_oracle())
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: banded-LSH cosine pairs (> 0.42,
    exact-reranked) → connected components → keep the min-id
    representative per group. Every vector labeled (vec_id, component_id,
    keep); co-membership recall vs the exact all-pairs baseline is
    measured in tests (llmops/similarity.py:semantic_dedup).

    ORACLE-CHECKED since round 5 via portable=True: the 4×4
    literal-plane candidate stage replays in SQL (the
    cosine_lsh_portable_neardup recipe) and the component labels replay
    as a recursive-CTE transitive closure — min reachable id is exactly
    the min-label-propagation fixpoint. The 24×4 Arrow-matmul banding
    stays the production default (higher recall; not SQL-replayable)."""
    return S.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.42, portable=True
    )


@register(
    "training_pipeline_v2",
    oracle=f"""
    WITH {_LM_CTES},
    cand AS (
        SELECT d.doc_id, d.source, d.text, lm.avg_logp
        FROM documents d JOIN lm USING (doc_id)
        WHERE d.source <> 'src0'
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY avg_logp, doc_id) AS rn,
               COUNT(*) OVER () AS n
        FROM cand
    ),
    quality AS (
        SELECT doc_id, source, text, avg_logp
        FROM ranked WHERE rn > CAST(floor(0.1 * n) AS BIGINT)
    ),
    grams AS (
        SELECT doc_id, source, list_distinct(list_transform(
            range(1, greatest(1, len(list_filter(string_split(text,' '), x -> x <> '')) - 6)),
            i -> array_to_string(list_slice(list_filter(string_split(text,' '), x -> x <> ''), i, i + 7), ' ')
        )) AS g FROM documents
    ),
    contam AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE source <> 'src0') t
        JOIN (SELECT unnest(g) AS gram FROM grams WHERE source = 'src0') e USING (gram)
    ),
    clean AS (SELECT q.* FROM quality q ANTI JOIN contam c USING (doc_id)),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rd
            FROM clean
        ) WHERE rd = 1
    ),
    sized AS (
        SELECT source, doc_id,
               len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tokens,
               avg_logp
        FROM deduped
    )
    SELECT source, doc_id, n_tokens,
           CAST(floor((CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
                      / 512.0) AS BIGINT) AS bin_id,
           avg_logp
    FROM sized
    """,
)
def training_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline v2, composing the round-2 operator
    additions: LM quality gate (drop the bottom 10% by bigram log-prob) →
    benchmark decontamination (drop docs sharing an 8-gram with the eval
    split) → exact dedup (keep min doc_id per content hash) → sequence
    packing (512-token cumsum bins per source).

    Scale notes: every stage is the operator's documented scale shape;
    the only global operation is the quality-rank window, and it runs on a
    ``(doc_id, avg_logp)`` projection ONLY — document text never enters a
    single-partition operator; survivors join back to the corpus by id.
    (At 100 TB the id+score rank can further become an approx-quantile
    threshold at the cost of a fuzzy 10% boundary.) Docs with <2 tokens
    have no LM score and are dropped by the gate's join, matching the
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    lm = R.bigram_logprob_scores(docs)
    scores = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id")
        .join(lm.select("doc_id", "avg_logp"), "doc_id")
    )
    ranked = scores.withColumn(
        "rn", F.row_number().over(Window.orderBy("avg_logp", "doc_id"))
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    keep = ranked.filter(F.col("rn") > F.floor(F.lit(0.1) * F.col("n"))).select(
        "doc_id", "avg_logp"
    )
    quality = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", "source", "text")
        .join(keep, "doc_id")
        .select("doc_id", "source", "text", "avg_logp")
    )
    contam_ids = R.ngram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=8,
    ).select("doc_id")
    clean = quality.join(contam_ids, "doc_id", "left_anti")
    deduped = (
        clean.withColumn(
            "rd",
            F.row_number().over(Window.partitionBy(F.md5("text")).orderBy("doc_id")),
        )
        .filter(F.col("rd") == 1)
    )
    sized = deduped.select(
        "source", "doc_id", X.token_count().alias("n_tokens"), "avg_logp"
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w_cum)
    return sized.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 512).alias("bin_id"),
        "avg_logp",
    )


@register(
    "corpus_report",
    oracle=f"""
    WITH {_LM_CTES},
    grams AS (
        SELECT doc_id, source, list_distinct(list_transform(
            range(1, greatest(1, len(list_filter(string_split(text,' '), x -> x <> '')) - 6)),
            i -> array_to_string(list_slice(list_filter(string_split(text,' '), x -> x <> ''), i, i + 7), ' ')
        )) AS g FROM documents
    ),
    contam AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE source <> 'src0') t
        JOIN (SELECT unnest(g) AS gram FROM grams WHERE source = 'src0') e USING (gram)
    ),
    per_doc AS (
        -- TRUNCATE (not round) the per-doc mean to scale 9: avg_logp is
        -- a bit-identical raw ratio in both engines, and truncating the
        -- SAME double is the same integer everywhere — whereas round(x,9)
        -- uses different algorithms (Spark BigDecimal HALF_UP vs DuckDB
        -- float-multiply) and diverged on an exact .5e-9 tie at sf0.1
        -- (the rule-14 class, hidden from the round(CAST(SUM grep by the
        -- helper indirection). Spark's long cast truncates, so DuckDB
        -- needs the explicit trunc() (its bare cast ROUNDS). The sum
        -- accumulates in DECIMAL(38,0) — a BIGINT sum would overflow
        -- near 1e9 docs/source — and stays double-conversion-exact
        -- while |SUM| < 2^52 (holds far past sf10; rule 15b)
        SELECT d.source, d.doc_id,
               len(list_filter(string_split(d.text,' '), x -> x <> '')) AS n_tokens,
               md5(d.text) AS h,
               CAST(CAST(trunc(lm.avg_logp * 1e9) AS BIGINT) AS DECIMAL(38,0))
                   AS lp9u,
               CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated
        FROM documents d
        LEFT JOIN lm ON lm.doc_id = d.doc_id
        LEFT JOIN contam c ON c.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs,
           CAST(SUM(contaminated) AS BIGINT) AS n_contaminated,
           CAST(SUM(lp9u) AS DOUBLE) / (COUNT(lp9u) * 1e9) AS avg_lm_logp
    FROM per_doc
    GROUP BY source
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card: doc/token counts, exact-dup count
    (docs minus distinct content hashes), eval-contamination count, and
    mean LM quality — the summary table every curation run publishes.

    Scale shape: the per-doc table is one pass over documents joined to
    the (vocabulary-bounded) LM scores and the (tiny) contaminated-id
    set, then ONE aggregation shuffle on source. The LM mean TRUNCATES
    each per-doc score to an integer at scale 1e-9 (truncating a
    bit-identical double yields the same integer in both engines, unlike
    decimal rounding — see the oracle comment) and accumulates in
    DECIMAL(38,0) (BIGINT would overflow near 1e9 docs/source), so the
    per-source mean is order-independent and oracle-exact."""
    docs = load_table(spark, sf_dir, "documents")
    lm = R.bigram_logprob_scores(docs).select(
        "doc_id",
        (F.col("avg_logp") * F.lit(1e9))
        .cast("long")
        .cast("decimal(38,0)")
        .alias("lp9u"),
    )
    contam = R.ngram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=8,
    ).select("doc_id", F.lit(1).alias("contaminated"))
    per_doc = (
        docs.select(
            "source",
            "doc_id",
            X.token_count().alias("n_tokens"),
            F.md5("text").alias("h"),
        )
        .join(lm, "doc_id", "left")
        .join(F.broadcast(contam), "doc_id", "left")
        .withColumn("contaminated", F.coalesce("contaminated", F.lit(0)))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_dup_docs"),
        F.sum("contaminated").alias("n_contaminated"),
        (
            F.sum("lp9u").cast("double")
            / (F.count("lp9u") * F.lit(1e9))
        ).alias("avg_lm_logp"),
    )


@register(
    "lm_trigram_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    uni AS (SELECT doc_id, unnest(t) AS w1 FROM toks),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
               unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
        FROM toks WHERE len(t) >= 2
    ),
    tri AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1), i -> t[i])) AS w1,
               unnest(list_transform(range(1, len(t) - 1), i -> t[i+1])) AS w2,
               unnest(list_transform(range(1, len(t) - 1), i -> t[i+2])) AS w3
        FROM toks WHERE len(t) >= 3
    ),
    u AS (SELECT w1, COUNT(*) AS cu FROM uni GROUP BY w1),
    b AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY w1, w2),
    t3 AS (SELECT w1, w2, w3, COUNT(*) AS ct FROM tri GROUP BY w1, w2, w3),
    stats AS (SELECT COUNT(*) AS n_tok, COUNT(DISTINCT w1) AS v FROM uni),
    pos AS (
        SELECT tri.doc_id,
               round(ln(0.5 * ((t3.ct + 1.0) / (b12.cb + s.v))
                      + 0.3 * ((b23.cb + 1.0) / (u2.cu + s.v))
                      + 0.2 * ((u3.cu + 1.0) / (s.n_tok + s.v))), 9) AS lp
        FROM tri
        JOIN t3 USING (w1, w2, w3)
        JOIN b b12 ON b12.w1 = tri.w1 AND b12.w2 = tri.w2
        JOIN b b23 ON b23.w1 = tri.w2 AND b23.w2 = tri.w3
        JOIN u u2 ON u2.w1 = tri.w2
        JOIN u u3 ON u3.w1 = tri.w3, stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(CAST(lp AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS avg_logp
    FROM pos GROUP BY doc_id
    """,
)
def lm_trigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram-LM quality scoring (λ = 0.5/0.3/0.2 over
    tri/bi/unigram Laplace probabilities) — the backoff-style upgrade of
    lm_bigram_quality for sharper junk separation. Same inverted-index
    plan (vocabulary-bounded count shuffles) and decimal-accumulated ln
    discipline (llmops/retrieval.py:trigram_logprob_scores)."""
    return R.trigram_logprob_scores(load_table(spark, sf_dir, "documents"))
