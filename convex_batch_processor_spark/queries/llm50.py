"""Post-window round-4 additions, part 43 (round-5 rotation material):
dedup quality evaluation — LSH candidate precision/recall against exact
ground truth, and the pair-similarity histogram that calibrates the
threshold.

Every near-dup system needs the audit loop: how many true near-dup
pairs does the banded LSH candidate stage MISS (recall), and how much
verification work do false candidates cost (precision)? Because the
md5 MinHash pipeline is engine-portable (llm5), the ENTIRE evaluation —
candidates, exact-Jaccard truth over the inverted index, and the
confusion counts — replays in the oracle, making the quality metrics
themselves hash-verified, not just the pipeline.

Registered last in queries/__init__.py (after llm49); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import dedup as D
from .registry import register
from .sqlfrags import MINHASH_MD5_CTES as _MINHASH_CTES

_TAU = 0.5


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _truth_pairs(sh_raw: DataFrame):
    """(id_a, id_b, exact Jaccard) for every shared-shingle pair via the
    inverted index (a true pair at tau >= 0.5 must share a shingle, so
    the join finds every one). Count-verify shape (the
    ngram_jaccard_pairs lesson): shingles are distinct per doc, so the
    matching-row count per pair IS the intersection size, and the set
    sizes ride along in the exploded rows — no size join-back, no
    array re-verify."""
    st = sh_raw.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("shingle")
    )
    x = st.select(
        F.col("doc_id").alias("id_a"), F.col("sz").alias("sa"), "shingle"
    )
    y = st.select(
        F.col("doc_id").alias("id_b"), F.col("sz").alias("sb"), "shingle"
    )
    tr = (
        x.join(y, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sa", "sb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return tr.select(
        "id_a",
        "id_b",
        (
            F.col("i").cast("double") / (F.col("sa") + F.col("sb") - F.col("i"))
        ).alias("j"),
    )


@register(
    "neardup_eval_metrics",
    oracle=f"""
    WITH {_MINHASH_CTES},
    candjac AS (
        SELECT inter.id_a, inter.id_b,
               CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.id_a
        JOIN sizes sb ON sb.doc_id = inter.id_b),
    tr AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
        FROM sh x JOIN sh y ON y.shingle = x.shingle AND x.doc_id < y.doc_id
        GROUP BY 1, 2),
    truthj AS (
        SELECT tr.id_a, tr.id_b
        FROM tr
        JOIN sizes sa ON sa.doc_id = tr.id_a
        JOIN sizes sb ON sb.doc_id = tr.id_b
        WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= {_TAU!r}),
    m AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truthj) AS n_truth,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM candjac WHERE j >= {_TAU!r})
                   AS tp)
    SELECT n_candidates, n_truth, tp,
           n_candidates - tp AS fp,
           n_truth - tp AS fn,
           CASE WHEN n_candidates = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / n_candidates END AS lsh_precision,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / n_truth END AS lsh_recall
    FROM m
    """,
)
def neardup_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality audit: precision and recall of the banded md5-MinHash
    CANDIDATE stage against exact-Jaccard ground truth at tau = {_TAU}.
    fp prices the wasted verification work (bucket collisions below
    threshold); fn counts true near-dup pairs the banding scheme missed
    — the number that decides whether 16 permutations x 4 bands is
    enough for a corpus before a 100 TB dedup run commits to it.

    Truth is built from the inverted shingle index (a pair at J >= 0.5
    necessarily shares a shingle, so no all-pairs stage exists on either
    side); candidates that share no shingle at all count as fp through
    the n_candidates - tp identity.

    Scale: the truth join is the PPJoin-shaped shared-shingle expansion
    — the same cost class as the dedup pipeline it audits; run it on a
    representative sample at 100 TB, not the full corpus."""
    docs = _t(spark, sf_dir, "documents")
    cands, sh_raw = D.minhash_candidates(docs, num_perm=16, family=D.MD5)
    truth = _truth_pairs(sh_raw).filter(F.col("j") >= _TAU)
    # tp needs NO second exact-Jaccard pass over the candidates: the truth
    # branch already scored every shared-shingle pair (a superset of every
    # candidate pair with j > 0, and a no-shared-shingle candidate cannot
    # reach any tau > 0), so tp is just |truth ∩ candidates|. All three
    # counts come from ONE union→pair-group→sum pass: the former
    # count(cands) ⨯ broadcast(truth⋉cands) shape put the candidate
    # pipeline in TWO plan branches, and because Spark launches the
    # broadcast-build job concurrently with the main job, the persist()
    # raced cold and the ~3.4 s md5-signature stage ran twice (event-log
    # profile: two identical 614 KB-shuffle stages per run). A single
    # linear DAG consumes cands exactly once — no persist, no race, no
    # crossJoin. Both inputs are distinct pair sets (cands by .distinct(),
    # truth by its groupBy), so max-flags per pair ≡ presence flags.
    pairs = truth.select(
        "id_a", "id_b", F.lit(1).alias("_t"), F.lit(0).alias("_c")
    ).unionAll(
        cands.select("id_a", "id_b", F.lit(0).alias("_t"), F.lit(1).alias("_c"))
    )
    per_pair = pairs.groupBy("id_a", "id_b").agg(
        F.max("_t").alias("_t"), F.max("_c").alias("_c")
    )
    # coalesce: a global sum over ZERO pairs is NULL where the former
    # count() was 0 — pin the empty-corpus row to the old semantics
    m = per_pair.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum(F.col("_t") * F.col("_c")), F.lit(0))
        .cast("long")
        .alias("tp"),
    )
    return m.select(
        "n_candidates",
        "n_truth",
        "tp",
        (F.col("n_candidates") - F.col("tp")).alias("fp"),
        (F.col("n_truth") - F.col("tp")).alias("fn"),
        # rule 14 (r12 strip): precision/recall are single IEEE divisions
        # of exact int64 counts — bit-identical in both engines raw; the
        # former round(,9) could only mask a real divergence.
        F.when(F.col("n_candidates") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("tp").cast("double") / F.col("n_candidates"))
        .alias("lsh_precision"),
        F.when(F.col("n_truth") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("tp").cast("double") / F.col("n_truth"))
        .alias("lsh_recall"),
    )


@register(
    "jaccard_pair_histogram",
    oracle=f"""
    WITH {_MINHASH_CTES},
    tr AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
        FROM sh x JOIN sh y ON y.shingle = x.shingle AND x.doc_id < y.doc_id
        GROUP BY 1, 2),
    j AS (
        SELECT CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j
        FROM tr
        JOIN sizes sa ON sa.doc_id = tr.id_a
        JOIN sizes sb ON sb.doc_id = tr.id_b)
    SELECT CAST(least(9, CAST(floor(j * 10) AS INTEGER)) AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM j GROUP BY 1
    """,
)
def jaccard_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-mass histogram: exact Jaccard of every shared-shingle
    pair, bucketed at 0.1 width — the distribution that calibrates the
    dedup threshold (where does the near-dup mass actually sit?) and
    predicts verification cost per threshold before a full run.

    Scale: one inverted-index pair expansion (shared-shingle pairs
    only), collapsing immediately to a 10-row histogram — nothing
    pairwise is retained."""
    docs = _t(spark, sf_dir, "documents")
    sh_raw = D.with_shingles(docs).persist()
    truth_all = _truth_pairs(sh_raw)
    return (
        truth_all.select(
            F.least(F.lit(9), F.floor(F.col("j") * 10).cast("int")).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
