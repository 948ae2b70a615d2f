"""Round-15 pack.

The tranche is the MEASUREMENT layer for the mixing/dedup/embedding
operators the earlier packs shipped: a temperature-sweep weight table
(the tau decision grid over the single-tau mixing ops), an embedding
anisotropy probe and a label-separation report (corpus-geometry health
before ANN/clustering), the near-dup cluster-size histogram (dedup
exposure profile over the existing component machinery), MinHash banding
candidate-efficiency (precision of the LSH prefilter), a per-source
lognormal fit of document lengths (the standard corpus length model),
and token share by hashed-quality band (what a quality threshold would
keep, in integer-only band arithmetic).

``tests/test_r15_preflight.py`` runs every entry through the same
compare() harness the fixture gates use at sf0.001, a crafted boundary
fixture, AND sf0.1 (the rounding-tie tier).

Provenance: extends the reference's batch-processing surface
(blocknavi/convex-batch-processor, src/lib.ts — per-key aggregation and
retention state machines) with LLM-pipeline operators the task brief
names as first-class; none have a reference counterpart.

Determinism: the established recipes — exact integer counts until one
raw double division (rule 14), leaf-rounded transcendentals at 9 dp,
decimal->decimal narrowing of nonnegative squares before summing (rules
15/15b), integer-space banding instead of transcendental thresholds (the
llm73 scorer lesson: engine exp() skew can flip a floor at a band edge;
integer division cannot), NULLS-consistent grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops.dedup import tokens_col
from ..llmops.similarity import cosine_col
from .registry import register


# DuckDB twin of the normalized token array (shared shape with llm73/75).
_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


# --- 1. temperature-sweep mixing weights --------------------------------------

_TAUS = (0.25, 0.5, 0.75, 1.0)  # exact binary doubles — pow args identical


@register(
    "temperature_sweep_weights",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(SUM(coalesce(len({_TOKS_SQL}), 0)) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
    taus AS (SELECT CAST(unnest([{', '.join(str(t) for t in _TAUS)}])
                         AS DOUBLE) AS tau),
    w AS (
        SELECT taus.tau, s.source, s.n_tokens,
               CAST(round(pow(s.n_tokens, taus.tau), 6) AS DECIMAL(18,6))
                   AS w_raw
        FROM s CROSS JOIN taus WHERE s.n_tokens > 0),
    tot AS (
        SELECT tau, CAST(SUM(w_raw) AS DOUBLE) AS tot FROM w GROUP BY tau)
    SELECT w.tau, w.source, w.n_tokens,
           CAST(w.w_raw AS DOUBLE) AS w_raw,
           CAST(w.w_raw AS DOUBLE) / tot.tot AS weight
    FROM w JOIN tot ON tot.tau = w.tau
    """,
)
def temperature_sweep_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing-weight DECISION GRID: per-source sampling weights
    proportional to n_tokens^tau for tau in (0.25, 0.5, 0.75, 1.0)
    (_TAUS) — the one-table sweep a pipeline owner reads before fixing a
    mixing temperature (tau=1 is proportional sampling, tau->0 is
    uniform; the single-tau ops mixture_weights_sqrt /
    temperature_mix_weights are rows of this grid). Zero-token sources
    are excluded (pow(0, tau) contributes nothing and a zero total
    would make every weight 0/0).

    Determinism: the tau literals are exact binary doubles, so pow gets
    bit-identical arguments; pow itself leaf-rounds at 6 dp into an
    exact decimal (engine pow may skew an ulp); the per-tau normalizer
    is an exact decimal sum and the weight is one raw double division
    (rule 14).

    Scale: one corpus rollup to |sources| rows, then a bounded
    |sources| x |taus| grid — negligible."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.coalesce(F.size(tokens_col("text")), F.lit(0)))
        .cast("long")
        .alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    taus = docs.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _TAUS])).alias("tau")
    )
    w = s.crossJoin(F.broadcast(taus)).select(
        "tau",
        "source",
        "n_tokens",
        F.round(F.pow(F.col("n_tokens"), F.col("tau")), 6)
        .cast("decimal(18,6)")
        .alias("w_raw"),
    )
    tot = w.groupBy("tau").agg(F.sum("w_raw").cast("double").alias("tot"))
    return w.join(F.broadcast(tot), "tau").select(
        "tau",
        "source",
        "n_tokens",
        F.col("w_raw").cast("double").alias("w_raw"),
        (F.col("w_raw").cast("double") / F.col("tot")).alias("weight"),
    )


# --- 2. embedding anisotropy probe ----------------------------------------------

_ANISO_MOD = 20  # probe sets: vec_id % 20 == 0 and % 20 == 10


@register(
    "embedding_anisotropy_probe",
    oracle=f"""
    WITH nz AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0),
    pairs AS (
        SELECT CAST(round(list_dot_product(a.v, b.v)
                          / (sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v))), 6)
                    AS DECIMAL(9,6)) AS c6
        FROM nz a JOIN nz b
          ON a.vec_id % {_ANISO_MOD} = 0 AND b.vec_id % {_ANISO_MOD} = 10),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(c6) AS DOUBLE) AS sum_cos,
               CAST(SUM(abs(c6)) AS DOUBLE) AS sum_abs,
               CAST(SUM(CAST(round(c6 * c6, 6) AS DECIMAL(12,6)))
                    AS DOUBLE) AS sum_sq
        FROM pairs),
    norms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CAST(round(sqrt(list_dot_product(v, v)), 6)
                             AS DECIMAL(12,6))) AS DOUBLE) AS sum_norm
        FROM nz)
    SELECT agg.n_pairs,
           agg.sum_cos / agg.n_pairs AS mean_cos,
           agg.sum_abs / agg.n_pairs AS mean_abs_cos,
           agg.sum_sq / agg.n_pairs AS mean_cos_sq,
           norms.n_vecs,
           norms.sum_norm / norms.n_vecs AS mean_norm
    FROM agg CROSS JOIN norms
    WHERE agg.n_pairs > 0 AND norms.n_vecs > 0
    """,
)
def embedding_anisotropy_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy probe (Ethayarajh's cone diagnostic):
    mean / mean-absolute / mean-squared cosine between two DISJOINT
    deterministic probe sets (vec_id % 20 == 0 vs == 10 — residues
    differ, so no self-pairs) plus the corpus mean L2 norm. A mean
    cosine far above 0 means the space collapsed into a narrow cone and
    cosine-based ANN/dedup thresholds are miscalibrated. Zero-norm and
    NULL vectors are excluded on both sides (cosine undefined).

    Determinism: each cosine leaf-rounds at 6 dp into an exact decimal
    (the knn recipe); |c| and the decimal->decimal narrowed square (rule
    15: explicit round, half-up both engines on nonnegatives) sum
    exactly; the means are raw exact-sum / count divisions (rule 14).
    The row only emits when both probe products are non-empty (0/0
    guarded by exclusion, not CASE).

    Scale: the probe product is (n/20)^2 — the documented verification
    baseline; at 100 TB feed the probe sets from a fixed sample rate and
    the means are unchanged downstream."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    dot_self = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    nz = emb.select("vec_id", "embedding").filter(dot_self > 0)
    a = nz.filter(F.col("vec_id") % _ANISO_MOD == 0).select(
        F.col("embedding").alias("va")
    )
    b = nz.filter(F.col("vec_id") % _ANISO_MOD == 10).select(
        F.col("embedding").alias("vb")
    )
    c6 = F.round(cosine_col(F.col("va"), F.col("vb")), 6).cast("decimal(9,6)")
    agg = (
        F.broadcast(a)
        .crossJoin(b)
        .select(c6.alias("c6"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("c6").cast("double").alias("sum_cos"),
            F.sum(F.abs(F.col("c6"))).cast("double").alias("sum_abs"),
            F.sum(
                F.round(F.col("c6") * F.col("c6"), 6).cast("decimal(12,6)")
            ).cast("double").alias("sum_sq"),
        )
    )
    norm6 = F.round(F.sqrt(dot_self), 6).cast("decimal(12,6)")
    norms = emb.filter(dot_self > 0).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(norm6).cast("double").alias("sum_norm"),
    )
    return (
        agg.crossJoin(F.broadcast(norms))
        .filter((F.col("n_pairs") > 0) & (F.col("n_vecs") > 0))
        .select(
            "n_pairs",
            (F.col("sum_cos") / F.col("n_pairs")).alias("mean_cos"),
            (F.col("sum_abs") / F.col("n_pairs")).alias("mean_abs_cos"),
            (F.col("sum_sq") / F.col("n_pairs")).alias("mean_cos_sq"),
            "n_vecs",
            (F.col("sum_norm") / F.col("n_vecs")).alias("mean_norm"),
        )
    )


# --- 3. label separation report ---------------------------------------------------


@register(
    "label_separation_report",
    oracle="""
    WITH el AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
                    AS DECIMAL(12,6)) AS e
        FROM embeddings WHERE embedding IS NOT NULL),
    nv AS (SELECT label, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs
           FROM el GROUP BY label),
    cent AS (
        SELECT label, dim, CAST(SUM(e) AS DOUBLE) / COUNT(*) AS mu
        FROM el GROUP BY label, dim),
    intra AS (
        SELECT el.label,
               CAST(SUM(CAST(round((CAST(el.e AS DOUBLE) - c.mu)
                                   * (CAST(el.e AS DOUBLE) - c.mu), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS sq
        FROM el JOIN cent c ON c.label IS NOT DISTINCT FROM el.label
                           AND c.dim = el.dim
        GROUP BY el.label),
    cdist AS (
        SELECT a.label AS la, b.label AS lb,
               CAST(SUM(CAST(round((a.mu - b.mu) * (a.mu - b.mu), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS d2
        FROM cent a JOIN cent b
          ON a.dim = b.dim AND a.label IS DISTINCT FROM b.label
        GROUP BY a.label, b.label)
    SELECT nv.label, nv.n_vecs,
           intra.sq / nv.n_vecs AS mean_intra_sq,
           (SELECT MIN(d2) FROM cdist
            WHERE cdist.la IS NOT DISTINCT FROM nv.label)
               AS min_inter_centroid_sq
    FROM nv JOIN intra ON intra.label IS NOT DISTINCT FROM nv.label
    """,
)
def label_separation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised embedding-separability report: per label, the mean
    squared L2 distance of its vectors to their centroid (intra-class
    scatter) and the squared distance to the NEAREST other centroid —
    the cheap linear-probe proxy that says whether labels are separable
    in embedding space before anyone trains on it (min_inter >> intra
    = separable; a single-label corpus reports NULL min_inter). NULL
    labels form their own group (IS NOT DISTINCT FROM joins).

    Determinism: elements leaf-round at 6 dp into exact decimals;
    centroids are raw exact-sum / count divisions (identical doubles);
    each squared deviation re-rounds decimal-ward at 6 dp (nonnegative
    — half-up identical, rule 15) so the scatter sums are exact; the
    final divisions are raw (rule 14).

    Scale: one (label, dim) rollup for centroids (bounded, broadcast
    back), one corpus pass for the scatter, and a |labels|^2 x dims
    centroid grid — bounded by the label count."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    e6 = F.round(F.col("e").cast("double"), 6).cast("decimal(12,6)")
    el = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "e")
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), e6.alias("e"))
    nv = el.groupBy("label").agg(
        F.countDistinct("vec_id").alias("n_vecs")
    )
    cent = el.groupBy("label", "dim").agg(
        (F.sum("e").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    d = F.col("e").cast("double") - F.col("mu")
    sq6 = F.round(d * d, 6).cast("decimal(18,6)")
    intra = (
        el.join(
            F.broadcast(cent.withColumnRenamed("label", "_cl")),
            (F.col("label").eqNullSafe(F.col("_cl"))) & (el.dim == cent.dim),
        )
        .select("label", sq6.alias("sq"))
        .groupBy("label")
        .agg(F.sum("sq").cast("double").alias("sq"))
    )
    ca = cent.select(
        F.col("label").alias("la"), "dim", F.col("mu").alias("mu_a")
    )
    cb = cent.select(
        F.col("label").alias("lb"), F.col("dim").alias("dim_b"),
        F.col("mu").alias("mu_b"),
    )
    dd = F.col("mu_a") - F.col("mu_b")
    cdist = (
        ca.join(
            cb,
            (F.col("dim") == F.col("dim_b"))
            & (~F.col("la").eqNullSafe(F.col("lb"))),
        )
        .select("la", "lb", F.round(dd * dd, 6).cast("decimal(18,6)").alias("q"))
        .groupBy("la", "lb")
        .agg(F.sum("q").cast("double").alias("d2"))
        .groupBy("la")
        .agg(F.min("d2").alias("min_inter_centroid_sq"))
    )
    return (
        nv.join(intra.withColumnRenamed("label", "_il"),
                F.col("label").eqNullSafe(F.col("_il")))
        .join(
            cdist, F.col("label").eqNullSafe(F.col("la")), "left"
        )
        .select(
            "label",
            "n_vecs",
            (F.col("sq") / F.col("n_vecs")).alias("mean_intra_sq"),
            "min_inter_centroid_sq",
        )
    )


# --- 4. near-dup cluster-size histogram ---------------------------------------------


def _cluster_sizes_oracle() -> str:
    """Composed from llm.py's shared recursive-CC CTEs so the pair and
    component semantics can never drift from neardup_components /
    dedup_keep_best (the one-text rule). Deferred import avoids cycles."""
    from .llm import _COMPONENTS_CTES

    return f"""
    WITH RECURSIVE {_COMPONENTS_CTES},
    sizes AS (
        SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY component_id)
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """


@register("neardup_cluster_sizes", oracle=_cluster_sizes_oracle())
def neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE histogram: how many duplicate components
    exist at each size, and how many documents they hold — the dedup
    exposure profile (a long tail of pair-sized clusters dedups cheaply;
    a giant component means the pair threshold is too loose and a keeper
    policy will gut the corpus). Components and their edge set ARE
    neardup_components' (llm.py) — the same _neardup_edges +
    connected_components call, so this histogram can never disagree with
    the cluster table it summarizes.

    Determinism: exact integer counts end to end.

    Scale: the component table covers only docs in some duplicate pair;
    the histogram is a two-level bounded rollup on top of the audited
    min-label-propagation CC (one equi-join + min-agg per round,
    converging in ~cluster-diameter rounds)."""
    from ..operators.graph import connected_components
    from .llm import _neardup_edges

    comp = connected_components(_neardup_edges(spark, sf_dir), "id_a", "id_b")
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


# --- 5. MinHash banding candidate efficiency -----------------------------------------

_EFF_THRESHOLD = 0.5  # the verification threshold the banding targets


def _efficiency_oracle() -> str:
    """Composed from sqlfrags' shared MinHash CTEs (llm5/llm50 use the
    same text) so the candidate semantics never drift."""
    from .sqlfrags import MINHASH_MD5_CTES

    return f"""
    WITH {MINHASH_MD5_CTES},
    ver AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i)
                  >= {_EFF_THRESHOLD}),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
    nver AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_verified FROM ver)
    SELECT nc.n_candidates, nver.n_verified,
           CASE WHEN nc.n_candidates > 0
                THEN CAST(nver.n_verified AS DOUBLE) / nc.n_candidates
           END AS banding_precision
    FROM nc CROSS JOIN nver
    """


@register("minhash_candidate_efficiency", oracle=_efficiency_oracle())
def minhash_candidate_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding efficiency: how many candidate pairs the portable
    MinHash banding (16 perms, 4 bands of 4 — minhash_portable_neardup's
    exact configuration via the same llmops helpers) emits, how many
    survive exact-Jaccard verification at 0.5 (_EFF_THRESHOLD), and the
    resulting precision — the number that says whether the banding
    wastes verification work (low precision: add rows per band) or
    probably misses pairs (precision ~1.0: bands too strict, check
    recall against the exact pair set). Always emits one row; precision
    is NULL when there are no candidates (division-free guard).

    Determinism: counts are exact integers; the precision is one raw
    exact-integer division (rule 14).

    Scale: identical to the near-dup pipeline it measures — banded
    bucket equi-join for candidates (never all-pairs), candidate-only
    verification."""
    from ..llmops.dedup import MD5, jaccard_pairs, minhash_candidates

    docs = load_table(spark, sf_dir, "documents")
    cands, sh_raw = minhash_candidates(docs, num_perm=16, family=MD5)
    cands = cands.persist()  # two consumers: the count + the verify join
    ver = jaccard_pairs(docs, cands, shingle_df=sh_raw).filter(
        F.col("jaccard") >= _EFF_THRESHOLD
    )
    nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    nv = ver.agg(F.count(F.lit(1)).alias("n_verified"))
    return nc.crossJoin(F.broadcast(nv)).select(
        "n_candidates",
        "n_verified",
        F.when(
            F.col("n_candidates") > 0,
            F.col("n_verified").cast("double") / F.col("n_candidates"),
        ).alias("banding_precision"),
    )


# --- 6. per-source lognormal fit of document lengths ---------------------------------


@register(
    "doc_length_lognormal_fit",
    oracle=f"""
    WITH sized AS (
        SELECT source,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n
        FROM documents WHERE text IS NOT NULL),
    x AS (
        SELECT source,
               CAST(round(ln(n), 9) AS DECIMAL(18,9)) AS x
        FROM sized WHERE n >= 1),
    m AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(20,9)))
                    AS DOUBLE) AS sxx
        FROM x GROUP BY source)
    SELECT source, n_docs,
           sx / n_docs AS mu_ln,
           (sxx - (sx * sx) / n_docs) / n_docs AS var_ln
    FROM m
    """,
)
def doc_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments lognormal fit of document token lengths per
    source: mu and variance of ln(length) — the standard corpus length
    model (natural corpora are approximately lognormal; a source whose
    fit deviates wildly is templated or truncated, and packing/batching
    plans size buffers off these two numbers). Zero-length and NULL-text
    docs are excluded (ln undefined / no length signal).

    Determinism: ln leaf-rounds at 9 dp into exact decimals; the square
    narrows decimal->decimal at 9 dp (nonnegative — ln(n) >= 0 for
    n >= 1 — so half-up rounds identically, rule 15; scale 9 keeps the
    unscaled sum under 2^52 to ~4.5e6 summed squares, rule 15b); the
    moments are raw fixed-IEEE expressions of exact sums (rule 14 —
    unrounded; var can read a tiny negative for constant-length sources,
    which is the honest float answer both engines agree on).

    Scale: map-side lengths + one |sources| rollup."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "source", F.size(tokens_col("text")).cast("long").alias("n")
    ).filter(F.col("n") >= 1)
    x = F.round(F.log("n"), 9).cast("decimal(18,9)")
    m = sized.select("source", x.alias("x")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("sxx"),
    )
    return m.select(
        "source",
        "n_docs",
        (F.col("sx") / F.col("n_docs")).alias("mu_ln"),
        (
            (F.col("sxx") - (F.col("sx") * F.col("sx")) / F.col("n_docs"))
            / F.col("n_docs")
        ).alias("var_ln"),
    )


# --- 7. token share by hashed-quality band --------------------------------------------

_BAND_DENOM = 1_000_000  # hashed weights read at scale 1e-6 (llm73 contract)


@register(
    "quality_band_token_share",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        WHERE text IS NOT NULL AND len({_TOKS_SQL}) >= 1),
    scored AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(SUM((CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                         % 2000001) - 1000000) AS BIGINT) AS w_sum
        FROM toks, unnest(t) AS u(tok)
        GROUP BY doc_id, len(t)),
    banded AS (
        -- integer-space banding: mean weight in [-1, 1] at scale 1e-6,
        -- band = FLOOR of 10 * mean (ADVICE r11: trunc-toward-zero gave
        -- band 0 twice the width of every other band, merging slightly-
        -- negative and slightly-positive docs). Both engines' integer
        -- // and div TRUNCATE, so floor is trunc minus one when the
        -- division is inexact and the operands' signs differ — pure
        -- integer arithmetic, engine floor()/exp() never runs (the
        -- llm73 integer-threshold lesson)
        SELECT doc_id, n_tokens,
               CAST(((w_sum * 10) // (n_tokens * {_BAND_DENOM}))
                    - CASE WHEN w_sum < 0
                                AND (w_sum * 10) % (n_tokens * {_BAND_DENOM}) <> 0
                           THEN 1 ELSE 0 END AS INTEGER)
                   AS band
        FROM scored),
    corpus AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM banded)
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / corpus.total AS token_share
    FROM banded CROSS JOIN corpus
    GROUP BY band, corpus.total
    """,
)
def quality_band_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token share by hashed-quality band: documents bucketed by the
    deterministic hashed linear scorer's MEAN token weight (llm73's
    hashed_token_weight — the fastText-class scoring plumbing), bands
    computed in PURE INTEGER space (band = floor(10 * mean_w) with
    mean_w read at scale 1e-6) — the "what would a quality threshold
    keep" table: cumulative token share above a band is the retained
    budget at that cut. FLOOR banding (ADVICE r11): trunc-toward-zero
    made band 0 span (-0.1, 0.1) — twice every other band's width —
    merging slightly-negative and slightly-positive docs; floor keeps
    all bands uniform. Integer banding instead of a sigmoid floor
    because engine exp() can differ by an ulp and flip a band at its
    edge; integer division cannot (Spark div and DuckDB // truncate
    identically on integers, including negatives — rule 12 — and the
    explicit negative-remainder correction turns both into floor).

    Determinism: exact integer weight sums (60-bit md5 prefixes mod the
    llm73 weight table) and integer band arithmetic; the token share is
    one raw exact-integer division (rule 14).

    Scale: one token explode -> per-doc rollup (the scorer's shuffle),
    then a bounded band rollup; the corpus total is a broadcast
    scalar."""
    from .llm73 import hashed_token_weight

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", tokens_col("text").alias("t")).filter(
        F.size("t") >= 1
    )
    scored = (
        toks.select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.explode("t").alias("tok"),
        )
        .groupBy("doc_id", "n_tokens")
        .agg(F.sum(hashed_token_weight("tok")).cast("long").alias("w_sum"))
    )
    banded = scored.select(
        "doc_id",
        "n_tokens",
        F.expr(
            f"CAST((w_sum * 10) div (n_tokens * {_BAND_DENOM})"
            f" - (CASE WHEN w_sum < 0"
            f"           AND (w_sum * 10) % (n_tokens * {_BAND_DENOM}) != 0"
            f"      THEN 1 ELSE 0 END) AS INT)"
        ).alias("band"),
    )
    corpus = banded.agg(F.sum("n_tokens").cast("long").alias("total"))
    return (
        banded.crossJoin(F.broadcast(corpus))
        .groupBy("band", "total")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "band",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("total")).alias(
                "token_share"
            ),
        )
    )
