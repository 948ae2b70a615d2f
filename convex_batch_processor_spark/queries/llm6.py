"""Round-4 sketch pack: Count-Min heavy hitters, HyperLogLog distinct
cardinality, Bloom-filter decontamination pre-filter (llmops/sketches.py).

The md5-derived portable hash family (llm5's minhash recipe, extended to
integers via conv/CAST-0x — parity pinned in tests/test_sketches.py)
makes every sketch REPLAYABLE IN SQL, so all three are oracle-checked:
the DuckDB twin builds the identical sketch and the hash compare verifies
cell counters, register ranks, and bit positions bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..llmops import sketches as K
from ..llmops.dedup import exploded_shingles, tokens_col
from .registry import register

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


def _cms_bucket_sql(term: str, width: int) -> str:
    """DuckDB bucket expression matching sketches.md5_int(term, j) % width
    with j coming from an unnest(range(..)) column."""
    return (
        f"CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || {term}), 1, "
        f"{K.PORTABLE_HASH_HEX}) AS BIGINT) % {width}"
    )


# --- Count-Min heavy hitters ------------------------------------------------

_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPK = 4, 1024, 30


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOK_SQL}) AS term FROM documents),
    counts AS MATERIALIZED (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY 1),
    cells AS (
        SELECT j, {_cms_bucket_sql('term', _CMS_WIDTH)} AS bucket, exact_cnt
        FROM counts, unnest(range(0, {_CMS_DEPTH})) AS d(j)),
    sketch AS MATERIALIZED (
        SELECT j, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS counter
        FROM cells GROUP BY 1, 2),
    top AS MATERIALIZED (
        SELECT term, exact_cnt FROM counts
        ORDER BY exact_cnt DESC, term ASC LIMIT {_CMS_TOPK}),
    probe AS (
        SELECT t.term, t.exact_cnt, j,
               {_cms_bucket_sql('t.term', _CMS_WIDTH)} AS bucket
        FROM top t, unnest(range(0, {_CMS_DEPTH})) AS d(j))
    SELECT p.term, p.exact_cnt,
           CAST(MIN(s.counter) AS BIGINT) AS cms_est,
           CAST(MIN(s.counter) - p.exact_cnt AS BIGINT) AS overcount
    FROM probe p JOIN sketch s USING (j, bucket)
    GROUP BY 1, 2
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: build a 4×1024 CMS over corpus term
    occurrences, then point-query the top-30 exact terms — (term,
    exact_cnt, cms_est, overcount) makes the sketch's one-sided error
    directly visible (overcount ≥ 0 always; ≤ 2N/width w.h.p.).

    Scale: the sketch is built from PRE-AGGREGATED term counts, so the
    ×depth explode is vocab-bounded and partial aggregation collapses the
    (j, bucket) cells map-side — 4096 cells total whatever the corpus.
    The top-k is TakeOrdered (no global sort/window) and the probe joins
    the broadcast sketch (llmops/sketches.py:cms_sketch)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    sketch = K.cms_sketch(counts, "term", "exact_cnt", _CMS_DEPTH, _CMS_WIDTH)
    top = counts.orderBy(F.col("exact_cnt").desc(), F.col("term").asc()).limit(_CMS_TOPK)
    est = K.cms_estimate(top, sketch, "term", _CMS_DEPTH, _CMS_WIDTH)
    return top.join(est, "term").select(
        "term",
        "exact_cnt",
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


# --- HyperLogLog distinct vocabulary per language ---------------------------


@register(
    "hll_distinct_by_lang",
    oracle=f"""
    WITH lt AS MATERIALIZED (
        SELECT DISTINCT lang, term FROM (
            SELECT lang, unnest({_TOK_SQL}) AS term FROM documents)),
    {K.hll_oracle_ctes("term", "lang", "lt", b=8)},
    ex AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_exact FROM lt GROUP BY 1)
    SELECT ex.lang, ex.n_exact, h.zero_registers, h.hll_est
    FROM ex JOIN hll_agg h ON h.grp = ex.lang
    """,
)
def hll_distinct_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-vocabulary estimate per language next to the
    exact count — (lang, n_exact, zero_registers, hll_est). b=8 → 256
    registers, ±6.5% standard error (the linear-counting small-range
    branch IS applied when zero registers remain, and the oracle replays
    it — llmops/sketches.py:hll_distinct; bound pinned by test).

    Scale: per-group state is 256 registers whatever the corpus; the only
    shuffles are the (lang, term) distinct and the (lang, bucket)
    max-rank — both partial-aggregated map-side. The register sum is an
    exact integer (Σ 2^(K-M)), so the final estimate is one shared IEEE
    expression and hash-matches DuckDB bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    lt = (
        docs.select("lang", F.explode(tokens_col("text")).alias("term"))
        .distinct()
    )
    est = K.hll_distinct(lt, "term", ["lang"], b=8)
    ex = lt.groupBy("lang").agg(F.count(F.lit(1)).alias("n_exact"))
    return ex.join(est, "lang").select("lang", "n_exact", "zero_registers", "hll_est")


# --- Bloom-filter decontamination pre-filter --------------------------------

_BLOOM_M, _BLOOM_K, _BLOOM_N = 65536, 3, 8


def _bloom_gram_sql(alias: str) -> str:
    """Distinct 8-gram shingles per doc (the ngram_novelty_score shape)."""
    return f"""
    {alias} AS MATERIALIZED (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(1, len({_TOK_SQL}) - {_BLOOM_N - 2})),
            i -> array_to_string(list_slice({_TOK_SQL}, i, i + {_BLOOM_N - 1}), ' ')
        ))) AS gram FROM documents)"""


@register(
    "bloom_decontamination_prefilter",
    oracle=f"""
    WITH {_bloom_gram_sql('g')},
    eg AS MATERIALIZED (
        SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
    bits AS MATERIALIZED (
        SELECT DISTINCT CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || gram),
                             1, {K.PORTABLE_HASH_HEX}) AS BIGINT) % {_BLOOM_M} AS pos
        FROM eg, unnest(range(0, {_BLOOM_K})) AS d(i)),
    corpus AS MATERIALIZED (SELECT doc_id, gram FROM g WHERE doc_id % 50 <> 0),
    cpos AS (
        SELECT doc_id, gram,
               CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || gram),
                    1, {K.PORTABLE_HASH_HEX}) AS BIGINT) % {_BLOOM_M} AS pos
        FROM corpus, unnest(range(0, {_BLOOM_K})) AS d(i)),
    hits AS MATERIALIZED (
        SELECT doc_id, gram FROM cpos JOIN bits USING (pos)
        GROUP BY 1, 2 HAVING COUNT(*) = {_BLOOM_K}),
    per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM corpus GROUP BY 1),
    bh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits FROM hits GROUP BY 1),
    th AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_true_hits
           FROM corpus c WHERE c.gram IN (SELECT gram FROM eg) GROUP BY 1)
    SELECT p.doc_id, p.n_grams, bh.n_bloom_hits,
           CAST(COALESCE(th.n_true_hits, 0) AS BIGINT) AS n_true_hits
    FROM per_doc p
    JOIN bh USING (doc_id)
    LEFT JOIN th USING (doc_id)
    """,
)
def bloom_decontamination_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filter for eval decontamination: build a 65536-bit
    k=3 bloom over the eval split's distinct 8-grams (doc_id % 50 = 0),
    probe every training doc's grams, and report (doc_id, n_grams,
    n_bloom_hits, n_true_hits) for docs with ≥1 bloom hit — the false
    positives are visible as n_bloom_hits > n_true_hits, and no false
    negatives exist by construction (pinned in tests).

    Scale: this is the join-pruning pattern for 100 TB decontamination.
    The filter is COLLECTED as a ≤ 8 KB literal bitmap (bounded by
    m_bits, not the corpus — the k-means-centroid collect pattern) and
    the membership test is a pure map-side column expression: the corpus
    gram stream is scored in ONE pass with ONE doc-keyed shuffle, no
    position explode, no join against the eval set except the broadcast
    in_eval flag join (eval sets are bounded by construction). An
    earlier draft built three separate aggregation branches over the
    shingle explode and re-ran it 4×: 5.4 s → this shape at sf0.1.
    (Spark's native runtime bloom join does the same trick transparently
    for equi-joins; this form persists/ships the filter between jobs.)"""
    grams = exploded_shingles(
        load_table(spark, sf_dir, "documents"), n=_BLOOM_N, out="gram"
    )
    # persisted: eval_grams is consumed twice (bitmap build + broadcast
    # in_eval join) and is BOUNDED (the eval split's distinct grams);
    # persisting the full gram stream instead would cache corpus-scale
    # state for no win — the %50 filters push below the explode, so the
    # corpus branch already scans once. Deliberate session-lifetime
    # cache: the plan is returned lazily, so the unpersist point is the
    # caller's last action; LRU-evictable (ADVICE r8)
    eval_grams = (
        grams.filter(F.col("doc_id") % 50 == 0).select("gram").distinct().persist()
    )
    corpus = grams.filter(F.col("doc_id") % 50 != 0)
    words = K.bloom_bitmap(eval_grams, "gram", _BLOOM_M, _BLOOM_K)
    return (
        corpus.withColumn(
            "bloom_hit", K.bloom_hit_col("gram", words, _BLOOM_M, _BLOOM_K)
        )
        .join(
            F.broadcast(eval_grams.withColumn("in_eval", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
            F.sum(F.coalesce(F.col("in_eval"), F.lit(0)).cast("long")).alias("n_true_hits"),
        )
        .filter(F.col("n_bloom_hits") > 0)
        .select("doc_id", "n_grams", "n_bloom_hits", "n_true_hits")
    )


# --- REAL image decode (BMP) ------------------------------------------------


@register(
    "image_decode_features",
    oracle="""
    WITH dims AS (
        SELECT doc_id, 4 + doc_id % 13 AS w, 2 + doc_id % 7 AS h FROM documents)
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(24 AS INTEGER) AS bpp,
           CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(0, w), x -> (doc_id + x) % 256))
                AS DOUBLE) / w AS mean_b,
           CAST(list_sum(list_transform(range(0, h), y -> (doc_id + y) % 256))
                AS DOUBLE) / h AS mean_g,
           CAST(list_sum(list_transform(range(0, w), x ->
                list_sum(list_transform(range(0, h), y -> (doc_id + x + y) % 256))))
                AS DOUBLE) / (w * h) AS mean_r
    FROM dims
    """,
)
def image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image pipeline (the audio_decode_features recipe
    applied to images): synthesize a genuine 24-bit BMP per document —
    BITMAPINFOHEADER, BGR order, 4-byte row padding, bottom-up rows —
    then DECODE it with a real struct+numpy BMP parser. Nothing stubbed:
    the decoder handles any BI_RGB 24-bit BMP (foreign-file test in
    tests/test_llmops.py); only JPEG/PNG stay stubbed (no codec libs in
    the container).

    The oracle never sees the bytes: dimensions and pixels are
    closed-form in doc_id, so SQL PREDICTS the header fields (width,
    height, bpp, file size incl. row padding) and per-channel means a
    correct decoder must report — a wrong stride, row order, or channel
    order fails the hash. Channel means are exact small-integer sums in
    float64 (bit-reproducible; B is constant per column, G per row, so
    sum/(w·h) and per-axis sum/w round identically — same real quotient).

    Scale shape: ONE fused mapInPandas over Arrow batches — synth and
    decode composed in a single Python stage (identical math; the BMP
    bytes never cross back to the JVM), partition-parallel, zero
    shuffle."""
    from ..llmops.multimodal import image_features_fused

    docs = load_table(spark, sf_dir, "documents")
    return image_features_fused(docs)


# --- REAL video decode (uncompressed RIFF/AVI) ------------------------------


@register(
    "video_frame_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
               3 + doc_id % 4 AS nf
        FROM documents),
    fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf, 2)) AS f FROM dims)
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(10.0 AS DOUBLE) AS fps,
           CAST(list_sum(list_transform(range(0, w), x -> (doc_id + f + x) % 256))
                AS DOUBLE) / w AS mean_b,
           CAST(list_sum(list_transform(range(0, h), y -> (doc_id + f + y) % 256))
                AS DOUBLE) / h AS mean_g,
           CAST(list_sum(list_transform(range(0, w), x ->
                list_sum(list_transform(range(0, h), y -> (doc_id + f + x + y) % 256))))
                AS DOUBLE) / (w * h) AS mean_r
    FROM fr
    """,
)
def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL video pipeline: synthesize a genuine uncompressed
    RIFF/AVI ('vids'/'DIB ' raw-BGR frames, valid avih/strh/strf headers,
    movi '00db' chunks) per document, then DECODE it with a real RIFF
    chunk walker + numpy frame parser, sampling every 2nd frame —
    (doc_id, frame_idx, dims, n_frames, fps, per-channel means). The
    video stub is retired: this decoder handles any uncompressed
    DIB-frames AVI (foreign-file test in tests/test_multimodal_codecs.py);
    only compressed codecs (H.264/VP9) remain stubbed in frame_sample.

    The oracle never sees the bytes: dimensions, frame count, timing, and
    pixels are closed-form in doc_id, so SQL predicts what a correct
    container parse + frame decode must report — a wrong chunk walk, row
    stride, or frame order fails the hash (the audio/image recipe).

    Scale shape: ONE fused mapInPandas over Arrow batches — encode and
    decode composed in a single Python stage (identical math; the AVI
    bytes never cross back to the JVM), partition-parallel, zero shuffle;
    frame sampling multiplies rows map-side only."""
    from ..llmops.multimodal import video_frames_fused

    docs = load_table(spark, sf_dir, "documents")
    return video_frames_fused(docs, every_n=2)
