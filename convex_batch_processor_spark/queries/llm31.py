"""Post-window round-4 additions, part 24 (round-5 rotation material):
reciprocal-rank fusion of retrieval runs, Welch's t-test from exact
moments, and histogram-exact Gini concentration.

Registered last in queries/__init__.py (after llm30); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import retrieval as R
from .registry import register
from .sqlfrags import bm25_rank_ctes


_RRF_TERMS_A = ["spark", "window", "hash"]
_RRF_TERMS_B = ["join", "sort", "merge"]
_RRF_POOL, _RRF_K, _RRF_C = 100, 20, 60


@register(
    "rrf_fusion_topk",
    oracle=f"""
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
    {bm25_rank_ctes(_RRF_TERMS_A, _RRF_POOL, "a_")},
    {bm25_rank_ctes(_RRF_TERMS_B, _RRF_POOL, "b_")},
    ids AS (SELECT doc_id FROM a_rnk UNION SELECT doc_id FROM b_rnk)
    SELECT doc_id, rank_a, rank_b, rrf_score FROM (
        SELECT i.doc_id,
               CAST(a.rnk AS BIGINT) AS rank_a,
               CAST(b.rnk AS BIGINT) AS rank_b,
               coalesce(1.0 / ({_RRF_C} + a.rnk), 0.0)
                     + coalesce(1.0 / ({_RRF_C} + b.rnk), 0.0) AS rrf_score,
               row_number() OVER (
                   ORDER BY coalesce(1.0 / ({_RRF_C} + a.rnk), 0.0)
                                  + coalesce(1.0 / ({_RRF_C} + b.rnk), 0.0) DESC,
                            i.doc_id ASC) AS rn
        FROM ids i
        LEFT JOIN a_rnk a ON a.doc_id = i.doc_id
        LEFT JOIN b_rnk b ON b.doc_id = i.doc_id)
    WHERE rn <= {_RRF_K}
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-Rank Fusion (Cormack et al., 2009) of two BM25 runs
    (different query formulations) into one top-20: rrf(d) = sum over
    runs of 1/(60 + rank_run(d)) — the standard zero-tuning way to merge
    lexical/semantic/multi-query retrieval lists, robust to incomparable
    score scales because only RANKS enter the fusion.

    Determinism: ranks are integers (BM25 scores 6-dp rounded with
    doc_id tiebreaks), each contribution is one IEEE division, and the
    two-term sum is a fixed left-to-right expression — bit-stable.

    Scale: each run is the inverted-index BM25 plan (term-filtered
    before the shuffle) ending in a top-100 TakeOrdered; fusion then
    joins and ranks two 100-row lists — bounded, never corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    runs = []
    for terms in (_RRF_TERMS_A, _RRF_TERMS_B):
        run = R.bm25_topk(docs, terms, k=_RRF_POOL)
        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        runs.append(
            run.select("doc_id", F.row_number().over(w).alias("rnk"))
        )
    a = runs[0].select("doc_id", F.col("rnk").alias("rank_a"))
    b = runs[1].select("doc_id", F.col("rnk").alias("rank_b"))
    fused = a.join(b, "doc_id", "full_outer")
    contrib_a = F.coalesce(1.0 / (_RRF_C + F.col("rank_a")), F.lit(0.0))
    contrib_b = F.coalesce(1.0 / (_RRF_C + F.col("rank_b")), F.lit(0.0))
    scored = fused.select(
        "doc_id",
        F.col("rank_a").cast("long").alias("rank_a"),
        F.col("rank_b").cast("long").alias("rank_b"),
        # rule 14 (r12 strip): integer ranks -> each contribution is one
        # IEEE division and the two-term sum a fixed expression —
        # bit-identical raw in both engines (the doc_id tiebreak keeps
        # the top-k deterministic either way); round(,9) could only mask.
        (contrib_a + contrib_b).alias("rrf_score"),
    )
    return (
        scored.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(_RRF_K)
    )


@register(
    "welch_ttest_priorities",
    oracle="""
    WITH m AS (
        SELECT o_orderpriority AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) AS s,
               CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(19,0))
                        * CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(19,0)))
                    AS DOUBLE) AS q
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        GROUP BY 1
    ),
    p AS (
        SELECT MAX(CASE WHEN grp = '1-URGENT' THEN n END) AS n1,
               MAX(CASE WHEN grp = '1-URGENT' THEN s END) AS s1,
               MAX(CASE WHEN grp = '1-URGENT' THEN q END) AS q1,
               MAX(CASE WHEN grp = '5-LOW' THEN n END) AS n2,
               MAX(CASE WHEN grp = '5-LOW' THEN s END) AS s2,
               MAX(CASE WHEN grp = '5-LOW' THEN q END) AS q2
        FROM m
    )
    SELECT n1, n2,
           round(s1 / n1 - s2 / n2, 9) AS mean_diff_cents,
           -- the extra OR term: BOTH arms at constant value have zero
           -- pooled variance — the statistic is undefined (NULL), not an
           -- ANSI DIVIDE_BY_ZERO crash. The test uses the DIVISION-FREE
           -- variance numerators: neither engine short-circuits boolean
           -- operands, so a condition containing /(n-1) would itself
           -- divide by zero on a 1-row arm
           CASE WHEN n1 >= 2 AND n2 >= 2
                     AND ((q1 - s1 * s1 / n1) > 0 OR (q2 - s2 * s2 / n2) > 0) THEN
               round((s1 / n1 - s2 / n2)
                     / sqrt(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
                            + ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2), 9)
           END AS t_stat,
           CASE WHEN n1 >= 2 AND n2 >= 2
                     AND ((q1 - s1 * s1 / n1) > 0 OR (q2 - s2 * s2 / n2) > 0) THEN
               round(((((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
                       + ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2)
                      * (((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
                         + ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2))
                     / ((((q1 - s1 * s1 / n1) / (n1 - 1)) / n1)
                        * (((q1 - s1 * s1 / n1) / (n1 - 1)) / n1) / (n1 - 1)
                        + (((q2 - s2 * s2 / n2) / (n2 - 1)) / n2)
                          * (((q2 - s2 * s2 / n2) / (n2 - 1)) / n2) / (n2 - 1)),
                     6)
           END AS welch_dof
    FROM p
    """,
)
def welch_ttest_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: does mean order value differ
    between 1-URGENT and 5-LOW orders? The A/B-test primitive computed
    as ONE distributed aggregate — the test needs only (n, sum, sum of
    squares) per arm, accumulated EXACTLY in integer cents / decimal so
    the statistic is bit-reproducible (the OLS/correlation moment
    recipe; built-in stddev float-accumulates and drifts).

    Squares are written as explicit x*x on BOTH sides (never pow(x, 2),
    whose libm path is not guaranteed to be a plain multiply); the dof
    rounds at 6 dp, the division-only statistics at 9 dp.

    Scale: one scan, two-arm conditional aggregation, one final row."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cd = cents.cast("decimal(19,0)")
    m = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).cast("double").alias("s"),
            F.sum(cd * cd).cast("double").alias("q"),
        )
    )
    p = m.agg(
        F.max(F.when(F.col("grp") == "1-URGENT", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "1-URGENT", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("grp") == "1-URGENT", F.col("q"))).alias("q1"),
        F.max(F.when(F.col("grp") == "5-LOW", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "5-LOW", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("grp") == "5-LOW", F.col("q"))).alias("q2"),
    )
    n1, s1, q1 = F.col("n1"), F.col("s1"), F.col("q1")
    n2, s2, q2 = F.col("n2"), F.col("s2"), F.col("q2")
    v1n = ((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
    v2n = ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2
    diff = s1 / n1 - s2 / n2
    # an arm with < 2 rows has no variance: the test is undefined (NULL),
    # and ANSI Spark would otherwise throw on the n-1 division
    # zero pooled variance (both arms constant) leaves t/dof undefined —
    # NULL on both engines, never an ANSI DIVIDE_BY_ZERO crash. The guard
    # tests the DIVISION-FREE variance numerators: when() conditions are
    # fully evaluated (no short-circuit), so a condition containing
    # /(n-1) would itself crash on a 1-row arm
    ok = (
        (n1 >= 2) & (n2 >= 2)
        & (((q1 - s1 * s1 / n1) > 0) | ((q2 - s2 * s2 / n2) > 0))
    )
    dof_den = (v1n * v1n) / (n1 - 1) + (v2n * v2n) / (n2 - 1)
    return p.select(
        "n1",
        "n2",
        F.round(diff, 9).alias("mean_diff_cents"),
        F.when(ok, F.round(diff / F.sqrt(v1n + v2n), 9)).alias("t_stat"),
        F.when(
            ok, F.round(((v1n + v2n) * (v1n + v2n)) / dof_den, 6)
        ).alias("welch_dof"),
    )


@register(
    "gini_by_segment",
    oracle="""
    WITH v AS (
        -- NULL prices carry no cents (and would split the running sum on
        -- engine NULL-ordering defaults); all-zero segments have t = 0
        -- and an undefined Gini -> NULL, guarded below
        SELECT c.c_mktsegment AS seg,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_totalprice IS NOT NULL
    ),
    hist AS (
        SELECT seg, cents, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY 1, 2
    ),
    cum AS (
        SELECT seg, cents, c,
               CAST(coalesce(SUM(c) OVER (PARTITION BY seg ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             0) AS BIGINT) AS before
        FROM hist
    ),
    mo AS (
        SELECT seg,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(cents AS DECIMAL(19,0)) * c) AS DOUBLE) AS t,
               CAST(SUM(CAST(cents AS DECIMAL(19,0))
                        * (CAST(c AS DECIMAL(19,0)) * before
                           + (CAST(c AS DECIMAL(19,0)) * (c + 1)) / 2))
                    AS DOUBLE) AS s1
        FROM cum GROUP BY 1
    )
    SELECT seg, n,
           CASE WHEN t <> 0 THEN
               round((2.0 * s1 - (n + 1.0) * t)
                     / (CAST(n AS DOUBLE) * t), 9) END AS gini
    FROM mo
    """,
)
def gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order value per customer market segment —
    'how unequal is revenue across orders' (0 = uniform, 1 = one order
    has everything), the inequality complement of the Pareto band query.

    Exact WITHOUT a global sort: with tied values, the rank-weighted sum
    over any sorted order equals sum over the VALUE HISTOGRAM of
    v * (c*C_before + c(c+1)/2), so the only window is a per-segment
    running sum over the (value, count) histogram — value-bounded, the
    histogram_rank discipline. All moments are integer/decimal exact;
    the final Gini is a fixed IEEE expression rounded at 9 dp.

    Scale: join + histogram agg (one shuffle each), histogram-sized
    window, 5-row output."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    v = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    hist = v.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("c"))
    wh = (
        Window.partitionBy("seg")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "before", F.coalesce(F.sum("c").over(wh), F.lit(0)).cast("long")
    )
    cd = F.col("cents").cast("decimal(19,0)")
    ccd = F.col("c").cast("decimal(19,0)")
    mo = cum.groupBy("seg").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(cd * F.col("c")).cast("double").alias("t"),
        F.sum(cd * (ccd * F.col("before") + (ccd * (F.col("c") + 1)) / 2))
        .cast("double")
        .alias("s1"),
    )
    n, t, s1 = F.col("n"), F.col("t"), F.col("s1")
    return mo.select(
        "seg",
        "n",
        F.when(
            t != 0,
            F.round((2.0 * s1 - (n + 1.0) * t) / (n.cast("double") * t), 9),
        ).alias("gini"),
    )
