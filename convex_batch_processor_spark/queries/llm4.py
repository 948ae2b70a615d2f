"""Round-3 late additions, registered LAST (outside the round-3 driver
window — the local gate covers them now; round 4's rotation front-loads
them for driver verdicts).

- dup_span_coverage: cross-document duplicate-span metric from the
  dedup literature (Lee et al. 2022, "Deduplicating Training Data Makes
  Language Models Better"): fraction of a doc's 8-token spans that occur
  in at least one other document — the observability step before an
  ExactSubstr-style dedup.
- winsorize_event_values: percentile-based outlier clamping report, the
  numeric-cleaning twin of the text quality rules. Spark ``percentile``
  and DuckDB ``quantile_cont`` both linear-interpolate over the sorted
  values and agree bit-for-bit on this data (verified), so the bounds
  join the oracle unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops.dedup import tokens_col
from .registry import register


@register(
    "dup_span_coverage",
    oracle="""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS gram
        FROM t, unnest(range(1, len(toks) - 6)) AS r(i)
        WHERE len(toks) >= 8
    ),
    df AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
           CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS dup_frac
    FROM g JOIN df USING (gram) GROUP BY g.doc_id
    """,
)
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a doc's
    8-token spans (all positions, overlapping) that appear in ≥2 distinct
    documents. Inverted-index shape: explode spans → distinct-doc count
    per gram (vocabulary-bounded) → join back per position — the same
    gram-blocked plan as eval-set decontamination, never doc×doc."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("toks")).filter(
        F.size("toks") >= 8
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 7),
        lambda i: F.concat_ws(" ", F.slice("toks", i, 8)),
    )
    # persisted: g feeds BOTH the distinct-doc gram count and the join-back;
    # unpersisted, the tokenize+8-gram explode re-runs over the whole corpus
    # per consumer (the multi-consumer class token_pmi_pairs prices at 4-6x).
    # Deliberate session-lifetime cache: the plan is returned lazily, so the
    # unpersist point is the caller's last action; LRU-evictable (ADVICE r8)
    g = toks.select("doc_id", F.explode(grams).alias("gram")).persist()
    nd = (
        g.distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    dup = (F.col("nd") >= 2).cast("long")
    return (
        g.join(nd, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).alias("dup_spans"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias("dup_frac"),
        )
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT s1.user_id,
           CASE WHEN s3.t3 IS NOT NULL THEN 3
                WHEN s2.t2 IS NOT NULL THEN 2
                WHEN s1.t1 IS NOT NULL THEN 1
                ELSE 0 END AS stage,
           s1.t1, s2.t2, s3.t3
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per user, the furthest
    stage reached with each stage's first qualifying timestamp (a later
    stage must strictly follow the previous stage's first time).

    Plan: three user-keyed conditional-min aggregations chained by joins —
    every shuffle is on user_id, so AQE coalesces them into co-partitioned
    exchanges; no window sort and nothing corpus-wide is re-scanned per
    stage (each stage filters the same cached-by-scan events relation)."""
    ev = load_table(spark, sf_dir, "events")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1.filter(F.col("t1").isNotNull()), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select("user_id", stage.alias("stage"), "t1", "t2", "t3")
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH first_day AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN first_day f USING (user_id)
    )
    SELECT cohort_day, day_offset, CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM activity WHERE day_offset <= 7
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day; for each
    cohort, how many distinct users were active N days later (N ≤ 7).
    Two user-keyed shuffles (first-day agg + distinct) then a tiny
    (cohort, offset) rollup — the standard product-analytics rollup
    expressed Spark-first."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "value_histogram",
    oracle="""
    SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bin_sum
    FROM events GROUP BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (bin width 25) with
    exact-decimal per-bin sums — one aggregation shuffle on small
    (type, bin) keys; the binning floor-division is engine-identical."""
    from .registry import dsum

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / 25.0).cast("long").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "bin_sum"))
    )


@register(
    "rolling_weekly_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    contrib AS (
        SELECT user_id, day + CAST(o AS INT) AS wau_day
        FROM ud, unnest(range(0, 7)) AS t(o)
    )
    SELECT wau_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib
    WHERE wau_day <= (SELECT MAX(CAST(ts AS DATE)) FROM events)
    GROUP BY 1
    """,
)
def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (WAU). A rolling
    DISTINCT is not a windowed sum of daily counts — instead each (user,
    active-day) pair is exploded to the 7 report days it supports and the
    distinct count happens per report day: one explode (7× small rows,
    never the raw events) + one aggregation. This is the scale-correct
    shape; a RANGE window over distinct users would re-buffer the users
    per day."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    max_day = ev.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("o")).alias("wau_day"))
    return (
        contrib.crossJoin(F.broadcast(max_day))
        .filter(F.col("wau_day") <= F.col("max_day"))
        .groupBy("wau_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@register(
    "event_type_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               -- ts NULLS FIRST pinned on both sides: Spark defaults
               -- nulls-first asc, DuckDB nulls-last — a NULL-ts event
               -- produced different lag pairings per engine
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-sequence transition counts (the Markov-chain
    matrix of user behavior): one user-keyed window for lag, then a tiny
    (prev, next) rollup. Deterministic total order via (ts, event_id),
    NULL ts pinned FIRST on both sides (the window_rank_lag_running class)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "new_vs_returning_users",
    oracle="""
    WITH fd AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day FROM events GROUP BY 1
    ),
    daily AS (
        SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day, fd.first_day
        FROM events e JOIN fd USING (user_id)
    )
    SELECT day,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
    FROM daily GROUP BY day
    """,
)
def new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new vs returning user split: first-activity day per user
    (one user-keyed aggregation), distinct (user, day) activity, then a
    per-day rollup — the standard growth-accounting decomposition."""
    ev = load_table(spark, sf_dir, "events")
    fd = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("first_day"))
    daily = (
        ev.join(fd, "user_id")
        .select("user_id", F.col("ts").cast("date").alias("day"), "first_day")
        .distinct()
    )
    return daily.groupBy("day").agg(
        F.sum((F.col("day") == F.col("first_day")).cast("long")).alias("new_users"),
        F.sum((F.col("day") > F.col("first_day")).cast("long")).alias("returning_users"),
    )


@register(
    "zipf_vocab_fit",
    oracle="""
    WITH tf AS (
        SELECT term, COUNT(*) AS freq FROM (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents
        ) GROUP BY 1
    ),
    ranked AS (
        SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rnk
        FROM tf
    ),
    pts AS (
        SELECT CAST(round(ln(rnk), 9) AS DECIMAL(18,9)) AS x,
               CAST(round(ln(freq), 9) AS DECIMAL(18,9)) AS y
        FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           round((COUNT(*) * CAST(SUM(x * y) AS DOUBLE)
                  - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                 / (COUNT(*) * CAST(SUM(x * x) AS DOUBLE)
                    - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 6) AS zipf_slope
    FROM pts
    """,
)
def zipf_vocab_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: least-squares slope of
    ln(freq) vs ln(rank) — the corpus-health diagnostic (natural text
    fits slope ≈ −1; synthetic/templated corpora deviate).

    Determinism: each ln is leaf-rounded to 9 dp (the engine-parity
    discipline) and the regression moments Σx, Σy, Σxy, Σx² accumulate in
    DECIMAL — exact and order-independent — before one double division.
    The final round(,6) here is LEAF-ABSORPTION, not a rule-14 tie bomb
    (measured at the r11 swap: stripping it FAILS parity at sf0.1):
    DuckDB's DECIMAL(38,18)→DOUBLE cast double-rounds (int128→double,
    then /1e18) once the unscaled sum exceeds 2^53, while Spark's
    BigDecimal cast is correctly rounded — the pre-round doubles differ
    by an ulp, exactly the skew class round() exists to absorb. A 6-dp
    tie is measure-zero because the operand noise keeps the true value
    off-grid (unlike an exact-decimal ratio).
    The rank is operators/rank.histogram_rank — exact two-phase ranking
    whose only unpartitioned window runs over the FREQUENCY HISTOGRAM
    (~O(√tokens) rows under Zipf), never the vocabulary itself: at 10⁸+
    heap's-law terms no single task sees the term table."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.rank import histogram_rank

    tf = (
        docs.select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pts = histogram_rank(tf, "freq", "term", ascending=False, out_col="rnk").select(
        F.round(F.log("rnk"), 9).cast("decimal(18,9)").alias("x"),
        F.round(F.log("freq"), 9).cast("decimal(18,9)").alias("y"),
    )
    n = F.count(F.lit(1))
    sx = F.sum(F.col("x")).cast("double")
    sy = F.sum(F.col("y")).cast("double")
    sxy = F.sum(F.col("x") * F.col("y")).cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    return pts.agg(
        n.alias("n_terms"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope"),
    )


@register(
    "winsorize_event_values",
    oracle="""
    WITH q AS (
        SELECT event_type, quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY 1
    )
    SELECT e.event_type, q.p01, q.p99,
           CAST(SUM(CASE WHEN e.value < q.p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN e.value > q.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN q USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clamping report per event type: exact p01/p99 bounds
    (linear-interpolated percentile — engine-identical, verified) and how
    many values each bound would clamp. Exact percentile implies a
    per-group sort: fine for bounded group counts; at 100 TB swap in
    approx_percentile and document the error budget (the approx_stats
    pattern in analytics2)."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "p01", "p99")
        .agg(
            # when/otherwise(0), not a bare boolean cast: a NULL value is
            # never clamped, so it must count 0 — the bare cast yields
            # NULL and an all-NULL group would sum to NULL instead of 0
            # (the oracle's CASE ... ELSE 0 already says 0)
            F.sum(
                F.when(F.col("value") < F.col("p01"), F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_low"),
            F.sum(
                F.when(F.col("value") > F.col("p99"), F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_high"),
            F.count(F.lit(1)).alias("n"),
        )
    )
