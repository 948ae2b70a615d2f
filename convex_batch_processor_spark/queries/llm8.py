"""Post-window round-4 additions (round-5 rotation material): warehouse /
pipeline operators a production training-data stack needs around the core
engine — history tracking, time-series gap fill, document fingerprinting,
data-quality gating, deterministic weighted sampling, robust outliers, and
a bounded graph centrality.

Registered last in queries/__init__.py — the round-4 driver window is
already a full 50/50 oracle-backed allocation; these front-load in round 5.

Parity rules honored throughout (see registry.py + NOTES.md): decimal
accumulation for float sums, md5 for engine-portable hashing, ln leaf
rounded to 9 dp, integer-cents medians (interpolation stays exact in
binary), CAST(... AS BIGINT) around DuckDB integer sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


# ---------------------------------------------------------------------------
# SCD Type-2 history build
# ---------------------------------------------------------------------------


@register(
    "scd2_user_state",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        -- ts NULLS FIRST pinned on both sides (the sessionize_events
        -- class): Spark defaults nulls-first asc, DuckDB nulls-last
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    ),
    runs AS (
        SELECT user_id, event_type, ts,
               CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        FROM seq
    ),
    v AS (
        SELECT user_id, version, MIN(event_type) AS state, MIN(ts) AS valid_from
        FROM runs GROUP BY 1, 2
    )
    SELECT user_id, version, state, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           date_diff('microsecond', valid_from, lead(valid_from) OVER w2) AS duration_us,
           lead(valid_from) OVER w2 IS NULL AS is_current
    FROM v
    WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: collapse each
    user's event stream into validity intervals of their latest state
    (consecutive same-type events merge into one version), with
    ``valid_from``/``valid_to``/``is_current`` — the standard dimension
    snapshot the reference's patch-state model (lib.ts:527-532) implies
    but never materializes as history.

    Gaps-and-islands via one user-keyed window (change flag -> running
    sum -> run id), then a per-run aggregate and a second bounded window
    over RUNS (not events) for the interval close. Scale: both shuffles
    key on user_id (uniform), window state is per-user O(1); no global
    window anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc()
    )
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("chg"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_first(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = seq.select(
        "user_id", "event_type", "ts", F.sum("chg").over(wrun).cast("long").alias("version")
    )
    v = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"), F.min("ts").alias("valid_from")
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("valid_from").over(w2)
    return v.select(
        "user_id",
        "version",
        "state",
        "valid_from",
        nxt.alias("valid_to"),
        (F.unix_micros(nxt) - F.unix_micros(F.col("valid_from"))).alias("duration_us"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill / resample
# ---------------------------------------------------------------------------


@register(
    "gapfill_daily_counts",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ),
    grid AS (
        SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
    )
    SELECT g.event_type, g.day,
           COALESCE(d.n, 0) AS n_events,
           d.n IS NULL AS is_gap
    FROM grid g LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day
    """,
)
def gapfill_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with zero-fill: per event type, the complete
    daily grid from first to last activity, with missing days emitted as
    explicit zero rows (``is_gap``) — what downstream trend/anomaly jobs
    need instead of a sparse series.

    The grid is generated from the per-type [min, max] SPAN (one tiny agg
    row per type), then sequence()-exploded and left-joined back to the
    sparse counts. Scale: the grid is |types| x |days| (control-plane
    sized, independent of event volume); the only corpus-scale work is
    the first (type, day) rollup. The span side is broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "event_type",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing (MOSS) document fingerprints -> shared-fingerprint pairs
# ---------------------------------------------------------------------------

_WIN_K = 4  # tokens per k-gram
_WIN_W = 4  # winnowing window (k-grams per window)
_WIN_HOT = 50  # fingerprints shared by more than this many docs are stop-fps


@register(
    "winnowing_fingerprint_pairs",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, {_TOK_SQL} AS t FROM documents
    ),
    hs AS MATERIALIZED (
        SELECT doc_id,
               list_transform(range(1, len(t) - {_WIN_K} + 2),
                              i -> substr(md5(array_to_string(t[i:i+{_WIN_K - 1}], ' ')), 1, 8)) AS h
        FROM toks WHERE len(t) >= {_WIN_K}
    ),
    fps AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(h) - {_WIN_W} + 2),
                                            j -> list_min(h[j:j+{_WIN_W - 1}]))) AS f
        FROM hs WHERE len(h) >= {_WIN_W}
    ),
    e AS MATERIALIZED (SELECT doc_id, unnest(f) AS fp FROM fps),
    inv AS (
        SELECT fp FROM e GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND {_WIN_HOT}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM e a JOIN inv USING (fp) JOIN e b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm: hash all
    k-grams, keep the minimum hash of each sliding window of w hashes)
    joined into candidate plagiarism/duplication pairs that share >= 2
    selected fingerprints.

    Winnowing guarantees any shared substring of length >= k + w - 1
    tokens yields at least one shared fingerprint, with a density of
    ~2/(w+1) — a principled, position-robust alternative to the MinHash
    family for local (span-level) overlap.

    Spark shape: hashes are one map-side array expr per doc (the k-gram
    hash array is MATERIALIZED first — transform lambdas re-evaluate
    inline sub-expressions per element); the window-min selection stays
    INSIDE the Generate (explode of an expression, not of a projected
    array — see dedup.exploded_shingles for why). Pairing is an inverted
    index on fingerprint with hot fingerprints (> {_WIN_HOT} docs)
    dropped BEFORE the self-join, so candidate volume is
    sum_fp min(|docs|, {_WIN_HOT})^2 — never doc x doc. All joins key on
    the fingerprint (uniform md5 space: no skew).
    """
    from ..llmops.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    # persisted: e feeds inv, ea, AND eb with no common exchange to reuse —
    # unpersisted, the tokenize+md5-k-gram+winnow pipeline re-runs over the
    # full corpus three times (the dup_span_coverage multi-consumer class).
    # Deliberate session-lifetime cache: the plan is returned lazily, so the
    # unpersist point is the caller's last action; LRU-evictable (ADVICE r8)
    e = winnow_fingerprints(docs, "text", "doc_id", k=_WIN_K, w=_WIN_W).persist()
    inv = e.groupBy("fp").agg(F.count(F.lit(1)).alias("nd")).filter(
        (F.col("nd") >= 2) & (F.col("nd") <= _WIN_HOT)
    ).select("fp")
    ea = e.select(F.col("doc_id").alias("doc_a"), "fp").join(inv, "fp")
    eb = e.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        ea.join(eb, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# ---------------------------------------------------------------------------
# Data-quality constraint report (Deequ-style)
# ---------------------------------------------------------------------------


@register(
    "dq_constraint_report",
    oracle="""
    SELECT 'completeness' AS constraint_name, 'events.value' AS entity,
           1.0 - CAST(COUNT(*) FILTER (WHERE value IS NULL) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS metric,
           COUNT(*) FILTER (WHERE value IS NULL) = 0 AS passed
    FROM events
    UNION ALL
    SELECT 'uniqueness', 'orders.o_orderkey',
           CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
           COUNT(DISTINCT o_orderkey) = COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'range_0_1', 'lineitem.l_discount',
           CAST(COUNT(*) FILTER (WHERE l_discount >= 0 AND l_discount <= 1) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE),
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) = 0
    FROM lineitem
    UNION ALL
    SELECT 'in_set', 'events.event_type',
           CAST(COUNT(*) FILTER (WHERE event_type IN
                ('view','click','purchase','signup','error')) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE),
           COUNT(*) FILTER (WHERE event_type NOT IN
                ('view','click','purchase','signup','error')) = 0
    FROM events
    UNION ALL
    SELECT 'min_bound', 'documents.n_chars',
           CAST(MIN(n_chars) AS DOUBLE),
           MIN(n_chars) >= 1
    FROM documents
    UNION ALL
    SELECT 'referential', 'orders.o_custkey->customer',
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NOT NULL) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE),
           COUNT(*) FILTER (WHERE c.c_custkey IS NULL) = 0
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality constraint suite: completeness,
    uniqueness, value-range, set-membership, min-bound, and referential
    integrity checks, each emitted as one (constraint, entity, metric,
    passed) row — the validation gate a pipeline runs before promoting a
    dataset version (the reference's insert path assumes valid rows;
    lib.ts:386-401 validates shape only).

    Every check is a distributive aggregate (count/filter/min) — one scan
    per source table, no row-level materialization of violations. The
    referential check is a left join keyed on the FK (broadcast-able
    dimension). Metrics are exact-integer ratios so the report is
    bit-reproducible across engines and retries.
    """
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")
    cust = load_table(spark, sf_dir, "customer")
    known = ["view", "click", "purchase", "signup", "error"]

    def row(name, entity, metric, passed):
        return F.lit(name).alias("constraint_name"), F.lit(entity).alias(
            "entity"
        ), metric.alias("metric"), passed.alias("passed")

    n = F.count(F.lit(1))
    nulls = F.count_if(F.col("value").isNull())
    completeness = ev.agg(
        *row(
            "completeness",
            "events.value",
            F.lit(1.0) - nulls.cast("double") / n.cast("double"),
            nulls == 0,
        )
    )
    nd = F.countDistinct("o_orderkey")
    uniqueness = orders.agg(
        *row("uniqueness", "orders.o_orderkey", nd.cast("double") / n.cast("double"), nd == n)
    )
    inr = F.count_if((F.col("l_discount") >= 0) & (F.col("l_discount") <= 1))
    outr = F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
    rng = li.agg(
        *row("range_0_1", "lineitem.l_discount", inr.cast("double") / n.cast("double"), outr == 0)
    )
    ins = F.count_if(F.col("event_type").isin(known))
    outs = F.count_if(~F.col("event_type").isin(known))
    inset = ev.agg(
        *row("in_set", "events.event_type", ins.cast("double") / n.cast("double"), outs == 0)
    )
    mn = F.min("n_chars")
    minb = docs.agg(
        *row("min_bound", "documents.n_chars", mn.cast("double"), mn >= 1)
    )
    j = orders.join(
        F.broadcast(cust.select("c_custkey")), orders.o_custkey == F.col("c_custkey"), "left"
    )
    matched = F.count_if(F.col("c_custkey").isNotNull())
    orphans = F.count_if(F.col("c_custkey").isNull())
    ref = j.agg(
        *row(
            "referential",
            "orders.o_custkey->customer",
            matched.cast("double") / n.cast("double"),
            orphans == 0,
        )
    )
    return completeness.unionByName(uniqueness).unionByName(rng).unionByName(
        inset
    ).unionByName(minb).unionByName(ref)


# ---------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_WS_N = 100
_TWO52 = 4503599627370496.0  # 2^52


@register(
    "weighted_sample_orders",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey, o_totalprice,
               round(ln((CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13) AS BIGINT)
                         + 1) / {_TWO52!r}), 9) / o_totalprice AS es_key
        FROM orders WHERE o_totalprice > 0
    )
    SELECT o_orderkey, o_totalprice, es_key
    FROM keyed
    ORDER BY es_key DESC, o_orderkey
    LIMIT {_WS_N}
    """,
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each row gets key ln(u)/w for a per-row uniform u and weight w
    (o_totalprice); the n largest keys are a exact weighted sample — the
    standard way to take a price-weighted training subset in one pass.

    u is NOT a seeded RNG: it is md5(o_orderkey) -> first 13 hex digits
    -> uniform in (0, 2^52]/2^52 — reproducible across engines, retries,
    and partitionings (same portability argument as sampled_by_lang).
    ln is leaf-rounded to 9 dp (engine-identical per NOTES), and the
    key division is a single IEEE op, so the sample is bit-stable.

    Scale: key assignment is map-side; ORDER BY + LIMIT compiles to
    TakeOrdered (per-partition top-n, then a driver merge of n x
    partitions rows — no global sort shuffle). Non-positive weights are
    excluded up front (A-ES is defined for w > 0; a zero weight would be
    a divide-by-zero under ANSI).
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10).cast(
            "long"
        )
        + 1
    ) / F.lit(_TWO52)
    return (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            (F.round(F.log(u), 9) / F.col("o_totalprice")).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), F.col("o_orderkey").asc())
        .limit(_WS_N)
    )


# ---------------------------------------------------------------------------
# Robust outliers: median / MAD in exact integer cents
# ---------------------------------------------------------------------------


@register(
    "mad_outliers",
    oracle="""
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc FROM events
        WHERE value IS NOT NULL
    ),
    med AS (
        SELECT event_type, quantile_cont(vc, 0.5) AS med_c FROM c GROUP BY 1
    ),
    mad AS (
        SELECT c.event_type, quantile_cont(abs(c.vc - m.med_c), 0.5) AS mad_c
        FROM c JOIN med m USING (event_type) GROUP BY 1
    )
    SELECT c.event_type,
           m.med_c / 100.0 AS median_value,
           d.mad_c / 100.0 AS mad_value,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE abs(c.vc - m.med_c) > 3 * d.mad_c) AS BIGINT)
               AS n_outliers
    FROM c JOIN med m USING (event_type) JOIN mad d USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median and MAD (median
    absolute deviation), flagging |v - median| > 3 * MAD — the
    breakdown-resistant alternative to z-scores that percentile
    winsorization (winsorize_event_values) approximates from the tails.

    Exactness trick: medians run on INTEGER CENTS (the 2-dp doubles cast
    through decimal, x100), so interpolated midpoints are exact binary
    halves — identical in any engine, no rounding epsilon near the .xx5
    boundary that raw-double medians sit on. The final /100.0 is a single
    exact-operand division.

    Scale: two passes keyed on event_type (bounded group count). Exact
    percentile holds each group's values on one task — fine for a
    bounded type inventory; for high-cardinality keys the approx path
    (approx_stats) is the scale form. 3x-MAD comparison is exact integer
    arithmetic widened to binary halves (no epsilon).
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    med = c.groupBy("event_type").agg(F.expr("percentile(vc, 0.5)").alias("med_c"))
    j = c.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.expr("percentile(abs(vc - med_c), 0.5)").alias("mad_c")
    )
    return (
        j.join(F.broadcast(mad), "event_type")
        .groupBy(
            "event_type",
            (F.col("med_c") / 100.0).alias("median_value"),
            (F.col("mad_c") / 100.0).alias("mad_value"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.abs(F.col("vc") - F.col("med_c")) > 3 * F.col("mad_c")).alias(
                "n_outliers"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PageRank over the (bounded) event-type transition graph
# ---------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITERS = 3


def _pr_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration as DuckDB CTE text (12-dp decimal
    contribution sums, 9-dp rounded rank — the kmeans/DSIR determinism
    recipe)."""
    return f"""
    {out} AS (
        SELECT nodes.node,
               round(0.15 / nn.n + 0.85 * CAST(COALESCE(s.s, 0) AS DOUBLE), 9) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT wn.dst AS node,
                   SUM(CAST(round(p.pr * wn.w, 12) AS DECIMAL(30,12))) AS s
            FROM wn JOIN {prev} p ON p.node = wn.src GROUP BY 1
        ) s USING (node)
    )"""


@register(
    "pagerank_event_graph",
    oracle=f"""
    WITH ed AS MATERIALIZED (
        SELECT prev_type AS src, event_type AS dst, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT event_type,
                   -- ts NULLS FIRST pinned on both sides: a NULL-ts event
                   -- flipped transition directions on one engine only
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                       AS prev_type
            FROM events
        )
        WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    nodes AS MATERIALIZED (
        SELECT src AS node FROM ed UNION SELECT dst FROM ed
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    wn AS (
        SELECT src, dst,
               CAST(n AS DOUBLE)
                   / CAST(CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS DOUBLE) AS w
        FROM ed
    ),
    p0 AS (SELECT node, round(1.0 / nn.n, 9) AS pr FROM nodes CROSS JOIN nn),
    {_pr_iter_sql("p0", "p1")},
    {_pr_iter_sql("p1", "p2")},
    {_pr_iter_sql("p2", "p3")}
    SELECT node AS event_type, pr AS pagerank FROM p3
    """,
)
def pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {_PR_ITERS} synchronous iterations) over
    the event-type transition graph — "which state do user journeys
    accumulate in" — the canonical iterative-graph operator, run on the
    bounded node set the Markov matrix (event_type_transitions) defines.

    Determinism: per-iteration contributions round to 12 dp and sum in
    exact decimal (order-free), ranks round to 9 dp — every scalar step
    is a single IEEE op on identical operands, so 3 unrolled DuckDB CTEs
    reproduce the Spark fixpoint bit-for-bit (kmeans recipe). Dangling
    nodes are absent by construction here (every observed type has an
    out-transition); with them, add the standard dangling-mass term.

    Scale: edge extraction is the corpus-scale part (one user-keyed
    window + a (src,dst) rollup); iterations run on the EDGE AGGREGATE
    (bounded: |types|^2), broadcast-joined — same control-plane pattern
    as kmeans centroids. For billion-node graphs the iteration joins
    shuffle on dst instead (large-star/small-star in operators/graph.py
    shows the O(log n) variant)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc()
    )
    ed = (
        ev.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        # persisted: nodes/nn/wn and every iteration derive from ed — without
        # the cache boundary each of the 3 PR iterations would re-scan events
        # and re-run the corpus-scale window+rollup (the iteration loop must
        # run on the bounded edge AGGREGATE, |types|^2 rows). Deliberate
        # session-lifetime cache (and a bounded one): the plan is returned
        # lazily, so the unpersist point is the caller's last action (ADVICE r8)
        .persist()
    )
    nodes = ed.select(F.col("src").alias("node")).union(
        ed.select(F.col("dst").alias("node"))
    ).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    wsrc = Window.partitionBy("src")
    wn = ed.select(
        "src",
        "dst",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wsrc).cast("long").cast("double")
        ).alias("w"),
    )
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.round(F.lit(1.0) / F.col("n"), 9).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            wn.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(F.round(F.col("pr") * F.col("w"), 12).cast("decimal(30,12)")).alias(
                    "s"
                )
            )
        )
        pr = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0)).cast("double"),
                    9,
                ).alias("pr"),
            )
        )
    return pr.select(F.col("node").alias("event_type"), F.col("pr").alias("pagerank"))
