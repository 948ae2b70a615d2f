"""Post-window round-4 additions, part 3 (round-5 rotation material):
co-occurrence mining (PMI), graph triangle counting, burst detection on
exact integer counts, and golden-record survivorship merge.

Registered last in queries/__init__.py (after llm9); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

# llm (imported well before this module in queries/__init__.py, so pulling
# a CONSTANT from it cannot fire registrations out of order) holds the
# shared near-dup component-closure oracle fragment
from .llm import _COMPONENTS_CTES, _neardup_edges

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


# ---------------------------------------------------------------------------
# PMI co-occurrence pairs
# ---------------------------------------------------------------------------

_PMI_VOCAB = 120  # top-df terms considered
_PMI_MIN_AB = 5  # min co-occurrence support


@register(
    "token_pmi_pairs",
    oracle=f"""
    WITH st AS MATERIALIZED (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents)),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM st),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_t FROM st GROUP BY 1),
    vocab AS (SELECT term, n_t FROM df ORDER BY n_t DESC, term LIMIT {_PMI_VOCAB}),
    stv AS MATERIALIZED (
        SELECT st.doc_id, st.term FROM st JOIN vocab USING (term)),
    co AS (
        SELECT a.term AS term_a, b.term AS term_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM stv a JOIN stv b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2 HAVING COUNT(*) >= {_PMI_MIN_AB})
    SELECT co.term_a, co.term_b, co.n_ab,
           round(ln(CAST(co.n_ab * nd.n AS DOUBLE)
                    / CAST(va.n_t * vb.n_t AS DOUBLE)), 9) AS pmi
    FROM co
    JOIN vocab va ON va.term = co.term_a
    JOIN vocab vb ON vb.term = co.term_b
    CROSS JOIN nd
    """,
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level term
    co-occurrence — the collocation/phrase-mining signal (PMI =
    ln(P(a,b) / P(a)P(b))) restricted to the top-{_PMI_VOCAB}-df
    vocabulary with support >= {_PMI_MIN_AB} docs.

    Determinism: counts are exact integers; the PMI argument is one
    exact-integer product ratio in a single double division, and ln is
    leaf-rounded to 9 dp (NOTES recipe) — bit-identical across engines.

    Scale: the vocabulary is a bounded TakeOrdered top-k, broadcast into
    a semi-join that prunes the posting list BEFORE the per-doc pair
    self-join, so pair volume is sum_doc |vocab-terms-in-doc|^2 — never
    vocabulary^2 x corpus and never unbounded per-doc token fan-out. The
    doc-keyed self-join shuffles on uniform doc ids (no skew)."""
    from ..llmops.dedup import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .distinct()
        .persist()  # three consumers: N, df, and the pruned posting list
    )
    nd = st.agg(F.countDistinct("doc_id").alias("n"))
    df = st.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    vocab = df.orderBy(F.col("n_t").desc(), F.col("term").asc()).limit(_PMI_VOCAB)
    stv = st.join(F.broadcast(vocab.select("term")), "term")
    co = (
        stv.select("doc_id", F.col("term").alias("term_a"))
        .join(stv.select("doc_id", F.col("term").alias("term_b")), "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_AB)
    )
    va = vocab.select(F.col("term").alias("term_a"), F.col("n_t").alias("na"))
    vb = vocab.select(F.col("term").alias("term_b"), F.col("n_t").alias("nb"))
    return (
        co.join(F.broadcast(va), "term_a")
        .join(F.broadcast(vb), "term_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("n")).cast("double")
                    / (F.col("na") * F.col("nb")).cast("double")
                ),
                9,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting on the co-supply graph
# ---------------------------------------------------------------------------

_TRI_HOT_PART = 20  # parts supplied by more than this many suppliers are dropped


def _cosupply_pairs(li: DataFrame, cap: int) -> DataFrame:
    """Canonical (sa < sb) co-supply supplier pairs, hot parts (> ``cap``
    suppliers) dropped — the shared edge build of supplier_triangles and
    label_propagation_communities.

    ONE part-keyed aggregation replaces the former distinct + count
    filter + part-keyed self-join (guide §2.3/§2.4): collect_set dedups
    (part, supplier) in the same pass the old .distinct() needed its own
    exchange for, the 2..cap size gate is a map-side filter on the set,
    and the pair expansion happens MAP-SIDE over the sorted per-part
    supplier set (≤ cap(cap-1)/2 pairs per part by construction), feeding
    the cross-part distinct directly. sort_array + (i < j) index pairs ≡
    the old sa < sb filter on distinct suppliers."""
    per_part = (
        li.select("l_partkey", "l_suppkey")
        .groupBy("l_partkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .filter((F.size("ss") >= 2) & (F.size("ss") <= cap))
    )
    pair_structs = F.flatten(
        F.transform(
            "ss",
            lambda x, i: F.transform(
                F.slice("ss", i + 2, F.size("ss")),
                lambda y: F.struct(x.alias("sa"), y.alias("sb")),
            ),
        )
    )
    return (
        per_part.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb"))
        .distinct()
    )


@register(
    "supplier_triangles",
    oracle=f"""
    WITH ps AS MATERIALIZED (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok_parts AS (
        SELECT l_partkey FROM ps GROUP BY 1
        HAVING COUNT(*) BETWEEN 2 AND {_TRI_HOT_PART}),
    edges AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS sa, b.l_suppkey AS sb
        FROM ps a JOIN ok_parts USING (l_partkey)
        JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
    tri AS MATERIALIZED (
        SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
        FROM edges e1
        JOIN edges e2 ON e2.sa = e1.sb
        JOIN edges e3 ON e3.sa = e1.sa AND e3.sb = e2.sb)
    SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS s_suppkey FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    GROUP BY 1
    """,
)
def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (per-node participation) on the supplier
    co-supply graph: suppliers are adjacent when they supply a common
    part; a triangle is three mutually-adjacent suppliers — the local
    clustering signal community detection and fraud-ring analysis start
    from.

    The classic a<b<c ordered-edge algorithm: every edge is stored once
    in canonical order, so each triangle is enumerated exactly once as
    (a,b)+(b,c)+(a,c) — three equi-joins, no direction dedup. Hot parts
    (> {_TRI_HOT_PART} suppliers) are dropped before the pair expansion
    (the standard bounded-fanout cap; at 100 TB the cap bounds edge
    volume at parts x cap^2). The triangle table is persisted once for
    the three per-corner projections."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        _cosupply_pairs(li, _TRI_HOT_PART)
        .persist()  # e1/e2/e3 are three consumers of the same edge set
    )
    e1 = edges.select(F.col("sa").alias("a"), F.col("sb").alias("b"))
    e2 = edges.select(F.col("sa").alias("b"), F.col("sb").alias("c"))
    e3 = edges.select(F.col("sa").alias("a"), F.col("sb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).persist()
    corners = (
        tri.select(F.col("a").alias("s_suppkey"))
        .unionAll(tri.select(F.col("b").alias("s_suppkey")))
        .unionAll(tri.select(F.col("c").alias("s_suppkey")))
    )
    return corners.groupBy("s_suppkey").agg(F.count(F.lit(1)).alias("n_triangles"))


# ---------------------------------------------------------------------------
# Burst detection over the zero-filled daily grid — exact integer test
# ---------------------------------------------------------------------------

_BURST_WIN = 7  # trailing days
_BURST_MIN = 10  # absolute floor for a burst day


@register(
    "burst_detection_daily",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    span AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
    grid AS (
        SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM span),
    filled AS (
        SELECT g.event_type, g.day, COALESCE(d.n, 0) AS n
        FROM grid g LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day),
    trail AS (
        SELECT event_type, day, n,
               CAST(SUM(n) OVER w AS BIGINT) AS s,
               CAST(COUNT(*) OVER w AS BIGINT) AS cnt
        FROM filled
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {_BURST_WIN} PRECEDING AND 1 PRECEDING))
    SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
           CAST(s AS DOUBLE) / {_BURST_WIN}.0 AS trailing_avg,
           (n * {_BURST_WIN} > 2 * s AND n >= {_BURST_MIN}) AS is_burst
    FROM trail WHERE cnt = {_BURST_WIN}
    """,
)
def burst_detection_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: a day is a burst when its event count exceeds 2x
    the trailing {_BURST_WIN}-day average (and an absolute floor of
    {_BURST_MIN}) — run over the ZERO-FILLED daily grid (gap days count
    as 0 in the baseline; a sparse series would inflate the trailing
    average and mask bursts after quiet spells).

    The burst test is EXACT INTEGER arithmetic: n * {_BURST_WIN} > 2 * s
    avoids the float division entirely — no epsilon, no engine drift;
    the reported trailing_avg is a single exact-operand division for
    display. Warm-up days (incomplete trailing window) are dropped by the
    window row count, not a date heuristic.

    Scale: corpus-scale work is the one (type, day) rollup; the grid and
    windows run on |types| x |days| control-plane rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "event_type", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    filled = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_BURST_WIN, -1)
    )
    trail = filled.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).cast("long").alias("s"),
        F.count(F.lit(1)).over(w).cast("long").alias("cnt"),
    )
    return trail.filter(F.col("cnt") == _BURST_WIN).select(
        "event_type",
        "day",
        F.col("n").alias("n_events"),
        (F.col("s").cast("double") / float(_BURST_WIN)).alias("trailing_avg"),
        ((F.col("n") * _BURST_WIN > 2 * F.col("s")) & (F.col("n") >= _BURST_MIN)).alias(
            "is_burst"
        ),
    )


# ---------------------------------------------------------------------------
# Golden-record survivorship merge over near-dup components
# ---------------------------------------------------------------------------


@register(
    "golden_record_merge",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTES},
    j AS MATERIALIZED (
        SELECT c.component_id, d.doc_id, d.lang, d.source, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
    base AS (
        SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_members,
               MIN(doc_id) AS keep_doc_id, MIN(source) AS source_first
        FROM j GROUP BY 1),
    rep AS (
        SELECT component_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars FROM (
            SELECT *, row_number() OVER (PARTITION BY component_id
                                         ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM j) WHERE rn = 1),
    lm AS (
        SELECT component_id, lang AS lang_majority FROM (
            SELECT component_id, lang,
                   -- lang NULLS FIRST pinned on both sides: Spark asc
                   -- defaults nulls-first, DuckDB nulls-last — a NULL-lang
                   -- member won count ties on one engine only
                   row_number() OVER (PARTITION BY component_id
                                      ORDER BY COUNT(*) DESC, lang ASC NULLS FIRST) AS rn
            FROM j GROUP BY 1, 2) WHERE rn = 1)
    SELECT b.component_id, b.keep_doc_id, r.rep_doc_id, r.rep_n_chars,
           l.lang_majority, b.source_first, b.n_members
    FROM base b JOIN rep r USING (component_id) JOIN lm l USING (component_id)
    """,
)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction (entity-resolution survivorship): for
    each near-dup component, merge member attributes by rule — stable id
    = min doc_id, representative text = longest (id tiebreak), language
    = majority vote (lexicographic tiebreak), source = lexicographic
    first. This is the step master-data pipelines run AFTER duplicate
    clustering (neardup_components) and the generalization of
    dedup_keep_best's single keep-rule to per-attribute survivorship.

    Scale: component ids are min-doc-ids (uniform — no skew key); all
    three rule aggregations are component-keyed shuffles over the member
    table, reusing the persisted member join. Component closure itself is
    the O(log n)-round min-label propagation in operators/graph.py."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(_neardup_edges(spark, sf_dir), "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component_id"
    )
    j = comp.join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id").persist()
    # base + rep fused into ONE component-keyed aggregation: the former
    # row_number window (n_chars desc, doc_id asc → rn=1) is the argmax
    # max(struct(n_chars, -doc_id)) — identical winner incl. NULL n_chars
    # (struct comparison orders a NULL field lowest, exactly the window's
    # desc-NULLS-LAST) — so one hash-agg pass replaces an agg + a full
    # sort+window pass over the member table (guide §2.4: two operations
    # keyed the same way share one exchange).
    base = j.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("keep_doc_id"),
        F.min("source").alias("source_first"),
        F.max(
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_negid"))
        ).alias("_rep"),
    )
    # majority language: the (cnt desc, lang asc NULLS FIRST) row_number
    # window is the argmin min(struct(-cnt, lang)) — min orders a NULL
    # lang first, matching asc_nulls_first; same two shuffles, hash-agg
    # instead of sort+window.
    lm = (
        j.groupBy("component_id", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("component_id")
        .agg(F.min(F.struct((-F.col("cnt")).alias("_negcnt"), F.col("lang"))).alias("_m"))
        .select("component_id", F.col("_m.lang").alias("lang_majority"))
    )
    return (
        base.withColumn("rep_doc_id", -F.col("_rep._negid"))
        .withColumn("rep_n_chars", F.col("_rep.n_chars"))
        .join(lm, "component_id")
        .select(
            "component_id",
            "keep_doc_id",
            "rep_doc_id",
            "rep_n_chars",
            "lang_majority",
            "source_first",
            "n_members",
        )
    )
