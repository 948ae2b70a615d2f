"""Post-window round-4 additions, part 51 (round-5 rotation material):
fair resource allocation and coverage-maximizing selection.

- ``waterfill_allocation`` solves the classic water-filling problem:
  cap the total token budget at half the corpus and allocate each
  source min(demand, theta) where the water level theta equalizes the
  capped sources — the max-min-fair quota rule (bandwidth sharing,
  per-source sampling caps). The level has a closed form on the SORTED
  demand table, so the whole solve is one bounded cumulative window
  plus a feasibility filter — no iteration at all.
- ``greedy_set_cover`` picks the five documents that jointly cover the
  most of the top-bigram vocabulary (greedy max-coverage, the classic
  (1 - 1/e) algorithm) — the eval-set/probe-set selection primitive.
  Data-dependent sequential choices, replayed by five unrolled CTE
  rounds with min-doc-id tie-breaks (the MMR/greedy family recipe).

Registered last in queries/__init__.py (after llm57); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "waterfill_allocation",
    oracle=f"""
    WITH d AS (
        -- coalesce: a source whose docs are all NULL text demands 0
        -- tokens; a NULL demand would sort first in Spark's window and
        -- last in DuckDB's, shifting every position
        SELECT source,
               CAST(coalesce(SUM(len({_TOK_SQL})), 0) AS BIGINT) AS demand
        FROM documents GROUP BY 1),
    tot AS (
        SELECT CAST(SUM(demand) AS BIGINT) AS total,
               CAST(SUM(demand) // 2 AS BIGINT) AS cap,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM d),
    srt AS (
        SELECT source, demand,
               row_number() OVER (ORDER BY demand, source) AS i,
               CAST(coalesce(SUM(demand) OVER (ORDER BY demand, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS cum_prev
        FROM d),
    cand AS (
        SELECT i,
               round(CAST(tot.cap - cum_prev AS DOUBLE)
                     / CAST(tot.n - i + 1 AS DOUBLE), 6) AS theta
        FROM srt CROSS JOIN tot
        WHERE round(CAST(tot.cap - cum_prev AS DOUBLE)
                    / CAST(tot.n - i + 1 AS DOUBLE), 6) <= CAST(demand AS DOUBLE)),
    lvl AS (SELECT theta FROM cand ORDER BY i LIMIT 1)
    SELECT srt.source, srt.demand,
           round(least(CAST(srt.demand AS DOUBLE), lvl.theta), 6) AS alloc,
           lvl.theta AS level,
           CAST(CAST(srt.demand AS DOUBLE) > lvl.theta AS BOOLEAN) AS capped
    FROM srt CROSS JOIN lvl
    """,
)
def waterfill_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min-fair token allocation: the corpus-wide budget (half the
    total tokens) is shared so that every source gets min(demand, theta)
    with one water level theta — small sources keep their full demand,
    large sources are capped equally. theta has a closed form per sorted
    position ((cap - cum_below) / remaining); the first feasible
    position (theta <= that demand) is the level.

    Integer demands and cumulative sums are exact; theta is one mirrored
    double division rounded at 6 dp.

    Scale: one token-count aggregation; the solve runs on the bounded
    per-source table (a window over |sources| rows)."""
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select(
            "source",
            F.size(
                F.filter(F.split("text", " "), lambda x: x != F.lit(""))
            ).alias("nt"),
        )
        .groupBy("source")
        # coalesce mirrors the oracle: all-NULL-text sources demand 0
        .agg(F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("demand"))
    )
    d = d.persist()
    tot = d.agg(
        F.sum("demand").cast("long").alias("total"),
        (F.sum("demand") / 2).cast("long").alias("cap"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    wsort = Window.orderBy("demand", "source")
    srt = d.select(
        "source",
        "demand",
        F.row_number().over(wsort).alias("i"),
        F.coalesce(
            F.sum("demand").over(
                wsort.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cum_prev"),
    )
    theta = F.round(
        (F.col("cap") - F.col("cum_prev")).cast("double")
        / (F.col("n") - F.col("i") + 1).cast("double"),
        6,
    )
    cand = (
        srt.crossJoin(F.broadcast(tot))
        .select("i", theta.alias("theta"), F.col("demand").cast("double").alias("dd"))
        .filter(F.col("theta") <= F.col("dd"))
    )
    lvl = cand.orderBy("i").limit(1).select("theta")
    return srt.crossJoin(F.broadcast(lvl)).select(
        "source",
        "demand",
        F.round(F.least(F.col("demand").cast("double"), F.col("theta")), 6).alias(
            "alloc"
        ),
        F.col("theta").alias("level"),
        (F.col("demand").cast("double") > F.col("theta")).alias("capped"),
    )


_SC_VOCAB = 50
_SC_ROUNDS = 5


def _sc_round_sql(prev_cov: str, prev_sel: str, cov: str, sel: str, rnd: int) -> str:
    """One greedy round: the doc covering the most NOT-yet-covered
    universe terms (ties -> min doc_id) joins the selection; its terms
    join the covered set."""
    return f"""{sel}_pick AS MATERIALIZED (
        SELECT doc_id, gain FROM (
            SELECT st.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
            FROM st
            JOIN uni ON uni.term = st.term
            LEFT JOIN {prev_cov} pc ON pc.term = st.term
            LEFT JOIN {prev_sel} ps ON ps.doc_id = st.doc_id
            WHERE pc.term IS NULL AND ps.doc_id IS NULL
            GROUP BY 1)
        ORDER BY gain DESC, doc_id ASC LIMIT 1),
    {sel} AS MATERIALIZED (
        SELECT doc_id, rnd FROM {prev_sel}
        UNION ALL SELECT doc_id, {rnd} AS rnd FROM {sel}_pick),
    {cov} AS MATERIALIZED (
        SELECT term FROM {prev_cov}
        UNION
        SELECT st.term FROM st
        JOIN {sel}_pick p ON p.doc_id = st.doc_id
        JOIN uni ON uni.term = st.term)"""


_SC_CHAIN = ",\n    ".join(
    _sc_round_sql(f"c{r - 1}", f"s{r - 1}", f"c{r}", f"s{r}", r)
    for r in range(1, _SC_ROUNDS + 1)
)


@register(
    "greedy_set_cover",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
    st AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i + 1])) AS term
        FROM toks WHERE len(t) >= 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_t FROM st GROUP BY 1),
    uni AS MATERIALIZED (
        SELECT term FROM df ORDER BY n_t DESC, term LIMIT {_SC_VOCAB}),
    c0 AS MATERIALIZED (SELECT CAST(NULL AS VARCHAR) AS term WHERE 1 = 0),
    s0 AS MATERIALIZED (
        SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS rnd
        WHERE 1 = 0),
    {_SC_CHAIN}
    SELECT s.rnd AS pick_round, s.doc_id,
           CAST((SELECT COUNT(*) FROM c{_SC_ROUNDS}) AS BIGINT) AS final_covered
    FROM s{_SC_ROUNDS} s
    """,
)
def greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage selection: {_SC_ROUNDS} documents chosen one
    at a time, each maximizing the number of top-{_SC_VOCAB} vocabulary
    bigrams not yet covered (ties -> min doc_id) — the (1 - 1/e)
    approximation every probe-set / eval-set curation pipeline uses to
    span a corpus with few examples.

    The greedy state (covered terms, selected docs) is bounded by the
    universe size, so each round is one inverted-index gain count plus a
    TakeOrdered(1); the oracle replays all rounds as unrolled CTEs.

    Scale: per-round cost is one (term-filtered) aggregation over the
    posting list — the universe filter prunes before any shuffle; rounds
    are few and fixed."""
    from ..llmops.dedup import exploded_shingles

    docs = load_table(spark, sf_dir, "documents")
    st = exploded_shingles(docs, n=2, out="term").distinct().persist()
    df = st.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    uni = df.orderBy(F.col("n_t").desc(), "term").limit(_SC_VOCAB).select("term")
    stu = st.join(F.broadcast(uni), "term").persist()  # posting list on the universe
    spark_sess = spark
    covered = spark_sess.createDataFrame([], "term string")
    selected: list[tuple[int, int]] = []
    for rnd in range(1, _SC_ROUNDS + 1):
        gains = (
            stu.join(F.broadcast(covered), "term", "left_anti")
            .filter(
                ~F.col("doc_id").isin([doc for doc, _ in selected])
                if selected
                else F.lit(True)
            )
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
        )
        pick = gains.orderBy(F.col("gain").desc(), F.col("doc_id").asc()).limit(1)
        rows = pick.collect()  # bounded control-plane state (one id per round)
        if not rows:  # universe exhausted: later rounds pick nothing
            break
        selected.append((int(rows[0].doc_id), rnd))
        covered = (
            covered.unionByName(
                stu.filter(F.col("doc_id") == int(rows[0].doc_id)).select("term")
            )
            .distinct()
        )
    n_final = covered.count()
    return spark_sess.createDataFrame(
        [(rnd, doc) for doc, rnd in selected], "pick_round int, doc_id long"
    ).select("pick_round", "doc_id", F.lit(n_final).cast("long").alias("final_covered"))
