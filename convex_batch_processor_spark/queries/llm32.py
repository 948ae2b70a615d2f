"""Post-window round-4 additions, part 25 (round-5 rotation material):
planner-style join-size estimation from sketches, and histogram-exact
decision-tree split finding.

Registered last in queries/__init__.py (after llm31); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import sketches as K
# registration-safe: llm6 registers long before this module (the
# llm10-imports-llm precedent) — only its inert SQL helper is reused
from .llm6 import _cms_bucket_sql
from .registry import register


_JS_DEPTH, _JS_WIDTH = 4, 512


@register(
    "join_size_estimate_cms",
    oracle=f"""
    WITH ca AS MATERIALIZED (
        SELECT CAST(o_orderkey AS VARCHAR) AS term, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1),
    cb AS MATERIALIZED (
        SELECT CAST(l_orderkey AS VARCHAR) AS term, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1),
    sa AS MATERIALIZED (
        SELECT j, {_cms_bucket_sql('term', _JS_WIDTH)} AS bucket,
               CAST(SUM(cnt) AS BIGINT) AS ca
        FROM ca, unnest(range(0, {_JS_DEPTH})) AS d(j) GROUP BY 1, 2),
    sb AS MATERIALIZED (
        SELECT j, {_cms_bucket_sql('term', _JS_WIDTH)} AS bucket,
               CAST(SUM(cnt) AS BIGINT) AS cb
        FROM cb, unnest(range(0, {_JS_DEPTH})) AS d(j) GROUP BY 1, 2),
    per_j AS (
        SELECT sa.j, SUM(CAST(sa.ca AS DECIMAL(19,0)) * CAST(sb.cb AS DECIMAL(19,0))) AS ip
        FROM sa JOIN sb USING (j, bucket) GROUP BY 1),
    -- pad depths with zero colliding cells to ip 0 (min over surviving
    -- positive depths overestimates; mirrors cms_inner_product)
    per_j_full AS (
        SELECT d.j, COALESCE(p.ip, 0) AS ip
        FROM (SELECT unnest(range(0, {_JS_DEPTH})) AS j) d
        LEFT JOIN per_j p USING (j)),
    est AS (SELECT CAST(CAST(MIN(ip) AS DECIMAL(38,0)) AS DOUBLE) AS cms_est
            FROM per_j_full),
    tru AS (
        SELECT CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS true_size
        FROM ca JOIN cb USING (term))
    SELECT t.true_size, e.cms_est,
           -- guard: an empty true join would 0/0 (ANSI crash vs NULL)
           CASE WHEN t.true_size > 0
                THEN round(e.cms_est / t.true_size, 6) END AS over_ratio
    FROM tru t, est e
    """,
)
def join_size_estimate_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-planner primitive: estimate |orders ⋈ lineitem| from two
    Count-Min sketches of the join-key frequency vectors — the CMS
    inner-product bound min_j Σ_bucket a_j·b_j, computed WITHOUT joining
    the tables. Output compares the estimate to the exact join size
    (over_ratio >= 1 always: the estimate is one-sided).

    This is how a planner sizes a join before picking broadcast vs
    shuffle at 100 TB: each side ships only a 4×512 counter table,
    buildable in one pass with map-side partial aggregation, mergeable
    across partitions/days by cell-wise addition.

    Scale: two key-count shuffles (the sketches), a 2048-row sketch
    join, and one exact-size join for the report card (the part a real
    planner would skip)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ca = orders.groupBy(
        F.col("o_orderkey").cast("string").alias("term")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cb = li.groupBy(F.col("l_orderkey").cast("string").alias("term")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sa = K.cms_sketch(ca, "term", "cnt", _JS_DEPTH, _JS_WIDTH)
    sb = K.cms_sketch(cb, "term", "cnt", _JS_DEPTH, _JS_WIDTH)
    est = K.cms_inner_product(sa, sb, out="cms_est")
    tru = (
        ca.join(cb, "term")
        .agg(F.sum(ca.cnt * cb.cnt).cast("long").alias("true_size"))
    )
    # The library estimator stays decimal(38,0) (collision mass can pass
    # int64 at extreme scale — see cms_inner_product), but the QUERY
    # returns it as double: no externally hash-verified query emits a raw
    # decimal column (Spark decimal -> pandas object of Decimal, DuckDB
    # decimal -> float64 — an untested category at the driver's hasher),
    # and exact-integer -> nearest-double is IEEE-identical in both
    # engines, so parity is unaffected.
    return (
        tru.crossJoin(F.broadcast(est))
        .select(
            "true_size",
            F.col("cms_est").cast("double").alias("cms_est"),
            F.when(
                F.col("true_size") > 0,
                F.round(F.col("cms_est").cast("double") / F.col("true_size"), 6),
            ).alias("over_ratio"),
        )
    )


_LN9 = "round(ln({x}), 9)"


def _entropy_sql(n: str, p: str) -> str:
    """Binary entropy (nats) of p positives in n rows, ln at 9 dp, zero
    when pure — written once, instantiated per split side."""
    pr = f"(CAST({p} AS DOUBLE) / {n})"
    qr = f"(CAST({n} - {p} AS DOUBLE) / {n})"
    return (
        f"CASE WHEN {p} = 0 OR {p} = {n} THEN 0.0 "
        f"ELSE -({pr} * round(ln({pr}), 9) + {qr} * round(ln({qr}), 9)) END"
    )


@register(
    "best_split_information_gain",
    oracle=f"""
    WITH hist AS (
        -- NULL quantities carry no threshold (and would shift every
        -- cumulative count on engine NULL-ordering defaults)
        SELECT l_quantity AS split_value,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS p
        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
    cum AS (
        SELECT split_value,
               CAST(SUM(c) OVER wv AS BIGINT) AS nl,
               CAST(SUM(p) OVER wv AS BIGINT) AS pl,
               CAST(SUM(c) OVER () AS BIGINT) AS n,
               CAST(SUM(p) OVER () AS BIGINT) AS pp
        FROM hist WINDOW wv AS (ORDER BY split_value
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    ig AS (
        -- + 0.0 normalizes the SIGN OF ZERO: a gain whose true value is
        -- within 0.5e-9 of 0 rounds to -0.0 or +0.0 depending on each
        -- engine's ulp noise, and the comparator hashes them differently
        -- (fired at sf0.1, split 8.0; IEEE -0.0 + 0.0 = +0.0)
        SELECT split_value, nl, pl,
               round({_entropy_sql('n', 'pp')}
                     - (CAST(nl AS DOUBLE) / n) * {_entropy_sql('nl', 'pl')}
                     - (CAST(n - nl AS DOUBLE) / n)
                       * {_entropy_sql('(n - nl)', '(pp - pl)')}, 9) + 0.0
                   AS info_gain
        FROM cum WHERE nl < n)
    SELECT split_value, nl AS n_left, pl AS pos_left, info_gain FROM ig
    """,
)
def best_split_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-tree split finding (the XGBoost/LightGBM
    approx-split primitive): for every candidate threshold on l_quantity,
    the information gain of splitting lineitem into quantity <= t vs > t
    for predicting l_returnflag = 'R'. One row per candidate with its
    left-side counts and gain — exactly the table a GBDT node evaluates.

    Exact from the VALUE HISTOGRAM: class counts per distinct quantity,
    one cumulative window over that ~50-row histogram (value-bounded,
    the histogram_rank discipline — never a corpus-scale sort), entropy
    in nats with each ln rounded at 9 dp so the gain is bit-stable.

    Scale: one scan -> (value, count, pos) agg shuffle -> bounded window
    -> map-only gain expression."""
    li = load_table(spark, sf_dir, "lineitem")
    # NULL quantities excluded to mirror the oracle (see oracle comment)
    hist = (
        li.filter(F.col("l_quantity").isNotNull())
        .groupBy(F.col("l_quantity").alias("split_value"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum((F.col("l_returnflag") == "R").cast("int"))
            .cast("long")
            .alias("p"),
        )
    )
    wv = Window.orderBy("split_value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "split_value",
        F.sum("c").over(wv).cast("long").alias("nl"),
        F.sum("p").over(wv).cast("long").alias("pl"),
        F.sum("c").over(wall).cast("long").alias("n"),
        F.sum("p").over(wall).cast("long").alias("pp"),
    ).filter(F.col("nl") < F.col("n"))

    def ent(n, p):
        pr = p.cast("double") / n
        qr = (n - p).cast("double") / n
        return F.when((p == 0) | (p == n), F.lit(0.0)).otherwise(
            -(pr * F.round(F.log(pr), 9) + qr * F.round(F.log(qr), 9))
        )

    n, pp, nl, pl = F.col("n"), F.col("pp"), F.col("nl"), F.col("pl")
    gain = (
        ent(n, pp)
        - (nl.cast("double") / n) * ent(nl, pl)
        - ((n - nl).cast("double") / n) * ent(n - nl, pp - pl)
    )
    return cum.select(
        "split_value",
        nl.alias("n_left"),
        pl.alias("pos_left"),
        # + 0.0 normalizes the sign of zero (mirrors the oracle comment)
        (F.round(gain, 9) + F.lit(0.0)).alias("info_gain"),
    )
