"""Post-window round-4 additions, part 17 (round-5 rotation material):
information-theoretic corpus stats and keyset pagination.

Registered last in queries/__init__.py (after llm23); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "vocab_entropy_by_source",
    oracle=f"""
    WITH tf AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT source, unnest({_TOK_SQL}) AS term FROM documents)
        GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS t FROM tf GROUP BY 1)
    SELECT tf.source,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(tot.t AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(round(
               -(CAST(tf.n AS DOUBLE) / CAST(tot.t AS DOUBLE))
               * round(ln(CAST(tf.n AS DOUBLE) / CAST(tot.t AS DOUBLE)), 9), 12)
               AS DECIMAL(30,12))) AS DOUBLE) AS entropy_nats,
           round(ln(CAST(COUNT(*) AS DOUBLE)), 9) AS max_entropy_nats
    FROM tf JOIN tot USING (source)
    GROUP BY tf.source, tot.t
    """,
)
def vocab_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's term distribution (nats), with
    the ln|V| ceiling — the diversity/repetitiveness number data cards
    report (low entropy = templated/boilerplate source; compare against
    `repetition_top_bigram` for the within-doc view).

    Determinism: p = exact-int ratio in one division, ln leaf-rounded to
    9 dp, each -p·ln p term rounded at 12 dp and summed in exact decimal
    (order-free across any partitioning — the PSI/KM recipe).

    Scale: one corpus scan to the (source, term) rollup; the entropy sum
    is term-keyed map-side partials collapsing to |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.filter(F.split("text", " "), lambda x: x != F.lit(""))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = tf.groupBy("source").agg(F.sum("n").cast("long").alias("t"))
    p = F.col("n").cast("double") / F.col("t").cast("double")
    term = F.round(-p * F.round(F.log(p), 9), 12).cast("decimal(30,12)")
    return (
        tf.join(F.broadcast(tot), "source")
        .groupBy("source", "t")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(term).cast("double").alias("entropy_nats"),
        )
        .select(
            "source",
            "n_terms",
            F.col("t").alias("n_tokens"),
            "entropy_nats",
            F.round(F.log(F.col("n_terms").cast("double")), 9).alias("max_entropy_nats"),
        )
    )


_PAGE_SIZE = 50
# the cursor = the last (o_orderdate, o_orderkey) of the previous page —
# fixed here to a mid-corpus position so the page is stable and non-trivial
_CURSOR_DATE = "1995-06-15"
_CURSOR_KEY = 0


@register(
    "keyset_page_orders",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders
    -- expanded OR, NOT DuckDB's row-value (tuple) comparison: the tuple
    -- form uses total ordering where a NULL o_orderdate sorts GREATEST
    -- and passes the cursor, while Spark's expanded OR evaluates NULL
    -- and filters the row — keyset semantics exclude unordered keys
    WHERE o_orderdate > TIMESTAMP '{_CURSOR_DATE}'
       OR (o_orderdate = TIMESTAMP '{_CURSOR_DATE}' AND o_orderkey > {_CURSOR_KEY})
    ORDER BY o_orderdate, o_orderkey
    LIMIT {_PAGE_SIZE}
    """,
)
def keyset_page_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYSET (cursor) pagination: the page after cursor
    ({_CURSOR_DATE}, key {_CURSOR_KEY}) in (o_orderdate, o_orderkey)
    order — the scale-safe replacement for OFFSET paging. OFFSET n must
    compute and discard n rows on every page (page 10^6 costs 10^6 rows
    per executor feeding the global sort); the keyset predicate is
    SARGABLE — it pushes to the scan and min/max-prunes row groups before
    I/O — and LIMIT compiles to TakeOrdered, so every page costs the
    same regardless of depth. This is the relational form of the
    reference's cursor iteration (iterator.py's ordered key-range chunk
    loop, lib.ts cursoring) as a single declarative query.

    The row-value comparison is expressed as the expanded OR form (Spark
    has no tuple comparison): date > cursor OR (date = cursor AND key >
    cursor_key)."""
    orders = load_table(spark, sf_dir, "orders")
    cd = F.lit(_CURSOR_DATE).cast("timestamp")
    return (
        orders.filter(
            (F.col("o_orderdate") > cd)
            | ((F.col("o_orderdate") == cd) & (F.col("o_orderkey") > _CURSOR_KEY))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(_PAGE_SIZE)
    )
