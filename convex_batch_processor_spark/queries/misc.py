"""Function-pack and SQL-API named queries: unpivot, date/string scalar
packs, scalar subqueries, and one query expressed through spark.sql over
registered views (the engine's second, equivalent query surface —
Catalyst produces the same plans either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from .registry import register


@register(
    "sql_api_revenue_by_nation",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sql_api_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql surface: temp views + ANSI SQL text (same Catalyst
    plan as the DataFrame form — this query is the API-parity witness)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@register(
    "unpivot_doc_metrics",
    oracle="""
    SELECT lang, 'n_docs' AS metric, CAST(COUNT(*) AS BIGINT) AS value
    FROM documents GROUP BY lang
    UNION ALL
    SELECT lang, 'sum_chars' AS metric, CAST(SUM(n_chars) AS BIGINT) AS value
    FROM documents GROUP BY lang
    """,
)
def unpivot_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack): wide per-lang metrics → (lang, metric, value) rows."""
    wide = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )
    return wide.selectExpr(
        "lang",
        "stack(2, 'n_docs', n_docs, 'sum_chars', sum_chars) AS (metric, value)",
    )


@register(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS quarter_later,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           (isodow(o_orderdate) % 7) + 1 AS dow,
           CAST(quarter(o_orderdate) AS INTEGER) AS q
    FROM orders WHERE o_orderkey < 150
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic pack: add days/months, diffs, boundaries, parts.
    (dow normalized to Spark's 1=Sunday convention in the oracle.)"""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 150)
        .select(
            "o_orderkey",
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
            F.add_months(F.col("o_orderdate").cast("date"), 3).alias("quarter_later"),
            F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate")).alias("days_to_y2k"),
            F.last_day("o_orderdate").alias("month_end"),
            F.dayofweek("o_orderdate").alias("dow"),
            F.quarter("o_orderdate").alias("q"),
        )
    )


@register(
    "string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           replace(c_name, '#', '-') AS repl,
           strpos(c_name, '#') AS hash_pos,
           reverse(c_mktsegment) AS rev,
           substr(c_mktsegment, 2, 3) AS mid,
           length(c_name) AS name_len,
           -- concat_ws, NOT concat: Spark's concat_ws skips a NULL arg
           -- AND its separator while DuckDB's concat keeps the bare '/'
           -- (r8 review; both columns are nullable in the schema)
           concat_ws('/', c_mktsegment, c_name) AS tagged
    FROM customer WHERE c_custkey < 100
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar pack (F2/F3 generalized): case, pad, replace, find,
    reverse, slice, concat — all codegen'd."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            F.upper("c_name").alias("up"),
            F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
            F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("repl"),
            F.instr(F.col("c_name"), "#").alias("hash_pos"),
            F.reverse("c_mktsegment").alias("rev"),
            F.substring("c_mktsegment", 2, 3).alias("mid"),
            F.length("c_name").alias("name_len"),
            F.concat_ws("/", "c_mktsegment", "c_name").alias("tagged"),
        )
    )


@register(
    "scalar_subquery_filter",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1.8
        FROM orders
    )
    """,
)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery predicate: orders 1.8x above the mean price (the
    deterministic-avg pattern keeps the threshold bit-identical across
    engines)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1.8
            FROM orders
        )
        """
    )
