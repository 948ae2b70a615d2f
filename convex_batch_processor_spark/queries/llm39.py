"""Post-window round-4 additions, part 32 (round-5 rotation material):
crawl-frontier processing — robots.txt longest-prefix filtering and
HTML text extraction.

Like llm28's PII pack, both inject CLOSED-FORM payloads into the
digit-free corpus so the oracle predicts every output from doc_id
arithmetic without running the extraction logic itself.

Registered last in queries/__init__.py (after llm38); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# (prefix, verdict) — longest-match-wins, the Google robots semantics:
# /private/ is blocked but its /private/pub/ subtree is re-allowed.
_ROBOTS_RULES = [
    ("/private/", "block"),
    ("/private/pub/", "allow"),
    ("/tmp/", "block"),
]

_PATHS_SQL = """CASE doc_id % 5
        WHEN 0 THEN '/public/p' || CAST(doc_id AS VARCHAR)
        WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        WHEN 2 THEN '/private/pub/y' || CAST(doc_id AS VARCHAR)
        WHEN 3 THEN '/tmp/z' || CAST(doc_id AS VARCHAR)
        ELSE '/' END"""


@register(
    "robots_filter_stats",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, source, {_PATHS_SQL} AS path FROM documents
    ),
    verdicts AS (
        SELECT doc_id, source,
               CASE
                   WHEN doc_id % 5 = 1 THEN 'block'   -- /private/
                   WHEN doc_id % 5 = 3 THEN 'block'   -- /tmp/
                   ELSE 'allow'                       -- incl. /private/pub/
               END AS verdict
        FROM u
    )
    SELECT source, verdict,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM verdicts GROUP BY 1, 2
    """,
)
def robots_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier robots.txt filtering with LONGEST-MATCH-WINS
    semantics (the Google/RFC 9309 rule): every injected URL path is
    matched against a prefix rule set where /private/ is blocked but its
    /private/pub/ subtree is re-allowed — a filter that gets this wrong
    (first-match, or shortest-match) misclassifies the %5==2 bucket and
    fails the hash, because the oracle predicts verdicts from doc_id
    arithmetic without evaluating any rule.

    Spark side is the REAL evaluator: rules are config-as-data (a
    broadcast literal table), candidate matches come from startswith,
    and a per-URL window picks the longest matching prefix. No-match
    URLs default to allow via a left join.

    Scale: corpus x 3-row broadcast rule join, one keyed window on the
    URL, one census agg — no shuffle carries the corpus more than
    once."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    path = (
        F.when(did % 5 == 0, F.concat(F.lit("/public/p"), did.cast("string")))
        .when(did % 5 == 1, F.concat(F.lit("/private/x"), did.cast("string")))
        .when(did % 5 == 2, F.concat(F.lit("/private/pub/y"), did.cast("string")))
        .when(did % 5 == 3, F.concat(F.lit("/tmp/z"), did.cast("string")))
        .otherwise(F.lit("/"))
    )
    u = docs.select("doc_id", "source", path.alias("path"))
    rules = docs.sparkSession.createDataFrame(
        _ROBOTS_RULES, "prefix string, rule_verdict string"
    )
    matched = u.join(
        F.broadcast(rules), F.col("path").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.length("prefix").desc(), F.col("prefix")
    )
    best = (
        matched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("rule_verdict").alias("verdict"))
    )
    verdicts = u.join(best, "doc_id", "left").select(
        "source", "doc_id", F.coalesce("verdict", F.lit("allow")).alias("verdict")
    )
    return verdicts.groupBy("source", "verdict").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "html_extract_text",
    oracle="""
    SELECT doc_id,
           -- a NULL doc produces no HTML at all (concat propagates NULL),
           -- so the extracted title is NULL too, not 'doc N'
           CASE WHEN text IS NULL THEN NULL
                ELSE 'doc ' || CAST(doc_id AS VARCHAR) END AS title,
           CAST(length(text) AS BIGINT) AS body_chars,
           md5(text) AS body_md5
    FROM documents
    """,
)
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal: wrap every document in deterministic HTML
    (head/title + body/p), then EXTRACT the title and the body text back
    with regexes — the strip-the-markup step every web-scrape pipeline
    runs before quality filtering. The recovered body must be
    byte-identical to the original text (md5-pinned by an oracle that
    predicts from the raw column, never seeing the HTML).

    Scale: two regexp_extract maps over the scan — codegen'd JVM
    expressions, no UDF, no shuffle before the output projection."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    wrapped = docs.select("doc_id", html.alias("html"))
    title = F.regexp_extract(F.col("html"), r"<title>([^<]*)</title>", 1)
    # (?s) so an embedded newline cannot break the match (Java '.'
    # excludes \n); the oracle predicts from the raw text, so a failed
    # extraction would report body_chars=0 against length(text)
    body = F.regexp_extract(F.col("html"), r"(?s)<p>(.*)</p>", 1)
    return wrapped.select(
        "doc_id",
        title.alias("title"),
        F.length(body).cast("long").alias("body_chars"),
        F.md5(body).alias("body_md5"),
    )
