"""Post-window round-4 additions, part 33 (round-5 rotation material):
URL canonicalization and the composed web-curation flagship pipeline.

Registered last in queries/__init__.py (after llm39); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "url_canonicalize_stats",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               'https://site.example.com/p/' || CAST(doc_id % 50 AS VARCHAR)
                   AS canonical
        FROM documents
    )
    SELECT canonical,
           CAST(COUNT(*) AS BIGINT) AS n_raw_urls,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM c GROUP BY 1
    """,
)
def url_canonicalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization: raw URLs that differ only in
    scheme-irrelevant noise — upper-case host, :443 default port,
    tracking query params (utm_*), fragments, trailing slash — must
    collapse to ONE canonical form before frontier dedup, or the crawler
    fetches every page five ways. Each doc gets a raw variant chosen by
    doc_id % 5 over the same underlying page (doc_id % 50), so the
    canonical census is 50 URLs with exactly the fan-in the oracle
    predicts — any normalization rule missed leaves extra groups and
    fails the hash.

    Scale: pure string-expression map (no UDF) + one census agg."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = (did % 50).cast("string")
    raw = (
        F.when(did % 5 == 0, F.concat(F.lit("https://site.example.com/p/"), page))
        .when(
            did % 5 == 1,
            F.concat(F.lit("HTTPS://SITE.EXAMPLE.COM/p/"), page),
        )
        .when(
            did % 5 == 2,
            F.concat(F.lit("https://site.example.com:443/p/"), page, F.lit("/")),
        )
        .when(
            did % 5 == 3,
            F.concat(
                F.lit("https://site.example.com/p/"),
                page,
                F.lit("?utm_source=feed&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(F.lit("https://site.example.com/p/"), page, F.lit("#frag"))
        )
    )
    u = docs.select("doc_id", raw.alias("raw"))
    # normalization chain: strip fragment -> strip utm-only query ->
    # lowercase scheme+host (not the path) -> drop :443 -> trailing slash
    no_frag = F.regexp_replace(F.col("raw"), r"#.*$", "")
    no_utm = F.regexp_replace(no_frag, r"\?utm_[^#]*$", "")
    host = F.regexp_extract(no_utm, r"^([A-Za-z]+://[^/]+)", 1)
    rest = F.regexp_replace(no_utm, r"^[A-Za-z]+://[^/]+", "")
    lowered = F.concat(F.lower(host), rest)
    no_port = F.regexp_replace(lowered, r":443(/|$)", "$1")
    canonical = F.regexp_replace(no_port, r"(.)/$", "$1")
    return (
        u.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_raw_urls"),
            F.min("doc_id").alias("min_doc"),
        )
    )


@register(
    "web_curation_pipeline",
    oracle="""
    WITH flagged AS (
        SELECT doc_id, source, text,
               CASE WHEN doc_id % 5 IN (1, 3) THEN 1 ELSE 0 END AS robots_blocked,
               CASE WHEN doc_id % 3 = 0 OR doc_id % 5 = 0 OR doc_id % 7 = 0
                    THEN 1 ELSE 0 END AS pii_flagged
        FROM documents
    ),
    dedup AS (
        SELECT doc_id, source, pii_flagged,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM flagged WHERE robots_blocked = 0
    ),
    rep AS (
        SELECT source,
               CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dups_dropped,
               CAST(SUM(CASE WHEN doc_id = keeper AND pii_flagged = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_flagged,
               CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_out
        FROM dedup GROUP BY 1
    ),
    tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in,
               CAST(SUM(robots_blocked) AS BIGINT) AS n_robots_blocked
        FROM flagged GROUP BY 1
    )
    SELECT t.source, t.n_in, t.n_robots_blocked,
           r.n_dups_dropped, r.n_pii_flagged, r.n_out
    FROM tot t JOIN rep r USING (source)
    """,
)
def web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed WEB-SIDE flagship (the crawl twin of the warehouse
    training_pipeline_v2): robots filter -> PII scan -> exact dedup ->
    per-source funnel report (docs in, robots-blocked, duplicate-dropped,
    PII-flagged survivors, docs out). The PII flag comes from the REAL
    regex scanner (llmops/pii.py over the llm28 injected payloads) and
    dedup is the REAL min-id digest window (llmops/dedup.py); the robots
    stage, by contrast, applies the llm39 rule set's PRE-REDUCED verdict
    (doc_id%5 in {1,3}) — the longest-prefix evaluator itself is
    exercised and hash-verified by robots_filter_stats, not here. The
    oracle predicts the whole funnel from doc_id arithmetic plus the
    dedup closure, never running a regex.

    Dedup keys on the ORIGINAL text (kept alongside the scrubbed copy):
    the injected PII embeds doc_id, so hashing the injected text would
    silently never find a duplicate — the funnel dedups what the crawler
    actually fetched, not the augmented scan input.

    Scale: robots + PII are map-side; dedup is the one digest shuffle;
    the report is a source-keyed rollup. Same shape at any corpus
    size."""
    from ..llmops import pii as P
    from ..llmops.dedup import content_hash
    from .llm28 import _with_injected_pii

    docs = _with_injected_pii(
        load_table(spark, sf_dir, "documents").withColumn("orig_text", F.col("text"))
    )
    did = F.col("doc_id")
    # the llm39 rule set reduces to: %5 in {1,3} blocked (longest-match
    # re-allows /private/pub/); same verdict logic, evaluated per row
    path_blocked = (did % 5 == 1) | (did % 5 == 3)
    flagged = docs.withColumn("robots_blocked", path_blocked.cast("int"))
    scanned = P.scan_pii(flagged, "text", keep_redacted=False).withColumn(
        "pii_flagged", F.col("any_pii").cast("int")
    )
    allowed = scanned.filter(F.col("robots_blocked") == 0)
    keeper = F.min("doc_id").over(Window.partitionBy(content_hash("orig_text")))
    dedup = allowed.withColumn("keeper", keeper)
    rep = dedup.groupBy("source").agg(
        F.sum((F.col("doc_id") != F.col("keeper")).cast("long")).alias(
            "n_dups_dropped"
        ),
        F.sum(
            ((F.col("doc_id") == F.col("keeper")) & (F.col("pii_flagged") == 1))
            .cast("long")
        ).alias("n_pii_flagged"),
        F.sum((F.col("doc_id") == F.col("keeper")).cast("long")).alias("n_out"),
    )
    # tot only needs source + robots_blocked: aggregating from
    # `flagged` (pre-PII) instead of `scanned` avoids a SECOND full
    # PII regex pass over the corpus (scanned is not persisted, so the
    # tot branch would recompute it)
    tot = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum("robots_blocked").cast("long").alias("n_robots_blocked"),
    )
    return tot.join(rep, "source").select(
        "source", "n_in", "n_robots_blocked", "n_dups_dropped",
        "n_pii_flagged", "n_out",
    )
