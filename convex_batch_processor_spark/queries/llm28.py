"""Post-window round-4 additions, part 21 (round-5 rotation material):
PII scrubbing and URL extraction over the documents corpus.

The synthetic corpus is digit-free word salad, so real PII cannot occur
in it; like the codec queries (llm5/llm6), these inject payloads that
are CLOSED-FORM in doc_id and let the oracle PREDICT what a correct
regex scanner must report — the SQL never runs a regex, so a wrong
pattern, wrong redaction token, or wrong length accounting on the Spark
side fails the hash.

Registered last in queries/__init__.py (after llm27); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import pii as P
from .registry import register


def _with_injected_pii(docs: DataFrame) -> DataFrame:
    """Append deterministic PII to each document: an email when
    doc_id % 3 == 0, a NANP phone when % 5 == 0, a dotted-quad IP when
    % 7 == 0 (all three for multiples of 105)."""
    did = F.col("doc_id")
    email = F.concat(F.lit(" user"), did.cast("string"), F.lit("@example.com"))
    phone = F.concat(
        F.lit(" +1-555-"),
        (F.lit(100) + did % 900).cast("string"),
        F.lit("-"),
        (F.lit(1000) + did % 9000).cast("string"),
    )
    ipv4 = F.concat(
        F.lit(" 10."),
        (did % 256).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
        F.lit("."),
        ((did * 13) % 256).cast("string"),
    )
    return docs.withColumn(
        "text",
        F.concat(
            # NULL text concats to NULL, nulling the injected payload and
            # silently dropping the doc from the scan while the oracle
            # (pure doc_id arithmetic) still counts it — inject onto ''
            F.coalesce(F.col("text"), F.lit("")),
            F.when(did % 3 == 0, email).otherwise(F.lit("")),
            F.when(did % 5 == 0, phone).otherwise(F.lit("")),
            F.when(did % 7 == 0, ipv4).otherwise(F.lit("")),
        ),
    )


@register(
    "pii_scrub_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS emails_found,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS phones_found,
           CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ips_found,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 OR doc_id % 5 = 0 OR doc_id % 7 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
           CAST(SUM(
               CASE WHEN doc_id % 3 = 0
                    THEN 9 + length(CAST(doc_id AS VARCHAR)) ELSE 0 END
             + CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 0 END
             + CASE WHEN doc_id % 7 = 0
                    THEN 1 + length(CAST(doc_id % 256 AS VARCHAR))
                           + length(CAST((doc_id * 7) % 256 AS VARCHAR))
                           + length(CAST((doc_id * 13) % 256 AS VARCHAR))
                    ELSE 0 END) AS BIGINT) AS chars_redacted
    FROM documents
    GROUP BY source
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII audit: inject closed-form emails/phones/IPs, run the
    real regex scanner + redactor (``llmops.pii``, JVM regexp_count /
    regexp_replace), and report per-source match counts, flagged-doc
    counts, and total characters removed by redaction.

    The oracle predicts every number from doc_id arithmetic — e-mail
    ``user{id}@example.com`` loses ``9 + digits(id)`` chars to
    ``[EMAIL]``, the fixed-width phone loses 8 to ``[PHONE]``, the
    dotted quad loses ``1 + digits(a)+digits(b)+digits(c)`` to ``[IP]``
    — so a scanner that miscounts, half-matches, or redacts with the
    wrong token diverges.

    Scale: scan → per-row regex map (codegen, no UDF) → one partial-agg
    shuffle on source. The scrub itself adds zero exchanges."""
    docs = _with_injected_pii(load_table(spark, sf_dir, "documents"))
    scanned = P.scan_pii(docs, "text")
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("long").alias("emails_found"),
        F.sum("n_phone").cast("long").alias("phones_found"),
        F.sum("n_ipv4").cast("long").alias("ips_found"),
        F.sum(F.col("any_pii").cast("long")).cast("long").alias("pii_docs"),
        F.sum("chars_redacted").cast("long").alias("chars_redacted"),
    )


_DOMAINS = ["docs.example.org", "blog.example.net", "data.example.com", "www.example.io"]


@register(
    "url_domain_extract",
    oracle=f"""
    SELECT CASE doc_id % 4 WHEN 0 THEN '{_DOMAINS[0]}' WHEN 1 THEN '{_DOMAINS[1]}'
                           WHEN 2 THEN '{_DOMAINS[2]}' ELSE '{_DOMAINS[3]}' END AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           CAST(SUM(length(CAST(doc_id AS VARCHAR))) AS BIGINT) AS path_chars
    FROM documents
    GROUP BY 1
    """,
)
def url_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL → domain extraction: append ``https://{domain}/{doc_id}`` to
    each document (domain cycles through 4 literals by doc_id % 4), then
    recover the domain and path with ONE regexp_extract each and profile
    per-domain doc counts, id range, and path length — the
    domain-blocklist / source-attribution primitive every web-scrape
    pipeline needs before filtering.

    The oracle predicts the grouping from doc_id % 4 without regexes, so
    an extractor that grabs the wrong capture group, drops the port-less
    authority, or includes the path in the domain fails the hash.

    Scale: per-row regex map (no UDF) + one narrow agg shuffle keyed by
    4 domains — counts partial-aggregate map-side."""
    docs = load_table(spark, sf_dir, "documents")
    domain_arr = F.array(*[F.lit(d) for d in _DOMAINS])
    with_url = docs.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),  # NULL text must not null the URL
            F.lit(" https://"),
            F.element_at(domain_arr, (F.col("doc_id") % 4 + 1).cast("int")),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ),
    )
    extracted = with_url.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"https?://([A-Za-z0-9.-]+)/", 1).alias(
            "domain"
        ),
        F.regexp_extract(F.col("text"), r"https?://[A-Za-z0-9.-]+/([0-9]+)", 1).alias(
            "path"
        ),
    )
    return extracted.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(F.length("path")).cast("long").alias("path_chars"),
    )
