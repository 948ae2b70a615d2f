"""Post-window round-4 additions, part 58 (round-5 rotation material):
homoglyph / mixed-script spoof detection.

Confusable-script substitution (Cyrillic а inside a Latin word) is
the classic spoofing/poisoning vector in crawled corpora — it defeats
exact dedup, keyword filters, and URL allowlists while rendering
identically. The detector flags tokens whose LETTERS span multiple
scripts (Latin + Cyrillic here), while legitimately single-script
non-Latin tokens (a pure Greek word) must NOT flag — the
false-positive case that separates a script detector from a crude
non-ASCII filter.

Pure JVM regexp logic over injected payloads that are closed-form in
doc_id (llm28/llm46 predictive family; the corpus is verified pure
ASCII, and payloads are explicit escapes).

Registered last in queries/__init__.py (after llm64); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

# doc_id % 7 == 0 -> append " pаge" (Latin p/g/e around CYRILLIC a):
#   a mixed-script spoof token that must flag.
# doc_id % 7 == 1 -> append " αβγ" (pure Greek):
#   single-script non-Latin, must NOT flag.
_SPOOF = " p\u0430ge"
_GREEK = " \u03b1\u03b2\u03b3"


@register(
    "homoglyph_spoof_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS spoofed_docs,
           CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS spoof_tokens,
           CAST(SUM(CASE WHEN doc_id % 7 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nonlatin_clean_docs
    FROM documents
    GROUP BY source
    """,
)
def homoglyph_spoof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-script token census: a token spoofs when it contains BOTH
    Latin and Cyrillic letters (two regexp containment tests per token,
    pure codegen); pure-Greek tokens count separately as clean
    non-Latin content. The oracle predicts every figure from doc_id
    arithmetic — a detector that flags all non-ASCII (the crude filter)
    wrongly counts the Greek class and fails the hash; one that misses
    the Cyrillic \\u0430 homoglyph undercounts and fails too.

    Scale: token explode -> two per-token regexps -> source-keyed
    partial aggregation; map-only until the bounded census."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = docs.withColumn(
        "text",
        F.concat(
            # inject onto '' for NULL text — concat would null the payload
            # and drop the doc while the oracle still counts it
            F.coalesce(F.col("text"), F.lit("")),
            F.when(did % 7 == 0, F.lit(_SPOOF)).otherwise(F.lit("")),
            F.when(did % 7 == 1, F.lit(_GREEK)).otherwise(F.lit("")),
        ),
    )
    tok = injected.select(
        "doc_id",
        "source",
        F.explode(F.filter(F.split("text", " "), lambda x: x != F.lit(""))).alias(
            "w"
        ),
    )
    latin = F.col("w").rlike("[A-Za-z]")
    cyr = F.col("w").rlike("[\u0400-\u04ff]")
    greek = F.col("w").rlike("[\u0370-\u03ff]")
    flags = tok.select(
        "doc_id",
        "source",
        (latin & cyr).cast("long").alias("spoof"),
        (greek & ~latin & ~cyr).cast("long").alias("clean_nonlatin"),
    )
    per_tok = flags.groupBy("doc_id", "source").agg(
        F.sum("spoof").alias("spoof_tokens"),
        F.max("clean_nonlatin").alias("has_clean_nonlatin"),
    )
    # anchor on the docs table: a token-LESS doc (empty text, no payload
    # class) emits no explode rows and would silently vanish from n_docs
    # while the oracle's COUNT(*) still counts it
    per_doc = (
        injected.select("doc_id", "source")
        .join(per_tok, ["doc_id", "source"], "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("spoof_tokens", F.lit(0)).alias("spoof_tokens"),
            F.coalesce("has_clean_nonlatin", F.lit(0)).alias("has_clean_nonlatin"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("spoof_tokens") > 0).cast("long")).cast("long").alias(
            "spoofed_docs"
        ),
        F.sum("spoof_tokens").cast("long").alias("spoof_tokens"),
        F.sum("has_clean_nonlatin").cast("long").alias("nonlatin_clean_docs"),
    )
