"""Post-window round-4 additions, part 56 (round-5 rotation material):
readability and lexical-diversity metrics.

Classic corpus-quality signals next to the Gopher rules (llm3) and
char entropy (llm46): Flesch-Kincaid-style readability from
vowel-group syllable estimates — computable as pure JVM regexp + ln-free
arithmetic, fully engine-portable with no payload injection — and
type-token ratio as the lexical-diversity measure that flags templated
or repetitive text.

Registered last in queries/__init__.py (after llm62); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "readability_scores",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, unnest({_TOK_SQL}) AS word FROM documents),
    syl AS (
        SELECT doc_id, source,
               greatest(1, len(regexp_extract_all(word, '[aeiouy]+'))) AS s
        FROM w),
    per_doc AS (
        SELECT doc_id, source,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(s) AS BIGINT) AS n_syll
        FROM syl GROUP BY 1, 2),
    fk AS (
        SELECT doc_id, source, n_words, n_syll,
               round((0.39 * CAST(n_words AS DOUBLE))
                     + ((11.8 * CAST(n_syll AS DOUBLE)) / CAST(n_words AS DOUBLE))
                     - 15.59, 9) AS grade
        FROM per_doc)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_syll) AS BIGINT) AS total_syllables,
           round(CAST(SUM(CAST(grade AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 9)
               AS avg_fk_grade
    FROM fk GROUP BY 1
    """,
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade estimates per source: syllables counted as
    vowel groups (the standard heuristic, floor 1 per word; one JVM
    regexp, no UDF), each one-sentence document scored
    0.39*words + 11.8*syllables/word - 15.59, averaged exactly per
    source — the readability gate educational/quality filters apply.

    Pure mirrored arithmetic: integer word/syllable counts, one fixed
    double expression per doc pinned at 9 dp, exact decimal averaging.

    Scale: word explode -> per-doc aggregate -> source aggregate; every
    stage is a uniform-key shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        F.explode(F.filter(F.split("text", " "), lambda x: x != F.lit(""))).alias(
            "word"
        ),
    )
    syl = w.select(
        "doc_id",
        "source",
        F.greatest(
            F.lit(1), F.size(F.expr("regexp_extract_all(word, '[aeiouy]+', 0)"))
        ).alias("s"),
    )
    per_doc = syl.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("s").cast("long").alias("n_syll"),
    )
    grade = F.round(
        (F.lit(0.39) * F.col("n_words").cast("double"))
        + ((F.lit(11.8) * F.col("n_syll").cast("double")) / F.col("n_words").cast("double"))
        - F.lit(15.59),
        9,
    )
    fk = per_doc.select("source", "n_syll", grade.alias("grade"))
    return fk.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_syll").cast("long").alias("total_syllables"),
        F.round(
            F.sum(F.col("grade").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_fk_grade"),
    )


@register(
    "ttr_lexical_diversity",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, unnest({_TOK_SQL}) AS word FROM documents),
    per_doc AS (
        SELECT doc_id, source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types
        FROM w GROUP BY 1, 2),
    ttr AS (
        SELECT source,
               round(CAST(n_types AS DOUBLE) / n_tokens, 9) AS r
        FROM per_doc)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(r AS DECIMAL(12,9))) AS DOUBLE) / COUNT(*), 9)
               AS avg_ttr,
           CAST(SUM(CASE WHEN r < 0.4 THEN 1 ELSE 0 END) AS BIGINT)
               AS low_diversity_docs
    FROM ttr GROUP BY 1
    """,
)
def ttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document (distinct words / words), averaged
    per source with a low-diversity (< 0.4) census — the lexical-
    diversity signal that catches templated boilerplate and keyboard
    mash that length or perplexity filters miss.

    Integer type/token counts, one 9-dp ratio per doc, exact decimal
    averaging.

    Scale: word explode -> per-doc distinct aggregate -> source
    aggregate (the distinct is per (doc, word), a uniform key)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        F.explode(F.filter(F.split("text", " "), lambda x: x != F.lit(""))).alias(
            "word"
        ),
    )
    per_doc = w.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("word").cast("long").alias("n_types"),
    )
    ttr = per_doc.select(
        "source",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 9).alias("r"),
    )
    return ttr.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.col("r").cast("decimal(12,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_ttr"),
        F.sum((F.col("r") < 0.4).cast("long")).cast("long").alias(
            "low_diversity_docs"
        ),
    )
