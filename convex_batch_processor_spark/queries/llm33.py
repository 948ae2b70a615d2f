"""Post-window round-4 additions, part 26 (round-5 rotation material):
ExactSubstr duplicate-span removal — the corpus REWRITE the
dup_span_coverage metric (llm4) measures the need for.

Registered last in queries/__init__.py (after llm32); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..llmops import dedup as D
from .registry import register


@register(
    "exact_substr_scrub",
    oracle="""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    pt AS (
        SELECT doc_id, i AS pos, toks[CAST(i AS INT)] AS tok
        FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
    ),
    g AS (
        SELECT doc_id, i,
               array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
        FROM t, unnest(range(1, len(toks) - 6)) AS r(i)
        WHERE len(toks) >= 8
    ),
    dup AS (
        SELECT g, MIN(doc_id) AS mind FROM g
        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cov AS (
        SELECT DISTINCT g.doc_id, g.i + o AS pos
        FROM g JOIN dup USING (g), unnest(range(0, 8)) AS oo(o)
        WHERE g.doc_id > dup.mind
    ),
    kept AS (
        SELECT pt.doc_id, pt.pos, pt.tok FROM pt
        ANTI JOIN cov ON cov.doc_id = pt.doc_id AND cov.pos = pt.pos
    ),
    clean AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               array_to_string(list(tok ORDER BY pos), ' ') AS ct
        FROM kept GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
           md5(coalesce(c.ct, '')) AS clean_md5
    FROM t LEFT JOIN clean c USING (doc_id)
    """,
)
def exact_substr_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL (ExactSubstr dedup, Lee et al. 2022):
    rewrite every document dropping tokens covered by an 8-token span
    that also occurs in an earlier document — one copy of each duplicated
    passage survives (min-doc_id keeps). Output is the rebuild audit:
    (doc_id, n_tokens, n_removed, md5 of the cleaned text) — the md5
    pins the exact surviving token sequence, so an off-by-one span
    boundary or a wrong keep-policy fails the hash.

    Scale: inverted index on the 8-gram (one vocabulary-bounded count
    shuffle), aggregate-to-postings join back (never doc x doc), an
    n-position explode only for duplicated occurrences, one (doc, pos)
    anti-join, and a per-doc groupBy rebuild (array_sort over collected
    (pos, token) structs — per-doc state bounded by doc length, no
    global operator anywhere)."""
    return D.exact_substr_scrub(load_table(spark, sf_dir, "documents"))
