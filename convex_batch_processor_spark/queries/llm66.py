"""Post-window round-4 additions, part 59 (round-5 rotation material):
asymmetric containment near-dup detection.

Jaccard (minhash family) is symmetric and misses the commonest real
duplication shape: document B QUOTES most of document A while adding
its own content — |A ∩ B| / |A| is high even when the union-normalized
Jaccard is low. Containment C(A, B) = |A ∩ B| / |A| is the asymmetric
measure (Broder's original resemblance/containment pair), the right
tool for quote-inclusion, boilerplate-wrapping, and newsletter-digest
duplication.

Registered last in queries/__init__.py (after llm65); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import dedup as D
from .registry import register

_TAU = 0.8  # containment threshold
_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "containment_dup_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOK_SQL} AS t FROM documents),
    sh AS MATERIALIZED (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(1, len(t) - 1)),
            i -> array_to_string(list_slice(t, i, i + 2), ' ')
        ))) AS shingle
        FROM toks WHERE len(t) >= 3),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
    inter AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
        FROM sh x JOIN sh y ON y.shingle = x.shingle AND x.doc_id <> y.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b, sa.sz AS size_a,
           round(CAST(i AS DOUBLE) / sa.sz, 9) AS containment
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    WHERE CAST(i AS DOUBLE) / sa.sz >= {_TAU!r}
    """,
)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: C(A, B) = |shingles(A) n shingles(B)|
    / |shingles(A)| >= {_TAU} — DIRECTED (A is contained in B), so a
    short document quoted wholesale inside a longer one is caught even
    though their Jaccard is small. 3-gram shingles, count-verify shape
    (distinct shingles make the shared-row count the intersection size),
    both directions emitted independently.

    Scale: the same inverted-index expansion as the Jaccard baseline
    (shared-shingle pairs only, never all-pairs); the 100 TB variant
    blocks with MinHash bands exactly as minhash_neardup does — containment
    only changes the verify formula."""
    docs = load_table(spark, sf_dir, "documents")
    sh_raw = D.with_shingles(docs).persist()
    st = sh_raw.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("shingle")
    )
    x = st.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("size_a"), "shingle")
    y = st.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    cont = F.col("i").cast("double") / F.col("size_a")
    return inter.filter(cont >= _TAU).select(
        "id_a",
        "id_b",
        "size_a",
        F.round(cont, 9).alias("containment"),
    )
