"""Post-window round-4 additions, part 7 (round-5 rotation material):
derived audits over existing operators — duplicate-cluster census and the
language-ID confusion matrix.

Registered last in queries/__init__.py (after llm13); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import QUERIES, register

# llm is imported well before this module (queries/__init__.py), so its
# registrations — and their oracle SQL — are already in QUERIES; reusing
# the TEXT avoids a cross-module import of private constants
from .llm import _COMPONENTS_CTES


@register(
    "dup_cluster_size_census",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTES},
    sizes AS (
        SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n FROM comp GROUP BY 1
    )
    SELECT n AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
    """,
)
def dup_cluster_size_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size census: how many near-dup components exist
    at each size, and how many documents they absorb — the distribution
    teams read before choosing a dedup threshold (a fat tail of giant
    clusters usually means the similarity gate is too loose, e.g. a
    boilerplate fingerprint).

    Two bounded rollups over the component assignment (min-label
    propagation, operators/graph.py); nothing here is corpus-scale beyond
    the closure itself."""
    from ..operators.graph import connected_components

    from .llm import _neardup_edges

    comp = connected_components(_neardup_edges(spark, sf_dir), "id_a", "id_b")
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n"))
    return sizes.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n").cast("long").alias("n_docs"),
    )


def _confusion_oracle() -> str:
    """Wrap language_id's full oracle (already registered — reuse the
    TEXT) in a confusion-matrix rollup."""
    li = QUERIES["language_id"].oracle
    return f"""
    WITH li AS ({li})
    SELECT actual_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE actual_lang = predicted_lang) AS BIGINT)
               AS n_correct
    FROM li GROUP BY 1, 2
    """


@register("lang_confusion_matrix", oracle=_confusion_oracle())
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled language vs the trigram
    classifier's prediction (language_id), with the diagonal marked — the
    quality report that decides whether the lang column is trustworthy
    enough to stratify a training mixture on.

    Runs the classifier once and rolls up (actual, predicted); the oracle
    embeds language_id's own SQL verbatim, so the two registrations can
    never drift apart."""
    from ..llmops import textstats as X

    li = X.language_id(load_table(spark, sf_dir, "documents"))
    return li.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("actual_lang") == F.col("predicted_lang")).alias("n_correct"),
    )
