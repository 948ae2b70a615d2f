"""Post-window round-4 additions, part 47 (round-5 rotation material):
record-linkage scoring — Jaro-Winkler comparison and Fellegi-Sunter
evidence weights.

Completes the entity-resolution family: blocking exists
(soundex/sorted-neighborhood), clustering exists (golden_record_merge);
this pack adds the pairwise COMPARATOR (Jaro-Winkler, implemented in
llmops/linkage.py and pinned to the published reference vectors) and
the classic probabilistic match/non-match scoring (Fellegi-Sunter
log-likelihood weights).

Oracle style: the injected pair roster is closed-form in doc_id, the
JW scores are literals produced by the vector-validated reference
implementation at registration, and the FS weights are ln-of-literal
expressions both engines evaluate identically (9-dp ln recipe) — the
Spark side derives every agreement from ACTUAL computed values, the
SQL predicts them from doc_id arithmetic.

Registered last in queries/__init__.py (after llm53); oracle-backed.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (re-exported pattern used by linkage UDF)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops.linkage import jaro_winkler, jw_score_pairs
from .registry import register

_PAIRS = [
    ("martha", "marhta"),  # transposition
    ("dwayne", "duane"),  # deletion + prefix bonus
    ("dixon", "dicksonx"),  # window-limited matches
    ("garcia", "garcia"),  # exact
    ("smith", "jones"),  # dissimilar
    ("lee", ""),  # empty-side edge
]
_JW9 = [round(jaro_winkler(a, b), 9) for a, b in _PAIRS]
_MATCH_TAU = 0.9


def _pair_cols():
    k = len(_PAIRS)
    cls = (F.col("doc_id") % k).cast("int")
    na = F.element_at(F.array(*[F.lit(a) for a, _ in _PAIRS]), cls + 1)
    nb = F.element_at(F.array(*[F.lit(b) for _, b in _PAIRS]), cls + 1)
    return cls, na, nb


def _jw_case_sql() -> str:
    whens = " ".join(f"WHEN {i} THEN {_JW9[i]!r}" for i in range(len(_PAIRS)))
    return f"CASE doc_id % {len(_PAIRS)} {whens} END"


@register(
    "jaro_winkler_linkage",
    oracle=f"""
    WITH m AS (
        SELECT CAST(doc_id % {len(_PAIRS)} AS INTEGER) AS cls,
               CAST({_jw_case_sql()} AS DOUBLE) AS jw
        FROM documents)
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(jw, 9) AS jw,
           CAST(jw >= {_MATCH_TAU!r} AS BOOLEAN) AS is_match
    FROM m GROUP BY cls, jw
    """,
)
def jaro_winkler_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise name comparison: each document carries one of six
    crafted name pairs (transposition, deletion-with-prefix, windowed
    matches, exact, dissimilar, empty side); the vectorized
    Jaro-Winkler UDF scores them and the match decision applies
    tau = {_MATCH_TAU}. The oracle pins each class's score as a literal
    from the reference implementation that the PUBLISHED Winkler
    vectors validate in tests — a wrong matching window, transposition
    count, or prefix cap diverges.

    Scale: blocked candidate pairs -> map-only Arrow-batched scoring;
    no shuffle before the bounded census."""
    docs = load_table(spark, sf_dir, "documents")
    cls, na, nb = _pair_cols()
    pairs = docs.select(cls.alias("cls"), na.alias("a"), nb.alias("b"))
    scored = jw_score_pairs(pairs, "a", "b")
    return scored.groupBy("cls", "jw").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(
        "cls",
        "n_docs",
        F.round(F.col("jw"), 9).alias("jw"),
        (F.col("jw") >= _MATCH_TAU).alias("is_match"),
    )


# Fellegi-Sunter parameters (m = P(agree | match), u = P(agree | non-match))
_FS = {"name": (0.95, 0.05), "domain": (0.9, 0.3)}
_FS_THRESHOLD = 2.0


def _fs_w_sql(field: str, agree: bool) -> str:
    m, u = _FS[field]
    return (
        f"round(ln({m!r} / {u!r}), 9)"
        if agree
        else f"round(ln({1 - m!r} / {1 - u!r}), 9)"
    )


@register(
    "fellegi_sunter_weights",
    oracle=f"""
    WITH m AS (
        SELECT CAST(doc_id % {len(_PAIRS)} AS INTEGER) AS cls,
               CAST({_jw_case_sql()} >= {_MATCH_TAU!r} AS BOOLEAN) AS agree_name,
               CAST(doc_id % 2 = 0 AS BOOLEAN) AS agree_domain
        FROM documents),
    w AS (
        SELECT cls, agree_name, agree_domain,
               CAST(CASE WHEN agree_name THEN {_fs_w_sql("name", True)}
                         ELSE {_fs_w_sql("name", False)} END AS DECIMAL(18,9))
             + CAST(CASE WHEN agree_domain THEN {_fs_w_sql("domain", True)}
                         ELSE {_fs_w_sql("domain", False)} END AS DECIMAL(18,9))
                   AS wt
        FROM m)
    SELECT cls, agree_name, agree_domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(wt AS DOUBLE) AS weight,
           CAST(wt > {_FS_THRESHOLD!r} AS BOOLEAN) AS decide_match
    FROM w GROUP BY cls, agree_name, agree_domain, wt
    """,
)
def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage: two comparison fields (the
    ACTUAL Jaro-Winkler decision from the scoring UDF, and an email
    domain equality derived from the row) contribute
    ln(m/u) / ln((1-m)/(1-u)) evidence weights; pairs above
    {_FS_THRESHOLD} total weight are declared matches — the 1969 model
    every production linkage engine still runs.

    Weights are ln-of-literal expressions 9-dp-pinned and summed as
    exact decimals; agreements come from real computed comparisons on
    the Spark side while the oracle predicts them from doc_id
    arithmetic.

    Scale: map-only scoring + one bounded-pattern census."""
    docs = load_table(spark, sf_dir, "documents")
    cls, na, nb = _pair_cols()
    pairs = docs.select(
        "doc_id",
        cls.alias("cls"),
        na.alias("a"),
        nb.alias("b"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("a.com"))
        .otherwise(F.lit("b.org"))
        .alias("dom_left"),
    )
    scored = jw_score_pairs(pairs, "a", "b")
    agree_name = F.col("jw") >= _MATCH_TAU
    agree_domain = F.col("dom_left") == "a.com"

    def w(field, agree_col):
        m, u = _FS[field]
        return F.when(
            agree_col, F.round(F.log(F.lit(m) / F.lit(u)), 9)
        ).otherwise(F.round(F.log(F.lit(1 - m) / F.lit(1 - u)), 9)).cast(
            "decimal(18,9)"
        )

    wt = w("name", agree_name) + w("domain", agree_domain)
    rows = scored.select(
        "cls",
        agree_name.alias("agree_name"),
        agree_domain.alias("agree_domain"),
        wt.alias("wt"),
    )
    return rows.groupBy("cls", "agree_name", "agree_domain", "wt").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(
        "cls",
        "agree_name",
        "agree_domain",
        "n_docs",
        F.col("wt").cast("double").alias("weight"),
        (F.col("wt") > _FS_THRESHOLD).alias("decide_match"),
    )
