"""Late-round-4 additions registered AFTER the driver window (round-5
rotation material): sketch-merge analytics.

Registered last in queries/__init__.py — the round-4 window is already
a full 50/50 oracle-backed allocation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..llmops import sketches as K
from ..llmops.dedup import tokens_col
from .registry import register

_TOK_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


@register(
    "hll_union_sources",
    oracle=f"""
    WITH st AS MATERIALIZED (
        SELECT DISTINCT source, term FROM (
            SELECT source, unnest({_TOK_SQL}) AS term FROM documents)),
    {K.hll_registers_sql_ctes("term", "source", "st", b=8)},
    {K.hll_estimate_sql_ctes("hll_regs", "hll", b=8)},
    pr AS (
        SELECT a.grp AS sa, b.grp AS sb
        FROM (SELECT DISTINCT grp FROM hll_regs) a
        JOIN (SELECT DISTINCT grp FROM hll_regs) b ON a.grp < b.grp),
    uregs AS MATERIALIZED (
        SELECT pr.sa || '|' || pr.sb AS grp, r.bucket, MAX(r.m_reg) AS m_reg
        FROM pr JOIN hll_regs r ON r.grp = pr.sa OR r.grp = pr.sb
        GROUP BY 1, 2),
    {K.hll_estimate_sql_ctes("uregs", "hu", b=8)},
    ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1),
    exi AS (
        SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_int
        FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
        GROUP BY 1, 2)
    SELECT pr.sa AS source_a, pr.sb AS source_b,
           CAST(ea.n + eb.n - COALESCE(exi.n_int, 0) AS BIGINT) AS n_union_exact,
           CAST(COALESCE(exi.n_int, 0) AS BIGINT) AS n_intersect_exact,
           hu.hll_est AS hll_union_est,
           (ha.hll_est + hb.hll_est) - hu.hll_est AS hll_intersect_est
    FROM pr
    JOIN ex ea ON ea.source = pr.sa
    JOIN ex eb ON eb.source = pr.sb
    LEFT JOIN exi ON exi.sa = pr.sa AND exi.sb = pr.sb
    JOIN hll_agg ha ON ha.grp = pr.sa
    JOIN hll_agg hb ON hb.grp = pr.sb
    JOIN hu_agg hu ON hu.grp = pr.sa || '|' || pr.sb
    """,
)
def hll_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register MERGE: per source-pair, estimate the vocabulary UNION
    by element-wise max of the two sources' registers and the
    INTERSECTION by inclusion-exclusion — next to the exact counts.
    Mergeability is the property that makes HLL work at 100 TB (states
    combine across partitions/epochs/datasets without revisiting data);
    this query exercises it end-to-end and the oracle replays the merged
    estimate bit-for-bit.

    Scale: registers are ≤ sources × 256 rows (bounded control-plane
    state) — every pairwise op here runs on sketch STATE, not data; the
    only corpus-scale work is the one (source, term) distinct. The pair
    enumeration is a self-join of the SOURCE INVENTORY (bounded, like the
    lang inventory windows); exact counts exist for verification and
    would be dropped at scale — they are the quadratic part."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: four consumers (registers, per-source exacts, both sides of
    # the exact-intersection self-join) would otherwise each rescan the
    # corpus — the plan test pins the scan count
    st = (
        docs.select("source", F.explode(tokens_col("text")).alias("term"))
        .distinct()
        .persist()
    )
    regs = K.hll_registers(st, "term", ["source"], b=8).persist()
    est = K.hll_estimate_from_registers(regs, ["source"], b=8).select(
        "source", F.col("hll_est").alias("e")
    )
    srcs = regs.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .join(srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    uregs = (
        pairs.join(
            regs.withColumnRenamed("source", "s"),
            (F.col("s") == F.col("sa")) | (F.col("s") == F.col("sb")),
        )
        .groupBy("sa", "sb", "bucket")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    uest = K.hll_estimate_from_registers(uregs, ["sa", "sb"], b=8).select(
        "sa", "sb", F.col("hll_est").alias("hll_union_est")
    )
    ex = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sta = st.select(F.col("source").alias("sa"), "term")
    stb = st.select(F.col("source").alias("sb"), "term")
    exi = (
        sta.join(stb, "term")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    return (
        pairs.join(ex.select(F.col("source").alias("sa"), F.col("n").alias("na")), "sa")
        .join(ex.select(F.col("source").alias("sb"), F.col("n").alias("nb")), "sb")
        .join(exi, ["sa", "sb"], "left")
        .join(est.select(F.col("source").alias("sa"), F.col("e").alias("ea")), "sa")
        .join(est.select(F.col("source").alias("sb"), F.col("e").alias("eb")), "sb")
        .join(uest, ["sa", "sb"])
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            (F.col("na") + F.col("nb") - F.coalesce(F.col("n_int"), F.lit(0)))
            .cast("long")
            .alias("n_union_exact"),
            F.coalesce(F.col("n_int"), F.lit(0)).cast("long").alias("n_intersect_exact"),
            "hll_union_est",
            ((F.col("ea") + F.col("eb")) - F.col("hll_union_est")).alias(
                "hll_intersect_est"
            ),
        )
    )
