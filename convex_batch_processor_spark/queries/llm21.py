"""Post-window round-4 additions, part 14 (round-5 rotation material):
label-propagation community detection.

Registered last in queries/__init__.py (after llm20); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .llm10 import _cosupply_pairs
from .registry import register


_LPA_HOT_PART = 20
_LPA_ROUNDS = 3


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous LPA round as DuckDB CTE text: each node adopts the
    MODE of its neighbors' labels (count desc, label asc tiebreak)."""
    return f"""
    {out} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, p.label,
                   row_number() OVER (
                       PARTITION BY e.dst
                       ORDER BY COUNT(*) DESC, p.label ASC) AS rk
            FROM edges e JOIN {prev} p ON p.node = e.src
            GROUP BY e.dst, p.label
        ) WHERE rk = 1
    )"""


@register(
    "label_propagation_communities",
    oracle=f"""
    WITH ps AS MATERIALIZED (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok_parts AS (
        SELECT l_partkey FROM ps GROUP BY 1
        HAVING COUNT(*) BETWEEN 2 AND {_LPA_HOT_PART}),
    und AS (
        SELECT DISTINCT a.l_suppkey AS sa, b.l_suppkey AS sb
        FROM ps a JOIN ok_parts USING (l_partkey)
        JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
    edges AS MATERIALIZED (
        SELECT sa AS src, sb AS dst FROM und
        UNION ALL SELECT sb, sa FROM und),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {_lpa_round_sql("l0", "l1")},
    {_lpa_round_sql("l1", "l2")},
    {_lpa_round_sql("l2", "l3")}
    SELECT node AS s_suppkey, label AS community FROM l3
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan's
    LPA, {_LPA_ROUNDS} rounds) on the supplier co-supply graph: every
    node adopts the most common label among its neighbors each round
    (deterministic tie: count desc, min label) — the cheap first-pass
    community algorithm, complementing connected components (which finds
    REACHABILITY, not density) and triangle counting (which scores
    local density but does not partition).

    Determinism: labels are node ids, votes are integer counts, ties
    break lexicographically, and rounds are SYNCHRONOUS — the exact
    fixpoint is engine-reproducible, so three unrolled CTEs replay it.

    Scale: each round is one equi-join of the edge list (persisted; hot
    parts capped before pair expansion) with the label table + a
    node-keyed vote rollup — the textbook Pregel step as DataFrame ops;
    rounds are O(diameter)-ish like the CC operator's propagation."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE part-keyed aggregation + map-side pair expansion replaces the
    # former distinct + count filter + part-keyed self-join — the shared
    # _cosupply_pairs edge build (see its docstring; guide §2.3/§2.4)
    und = _cosupply_pairs(li, _LPA_HOT_PART)
    edges = (
        und.select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .unionAll(und.select(F.col("sb").alias("src"), F.col("sa").alias("dst")))
        # per-iteration consumer of the same edge set; deliberate
        # session-lifetime cache, released by the caller / LRU (ADVICE r8)
        .persist()
    )
    lbl = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # the (cnt desc, label asc → rk=1) row_number window per round is the
    # argmax max(struct(cnt, -label)) — identical winner (labels are
    # suppkeys, integer negation is exact); a node-keyed hash aggregation
    # replaces the sort+window pass each round (guide §2.4)
    for _ in range(_LPA_ROUNDS):
        votes = (
            edges.join(lbl.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        lbl = (
            votes.groupBy("node")
            .agg(
                F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("_neg"))).alias("_m")
            )
            .select("node", (-F.col("_m._neg")).alias("label"))
        )
    return lbl.select(F.col("node").alias("s_suppkey"), F.col("label").alias("community"))
