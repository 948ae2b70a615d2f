"""Post-window round-4 additions, part 41 (round-5 rotation material):
graph reachability, target encoding, and a zlib compressibility audit.

- ``bfs_hop_distance`` completes the graph-operator family (CC llm-pack,
  PageRank llm8, triangles llm10, label propagation llm21) with the
  multi-source shortest-path primitive. All-integer state: no rounding
  recipe needed at all — the unrolled-CTE oracle replays the frontier
  expansion exactly.
- ``target_encode_brand`` is the classic supervised feature-prep
  operator (smoothed category -> mean-target encoding).
- ``zlib_ratio_classes`` runs REAL stdlib-zlib compression (the
  RedPajama-style compressibility quality signal) over fixed payload
  classes whose compressed sizes the oracle pins as literals computed
  once at module import — a wrong level, wrong payload routing, or
  corrupted bytes fails the hash.

Registered last in queries/__init__.py (after llm47); oracle-backed.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import load_table
from .registry import register


# --- multi-source BFS -------------------------------------------------------

_HOT_PART = 20  # same bounded-fanout cap as the triangle query (llm10)
_SEED_MOD = 25
_HOPS = 3

_EDGES_SQL = f"""
    ps AS MATERIALIZED (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok_parts AS (
        SELECT l_partkey FROM ps GROUP BY 1
        HAVING COUNT(*) BETWEEN 2 AND {_HOT_PART}),
    edges AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS sa, b.l_suppkey AS sb
        FROM ps a JOIN ok_parts USING (l_partkey)
        JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey)
"""


def _bfs_iter_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
        SELECT node, CAST(MIN(hops) AS INTEGER) AS hops FROM (
            SELECT node, hops FROM {prev}
            UNION ALL
            SELECT e.sb AS node, d.hops + 1 AS hops
            FROM {prev} d JOIN edges e ON e.sa = d.node)
        GROUP BY 1)"""


@register(
    "bfs_hop_distance",
    oracle=f"""
    WITH {_EDGES_SQL},
    d0 AS MATERIALIZED (
        SELECT s_suppkey AS node, CAST(0 AS INTEGER) AS hops FROM supplier
        WHERE s_suppkey % {_SEED_MOD} = 0),
    {_bfs_iter_sql("d0", "d1")},
    {_bfs_iter_sql("d1", "d2")},
    {_bfs_iter_sql("d2", "d3")}
    SELECT node AS s_suppkey, hops FROM d3
    """,
)
def bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: hop distance (<= {_HOPS}) from the seed set
    (every {_SEED_MOD}th supplier) over the co-supply graph — the
    reachability primitive behind contamination spread, fraud blast
    radius, and recall-expansion analyses. Frontier rule per round:
    dist = min(dist, neighbor dist + 1), i.e. Bellman-Ford specialised
    to unit weights, converging monotonically.

    Determinism is free: state is (node, integer hops) under min —
    order-independent with no float anywhere, so the oracle is a plain
    unrolled CTE chain with no rounding recipe.

    Scale: edge build is the corpus-touching part (hot-part cap bounds
    pair fanout, one distinct); each of the {_HOPS} rounds is one
    node-keyed shuffle of the FRONTIER-reachable subgraph — the
    standard iterative pattern (Pregel's) with bounded rounds."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    ok = (
        ps.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= _HOT_PART))
        .select("l_partkey")
    )
    a = ps.select("l_partkey", F.col("l_suppkey").alias("sa")).join(ok, "l_partkey")
    b = ps.select("l_partkey", F.col("l_suppkey").alias("sb"))
    edges = (
        a.join(b, "l_partkey")
        .filter(F.col("sa") != F.col("sb"))
        .select("sa", "sb")
        .distinct()
        .persist()  # one consumer per BFS round
    )
    dist = sup.filter(F.col("s_suppkey") % _SEED_MOD == 0).select(
        F.col("s_suppkey").alias("node"), F.lit(0).cast("int").alias("hops")
    )
    for _ in range(_HOPS):
        prop = (
            dist.join(edges, dist["node"] == edges["sa"])
            .select(F.col("sb").alias("node"), (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.unionByName(prop)
            .groupBy("node")
            .agg(F.min("hops").cast("int").alias("hops"))
        )
    return dist.select(F.col("node").alias("s_suppkey"), "hops")


# --- smoothed target encoding ----------------------------------------------

_TE_M = 10.0  # smoothing pseudo-count


@register(
    "target_encode_brand",
    oracle=f"""
    WITH j AS (
        SELECT p.p_brand, l.l_extendedprice AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    g AS (
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(y AS DECIMAL(18,2))) AS sy
        FROM j GROUP BY 1),
    gl AS (
        SELECT CAST(SUM(n) AS BIGINT) AS gn,
               CAST(SUM(sy) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS gmean
        FROM g)
    SELECT p_brand,
           n AS n_rows,
           gl.gmean AS global_mean,
           (CAST(sy AS DOUBLE) + ({_TE_M!r} * gl.gmean))
                 / (CAST(n AS DOUBLE) + {_TE_M!r}) AS enc_price
    FROM g CROSS JOIN gl
    """,
)
def target_encode_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of part brand against line price —
    the standard high-cardinality categorical feature for gradient-boosted
    models: enc = (sum_y + m*global_mean) / (n + m) with m = {_TE_M}
    pseudo-observations pulling rare categories toward the prior.

    Exact decimal target sums on both levels; the encoding itself is one
    mirrored double expression over (exact sum, exact count, one global
    mean division).

    Scale: one broadcast dimension join (part is the small side), one
    brand-keyed partial agg, and a broadcast single-row prior — no
    corpus-sized shuffle beyond the aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pb = part.select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pb), li["l_partkey"] == pb["p_partkey"]).select(
        "p_brand", F.col("l_extendedprice").alias("y")
    )
    g = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y").cast("decimal(18,2)")).alias("sy"),
    )
    glob = g.agg(
        F.sum("n").cast("long").alias("gn"),
        (F.sum("sy").cast("double") / F.sum("n").cast("long")).alias("gmean"),
    )
    return g.crossJoin(F.broadcast(glob)).select(
        "p_brand",
        F.col("n").alias("n_rows"),
        # rule 14 (r12 strip): sy's exact DECIMAL(18,2) sums stay ~3900x
        # under 2^53 unscaled at sf0.1 (exact ->DOUBLE casts), and the
        # encoding is a mirrored fixed IEEE expression tree over those
        # deterministic operands — raw is bit-identical; round could
        # only mask.
        F.col("gmean").alias("global_mean"),
        (
            (F.col("sy").cast("double") + (F.lit(_TE_M) * F.col("gmean")))
            / (F.col("n").cast("double") + F.lit(_TE_M))
        ).alias("enc_price"),
    )


# --- zlib compressibility classes -------------------------------------------

#: class payloads: highly repetitive / pseudo-random / short constant.
#: FIXED strings, so each class's deflate size is one constant the oracle
#: pins below (computed from the same bytes at module import).
import hashlib as _hashlib

_ZPAY = {
    0: "the quick brown fox jumps over the lazy dog " * 12,
    1: "".join(
        _hashlib.md5(f"entropy{i}".encode()).hexdigest() for i in range(10)
    ),
    2: "structured boilerplate header v1 " * 6,
}
_ZLEVEL = 6
_ZCOMP = {k: len(zlib.compress(v.encode("utf-8"), _ZLEVEL)) for k, v in _ZPAY.items()}


@register(
    "zlib_ratio_classes",
    oracle=f"""
    WITH cls AS (
        SELECT doc_id % 3 AS cls FROM documents)
    SELECT CAST(cls AS INTEGER) AS cls,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) * CASE cls WHEN 0 THEN {len(_ZPAY[0].encode())}
                                    WHEN 1 THEN {len(_ZPAY[1].encode())}
                                    ELSE {len(_ZPAY[2].encode())} END AS BIGINT)
               AS raw_bytes,
           CAST(COUNT(*) * CASE cls WHEN 0 THEN {_ZCOMP[0]}
                                    WHEN 1 THEN {_ZCOMP[1]}
                                    ELSE {_ZCOMP[2]} END AS BIGINT) AS comp_bytes,
           round(CAST(COUNT(*) * CASE cls WHEN 0 THEN {_ZCOMP[0]}
                                         WHEN 1 THEN {_ZCOMP[1]}
                                         ELSE {_ZCOMP[2]} END AS DOUBLE)
                 / CAST(COUNT(*) * CASE cls WHEN 0 THEN {len(_ZPAY[0].encode())}
                                            WHEN 1 THEN {len(_ZPAY[1].encode())}
                                            ELSE {len(_ZPAY[2].encode())} END
                        AS BIGINT), 9) AS ratio
    FROM cls GROUP BY cls
    """,
)
def zlib_ratio_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (real stdlib zlib, level
    {_ZLEVEL}): each document is routed to one of three payload classes
    (repetitive prose / high-entropy hex / boilerplate) and DEFLATED in
    an Arrow-batched UDF; per class the query reports raw size, deflate
    size, and the ratio — the compressibility heuristic corpus filters
    use to drop keyboard-mash and templated boilerplate.

    The oracle pins each class's deflate size as a literal derived from
    the same fixed bytes at registration time — computed once on the
    driver, verified against what every executor's compressor actually
    produced (a different level or corrupted routing diverges). See
    tests for the on-real-text ordering property (repetitive < random).

    Scale: per-row vectorized compression + one 3-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    cls = (F.col("doc_id") % 3).cast("int")
    pay = (
        F.when(cls == 0, F.lit(_ZPAY[0]))
        .when(cls == 1, F.lit(_ZPAY[1]))
        .otherwise(F.lit(_ZPAY[2]))
    )
    routed = docs.select(cls.alias("cls"), pay.alias("pay"))

    @pandas_udf("long")
    def _deflate_len(pay: pd.Series) -> pd.Series:
        return pay.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), _ZLEVEL))
        ).astype("int64")

    # octet_length (bytes), not length (chars): comp counts the UTF-8
    # byte stream, so raw must too — equal only while the payloads stay
    # pure ASCII, and "raw_bytes" should measure what its name claims
    z = routed.select("cls", F.octet_length(F.col("pay")).cast("long").alias("raw"),
                      _deflate_len(F.col("pay")).alias("comp"))
    return z.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("raw").cast("long").alias("raw_bytes"),
        F.sum("comp").cast("long").alias("comp_bytes"),
        F.round(
            F.sum("comp").cast("double") / F.sum("raw").cast("long"), 9
        ).alias("ratio"),
    )
