"""Post-window round-4 additions, part 28 (round-5 rotation material):
consistent-hash shard layout and sketch-vs-exact quantile accuracy.

Registered last in queries/__init__.py (after llm34); all oracle-backed.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..llmops import sketches as K
from .registry import register


# --- consistent hashing ------------------------------------------------------

_CH_VNODES = 4


def _ring(n_shards: int) -> list[tuple[int, int]]:
    """(position, shard) ring points, sorted by position. Positions are
    60-bit md5 ints of literal vnode labels — computed HERE in Python, so
    both engines receive them as plain constants (no cross-engine hash
    needed for the ring itself; only the per-key hash runs in-engine)."""
    pts = []
    for s in range(n_shards):
        for v in range(_CH_VNODES):
            h = hashlib.md5(f"shard{s}:v{v}".encode()).hexdigest()
            pts.append((int(h[: K.PORTABLE_HASH_HEX], 16), s))
    return sorted(pts)


def _assign_case_sql(kp: str, ring: list[tuple[int, int]]) -> str:
    """First ring point clockwise of the key position (wrap to the first
    point) as a generated CASE over the sorted literal boundaries."""
    whens = " ".join(f"WHEN {kp} <= {p} THEN {s}" for p, s in ring)
    return f"CASE {whens} ELSE {ring[0][1]} END"


def _assign_col(kp, ring: list[tuple[int, int]]):
    expr = F.lit(ring[0][1])
    for p, s in reversed(ring):
        expr = F.when(kp <= p, F.lit(s)).otherwise(expr)
    return expr


_RING_16 = _ring(16)
_RING_17 = _ring(17)


@register(
    "consistent_hash_rebalance",
    oracle=f"""
    WITH k AS (
        SELECT {K.md5_int_sql("CAST(o_orderkey AS VARCHAR)")} AS kp FROM orders
    ),
    a AS (
        SELECT {_assign_case_sql('kp', _RING_16)} AS shard,
               {_assign_case_sql('kp', _RING_17)} AS shard17
        FROM k
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN shard17 <> shard THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved_on_expand
    FROM a GROUP BY shard
    """,
)
def consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash shard layout audit (Karger et al., 1997): assign
    every order key to one of 16 shards via a 64-vnode hash ring, and
    report per shard how many keys WOULD move if a 17th shard joined —
    the property that makes consistent hashing the shard-assignment of
    choice (≈ n/17 keys move; mod-hashing would move ≈ 16n/17).

    The ring is 64 LITERAL (position, shard) constants baked at build
    time (Python md5 of vnode labels), so assignment is one generated
    comparison chain per row — pure JVM expression, ZERO joins and ZERO
    shuffles before the 16-row census. Only the per-key position uses the
    in-engine portable md5-int.

    Scale: a map-only scan + one 16-group aggregate. Adding a shard
    reruns the same map with one more vnode set — no state migration
    logic anywhere."""
    orders = load_table(spark, sf_dir, "orders")
    kp = K.md5_int(F.col("o_orderkey").cast("string"))
    a = orders.select(
        _assign_col(kp, _RING_16).alias("shard"),
        _assign_col(kp, _RING_17).alias("shard17"),
    )
    return a.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("shard17") != F.col("shard")).cast("int"))
        .cast("long")
        .alias("n_moved_on_expand"),
    )


# --- quantile accuracy -------------------------------------------------------

_QA_BINS = 128
_QA_QS = [(50, 0.5), (90, 0.9), (99, 0.99)]


@register(
    "histogram_quantile_accuracy",
    oracle=f"""
    WITH v AS (
        -- NULL prices excluded on BOTH sides (engine NULL-ordering
        -- defaults differ in the cumulative windows below)
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    b AS (
        SELECT CAST(MIN(cents) AS BIGINT) AS lo, CAST(MAX(cents) AS BIGINT) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v
    ),
    binned AS (
        -- hi = lo (every order at one price) makes the bin width 0:
        -- everything lands in bin 0 by definition, and the division
        -- would crash ANSI Spark
        SELECT CASE WHEN b.hi = b.lo THEN 0
                    ELSE LEAST(CAST(floor((v.cents - b.lo)
                                    / ((b.hi - b.lo) / {_QA_BINS}.0))
                               AS BIGINT), {_QA_BINS - 1}) END AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM v, b GROUP BY 1
    ),
    bcum AS (
        SELECT bin, c,
               CAST(SUM(c) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum
        FROM binned
    ),
    hcum AS (
        SELECT cents,
               CAST(SUM(COUNT(*)) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum
        FROM v GROUP BY cents
    ),
    qs AS (
        SELECT * FROM (VALUES {", ".join(f"({lbl}, {q})" for lbl, q in _QA_QS)})
            AS t(q_pct, q)
    )
    SELECT q_pct, exact_cents, est_cents,
           CAST(abs(est_cents - exact_cents) AS DOUBLE) AS abs_err
    FROM (
        SELECT qs.q_pct,
               (SELECT MIN(cents) FROM hcum, b
                WHERE hcum.cum >= CAST(ceil(qs.q * b.n) AS BIGINT)) AS exact_cents,
               (SELECT round(MIN(b.lo) + (MIN(bin) + 0.5)
                             * ((MIN(b.hi) - MIN(b.lo)) / {_QA_BINS}.0), 6)
                FROM bcum, b
                WHERE bcum.cum >= CAST(ceil(qs.q * b.n) AS BIGINT)) AS est_cents
        FROM qs)
    """,
)
def histogram_quantile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-exact quantile report: P50/P90/P99 of order value from a
    128-bin equi-width histogram (the mergeable one-pass summary every
    monitoring system keeps) next to the EXACT type-1 quantiles from the
    value histogram — the error column is the sketch-resolution audit
    (bounded by one bin width).

    Both quantile paths are histogram-shaped: bounded cumulative windows
    (128 bins / |distinct cents|), never a corpus sort. Bin arithmetic is
    a fixed IEEE sequence on exact integer (lo, hi, n) moments, identical
    cross-engine.

    Scale: one scan -> (min, max, n) broadcast -> map-side binning ->
    two bounded-window rollups."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    b = v.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / float(_QA_BINS)
    binned = (
        v.crossJoin(F.broadcast(b))
        .select(
            # hi = lo -> width 0: bin 0 by definition, mirrored in the
            # oracle's CASE (the division would crash ANSI Spark)
            F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
            .otherwise(
                F.least(
                    F.floor(
                        (F.col("cents") - F.col("lo")) / width
                    ).cast("long"),
                    F.lit(_QA_BINS - 1),
                )
            )
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    bcum = binned.select("bin", F.sum("c").over(wb).cast("long").alias("cum"))
    wh = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    hcum = (
        v.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("cents", F.sum("c").over(wh).cast("long").alias("cum"))
    )
    out = []
    for lbl, q in _QA_QS:
        rank = F.ceil(F.lit(q) * F.col("n")).cast("long")
        exact = (
            hcum.crossJoin(F.broadcast(b))
            .filter(F.col("cum") >= rank)
            .agg(F.min("cents").alias("exact_cents"))
        )
        est = (
            bcum.crossJoin(F.broadcast(b))
            .filter(F.col("cum") >= rank)
            .agg(
                F.round(
                    F.first(F.col("lo"))
                    + (F.min("bin") + 0.5)
                    * ((F.first(F.col("hi")) - F.first(F.col("lo"))) / float(_QA_BINS)),
                    6,
                ).alias("est_cents")
            )
        )
        out.append(
            exact.crossJoin(est).select(
                F.lit(lbl).alias("q_pct"),
                "exact_cents",
                "est_cents",
                F.abs(F.col("est_cents") - F.col("exact_cents"))
                .cast("double")
                .alias("abs_err"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res
