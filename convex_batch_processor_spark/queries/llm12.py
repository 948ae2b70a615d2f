"""Post-window round-4 additions, part 5 (round-5 rotation material):
physical-layout and survey-sampling operators — Z-order (Morton)
clustering stats and Neyman-allocation stratified sampling.

Registered last in queries/__init__.py (after llm11); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..sources.sinks import morton_interleave, morton_interleave_sql
from .registry import register


# ---------------------------------------------------------------------------
# Z-order layout statistics
# ---------------------------------------------------------------------------

_Z_BITS = 8
_Z_BUCKET_SHIFT = 10  # 16-bit code >> 10 = 64 coarse buckets


@register(
    "zorder_layout_stats",
    oracle=f"""
    WITH b AS (
        SELECT CAST(MIN(o_custkey) AS BIGINT) AS ck0, CAST(MAX(o_custkey) AS BIGINT) AS ck1,
               MIN(CAST(o_orderdate AS DATE)) AS d0, MAX(CAST(o_orderdate AS DATE)) AS d1
        FROM orders
    ),
    norm AS (
        SELECT o.o_custkey AS ck,
               date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS dd,
               ((o.o_custkey - b.ck0) * {(1 << _Z_BITS) - 1})
                   // greatest(b.ck1 - b.ck0, 1) AS ckn,
               (date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) * {(1 << _Z_BITS) - 1})
                   // greatest(date_diff('day', b.d0, b.d1), 1) AS dn
        FROM orders o CROSS JOIN b
    ),
    coded AS (
        SELECT ck, dd, {morton_interleave_sql("ckn", "dn", _Z_BITS)} >> {_Z_BUCKET_SHIFT}
                   AS bucket
        FROM norm
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(ck) AS BIGINT) AS ck_min, CAST(MAX(ck) AS BIGINT) AS ck_max,
           CAST(MIN(dd) AS BIGINT) AS day_min, CAST(MAX(dd) AS BIGINT) AS day_max
    FROM coded GROUP BY 1
    """,
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit: interleave normalized
    (customer, order-day) into a 16-bit code, bucket by its top bits, and
    report each bucket's span in BOTH dimensions — the min/max file-stats
    a Z-ordered layout (sinks.write_zordered) would give every file.
    Every bucket bounds customer range AND date range simultaneously,
    which is what lets either predicate prune files; a plain sort bounds
    only its leading column.

    All arithmetic is exact integers (min-max normalize by integer
    division, bit interleave by shift/mask), so the audit is
    bit-identical across engines. Scale: bounds are a broadcast scalar
    row; coding is map-side; the rollup has <= 2^(16-{_Z_BUCKET_SHIFT})
    groups."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_custkey").alias("ck0"),
        F.max("o_custkey").alias("ck1"),
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    top = (1 << _Z_BITS) - 1
    norm = orders.crossJoin(F.broadcast(b)).select(
        F.col("o_custkey").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("dd"),
        F.expr(f"((o_custkey - ck0) * {top}) div greatest(ck1 - ck0, 1)").alias("ckn"),
        F.expr(
            f"(datediff(cast(o_orderdate as date), d0) * {top})"
            f" div greatest(datediff(d1, d0), 1)"
        ).alias("dn"),
    )
    coded = norm.select(
        "ck",
        "dd",
        F.shiftright(
            morton_interleave(F.col("ckn"), F.col("dn"), _Z_BITS), _Z_BUCKET_SHIFT
        ).alias("bucket"),
    )
    return coded.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
        F.min("dd").cast("long").alias("day_min"),
        F.max("dd").cast("long").alias("day_max"),
    )


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling
# ---------------------------------------------------------------------------

_NEY_TOTAL = 1000  # sample size to apportion


@register(
    "neyman_allocation",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nh,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DECIMAL(38,0)) AS sc,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)
                        * CAST(round(value * 100) AS BIGINT)) AS DECIMAL(38,0)) AS ssc
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    ),
    w AS (
        SELECT event_type, nh,
               CAST(round(CAST(nh AS DOUBLE) * sqrt(
                   (CAST(ssc AS DOUBLE)
                    - (CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / CAST(nh AS DOUBLE))
                   / (CAST(nh AS DOUBLE) - 1.0)) * 100) AS BIGINT) AS wi
        FROM s WHERE nh > 1
    ),
    tot AS (SELECT CAST(SUM(wi) AS BIGINT) AS tw FROM w),
    d AS (
        SELECT event_type, nh, wi,
               CAST(({_NEY_TOTAL} * wi) // tw AS BIGINT) AS base,
               CAST(({_NEY_TOTAL} * wi) % tw AS BIGINT) AS rem
        FROM w CROSS JOIN tot
    ),
    r AS (
        -- event_type NULLS FIRST pinned on both sides: a NULL stratum
        -- tying another stratum's rem took the +1 unit on one engine only
        SELECT *, row_number() OVER (ORDER BY rem DESC, event_type ASC NULLS FIRST) AS rk,
               {_NEY_TOTAL} - CAST(SUM(base) OVER () AS BIGINT) AS leftover
        FROM d
    )
    SELECT event_type, nh AS n_stratum, wi AS weight_scaled,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM r
    """,
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling plan: apportion a
    {_NEY_TOTAL}-row sample across event-type strata proportionally to
    N_h * S_h (stratum size x stratum std-dev) — the variance-minimizing
    allocation for estimating the population mean, vs the proportional
    allocation stratified_sample_systematic uses.

    Determinism: stratum sums run on exact integer CENTS in decimal; the
    variance is a FIXED sequence of single IEEE ops on exactly-represented
    operands (identical in any engine), sqrt is IEEE-exact, and the weight
    is scaled x100 and rounded to an INTEGER — after which the
    apportionment is the pure-integer largest-remainder scheme
    (token_budget_allocation). Windows run over the bounded stratum table.

    Scale: one corpus scan -> per-stratum (n, sum, sum-of-squares);
    everything after is control-plane."""
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("long")
    s = (
        ev.filter(F.col("value").isNotNull())
        .select("event_type", vc.alias("vc"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("nh"),
            F.sum(F.col("vc").cast("decimal(38,0)")).alias("sc"),
            F.sum((F.col("vc") * F.col("vc")).cast("decimal(38,0)")).alias("ssc"),
        )
    )
    nhd = F.col("nh").cast("double")
    var = (
        F.col("ssc").cast("double")
        - (F.col("sc").cast("double") * F.col("sc").cast("double")) / nhd
    ) / (nhd - F.lit(1.0))
    w = s.filter(F.col("nh") > 1).select(
        "event_type",
        "nh",
        # round to an INTEGER (x*100 first): round(x,2)*100 would re-enter
        # float land (…703.9999) where DuckDB's double->bigint cast rounds
        # but Spark's truncates — integral doubles cast exactly in both
        F.round(nhd * F.sqrt(var) * 100, 0).cast("long").alias("wi"),
    )
    tot = w.agg(F.sum("wi").cast("long").alias("tw"))
    d = w.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "nh",
        "wi",
        F.expr(f"CAST(({_NEY_TOTAL} * wi) div tw AS BIGINT)").alias("base"),
        F.expr(f"CAST(({_NEY_TOTAL} * wi) % tw AS BIGINT)").alias("rem"),
    )
    r = d.withColumn(
        "leftover", F.lit(_NEY_TOTAL) - F.sum("base").over(Window.partitionBy())
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("event_type").asc_nulls_first())
        ),
    )
    return r.select(
        "event_type",
        F.col("nh").alias("n_stratum"),
        F.col("wi").alias("weight_scaled"),
        (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long")).alias("alloc"),
    )


# ---------------------------------------------------------------------------
# Portable cosine-LSH near-dup (fully oracle-replayable banding)
# ---------------------------------------------------------------------------

_PLSH_BANDS = 4
_PLSH_BITS = 4
_PLSH_DIM = 64
_PLSH_SEED = 42
_PLSH_THRESHOLD = 0.42


def _plsh_oracle() -> str:
    """DuckDB twin of the 4x4 literal-hyperplane banding: bucket = sign
    bits of list_dot_product against the SAME 6-dp plane literals the
    Spark side bakes into its fold (sequential fold == list_dot_product
    bit-for-bit, NOTES). CTE chain shared with semantic_dedup_keep
    (sqlfrags.plsh_pair_ctes)."""
    from .sqlfrags import plsh_pair_ctes

    ctes = plsh_pair_ctes(
        _PLSH_BANDS, _PLSH_BITS, _PLSH_DIM, _PLSH_SEED, _PLSH_THRESHOLD
    )
    return f"WITH {ctes} SELECT vec_id_a, vec_id_b, sim FROM ppairs"


@register("cosine_lsh_portable_neardup", oracle=_plsh_oracle())
def cosine_lsh_portable_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH near-dup, ENGINE-PORTABLE VERIFICATION
    VARIANT: {bands}x{bits} literal hyperplanes evaluated as JVM
    sequential folds (== DuckDB list_dot_product bit-for-bit), bucket
    equi-join candidates, exact 6-dp cosine rerank — the whole banded
    pipeline (signatures, banding, candidates, rerank) replayed by the
    oracle, the cosine twin of minhash_portable_neardup.

    The PRODUCTION path is cosine_neardup_bucketed (24x4 planes in one
    Arrow matmul — 96 Column folds would blow up codegen; recall >= 0.98
    at this threshold). This portable variant keeps the plane count where
    Column math is cheap; its banding recall (~1-(1-p^4)^4) is
    deliberately traded for end-to-end cross-engine verifiability —
    precision of emitted pairs is exactly 1.0 (every pair reranked
    exactly), and the candidate plan shape is the same O(n*bands)
    equi-join as production. (Pipeline factored to
    similarity.cosine_neardup_pairs_portable in round 5 so
    semantic_dedup(portable=True) shares it.)"""
    from ..llmops.similarity import cosine_neardup_pairs_portable

    return cosine_neardup_pairs_portable(
        load_table(spark, sf_dir, "embeddings"),
        threshold=_PLSH_THRESHOLD,
        n_bands=_PLSH_BANDS,
        bits_per_band=_PLSH_BITS,
        dim=_PLSH_DIM,
        seed=_PLSH_SEED,
    )


cosine_lsh_portable_neardup.__doc__ = cosine_lsh_portable_neardup.__doc__.format(
    bands=_PLSH_BANDS, bits=_PLSH_BITS
)
