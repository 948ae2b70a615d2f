"""Post-window round-4 additions, part 37 (round-5 rotation material):
in-engine model fitting and probability calibration — multi-feature OLS
by exact normal equations, and a reliability/ECE/Brier evaluation of a
smoothed classifier.

llm27 fit a 1-feature trend from exact moments; this pack generalises
to the 3-parameter normal equations solved by an EXPLICIT Cramer
expansion. Determinism: every X'X / X'y moment is an exact decimal sum
(order-independent), and the determinant arithmetic is written as ONE
fixed expression tree over doubles — IEEE +,-,* are bit-identical
across engines when the expression shape is mirrored, so the
coefficients match without any iterative solver or matrix library.

Registered last in queries/__init__.py (after llm43); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# Shared moment list for the OLS query: y = l_extendedprice,
# x1 = l_quantity, x2 = l_discount (all exact 2-dp decimals).
_MOMENTS_SQL = """
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS s2,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS s12,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS s22,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
    FROM lineitem
"""


@register(
    "ols_price_normal_eq",
    oracle=f"""
    WITH m AS ({_MOMENTS_SQL}),
    d AS (
        SELECT n_rows, n, sy, s1y, s2y, syy,
               (n  * ((s11 * s22) - (s12 * s12)))
             - (s1 * ((s1  * s22) - (s12 * s2 )))
             + (s2 * ((s1  * s12) - (s11 * s2 ))) AS det,
               (sy * ((s11 * s22) - (s12 * s12)))
             - (s1 * ((s1y * s22) - (s12 * s2y)))
             + (s2 * ((s1y * s12) - (s11 * s2y))) AS det0,
               (n  * ((s1y * s22) - (s12 * s2y)))
             - (sy * ((s1  * s22) - (s12 * s2 )))
             + (s2 * ((s1  * s2y) - (s1y * s2 ))) AS det1,
               (n  * ((s11 * s2y) - (s1y * s12)))
             - (s1 * ((s1  * s2y) - (s1y * s2 )))
             + (sy * ((s1  * s12) - (s11 * s2 ))) AS det2
        FROM m),
    b AS (
        SELECT n_rows, n, sy, s1y, s2y, syy,
               det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
        FROM d)
    SELECT n_rows,
           round(b0, 9) AS beta0,
           round(b1, 9) AS beta1,
           round(b2, 9) AS beta2,
           round(1.0 - ((syy - (((b0 * sy) + (b1 * s1y)) + (b2 * s2y)))
                        / (syy - ((sy * sy) / n))), 9) AS r2
    FROM b
    """,
)
def ols_price_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-parameter OLS fit extendedprice ~ quantity + discount solved by
    the normal equations with an explicit 3x3 Cramer expansion — a full
    multi-feature regression as ONE distributed aggregate plus
    driver-free scalar math (no MLlib, no iteration, no collect).

    Determinism contract: the ten X'X / X'y moments are exact decimal
    sums cast once to double; the determinant/coefficient/R^2 arithmetic
    is a fixed expression tree mirrored token-for-token in the oracle
    (IEEE doubles are bit-identical under identical shape). ``pow`` and
    float re-association never appear.

    Rule-14 KEEP (measured at the r12 swap): syy's exact decimal sum has
    unscaled value 2.2e19 >> 2^53 at sf0.1, and DuckDB's DECIMAL->DOUBLE
    cast was measured 1 ulp off the correctly-rounded value Spark
    produces — the output round(,9)s are LEAF-ABSORPTION of that drift
    (values are O(1)-O(10), so a 9-dp tie is measure-zero), exactly the
    zipf_vocab_fit counter-case. Stripping them would fail sf0.1 parity.

    Scale: one scan -> one partial-agg reduce to a single moment row;
    the solve is O(1) regardless of corpus size. Adding features grows
    the moment count quadratically but the plan shape not at all."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    dc = F.col("l_discount").cast("decimal(4,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(dc).cast("double").alias("s2"),
        F.sum(q * q).cast("double").alias("s11"),
        F.sum(q * dc).cast("double").alias("s12"),
        F.sum(dc * dc).cast("double").alias("s22"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(q * y).cast("double").alias("s1y"),
        F.sum(dc * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    c = F.col
    det = (
        (c("n") * ((c("s11") * c("s22")) - (c("s12") * c("s12"))))
        - (c("s1") * ((c("s1") * c("s22")) - (c("s12") * c("s2"))))
        + (c("s2") * ((c("s1") * c("s12")) - (c("s11") * c("s2"))))
    )
    det0 = (
        (c("sy") * ((c("s11") * c("s22")) - (c("s12") * c("s12"))))
        - (c("s1") * ((c("s1y") * c("s22")) - (c("s12") * c("s2y"))))
        + (c("s2") * ((c("s1y") * c("s12")) - (c("s11") * c("s2y"))))
    )
    det1 = (
        (c("n") * ((c("s1y") * c("s22")) - (c("s12") * c("s2y"))))
        - (c("sy") * ((c("s1") * c("s22")) - (c("s12") * c("s2"))))
        + (c("s2") * ((c("s1") * c("s2y")) - (c("s1y") * c("s2"))))
    )
    det2 = (
        (c("n") * ((c("s11") * c("s2y")) - (c("s1y") * c("s12"))))
        - (c("s1") * ((c("s1") * c("s2y")) - (c("s1y") * c("s2"))))
        + (c("sy") * ((c("s1") * c("s12")) - (c("s11") * c("s2"))))
    )
    d = m.select(
        "n_rows", "n", "sy", "s1y", "s2y", "syy",
        det.alias("det"), det0.alias("det0"), det1.alias("det1"), det2.alias("det2"),
    )
    b = d.select(
        "n_rows", "n", "sy", "s1y", "s2y", "syy",
        (c("det0") / c("det")).alias("b0"),
        (c("det1") / c("det")).alias("b1"),
        (c("det2") / c("det")).alias("b2"),
    )
    sse = c("syy") - (((c("b0") * c("sy")) + (c("b1") * c("s1y"))) + (c("b2") * c("s2y")))
    sst = c("syy") - ((c("sy") * c("sy")) / c("n"))
    return b.select(
        "n_rows",
        F.round(c("b0"), 9).alias("beta0"),
        F.round(c("b1"), 9).alias("beta1"),
        F.round(c("b2"), 9).alias("beta2"),
        F.round(F.lit(1.0) - (sse / sst), 9).alias("r2"),
    )


# Laplace-smoothed per-quantity model (llm42's logloss model) reused for
# the calibration queries: pi_v = (pos_v + 1)/(c_v + 2), a double that is
# one division of exact integers (bit-identical), then 9-dp pinned.
_PI_SQL = """
    hist AS (
        SELECT l_quantity AS v,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS p
        FROM lineitem GROUP BY 1),
    pi AS (
        SELECT v, c, p,
               round((p + 1.0) / (c + 2.0), 9) AS pi9
        FROM hist)
"""


@register(
    "calibration_bins",
    oracle=f"""
    WITH {_PI_SQL}
    SELECT CAST(least(49, CAST(floor(pi9 * 50) AS INTEGER)) AS INTEGER) AS bin,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(c AS DECIMAL(12,0)) * CAST(pi9 AS DECIMAL(12,9)))
                AS DOUBLE) / SUM(c) AS avg_conf,
           CAST(SUM(p) AS DOUBLE) / SUM(c) AS frac_pos
    FROM pi
    GROUP BY 1
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the Laplace-smoothed per-quantity return
    model: rows bucketed into 50 confidence bins with mean predicted
    probability vs empirical positive rate — the standard calibration
    diagnostic next to AUC (ranking) and log-loss (scoring).

    The per-value probability collapses onto the ~50-row quantity
    histogram, so binning and both rates are computed from counts, with
    the confidence average an exact (count x 9-dp-decimal) sum.

    Scale: one class-count shuffle; everything after lives on the
    bounded histogram."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("p"),
    )
    pi9 = F.round((F.col("p") + 1.0) / (F.col("c") + 2.0), 9)
    pi = hist.select("v", "c", "p", pi9.alias("pi9"))
    return pi.groupBy(
        F.least(F.lit(49), F.floor(F.col("pi9") * 50).cast("int")).alias("bin")
    ).agg(
        F.sum("c").cast("long").alias("n_rows"),
        # rule 14 (r12 strip): both rates are single IEEE divisions of
        # deterministic operands — the avg_conf numerator is an exact
        # DECIMAL(24,9) sum whose unscaled value stays far under 2^53
        # (measured sf0.1 max 1.75e14, 51x headroom), so its ->DOUBLE
        # cast is exact; frac_pos is int/int. The pre-aggregation pi9
        # round is the load-bearing decimal-grid pin and stays.
        (
            F.sum(
                F.col("c").cast("decimal(12,0)") * F.col("pi9").cast("decimal(12,9)")
            ).cast("double")
            / F.sum("c")
        ).alias("avg_conf"),
        (F.sum("p").cast("double") / F.sum("c")).alias("frac_pos"),
    )


@register(
    "calibration_ece_brier",
    oracle=f"""
    WITH {_PI_SQL},
    bins AS (
        SELECT CAST(least(49, CAST(floor(pi9 * 50) AS INTEGER)) AS INTEGER) AS bin,
               CAST(SUM(c) AS BIGINT) AS nb,
               round(CAST(SUM(CAST(c AS DECIMAL(12,0)) * CAST(pi9 AS DECIMAL(12,9)))
                          AS DOUBLE) / SUM(c), 9) AS avg_conf,
               round(CAST(SUM(p) AS DOUBLE) / SUM(c), 9) AS frac_pos
        FROM pi GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
    brier AS (
        -- each exact (38,18) product is re-narrowed to scale 9 BEFORE
        -- the sum, via EXPLICIT round(x, 9) — round-half-away-from-zero
        -- in both engines, unlike a bare downscale CAST (Spark HALF_UP,
        -- DuckDB truncates). The narrowing fixes two 1-ulp drifts the
        -- old final round(, 9) masked: at scale 18 the per-row
        -- term1 + term2 needs precision 39, which Spark resolves by
        -- rounding every row at scale 17 while DuckDB stays exact, and
        -- the scale-18 sum's unscaled value overflows 2^52, where Java
        -- (parseDouble) and DuckDB ((double)int / 10^scale) round the
        -- double conversion differently (exposed by the rule-14 strip)
        SELECT CAST(SUM(
                   CAST(round(CAST(p AS DECIMAL(12,0))
                       * (CAST(1 AS DECIMAL(2,0)) - CAST(pi9 AS DECIMAL(12,9)))
                       * (CAST(1 AS DECIMAL(2,0)) - CAST(pi9 AS DECIMAL(12,9))),
                        9) AS DECIMAL(24,9))
                 + CAST(round(CAST(c - p AS DECIMAL(12,0))
                       * CAST(pi9 AS DECIMAL(12,9)) * CAST(pi9 AS DECIMAL(12,9)),
                        9) AS DECIMAL(24,9))
               ) AS DOUBLE) AS sq
        FROM pi)
    SELECT tot.n AS n_rows,
           CAST(SUM(CAST(nb AS DECIMAL(12,0))
                    * CAST(round(abs(avg_conf - frac_pos), 9) AS DECIMAL(12,9)))
                AS DOUBLE) / tot.n AS ece,
           brier.sq / tot.n AS brier
    FROM bins CROSS JOIN tot CROSS JOIN brier
    GROUP BY tot.n, brier.sq
    """,
)
def calibration_ece_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error (50-bin, count-weighted |conf - acc|)
    and the exact Brier score of the smoothed per-quantity model — the
    single-row summary of the calibration_bins table.

    Brier uses the histogram identity Sum_v [p_v(1-pi)^2 + (c_v-p_v)pi^2]
    with pi pinned at 9 dp, so the squared-error mass is an exact decimal
    sum; ECE weights each bin's 9-dp gap by its exact row count. Both
    reduce by one double division at the end, emitted UNROUNDED (rule 14:
    rounding an exact-decimal ratio lands on .5e-9 ties the engines break
    differently; the raw division of deterministic operands is bit-exact).

    Rule-15b headroom bound (holds to ~4.5e6): the brier accumulator
    sums scale-9 DECIMAL(24,9) terms, so its unscaled value passes 2^52
    once the squared-error mass sq exceeds ~4.5e6 — roughly sf1
    lineitem volume — after which the exact-decimal-to-double
    conversion can differ by an ulp between engines (Java parseDouble
    vs DuckDB (double)int/10^scale) and the hash gate can fail. To buy
    headroom at larger corpora, narrow the per-row terms to a coarser
    scale (6 dp ~= 4.5e9) on BOTH sides in the same window this name
    occupies.

    Scale: identical to calibration_bins — histogram-sized after one
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("p"),
    )
    hist = hist.persist()  # derived histogram, three consumers
    pi = hist.select(
        "v", "c", "p", F.round((F.col("p") + 1.0) / (F.col("c") + 2.0), 9).alias("pi9")
    )
    bins = pi.groupBy(
        F.least(F.lit(49), F.floor(F.col("pi9") * 50).cast("int")).alias("bin")
    ).agg(
        F.sum("c").cast("long").alias("nb"),
        F.round(
            F.sum(
                F.col("c").cast("decimal(12,0)") * F.col("pi9").cast("decimal(12,9)")
            ).cast("double")
            / F.sum("c"),
            9,
        ).alias("avg_conf"),
        F.round(F.sum("p").cast("double") / F.sum("c"), 9).alias("frac_pos"),
    )
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    pid = F.col("pi9").cast("decimal(12,9)")
    one = F.lit(1).cast("decimal(2,0)")
    # (1 - pi) re-narrowed to decimal(12,9): the raw difference is
    # decimal(13,9), and p(12,0) x (13,9) x (13,9) needs precision 40
    # > 38, silently rounding every first term to scale 16 under
    # Spark's precision-loss mode — the narrowed chain peaks at exactly
    # 38 and stays exact (the logloss decimal lesson)
    omp = (one - pid).cast("decimal(12,9)")
    # each exact (38,18) product re-narrowed to scale 9 BEFORE the sum,
    # via EXPLICIT F.round(x, 9) — half-away-from-zero in BOTH engines,
    # unlike a bare downscale cast (Spark HALF_UP, DuckDB truncates).
    # The narrowing fixes two 1-ulp drifts the old final round(, 9)
    # masked: at scale 18 the per-row term1 + term2 needs precision 39
    # (Spark's precision-loss mode rounded every row at scale 17 while
    # DuckDB stayed exact) and the scale-18 sum's unscaled value
    # overflows 2^52, where Java (parseDouble) and DuckDB
    # ((double)int / 10^scale) round the double conversion differently
    brier = pi.agg(
        F.sum(
            F.round(
                F.col("p").cast("decimal(12,0)") * omp * omp, 9
            ).cast("decimal(24,9)")
            + F.round(
                (F.col("c") - F.col("p")).cast("decimal(12,0)") * pid * pid, 9
            ).cast("decimal(24,9)")
        )
        .cast("double")
        .alias("sq")
    )
    gap = F.round(F.abs(F.col("avg_conf") - F.col("frac_pos")), 9).cast("decimal(12,9)")
    return (
        bins.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(brier))
        .groupBy(F.col("n"), F.col("sq"))
        .agg(
            (
                F.sum(F.col("nb").cast("decimal(12,0)") * gap).cast("double")
                / F.col("n")
            ).alias("ece"),
            (F.col("sq") / F.col("n")).alias("brier"),
        )
        .select(F.col("n").alias("n_rows"), "ece", "brier")
    )
