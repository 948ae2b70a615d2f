"""Post-window round-4 additions, part 11 (round-5 rotation material):
deterministic Poisson bootstrap — uncertainty estimation in one pass.

Registered last in queries/__init__.py (after llm17); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


_BOOT_B = 16  # bootstrap replicates

# Poisson(1) CDF thresholds over the 16-bit hash space: a uniform
# u in [0, 65536) maps to weight k = #thresholds below u (capped at 6).
# floor(cdf_k * 65536) for k = 0..5 — baked identically into both engines.
_POIS_TH = (24109, 48218, 60273, 64291, 65296, 65497)


def _weight_sql(u: str) -> str:
    """weight = number of thresholds <= u (DuckDB text)."""
    return "(" + " + ".join(f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in _POIS_TH) + ")"


@register(
    "bootstrap_order_price_means",
    oracle=f"""
    WITH w AS (
        SELECT b.b AS replicate,
               CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||
                                       CAST(b.b AS VARCHAR)), 1, 4) AS BIGINT) AS u,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
    )
    SELECT replicate,
           CAST(SUM({_weight_sql("u")}) AS BIGINT) AS n_eff,
           CAST(SUM({_weight_sql("u")} * cents) AS BIGINT) AS wsum_cents,
           CAST(CAST(SUM({_weight_sql("u")} * cents) AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(CAST(SUM({_weight_sql("u")}) AS BIGINT) AS DOUBLE) / 100.0
               AS boot_mean
    FROM w GROUP BY 1
    """,
)
def bootstrap_order_price_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order price: {_BOOT_B} replicate
    means in ONE pass — each row joins replicate b with weight ~
    Poisson(1), so resampling-with-replacement needs no resampling at
    all (the Chamandy/Google "Estimating uncertainty for massive data
    streams" construction). The replicate spread IS the standard error;
    classical bootstrap at 100 TB is impossible (B full copies), this is
    a B-fold map-side explode + one bounded aggregation.

    Weights are NOT an RNG: u = 16 md5 bits of (row key, replicate),
    mapped through the Poisson(1) CDF thresholds baked into both engines
    — reproducible across engines, retries, and partitionings (the
    sampled_by_lang portability argument). Sums accumulate as exact
    integers in decimal and the weighted sum is RETURNED as BIGINT —
    every driver-green query to date emits int64/float64/bool/str/
    date/timestamp columns, so a decimal output column would meet the
    driver's pandas-level hasher untested (Spark decimal -> object of
    Decimal, DuckDB decimal -> float64: a guaranteed category clash).
    Range: wt <= 6 and cents < 2^26, so int64 holds past 10^10 orders
    per replicate. Each boot_mean is two exact-operand divisions.

    Scale: output is B rows; the only shuffle is the {_BOOT_B}-group
    aggregation of map-side partials."""
    orders = load_table(spark, sf_dir, "orders")
    reps = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("replicate")
    # F.concat (NULL-propagating, == the oracle's ||), NOT concat_ws: a
    # NULL o_orderkey must yield u = NULL -> weight 0 on both engines —
    # concat_ws silently drops the NULL part and hashes the bare
    # replicate id (the make_batch_id class)
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":"),
                           F.col("replicate").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    weight = sum(
        [F.when(F.col("u") >= t, 1).otherwise(0) for t in _POIS_TH],
        F.lit(0),
    )
    w = (
        orders.select(
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
            reps,
        )
        .select("replicate", "cents", u.alias("u"))
        .select("replicate", "cents", weight.alias("wt"))
    )
    return w.groupBy("replicate").agg(
        F.sum("wt").cast("long").alias("n_eff"),
        F.sum((F.col("wt") * F.col("cents")).cast("decimal(38,0)"))
        .cast("long")
        .alias("wsum_cents"),
        (
            F.sum((F.col("wt") * F.col("cents")).cast("decimal(38,0)")).cast("double")
            / F.sum("wt").cast("long").cast("double")
            / F.lit(100.0)
        ).alias("boot_mean"),
    )
