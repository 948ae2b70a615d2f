"""Post-window round-4 additions, part 45 (round-5 rotation material):
distribution-matching feature transforms and leakage-safe time splits.

- ``quantile_normalize_values`` maps a feature's empirical distribution
  onto a reference distribution via midrank percentiles and
  piecewise-linear inverse-CDF interpolation over literal knots — the
  rank-based normalization genomics and tabular-ML pipelines use, here
  collapsed onto the value histogram (never a global row sort; the
  length_curriculum/histogram_rank lesson).
- ``purged_time_folds`` builds contiguous time folds with an embargo:
  rows within one day of a fold boundary are PURGED so that
  autocorrelated leakage cannot cross the train/validation cut — the
  time-series cousin of dataset_split_folds' hash folds.

Registered last in queries/__init__.py (after llm51); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# inverse-CDF knots of the reference distribution at p = 0.0, 0.1, ... 1.0
# (a standard-normal-ish ogive, clipped tails)
_KNOTS = [-2.5, -1.28, -0.84, -0.52, -0.25, 0.0, 0.25, 0.52, 0.84, 1.28, 2.5]


def _knots_sql() -> str:
    return "[" + ", ".join(repr(k) for k in _KNOTS) + "]"


@register(
    "quantile_normalize_values",
    oracle=f"""
    WITH hist AS (
        -- NULL quantities excluded on BOTH sides: a NULL bucket sorts
        -- first in Spark's cumulative window and last in DuckDB's,
        -- shifting EVERY value's percentile by its count
        SELECT l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
    cum AS (
        SELECT v, c,
               CAST(coalesce(SUM(c) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS below
        FROM hist),
    p AS (
        SELECT v, c,
               (CAST(below AS DOUBLE) + (0.5 * CAST(c AS DOUBLE)))
                   / CAST(tot.n AS DOUBLE) AS pct
        FROM cum CROSS JOIN tot),
    k AS (SELECT {_knots_sql()} AS ks)
    SELECT v AS value, c AS n_rows,
           round(pct, 9) AS percentile,
           round(ks[least(9, CAST(floor(pct * 10) AS INTEGER)) + 1]
                 + (((pct * 10) - least(9, CAST(floor(pct * 10) AS INTEGER)))
                    * (ks[least(9, CAST(floor(pct * 10) AS INTEGER)) + 2]
                       - ks[least(9, CAST(floor(pct * 10) AS INTEGER)) + 1])), 9)
               AS normalized
    FROM p CROSS JOIN k
    """,
)
def quantile_normalize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of line quantities: midrank percentile per
    distinct value ((below + c/2) / n), then piecewise-linear
    interpolation of the reference inverse CDF over literal knots —
    the output feature has (approximately) the reference distribution
    regardless of the input's shape, the transform tabular pipelines
    apply before distance-based models.

    Everything lives on the ~50-row value histogram: the cumulative
    window is bounded, the interpolation is one mirrored double
    expression (floor/least pin the knot index identically), and the
    per-row application at scale is a broadcast join of this table.

    Scale: one histogram shuffle; nothing row-granular is ranked."""
    li = load_table(spark, sf_dir, "lineitem")
    # NULL quantities excluded to mirror the oracle (engine NULL-ordering
    # defaults differ, see the oracle comment)
    hist = (
        li.filter(F.col("l_quantity").isNotNull())
        .groupBy(F.col("l_quantity").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "below", F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long")
    )
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    pct = (F.col("below").cast("double") + (F.lit(0.5) * F.col("c").cast("double"))) / F.col(
        "n"
    ).cast("double")
    p = cum.crossJoin(F.broadcast(tot)).select(
        "v", "c", pct.alias("pct")
    )
    ks = F.array(*[F.lit(k) for k in _KNOTS])
    idx = F.least(F.lit(9), F.floor(F.col("pct") * 10).cast("int"))
    lo = F.element_at(ks, idx + 1)
    hi = F.element_at(ks, idx + 2)
    frac = (F.col("pct") * 10) - idx
    return p.select(
        F.col("v").alias("value"),
        F.col("c").alias("n_rows"),
        F.round(F.col("pct"), 9).alias("percentile"),
        F.round(lo + (frac * (hi - lo)), 9).alias("normalized"),
    )


_FOLD_DAYS = 8  # fold f covers days [1 + 8f, 8 + 8f]
_EMBARGO_DAYS = 1  # rows within 1 day of a boundary are purged


@register(
    "purged_time_folds",
    oracle=f"""
    WITH r AS (
        SELECT day(ts) AS d,
               least(3, CAST((day(ts) - 1) // {_FOLD_DAYS} AS INTEGER)) AS fold,
               CASE WHEN day(ts) % {_FOLD_DAYS} IN (0, 1) AND day(ts) > 1
                    THEN 1 ELSE 0 END AS purged
        FROM events)
    SELECT CAST(fold AS INTEGER) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(purged) AS BIGINT) AS n_purged,
           CAST(SUM(1 - purged) AS BIGINT) AS n_kept,
           CAST(MIN(d) AS INTEGER) AS min_day,
           CAST(MAX(d) AS INTEGER) AS max_day
    FROM r GROUP BY 1
    """,
)
def purged_time_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged time-series cross-validation folds: events split into four
    contiguous {_FOLD_DAYS}-day folds, with every row inside the
    {_EMBARGO_DAYS}-day embargo around a fold boundary marked purged —
    the leakage guard (de Prado's purged k-fold) that keeps
    autocorrelated neighbors of the validation window out of training.

    Integer day arithmetic only; the report gives per-fold kept/purged
    counts and the day ranges that prove folds do not overlap.

    Scale: per-row map + one 4-key aggregate."""
    ev = load_table(spark, sf_dir, "events")
    d = F.dayofmonth("ts")
    fold = F.least(F.lit(3), ((d - 1) / _FOLD_DAYS).cast("int"))
    purged = F.when(
        (d % _FOLD_DAYS).isin(0, 1) & (d > 1), 1
    ).otherwise(0)
    r = ev.select(d.alias("d"), fold.alias("fold"), purged.alias("purged"))
    return r.groupBy(F.col("fold").cast("int").alias("fold")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("purged").cast("long").alias("n_purged"),
        F.sum(1 - F.col("purged")).cast("long").alias("n_kept"),
        F.min("d").cast("int").alias("min_day"),
        F.max("d").cast("int").alias("max_day"),
    )
