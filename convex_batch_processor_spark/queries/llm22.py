"""Post-window round-4 additions, part 15 (round-5 rotation material):
distribution-drift monitoring (PSI) and a chi-square independence audit.

Registered last in queries/__init__.py (after llm21); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Population Stability Index between time halves
# ---------------------------------------------------------------------------

_PSI_BAND_CENTS = 1000  # 10-unit value bands


@register(
    "psi_value_drift",
    oracle=f"""
    WITH mid AS (
        SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS m FROM events
    ),
    c AS (
        SELECT event_type,
               CASE WHEN epoch_us(ts) < mid.m THEN 'ref' ELSE 'cur' END AS half,
               CAST(round(value * 100) AS BIGINT) // {_PSI_BAND_CENTS} AS band
        FROM events CROSS JOIN mid WHERE value IS NOT NULL
    ),
    counts AS (
        SELECT event_type, band,
               CAST(1 + COUNT(*) FILTER (WHERE half = 'ref') AS BIGINT) AS na,
               CAST(1 + COUNT(*) FILTER (WHERE half = 'cur') AS BIGINT) AS nb
        FROM c GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
        FROM counts GROUP BY 1
    )
    SELECT c.event_type, c.band, c.na - 1 AS n_ref, c.nb - 1 AS n_cur,
           round((CAST(c.na AS DOUBLE) / CAST(t.ta AS DOUBLE)
                  - CAST(c.nb AS DOUBLE) / CAST(t.tb AS DOUBLE))
                 * round(ln(CAST(c.na * t.tb AS DOUBLE)
                            / CAST(c.nb * t.ta AS DOUBLE)), 9), 12) AS psi_term
    FROM counts c JOIN tot t USING (event_type)
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms: per event type, the value
    distribution of the FIRST time half (reference) vs the SECOND
    (current), banded, with each band's (p - q)·ln(p/q) contribution —
    the standard model-monitoring drift metric (sum terms; > 0.2 =
    significant shift). Counts are Laplace-smoothed (+1) so empty bands
    contribute finitely instead of blowing up ln.

    Determinism: band assignment is integer cents division; p/q reduces
    to one exact-integer product ratio (na·tb)/(nb·ta) in a single
    division, ln leaf-rounds to 9 dp, and the term is a fixed sequence of
    single IEEE ops rounded at 12 dp. Per-band terms are emitted (not the
    cross-band float sum — consumers sum the bounded band table in
    decimal).

    Scale: one corpus scan to the (type, band, half) rollup; the split
    timestamp is a broadcast scalar; everything after is band-table
    sized."""
    ev = load_table(spark, sf_dir, "events")
    # exact integer-microsecond midpoint: timestamp-interval division can
    # differ by 1 us between engines; (min_us + max_us) div 2 cannot
    mid = ev.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) div 2").alias("m")
    )
    c = (
        ev.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(mid))
        .select(
            "event_type",
            F.when(F.unix_micros("ts") < F.col("m"), "ref").otherwise("cur").alias("half"),
            F.expr(f"CAST(round(value * 100) AS BIGINT) div {_PSI_BAND_CENTS}").alias(
                "band"
            ),
        )
    )
    counts = c.groupBy("event_type", "band").agg(
        (F.lit(1) + F.count_if(F.col("half") == "ref")).alias("na"),
        (F.lit(1) + F.count_if(F.col("half") == "cur")).alias("nb"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    lnr = F.round(
        F.log(
            (F.col("na") * F.col("tb")).cast("double")
            / (F.col("nb") * F.col("ta")).cast("double")
        ),
        9,
    )
    p = F.col("na").cast("double") / F.col("ta").cast("double")
    q = F.col("nb").cast("double") / F.col("tb").cast("double")
    return counts.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "band",
        (F.col("na") - 1).alias("n_ref"),
        (F.col("nb") - 1).alias("n_cur"),
        F.round((p - q) * lnr, 12).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence audit (event_type x day-of-week)
# ---------------------------------------------------------------------------


@register(
    "chi2_independence_cells",
    oracle="""
    WITH obs AS (
        SELECT event_type, CAST(isodow(CAST(ts AS DATE)) - 1 AS INTEGER) AS dow,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rowt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    colt AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    tt AS (SELECT CAST(SUM(o) AS BIGINT) AS t FROM obs)
    SELECT obs.event_type, obs.dow, obs.o,
           CAST(rowt.r * colt.c AS DOUBLE) / CAST(tt.t AS DOUBLE) AS expected,
           (CAST(obs.o * tt.t - rowt.r * colt.c AS DOUBLE)
            * CAST(obs.o * tt.t - rowt.r * colt.c AS DOUBLE))
               / (CAST(tt.t AS DOUBLE) * CAST(rowt.r * colt.c AS DOUBLE))
               AS chi2_term
    FROM obs JOIN rowt USING (event_type) JOIN colt USING (dow) CROSS JOIN tt
    """,
)
def chi2_independence_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of event type vs day-of-week: each
    cell's observed count, expected count under independence, and its
    (O - E)^2 / E contribution — "is behavior uniform across the week"
    as a proper test statistic (sum terms against chi2 df=(r-1)(c-1)).

    The term is computed from the EXACT integer residual O·T - R·C
    (products < 2^53) squared in a single multiply, over T·R·C — a fixed
    IEEE op sequence emitted UNROUNDED (rule 14: the quotient of exact
    integers is an exact rational, and round(,9) of such a value is
    tie-divergent across engines; the raw double division of identical
    operands is bit-exact everywhere). Day-of-week origin pinned
    Monday=0 (weekday == isodow-1, the ts_feature_matrix rule).

    Scale: one (type, dow) rollup; marginals are bounded broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.weekday(F.col("ts").cast("date")).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rowt = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    colt = obs.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    tt = obs.agg(F.sum("o").cast("long").alias("t"))
    resid = (F.col("o") * F.col("t") - F.col("r") * F.col("c")).cast("double")
    return (
        obs.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "dow")
        .crossJoin(F.broadcast(tt))
        .select(
            "event_type",
            "dow",
            "o",
            ((F.col("r") * F.col("c")).cast("double") / F.col("t").cast("double")).alias(
                "expected"
            ),
            (
                (resid * resid)
                / (F.col("t").cast("double") * (F.col("r") * F.col("c")).cast("double"))
            ).alias("chi2_term"),
        )
    )
