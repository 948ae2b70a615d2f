"""Post-window round-4 additions, part 4 (round-5 rotation material):
statistical audits — Benford first-digit conformance and a Kaplan–Meier
survival estimator in deterministic log-space.

Registered last in queries/__init__.py (after llm10); all oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------


@register(
    "benford_order_prices",
    oracle="""
    WITH c AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM c)
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(COUNT(*) AS DOUBLE) / CAST(n.total AS DOUBLE) AS obs_share,
           round(log10(1.0 + 1.0 / digit), 9) AS benford_share,
           CAST(COUNT(*) AS DOUBLE) / CAST(n.total AS DOUBLE)
                 - round(log10(1.0 + 1.0 / digit), 9) AS excess
    FROM c CROSS JOIN n
    GROUP BY digit, n.total
    """,
)
def benford_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order prices: observed
    first-significant-digit shares vs log10(1 + 1/d) — the standard
    fabricated-data / data-quality screen for financial columns.

    The first digit comes from the INTEGER-CENTS string (integer
    formatting is engine-identical; stringifying the raw double is not —
    the shortest-repr vs %g formatting trap in NOTES). Shares are single
    exact-int divisions; the Benford reference is leaf-rounded log10.
    The excess is the RAW difference (rule 14: when the exact-ratio
    share terminates in decimal, share − 9-dp reference is itself a
    near-grid decimal whose re-round can tie; the unrounded difference
    of identical doubles is bit-exact across engines).

    Scale: map-side digit extraction + a 9-group rollup; the total is a
    broadcast scalar."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    n = c.agg(F.count(F.lit(1)).alias("total"))
    benford = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 9)
    obs = F.col("n_obs").cast("double") / F.col("total").cast("double")
    return (
        c.crossJoin(F.broadcast(n))
        .groupBy("digit", "total")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .select(
            "digit",
            "n_obs",
            obs.alias("obs_share"),
            benford.alias("benford_share"),
            (obs - benford).alias("excess"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival (signup -> purchase), deterministic log-space
# ---------------------------------------------------------------------------


@register(
    "km_signup_to_purchase",
    oracle="""
    WITH su AS (
        SELECT user_id, MIN(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ),
    pu AS (
        SELECT e.user_id, MIN(e.ts) AS te
        FROM events e JOIN su USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= su.t0
        GROUP BY 1
    ),
    refd AS (SELECT MAX(CAST(ts AS DATE)) AS r FROM events),
    dur AS (
        SELECT su.user_id,
               date_diff('day', CAST(su.t0 AS DATE), CAST(pu.te AS DATE)) AS event_day,
               date_diff('day', CAST(su.t0 AS DATE), refd.r) AS censor_day
        FROM su LEFT JOIN pu USING (user_id) CROSS JOIN refd
    ),
    per_day AS (
        SELECT day, CAST(SUM(d) AS BIGINT) AS d_t, CAST(SUM(c) AS BIGINT) AS c_t
        FROM (
            SELECT event_day AS day, 1 AS d, 0 AS c FROM dur WHERE event_day IS NOT NULL
            UNION ALL
            SELECT censor_day, 0, 1 FROM dur WHERE event_day IS NULL
        ) GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM dur),
    risk AS (
        SELECT day, d_t, c_t,
               -- day NULLS FIRST pinned on both sides: an all-NULL-ts
               -- signup user yields a day=NULL censor row, which shifted
               -- every real day's risk set on one engine only
               nn.n0 - CAST(COALESCE(SUM(d_t + c_t) OVER (
                   ORDER BY day NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS n_risk
        FROM per_day CROSS JOIN nn
    ),
    steps AS (
        SELECT day, d_t, c_t, n_risk,
               CAST(round(ln(greatest(
                   1.0 - CAST(d_t AS DOUBLE) / CAST(n_risk AS DOUBLE), 1e-12)), 9)
                    AS DECIMAL(20,9)) AS lf
        FROM risk WHERE d_t > 0
    )
    SELECT day, n_risk, d_t AS n_events, c_t AS n_censored,
           CAST(SUM(lf) OVER (ORDER BY day NULLS FIRST ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS log_survival
    FROM steps
    """,
)
def km_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimator for signup -> first purchase:
    S(t) = prod over event days <= t of (1 - d_i / n_i), with users who
    never purchase right-censored at the observation horizon — the
    correct way to read conversion latency when the window is finite
    (naive conversion rates undercount users still "alive").

    Determinism: the running product is a LOG-SPACE cumulative sum —
    each factor is exact-int ratio -> single ln leaf-rounded to 9 dp ->
    decimal(20,9) — so the window cumsum is exact and order-free across
    engines (a float product would drift). The 1e-12 floor guards the
    d = n full-absorption step (ln 0). log_survival is exposed;
    exp() is deliberately NOT applied (exp is not engine-identical —
    same reason pow is banned in NOTES).

    Scale: corpus-scale work is two user-keyed aggregations; the risk-set
    cumsum runs on the per-DAY table (bounded by the observation span —
    the value-bounded-global-window precedent of histogram_rank)."""
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("te"))
    )
    refd = ev.agg(F.max(F.col("ts").cast("date")).alias("r"))
    dur = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(refd))
        .select(
            "user_id",
            F.datediff(F.col("te").cast("date"), F.col("t0").cast("date")).alias(
                "event_day"
            ),
            F.datediff(F.col("r"), F.col("t0").cast("date")).alias("censor_day"),
        )
        .persist()  # consumers: per-day counts and the N scalar
    )
    per_day = (
        dur.filter(F.col("event_day").isNotNull())
        .select(F.col("event_day").alias("day"), F.lit(1).alias("d"), F.lit(0).alias("c"))
        .unionAll(
            dur.filter(F.col("event_day").isNull()).select(
                F.col("censor_day").alias("day"), F.lit(0).alias("d"), F.lit(1).alias("c")
            )
        )
        .groupBy("day")
        .agg(F.sum("d").cast("long").alias("d_t"), F.sum("c").cast("long").alias("c_t"))
    )
    nn = dur.agg(F.count(F.lit(1)).alias("n0"))
    wprev = Window.orderBy(F.col("day").asc_nulls_first()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = per_day.crossJoin(F.broadcast(nn)).select(
        "day",
        "d_t",
        "c_t",
        (
            F.col("n0")
            - F.coalesce(F.sum(F.col("d_t") + F.col("c_t")).over(wprev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    steps = risk.filter(F.col("d_t") > 0).select(
        "day",
        "d_t",
        "c_t",
        "n_risk",
        F.round(
            F.log(
                F.greatest(
                    F.lit(1.0) - F.col("d_t").cast("double") / F.col("n_risk").cast("double"),
                    F.lit(1e-12),
                )
            ),
            9,
        )
        .cast("decimal(20,9)")
        .alias("lf"),
    )
    wcum = Window.orderBy(F.col("day").asc_nulls_first()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return steps.select(
        "day",
        "n_risk",
        F.col("d_t").alias("n_events"),
        F.col("c_t").alias("n_censored"),
        F.sum("lf").over(wcum).cast("double").alias("log_survival"),
    )
