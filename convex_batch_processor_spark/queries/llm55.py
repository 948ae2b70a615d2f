"""Post-window round-4 additions, part 48 (round-5 rotation material):
Shapley-value marketing attribution over exposure patterns.

The game-theoretic sibling of linear_attribution_credit (llm36): each
user's exposure set over the non-purchase channels defines a coalition;
the characteristic value v(S) is the observed conversion rate of users
exposed to EXACTLY S (the data-driven-attribution convention), and each
channel's credit is the Shapley value — the factorial-weighted average
of its marginal contribution v(S + i) - v(S) over all coalitions. With
k = 4 channels the whole game lives on a 16-row pattern table, so the
exact computation (no sampling, no permutation Monte Carlo) is the
right call — and the 100 TB shape is unchanged: one user-keyed
aggregation builds the pattern census; the game is control-plane sized.

Determinism: exposure masks are exact integers (SUM(DISTINCT) of
power-of-two codes), v is one 9-dp-rounded double ratio, the factorial
weights s!(k-1-s)!/k! are 9-dp literals, and each weighted marginal is
9-dp-rounded into an exact decimal sum.

Registered last in queries/__init__.py (after llm54); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

import math as _math

_CHANNELS = ["view", "click", "signup", "error"]
_K = len(_CHANNELS)
#: Shapley weight per coalition size s: s! * (k-1-s)! / k!, 9-dp pinned
_W = {
    s: round(_math.factorial(s) * _math.factorial(_K - 1 - s) / _math.factorial(_K), 9)
    for s in range(_K)
}


_CODE_SQL = " ".join(
    f"WHEN '{c}' THEN {1 << i}" for i, c in enumerate(_CHANNELS)
)

_V_CTES = f"""
    u AS (
        SELECT user_id,
               CAST(SUM(DISTINCT CASE event_type {_CODE_SQL} ELSE 0 END) AS INTEGER)
                   AS mask,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1),
    v AS (
        SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(conv) AS BIGINT) AS n_conv,
               round(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 9) AS rate
        FROM u GROUP BY 1)
"""

_W_CASE = " ".join(f"WHEN {s} THEN {_W[s]!r}" for s in range(_K))


@register(
    "exposure_pattern_census",
    oracle=f"""
    WITH {_V_CTES}
    SELECT mask, n_users, n_conv, rate FROM v
    """,
)
def exposure_pattern_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coalition table the Shapley game runs on: per exact exposure
    pattern (bitmask over {_CHANNELS}), user count, conversions, and the
    9-dp conversion rate. Useful on its own as the journey-mix report.

    Scale: one user-keyed aggregation -> one <=2^{_K}-row census."""
    ev = load_table(spark, sf_dir, "events")
    code = F.lit(0)
    for i, c in enumerate(_CHANNELS):
        code = F.when(F.col("event_type") == c, F.lit(1 << i)).otherwise(code)
    u = ev.groupBy("user_id").agg(
        F.sum_distinct(code).cast("int").alias("mask"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    return u.groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
        F.round(F.sum("conv").cast("double") / F.count(F.lit(1)), 9).alias("rate"),
    )


@register(
    "shapley_channel_attribution",
    oracle=f"""
    WITH {_V_CTES},
    subsets AS (
        SELECT i, s
        FROM range(0, {1 << _K}) t(s), range(0, {_K}) c(i)
        WHERE (s >> i) & 1 = 0),
    marg AS (
        SELECT i,
               CAST(round((CASE bit_count(s) {_W_CASE} END)
                          * (coalesce(v1.rate, 0.0) - coalesce(v0.rate, 0.0)), 9)
                    AS DECIMAL(18,9)) AS term
        FROM subsets
        LEFT JOIN v v0 ON v0.mask = s
        LEFT JOIN v v1 ON v1.mask = s | (1 << i))
    SELECT CASE i {" ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(_CHANNELS))}
           END AS channel,
           CAST(SUM(term) AS DOUBLE) AS shapley_credit
    FROM marg GROUP BY 1
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value attribution: each channel's credit is the
    factorial-weighted sum of its marginal conversion-rate lift over
    every coalition of the other channels — the data-driven attribution
    model, computed EXACTLY because the game is only 2^{_K} patterns
    (absent patterns contribute v = 0, mirrored on both sides).

    Scale: the corpus is touched once (user exposure masks); the
    subsets x v join is {_K} * 2^{_K} control-plane rows — broadcast
    territory, like the kmeans/pagerank iteration state."""
    ev = load_table(spark, sf_dir, "events")
    spark_sess = spark
    code = F.lit(0)
    for i, c in enumerate(_CHANNELS):
        code = F.when(F.col("event_type") == c, F.lit(1 << i)).otherwise(code)
    u = ev.groupBy("user_id").agg(
        F.sum_distinct(code).cast("int").alias("mask"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    v = u.groupBy("mask").agg(
        F.round(
            F.sum("conv").cast("double") / F.count(F.lit(1)), 9
        ).alias("rate")
    )
    subsets = (
        spark_sess.range(1 << _K)
        .select(F.col("id").cast("int").alias("s"))
        .crossJoin(
            spark_sess.range(_K).select(F.col("id").cast("int").alias("i"))
        )
        .filter(F.expr("((s >> i) & 1) = 0"))
        .withColumn("s1", F.expr("CAST(s | (1 << i) AS INT)"))
    )
    bc = F.bit_count(F.col("s"))
    wexpr = None
    for size, wt in _W.items():
        cond = bc == size
        wexpr = F.when(cond, F.lit(wt)) if wexpr is None else wexpr.when(cond, F.lit(wt))
    v0 = v.select(F.col("mask").alias("m0"), F.col("rate").alias("r0"))
    v1 = v.select(F.col("mask").alias("m1"), F.col("rate").alias("r1"))
    marg = (
        subsets.join(
            F.broadcast(v0), subsets["s"] == v0["m0"], "left"
        )
        .join(F.broadcast(v1), F.col("s1") == v1["m1"], "left")
        .select(
            "i",
            F.round(
                wexpr
                * (
                    F.coalesce(F.col("r1"), F.lit(0.0))
                    - F.coalesce(F.col("r0"), F.lit(0.0))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("term"),
        )
    )
    chan = F.element_at(
        F.array(*[F.lit(c) for c in _CHANNELS]), F.col("i") + 1
    )
    return marg.groupBy("i").agg(
        F.sum("term").cast("double").alias("shapley_credit")
    ).select(chan.alias("channel"), "shapley_credit")
