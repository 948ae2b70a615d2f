"""Post-window round-4 additions, part 38 (round-5 rotation material):
privacy-preserving release — differentially-private noisy aggregates,
randomized response, and a k-anonymity audit.

Training-data pipelines increasingly publish corpus statistics under a
privacy budget; the operators here make that a first-class engine
capability. The DP noise is REAL Laplace noise drawn by inverse CDF —
but from the portable md5-uniform stream (llm6 sketch recipe:
``conv(hex,16,10)`` == DuckDB ``'0x'||hex`` cast), seeded by the group
key, so the release is reproducible run-to-run (a property production
DP systems want anyway: re-running a report must not spend budget on
fresh noise) AND replayable by the oracle: u = h/2^60 is an exact
power-of-two scaling, ln is leaf-rounded at 9 dp (NOTES recipe), and
the Laplace transform -b*sign(u-1/2)*ln(1-2|u-1/2|) is one fixed IEEE
expression tree mirrored in the SQL.

Registered last in queries/__init__.py (after llm44); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_TWO60 = 1152921504606846976.0  # 2^60: 15 md5 hex digits -> uniform in [0,1)
_CLIP = 100.0  # per-row contribution clip for the noisy sum (sensitivity)


def _uniform(key):
    """Portable md5-uniform in [0,1): 60 hash bits / 2^60 (exact scaling)."""
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return h / F.lit(_TWO60)


def _laplace6(key, b: float):
    """Laplace(b) sample by inverse CDF from the md5-uniform stream,
    rounded to 6 dp. Fixed expression shape; ln leaf-rounded at 9 dp."""
    v = _uniform(key) - F.lit(0.5)
    ln9 = F.round(
        F.log(F.greatest(F.lit(1e-12), F.lit(1.0) - (F.lit(2.0) * F.abs(v)))), 9
    )
    return F.round((F.signum(v) * ln9) * F.lit(-b), 6)


def _uniform_sql(key_sql: str) -> str:
    return (
        f"(CAST('0x' || substr(md5({key_sql}), 1, 15) AS BIGINT) / {_TWO60!r})"
    )


def _laplace6_sql(key_sql: str, b: float) -> str:
    u = _uniform_sql(key_sql)
    return (
        f"round((sign({u} - 0.5) * round(ln(greatest(1e-12, "
        f"1.0 - (2.0 * abs({u} - 0.5)))), 9)) * (-{b!r}), 6)"
    )


@register(
    "dp_noisy_counts_by_type",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS true_count,
               -- coalesce BEFORE the clip: least() skips NULLs on both
               -- engines, so a missing measurement would be released
               -- as a MAXIMAL contribution ({_CLIP}) instead of 0
               CAST(SUM(CAST(least(coalesce(value, 0), {_CLIP!r})
                             AS DECIMAL(18,2))) AS DOUBLE)
                   AS clipped_sum
        FROM events GROUP BY 1)
    SELECT event_type,
           round(CAST(true_count AS DOUBLE)
                 + {_laplace6_sql("event_type", 1.0)}, 6) AS noisy_count,
           round(clipped_sum
                 + {_laplace6_sql("event_type || '|sum'", _CLIP)}, 6) AS noisy_sum
    FROM g
    """,
)
def dp_noisy_counts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-event-type release: counts with
    Laplace(1/eps) noise (eps=1, sensitivity 1) and value sums with the
    per-row contribution clipped at {_CLIP} (sensitivity {_CLIP}, so
    Laplace({_CLIP}/eps) noise). The true aggregates never leave the
    engine — only the noised columns are emitted.

    The noise is genuine inverse-CDF Laplace over a key-seeded uniform,
    which makes the release deterministic across re-runs (no repeated
    budget spend) and lets the oracle replay every sample exactly.

    Scale: one grouped aggregation; the noise transform is per-GROUP
    scalar math (a handful of rows), zero extra exchanges."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count"),
        # coalesce mirrors the oracle: NULL measurements contribute 0,
        # not the clip ceiling (least() skips NULLs on both engines)
        F.sum(
            F.least(F.coalesce(F.col("value"), F.lit(0.0)), F.lit(_CLIP))
            .cast("decimal(18,2)")
        )
        .cast("double")
        .alias("clipped_sum"),
    )
    return g.select(
        "event_type",
        F.round(
            F.col("true_count").cast("double") + _laplace6(F.col("event_type"), 1.0), 6
        ).alias("noisy_count"),
        F.round(
            F.col("clipped_sum")
            + _laplace6(F.concat(F.col("event_type"), F.lit("|sum")), _CLIP),
            6,
        ).alias("noisy_sum"),
    )


@register(
    "randomized_response_rate",
    oracle=f"""
    WITH r AS (
        SELECT CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS t,
               CASE WHEN {_uniform_sql("CAST(event_id AS VARCHAR)")} < 0.75
                    THEN CASE WHEN value > 50.0 THEN 1 ELSE 0 END
                    ELSE 1 - CASE WHEN value > 50.0 THEN 1 ELSE 0 END
               END AS rep
        FROM events)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(t) AS BIGINT) AS n_true,
           CAST(SUM(rep) AS BIGINT) AS n_reported,
           CAST(SUM(rep) AS DOUBLE) / COUNT(*) AS observed_rate,
           ((CAST(SUM(rep) AS DOUBLE) / COUNT(*)) - 0.25) / 0.5
               AS debiased_rate,
           CAST(SUM(t) AS DOUBLE) / COUNT(*) AS true_rate
    FROM r
    """,
)
def randomized_response_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local differential privacy by Warner's randomized response: each
    row reports its true bit (value > 50) with probability 3/4 and the
    flipped bit otherwise, using the md5-uniform stream keyed by
    event_id as the coin. The aggregate then debiases the observed rate
    (p_hat = (obs - 1/4) / (1/2)) — the estimator converges to the true
    rate while any single row retains plausible deniability.

    All counters are exact integers; only the final rates divide, with
    the same expression shape on both engines.

    Scale: per-row map + one aggregate — embarrassingly parallel."""
    ev = load_table(spark, sf_dir, "events")
    t = F.when(F.col("value") > 50.0, 1).otherwise(0)
    rep = F.when(
        _uniform(F.col("event_id").cast("string")) < 0.75, t
    ).otherwise(1 - t)
    r = ev.select(t.alias("t"), rep.alias("rep"))
    obs = F.sum("rep").cast("double") / F.count(F.lit(1))
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("n_true"),
        F.sum("rep").cast("long").alias("n_reported"),
        # rule 14 (r12 strip): int/int divisions plus an affine chain
        # over exact binary constants (0.25, 0.5) — every op is a single
        # bit-identical IEEE step; the former round(,9) could only mask.
        obs.alias("observed_rate"),
        ((obs - 0.25) / 0.5).alias("debiased_rate"),
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("true_rate"),
    )


@register(
    "k_anonymity_audit",
    oracle="""
    WITH q AS (
        SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2, 3)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS small_groups,
           CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS rows_suppressed,
           CAST(SUM(CASE WHEN c >= 5 THEN c ELSE 0 END) AS BIGINT) AS rows_published,
           CAST(MIN(c) AS BIGINT) AS min_group,
           CAST(MAX(c) AS BIGINT) AS max_group
    FROM q GROUP BY 1
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the (lang, source, length-bucket)
    quasi-identifier: per language, how many equivalence classes exist,
    how many fall below k=5, and how many rows a suppression release
    would drop vs publish — the pre-flight check before sharing corpus
    slices.

    Scale: two grouped aggregations, the second over the bounded
    class table; integer-only output."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.groupBy(
        "lang",
        "source",
        (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("c"))
    small = F.col("c") < 5
    return q.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(small.cast("long")).cast("long").alias("small_groups"),
        F.sum(F.when(small, F.col("c")).otherwise(0)).cast("long").alias(
            "rows_suppressed"
        ),
        F.sum(F.when(~small, F.col("c")).otherwise(0)).cast("long").alias(
            "rows_published"
        ),
        F.min("c").cast("long").alias("min_group"),
        F.max("c").cast("long").alias("max_group"),
    )
