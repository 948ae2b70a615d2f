"""Post-window round-4 additions, part 46 (round-5 rotation material):
preference modeling and effect estimation — Bradley-Terry strengths
(the RLHF reward-model ancestor), seasonal-naive forecast error (MASE),
and difference-in-differences.

``bradley_terry_strengths`` is the iterative-operator showcase of this
pack: pairwise win counts are corpus-derived, then three synchronous
minorization-maximization rounds run on the BOUNDED item set with the
kmeans/pagerank determinism recipe (6-dp state rounding per round,
decimal-exact sums, mirrored double division) so the oracle replays the
fixpoint as unrolled CTEs.

Registered last in queries/__init__.py (after llm52); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_BT_ITERS = 3


# Per-user per-type exact spend; user u "judges" a beats b when
# spend(u, a) > spend(u, b). Comparable = both types present for u.
_BT_WINS_SQL = """
    spend AS (
        SELECT user_id, event_type,
               SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2))) AS v
        FROM events GROUP BY 1, 2),
    duel AS (
        SELECT a.event_type AS ia, b.event_type AS ib,
               CAST(SUM(CASE WHEN a.v > b.v THEN 1 ELSE 0 END) AS BIGINT) AS wins
        FROM spend a JOIN spend b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY 1, 2),
    items AS (SELECT DISTINCT ia AS item FROM duel),
    w AS (SELECT ia AS item, CAST(SUM(wins) AS BIGINT) AS wi FROM duel GROUP BY 1),
    nm AS (
        SELECT ia, ib, CAST(d.wins + r.wins AS BIGINT) AS n_ij
        FROM duel d
        JOIN (SELECT ia AS rb, ib AS ra, wins FROM duel) r
          ON r.ra = d.ia AND r.rb = d.ib)
"""


def _bt_iter_sql(prev: str, cur: str) -> str:
    """One MM round: s_i <- W_i / Sum_j n_ij / (s_i + s_j), then
    normalized to mean 1 over the bounded item set; state rounded 6 dp."""
    # every division is CASE-guarded: all-tie duel pairs (den 0), a pair
    # of zero-strength items (si+sj 0), or an all-zero round mean (m 0)
    # would DIVIDE_BY_ZERO under ANSI Spark while DuckDB yields NULL —
    # both engines now produce the same NULL cascade on degenerate input
    return f"""{cur}_raw AS MATERIALIZED (
        SELECT nm.ia AS item,
               CASE WHEN CAST(SUM(CASE WHEN (pi.s + pj.s) <> 0 THEN
                        CAST(round(n_ij / (pi.s + pj.s), 9)
                             AS DECIMAL(18,9)) END) AS DOUBLE) <> 0
               THEN CAST(MAX(w.wi) AS DOUBLE)
                   / CAST(SUM(CASE WHEN (pi.s + pj.s) <> 0 THEN
                        CAST(round(n_ij / (pi.s + pj.s), 9)
                             AS DECIMAL(18,9)) END) AS DOUBLE) END AS s
        FROM nm
        JOIN {prev} pi ON pi.item = nm.ia
        JOIN {prev} pj ON pj.item = nm.ib
        JOIN w ON w.item = nm.ia
        GROUP BY 1),
    {cur}_norm AS MATERIALIZED (
        SELECT CAST(SUM(CAST(round(s, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS m
        FROM {cur}_raw),
    {cur} AS MATERIALIZED (
        SELECT item, CASE WHEN {cur}_norm.m <> 0 THEN
                   round(round(s, 6) / {cur}_norm.m, 6) END AS s
        FROM {cur}_raw CROSS JOIN {cur}_norm)"""


@register(
    "bradley_terry_strengths",
    oracle=f"""
    WITH {_BT_WINS_SQL},
    s0 AS MATERIALIZED (SELECT item, CAST(1.0 AS DOUBLE) AS s FROM items),
    {_bt_iter_sql("s0", "s1")},
    {_bt_iter_sql("s1", "s2")},
    {_bt_iter_sql("s2", "s3")}
    SELECT s3.item AS event_type, w.wi AS total_wins, s3.s AS strength
    FROM s3 JOIN w ON w.item = s3.item
    """,
)
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference strengths over event types: every user
    'judges' type a over type b when they spent more on a; the win
    matrix feeds {_BT_ITERS} minorization-maximization rounds
    (s_i = W_i / Sum_j n_ij/(s_i+s_j), mean-normalized) — the pairwise
    preference model RLHF reward aggregation and ranking-from-duels both
    reduce to.

    Determinism (kmeans recipe): per-pair contributions are 9-dp-rounded
    decimals summed exactly, state is 6-dp-pinned after every round, and
    the oracle replays the whole fit as {_BT_ITERS} unrolled CTE rounds.

    Scale: the duel matrix is one user-keyed self-join (per-user type
    spend is bounded by |types|); iterations run on the |types|^2
    aggregate — control-plane sized, like the pagerank/kmeans pattern."""
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,2)")).alias("v")
    )
    a = spend.select("user_id", F.col("event_type").alias("ia"), F.col("v").alias("va"))
    b = spend.select("user_id", F.col("event_type").alias("ib"), F.col("v").alias("vb"))
    duel = (
        a.join(b, "user_id")
        .filter(F.col("ia") != F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.sum((F.col("va") > F.col("vb")).cast("long")).cast("long").alias("wins"))
    )
    duel = duel.persist()  # wins totals, n_ij, and every MM round reuse it
    w = duel.groupBy(F.col("ia").alias("item")).agg(
        F.sum("wins").cast("long").alias("wi")
    )
    rev = duel.select(
        F.col("ib").alias("ia"), F.col("ia").alias("ib"), F.col("wins").alias("rwins")
    )
    nm = duel.join(rev, ["ia", "ib"]).select(
        "ia", "ib", (F.col("wins") + F.col("rwins")).cast("long").alias("n_ij")
    )
    nm = nm.persist()
    items = duel.select(F.col("ia").alias("item")).distinct()
    s = items.select("item", F.lit(1.0).alias("s"))
    for _ in range(_BT_ITERS):
        pi = s.select(F.col("item").alias("ia"), F.col("s").alias("si"))
        pj = s.select(F.col("item").alias("ib"), F.col("s").alias("sj"))
        contrib = (
            nm.join(F.broadcast(pi), "ia")
            .join(F.broadcast(pj), "ib")
            .select(
                "ia",
                F.when(
                    (F.col("si") + F.col("sj")) != 0,
                    F.round(F.col("n_ij") / (F.col("si") + F.col("sj")), 9),
                )
                .cast("decimal(18,9)")
                .alias("c"),
            )
        )
        raw = (
            contrib.groupBy(F.col("ia").alias("item"))
            .agg(F.sum("c").cast("double").alias("den"))
            .join(F.broadcast(w), "item")
            .select(
                "item",
                F.when(
                    F.col("den") != 0,
                    F.round(F.col("wi").cast("double") / F.col("den"), 6),
                ).alias("s6"),
            )
        )
        norm = raw.agg(
            (
                F.sum(F.col("s6").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        s = raw.crossJoin(F.broadcast(norm)).select(
            "item",
            F.when(
                F.col("m") != 0, F.round(F.col("s6") / F.col("m"), 6)
            ).alias("s"),
        )
    return s.join(F.broadcast(w), "item").select(
        F.col("item").alias("event_type"),
        F.col("wi").alias("total_wins"),
        F.col("s").alias("strength"),
    )


@register(
    "seasonal_naive_mase",
    oracle="""
    WITH daily AS (
        SELECT event_type, day(ts) AS d,
               SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2))) AS v
        FROM events GROUP BY 1, 2),
    e7 AS (
        SELECT a.event_type, abs(a.v - b.v) AS err
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.d = a.d - 7),
    e1 AS (
        SELECT a.event_type, abs(a.v - b.v) AS err
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.d = a.d - 1),
    m7 AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n7,
               CAST(SUM(err) AS DOUBLE) / COUNT(*) AS mae7
        FROM e7 GROUP BY 1),
    m1 AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(err) AS DOUBLE) / COUNT(*) AS mae1
        FROM e1 GROUP BY 1)
    SELECT m7.event_type, n7, n1,
           round(mae7, 9) AS mae7,
           round(mae1, 9) AS mae1,
           -- constant daily series (heartbeat metrics) have mae1 = 0:
           -- MASE is undefined, both engines say NULL instead of ANSI
           -- Spark crashing with DIVIDE_BY_ZERO
           CASE WHEN mae1 <> 0 THEN round(mae7 / mae1, 9) END AS mase
    FROM m7 JOIN m1 ON m1.event_type = m7.event_type
    """,
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecastability audit: per event type, the mean absolute error of
    the seasonal-naive forecast (today = same weekday last week) scaled
    by the one-step naive error — MASE, the standard scale-free
    forecast-quality metric (< 1 means weekly seasonality beats simple
    persistence). The monitoring primitive that decides whether a
    pipeline metric is drifting or just seasonal.

    Daily values are exact decimal sums; |a - b| stays decimal-exact;
    both MAE divisions and the final ratio are mirrored doubles.

    Scale: one (type, day) aggregation, two self-equi-joins on the
    bounded daily table."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.dayofmonth("ts").alias("d")
    ).agg(
        F.sum(F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,2)")).alias("v")
    )
    daily = daily.persist()

    def mae(lag: int, n_name: str, mae_name: str) -> DataFrame:
        a = daily.select("event_type", "d", F.col("v").alias("va"))
        b = daily.select(
            "event_type", (F.col("d") + lag).alias("d"), F.col("v").alias("vb")
        )
        return (
            a.join(b, ["event_type", "d"])
            .select("event_type", F.abs(F.col("va") - F.col("vb")).alias("err"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias(n_name),
                (F.sum("err").cast("double") / F.count(F.lit(1))).alias(mae_name),
            )
        )

    m7 = mae(7, "n7", "mae7_raw")
    m1 = mae(1, "n1", "mae1_raw")
    return m7.join(m1, "event_type").select(
        "event_type",
        "n7",
        "n1",
        F.round(F.col("mae7_raw"), 9).alias("mae7"),
        F.round(F.col("mae1_raw"), 9).alias("mae1"),
        F.when(
            F.col("mae1_raw") != 0,
            F.round(F.col("mae7_raw") / F.col("mae1_raw"), 9),
        ).alias("mase"),
    )


@register(
    "did_estimator",
    oracle="""
    WITH cells AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS treated,
               CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS sv
        FROM events GROUP BY 1, 2),
    m AS (
        SELECT
            MAX(CASE WHEN treated = 1 AND post = 1 THEN sv / n END) AS t1,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN sv / n END) AS t0,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN sv / n END) AS c1,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN sv / n END) AS c0,
            CAST(SUM(n) AS BIGINT) AS n_rows
        FROM cells)
    SELECT n_rows,
           round(t1 - t0, 9) AS treated_delta,
           round(c1 - c0, 9) AS control_delta,
           round((t1 - t0) - (c1 - c0), 9) AS did
    FROM m
    """,
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: a synthetic treatment (odd user ids)
    crossed with a pre/post cut at mid-month; the effect estimate is the
    treated group's before/after change net of the control group's —
    the workhorse quasi-experimental estimator, as four exact-decimal
    cell means and three mirrored subtractions.

    Scale: one 4-cell aggregation; O(1) arithmetic after."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("treated"),
        F.when(F.dayofmonth("ts") > 15, 1).otherwise(0).alias("post"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,2)"))
        .cast("double")
        .alias("sv"),
    )
    mean = F.col("sv") / F.col("n")
    m = cells.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), mean)).alias("t1"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), mean)).alias("t0"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), mean)).alias("c1"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), mean)).alias("c0"),
        F.sum("n").cast("long").alias("n_rows"),
    )
    return m.select(
        "n_rows",
        F.round(F.col("t1") - F.col("t0"), 9).alias("treated_delta"),
        F.round(F.col("c1") - F.col("c0"), 9).alias("control_delta"),
        F.round((F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 9).alias(
            "did"
        ),
    )
