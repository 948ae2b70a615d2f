"""Post-window round-4 additions, part 49 (round-5 rotation material):
time-series interpolation join and classifier-evaluation composition.

- ``asof_interpolate_price`` completes the as-of family (backward
  asof_join_latest_order, forward asof_join_next_order) with the
  INTERPOLATING variant: each event gets the linear interpolation of
  its customer's bracketing order prices at the event's time fraction —
  the time-series alignment step feature pipelines use to sample a
  slow-moving signal at event timestamps. Both brackets come from ONE
  union-and-window pass (same sort, two frames), so the cost stays one
  key shuffle.
- ``langid_confusion_matrix`` evaluates the real n-gram language
  classifier end to end by composing the registered language_id
  pipeline into a per-(actual, predicted) census with row-normalized
  recall — classifier evaluation as a first-class query, oracle
  composed from language_id's own verified SQL.

Registered last in queries/__init__.py (after llm55); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import QUERIES, register


@register(
    "asof_interpolate_price",
    oracle="""
    WITH prev AS (
        SELECT event_id, user_id, ts, o_orderdate AS pd, o_totalprice AS pv FROM (
            SELECT e.event_id, e.user_id, e.ts, o.o_orderdate, o.o_totalprice,
                   row_number() OVER (PARTITION BY e.event_id
                                      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC)
                       AS rn
            FROM events e
            LEFT JOIN orders o
              ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        ) WHERE rn = 1),
    nxt AS (
        SELECT event_id, o_orderdate AS nd, o_totalprice AS nv FROM (
            SELECT e.event_id, o.o_orderdate, o.o_totalprice,
                   row_number() OVER (PARTITION BY e.event_id
                                      ORDER BY o.o_orderdate ASC, o.o_orderkey ASC)
                       AS rn
            FROM events e
            LEFT JOIN orders o
              ON o.o_custkey = e.user_id AND o.o_orderdate > e.ts
        ) WHERE rn = 1)
    SELECT prev.event_id, prev.user_id, prev.ts,
           CASE WHEN pd IS NOT NULL AND nd IS NOT NULL THEN
               CAST(CAST(pv AS DECIMAL(18,2)) AS DOUBLE)
                     + ((CAST(epoch_us(ts) - epoch_us(pd) AS DOUBLE)
                         / CAST(epoch_us(nd) - epoch_us(pd) AS DOUBLE))
                        * (CAST(CAST(nv AS DECIMAL(18,2)) AS DOUBLE)
                           - CAST(CAST(pv AS DECIMAL(18,2)) AS DOUBLE)))
           END AS interp_price
    FROM prev JOIN nxt ON nxt.event_id = prev.event_id
    """,
)
def asof_interpolate_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolating as-of join: each event's price signal is linearly
    interpolated between the customer's latest order at-or-before and
    earliest order strictly-after the event, at the exact
    integer-microsecond time fraction; events missing either bracket
    yield NULL (leading/trailing positions).

    ONE union-and-window pass produces both brackets: the same
    (t, side, key) sort carries the previous order forward with a
    [preceding, current] last() and the next order backward with a
    [current, following) first() — two frames, one shuffle, versus the
    oracle's two ranked left joins. The time fraction divides exact
    integer micros (unix_micros == epoch_us parity); prices enter as
    exact 2-dp decimals cast once to double.

    Scale: O(|events| + |orders|) shuffled once on the key — the as-of
    family's standard posture; no range join ever materializes."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
    )
    unioned = ev.unionByName(orders)
    # orders sort before a same-instant event: included by the backward
    # [.., current] frame (inclusive <=), excluded from the forward
    # [current, ..) frame (strict >) — one sort serves both brackets.
    order_spec = [
        F.col("t").asc(),
        F.col("is_event").asc(),
        F.col("o_orderkey").asc_nulls_last(),
    ]
    wb = (
        Window.partitionBy("key")
        .orderBy(*order_spec)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("key")
        .orderBy(*order_spec)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # carry each bracket as ONE struct so date and price always come from
    # the SAME order row — independent last()/first() ignorenulls would
    # skip a bracketing order's NULL price back to an EARLIER order's
    # price while keeping the nearer date (review r7: silently wrong
    # interpolation). The struct is NULL exactly on event rows, so
    # ignorenulls skips events and lands on the true bracketing order,
    # NULL price and all (the oracle's rn=1 row).
    obr = F.when(
        F.col("is_event") == 0, F.struct("o_orderdate", "o_totalprice")
    )
    pb = F.last(obr, ignorenulls=True).over(wb)
    nb = F.first(obr, ignorenulls=True).over(wf)
    pd_, pv = pb["o_orderdate"], pb["o_totalprice"]
    nd, nv = nb["o_orderdate"], nb["o_totalprice"]
    rows = unioned.select(
        "key", "is_event", "event_id", "ts",
        pd_.alias("pd"), pv.alias("pv"), nd.alias("nd"), nv.alias("nv"),
    ).filter(F.col("is_event") == 1)
    frac = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("pd"))
    span = F.unix_micros(F.col("nd")) - F.unix_micros(F.col("pd"))
    pvd = F.col("pv").cast("decimal(18,2)").cast("double")
    nvd = F.col("nv").cast("decimal(18,2)").cast("double")
    # rule 14 (r12 strip): every leaf is exact (epoch micros are int64
    # under 2^53; 2-dp decimal prices cast to double exactly) and the
    # interpolation is a mirrored fixed IEEE expression tree — raw is
    # bit-identical; the former round(,9) could only mask.
    interp = pvd + ((frac.cast("double") / span.cast("double")) * (nvd - pvd))
    return rows.select(
        "event_id",
        F.col("key").alias("user_id"),
        "ts",
        F.when(
            F.col("pd").isNotNull() & F.col("nd").isNotNull(), interp
        ).alias("interp_price"),
    )


@register(
    "langid_confusion_matrix",
    oracle=f"""
    WITH pred AS ({QUERIES["language_id"].oracle}),
    cells AS (
        SELECT actual_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2),
    tot AS (
        SELECT actual_lang, CAST(SUM(n_docs) AS BIGINT) AS n_actual
        FROM cells GROUP BY 1)
    SELECT cells.actual_lang, cells.predicted_lang, n_docs, n_actual,
           round(CAST(n_docs AS DOUBLE) / n_actual, 9) AS row_frac
    FROM cells JOIN tot ON tot.actual_lang = cells.actual_lang
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the real trigram language classifier: the
    registered language_id pipeline (profile build + overlap vote) runs
    end to end, then collapses to per-(actual, predicted) counts with
    row-normalized recall — classifier evaluation as a first-class
    query, with the oracle COMPOSED from language_id's own verified SQL
    (the composition cannot drift from the classifier it evaluates).

    Scale: the classifier's cost dominates (profile top-k + overlap
    join); the census is |langs|^2 rows."""
    pred = QUERIES["language_id"].fn(spark, sf_dir)
    cells = pred.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = cells.groupBy("actual_lang").agg(
        F.sum("n_docs").cast("long").alias("n_actual")
    )
    return cells.join(F.broadcast(tot), "actual_lang").select(
        "actual_lang",
        "predicted_lang",
        "n_docs",
        "n_actual",
        F.round(F.col("n_docs").cast("double") / F.col("n_actual"), 9).alias(
            "row_frac"
        ),
    )
