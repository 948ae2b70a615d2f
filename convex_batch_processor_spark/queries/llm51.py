"""Post-window round-4 additions, part 44 (round-5 rotation material):
phonetic blocking for record linkage, and CUPED variance reduction for
experiment analysis.

- ``soundex_blocking_stats`` exercises Spark's JVM ``soundex`` against
  an INDEPENDENT pure-Python reference implementation: surnames are
  injected closed-form by doc_id, their codes computed at registration
  by the reference encoder and pinned as oracle literals — if Spark's
  phonetic algorithm deviated from standard American Soundex on any
  injected name, the hash would fail. This is the classic blocking key
  for entity resolution (pairs that sound alike meet; cf. the
  sorted-neighborhood and golden-record operators).
- ``cuped_variance_reduction`` is the standard pre-experiment covariate
  adjustment (y* = y - theta (x - mean x), theta = cov/var): all five
  moments are exact decimal sums and the theta/variance arithmetic is
  one fixed IEEE expression tree (the llm44 Cramer recipe).

Registered last in queries/__init__.py (after llm50); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


# --- Soundex blocking --------------------------------------------------------

_NAMES = ["Robert", "Rupert", "Smith", "Smyth", "Jackson", "Miller", "Garcia", "Lee"]


def _soundex_ref(name: str) -> str:
    """Independent reference American Soundex (first letter + 3 digits;
    h/w transparent between same-code consonants, vowels reset)."""
    codes = {}
    for letters, d in [
        ("BFPV", "1"), ("CGJKQSXZ", "2"), ("DT", "3"),
        ("L", "4"), ("MN", "5"), ("R", "6"),
    ]:
        for ch in letters:
            codes[ch] = d
    name = name.upper()
    out = name[0]
    prev = codes.get(name[0], "")
    for ch in name[1:]:
        d = codes.get(ch, "")
        if ch in "HW":
            continue  # transparent: prev code survives across h/w
        if d and d != prev:
            out += d
            if len(out) == 4:
                break
        prev = d  # vowels (d == "") reset prev
    return (out + "000")[:4]


_CODES = [_soundex_ref(n) for n in _NAMES]


def _code_case_sql() -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{_CODES[i]}'" for i in range(len(_NAMES))
    )
    return f"CASE doc_id % {len(_NAMES)} {whens} END"


@register(
    "soundex_blocking_stats",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, doc_id % {len(_NAMES)} AS ni, {_code_case_sql()} AS code
        FROM documents)
    SELECT code AS block,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT ni) AS BIGINT) AS n_distinct_names,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM m GROUP BY 1
    """,
)
def soundex_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking: each document gets a surname from an 8-name
    roster (closed-form in doc_id), Spark's ``soundex`` computes the
    block key, and the query reports block sizes and how many DISTINCT
    spellings each block merged — Robert/Rupert (R163) and Smith/Smyth
    (S530) must land together, the others alone; that collapse is the
    entity-resolution candidate generation this key exists for.

    The oracle never calls soundex: codes come from an independent
    pure-Python reference encoder pinned as literals, so any deviation
    in Spark's phonetic algorithm on these names fails the hash.

    Scale: per-row JVM string function + one bounded-key aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    ni = F.col("doc_id") % len(_NAMES)
    name = F.element_at(F.array(*[F.lit(n) for n in _NAMES]), ni.cast("int") + 1)
    m = docs.select(
        "doc_id", ni.alias("ni"), F.soundex(name).alias("block")
    )
    return m.groupBy("block").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("ni").cast("long").alias("n_distinct_names"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


# --- CUPED -------------------------------------------------------------------


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(coalesce(SUM(CASE WHEN day(ts) % 2 = 0
                             THEN CAST(value AS DECIMAL(18,2)) END),
                             0) AS DECIMAL(12,2)) AS x,
               CAST(coalesce(SUM(CASE WHEN day(ts) % 2 = 1
                             THEN CAST(value AS DECIMAL(18,2)) END),
                             0) AS DECIMAL(12,2)) AS y
        FROM events GROUP BY 1),
    cm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM per_user),
    d AS (
        -- zero-variance guards (degenerate corpora: identical x for every
        -- user, or constant y): ANSI Spark throws DIVIDE_BY_ZERO where
        -- DuckDB silently yields NULL/inf, so both engines guard the same
        SELECT n, nd, sx, sy, sxx, sxy, syy,
               CASE WHEN (sxx - ((sx * sx) / nd)) <> 0 THEN
                   (sxy - ((sx * sy) / nd)) / (sxx - ((sx * sx) / nd))
               END AS theta,
               (syy - ((sy * sy) / nd)) / nd AS var_y
        FROM cm)
    SELECT n AS n_users,
           round(theta, 9) AS theta,
           round(var_y, 9) AS var_y,
           round(var_y - ((theta * theta)
                 * ((sxx - ((sx * sx) / nd)) / nd)), 9) AS var_adj,
           CASE WHEN var_y <> 0 THEN
               round(1.0 - ((var_y - ((theta * theta)
                     * ((sxx - ((sx * sx) / nd)) / nd))) / var_y), 9)
           END AS reduction
    FROM d
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED covariate adjustment: per-user even-day spend is the
    pre-period covariate x, odd-day spend the experiment metric y;
    theta = cov(x,y)/var(x) from five exact decimal moments, and the
    adjusted variance follows the identity var(y*) = var(y) -
    theta^2 var(x) — the variance a CUPED-adjusted experiment would
    actually analyze, plus the achieved reduction fraction.

    Missing-period users coalesce to 0 (their absence IS the signal);
    all moments are order-free exact decimals; every division and
    product is one mirrored IEEE expression (llm44 recipe — no
    intermediate rounding required).

    Scale: one user-keyed aggregation, one moment reduce, O(1) math."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(18,2)"
    zero = F.lit(0).cast(dec)
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.dayofmonth("ts") % 2 == 0, F.col("value").cast(dec))),
            zero,
        )
        .cast("decimal(12,2)")
        .alias("x"),
        F.coalesce(
            F.sum(F.when(F.dayofmonth("ts") % 2 == 1, F.col("value").cast(dec))),
            zero,
        )
        .cast("decimal(12,2)")
        .alias("y"),
    )
    x = F.col("x")
    y = F.col("y")
    cm = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    c = F.col
    # zero-variance guards mirror the oracle's CASE: without them ANSI
    # Spark throws DIVIDE_BY_ZERO on degenerate corpora (identical
    # covariate for every user / constant metric)
    var_x_num = c("sxx") - ((c("sx") * c("sx")) / c("nd"))
    theta = F.when(
        var_x_num != 0,
        (c("sxy") - ((c("sx") * c("sy")) / c("nd"))) / var_x_num,
    )
    var_y = (c("syy") - ((c("sy") * c("sy")) / c("nd"))) / c("nd")
    d = cm.select(
        "n", "nd", "sx", "sy", "sxx", "sxy", "syy",
        theta.alias("theta"), var_y.alias("var_y"),
    )
    var_x = (c("sxx") - ((c("sx") * c("sx")) / c("nd"))) / c("nd")
    var_adj = c("var_y") - ((c("theta") * c("theta")) * var_x)
    return d.select(
        c("n").alias("n_users"),
        F.round(c("theta"), 9).alias("theta"),
        F.round(c("var_y"), 9).alias("var_y"),
        F.round(var_adj, 9).alias("var_adj"),
        F.when(
            c("var_y") != 0,
            F.round(F.lit(1.0) - (var_adj / c("var_y")), 9),
        ).alias("reduction"),
    )
