"""Post-window round-4 additions, part 39 (round-5 rotation material):
text-cleaning operators — Unicode normalization, mojibake repair, and a
character-entropy quality signal.

The first two run REAL cleaning logic (stdlib ``unicodedata`` NFC/NFKC
and the latin-1/utf-8 round-trip repair) over payloads injected
CLOSED-FORM in doc_id (the llm28/llm37 predictive-oracle family: the
corpus is verified pure printable-ASCII, so the injected characters are
the only non-ASCII content and the oracle predicts every count and
length delta from doc_id arithmetic without ever touching Unicode).
The entropy signal is engine-portable outright: ln leaf-rounded at
9 dp, (count x decimal) exact sums, one mirrored double expression.

All non-ASCII payloads are written as explicit ``\\uXXXX`` escapes so
editor/source normalization can never precompose or alter them.

Registered last in queries/__init__.py (after llm45); oracle-backed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import load_table
from .registry import register


# doc_id % 5 -> appended payload (leading ASCII space; base text is NFC/
# NFKC-stable ASCII, so every normalization effect is the payload's):
#   1: " e" + U+0301 combining acute  NFC -1 char, NFKC -1 char
#   2: " " + U+FB01 fi ligature       NFC stable,  NFKC +1 char
#   3: " " + U+00BD vulgar half       NFC stable,  NFKC +2 chars
#   4: " " + U+FF21 fullwidth A       NFC stable,  NFKC +-0 (changed)
_NORM_PAYLOADS = {1: " e\u0301", 2: " \ufb01", 3: " \u00bd", 4: " \uff21"}


def _with_norm_payload(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    # inject onto '' for NULL text: concat would null the payload and
    # drop the doc from the probe while the oracle (doc_id arithmetic)
    # still counts it
    expr = F.coalesce(F.col("text"), F.lit(""))
    for m, pay in _NORM_PAYLOADS.items():
        expr = F.concat(expr, F.when(did % 5 == m, F.lit(pay)).otherwise(F.lit("")))
    return docs.withColumn("text", expr)


def _norm_probe_udf():
    """Lazily built (DDL return types parse via the active SparkSession,
    so the decorator must not run at module import)."""

    @pandas_udf(
        "struct<nfc_delta:long, nfkc_delta:long, nfc_changed:boolean, nfkc_changed:boolean>"
    )
    def _norm_probe(text: pd.Series) -> pd.DataFrame:
        import unicodedata as ud

        # NULL text probes NULL (ud.normalize(None) would TypeError the
        # whole Arrow batch; a missing document is not "unchanged")
        def probe(t):
            if t is None:
                return (None, None, None, None)
            nfc = ud.normalize("NFC", t)
            nfkc = ud.normalize("NFKC", t)
            return (len(nfc) - len(t), len(nfkc) - len(t), nfc != t, nfkc != t)

        rows = [probe(t) for t in text]
        return pd.DataFrame(
            rows, columns=["nfc_delta", "nfkc_delta", "nfc_changed", "nfkc_changed"]
        )

    return _norm_probe


@register(
    "unicode_normalize_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nfc_changed_docs,
           CAST(SUM(CASE WHEN doc_id % 5 IN (1, 2, 3, 4) THEN 1 ELSE 0 END) AS BIGINT)
               AS nfkc_changed_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 1 THEN -1 ELSE 0 END) AS BIGINT)
               AS nfc_delta_chars,
           CAST(SUM(CASE doc_id % 5 WHEN 1 THEN -1 WHEN 2 THEN 1 WHEN 3 THEN 2
                    ELSE 0 END) AS BIGINT) AS nfkc_delta_chars
    FROM documents
    GROUP BY source
    """,
)
def unicode_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Unicode-normalization audit: run real NFC and NFKC
    (stdlib unicodedata, Arrow-batched pandas UDF) and report per source
    how many documents each form changes and the net code-point delta.

    Injected payloads cover the four behavior classes — canonical
    composition (combining accent, shrinks), compatibility expansion
    (ligature +1, vulgar fraction +2), and same-length folding
    (fullwidth letter) — and the oracle predicts every figure from
    doc_id arithmetic; a normalizer that picked the wrong form, skipped
    composition, or measured UTF-16 units instead of code points fails
    the hash.

    Scale: per-row vectorized map + one partial-agg shuffle on source."""
    docs = _with_norm_payload(load_table(spark, sf_dir, "documents"))
    probed = docs.withColumn("np", _norm_probe_udf()(F.col("text")))
    return probed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("np.nfc_changed").cast("long")).cast("long").alias(
            "nfc_changed_docs"
        ),
        F.sum(F.col("np.nfkc_changed").cast("long")).cast("long").alias(
            "nfkc_changed_docs"
        ),
        F.sum("np.nfc_delta").cast("long").alias("nfc_delta_chars"),
        F.sum("np.nfkc_delta").cast("long").alias("nfkc_delta_chars"),
    )


def _repaired_len_udf():
    @pandas_udf("long")
    def _repaired_len(text: pd.Series) -> pd.Series:
        def fix(t: str):
            if t is None:  # NULL text repairs to NULL, not a TypeError
                return None
            try:
                return len(t.encode("latin-1").decode("utf-8"))
            except (UnicodeEncodeError, UnicodeDecodeError):
                return len(t)

        return text.map(fix)

    return _repaired_len


@register(
    "mojibake_repair_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS flagged_docs,
           CAST(SUM(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS mojibake_seqs,
           CAST(SUM(CASE WHEN doc_id % 6 = 0 THEN -1 ELSE 0 END) AS BIGINT)
               AS repair_delta_chars
    FROM documents
    GROUP BY source
    """,
)
def mojibake_repair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake (UTF-8 bytes mis-decoded as latin-1) detection and
    repair: docs with doc_id % 6 == 0 get ' caf' + U+00C3 U+00A9
    appended — the classic double-encoding artifact of 'caf\\u00e9'.
    The JVM-side detector counts U+00C3-plus-continuation bigrams
    (regexp, no UDF); the repair UDF round-trips latin-1 -> utf-8 and
    reports the code-point delta (each repaired sequence shrinks by one
    char; clean ASCII docs round-trip unchanged).

    The oracle predicts flag counts and deltas from doc_id % 6 — a
    detector that over-matches ASCII, or a repair that corrupts clean
    text, diverges immediately.

    Scale: regex + vectorized map per row, one source-keyed shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    # inject onto '' for NULL text (the _with_norm_payload rule): bare
    # concat would null the payload and silently drop a doc_id%6==0 doc
    # from flagged_docs while the doc_id-arithmetic oracle counts it
    injected = docs.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 6 == 0, F.lit(" caf\u00c3\u00a9")).otherwise(
                F.lit("")
            ),
        ),
    )
    seqs = F.regexp_count(F.col("text"), F.lit("\u00c3[\u0080-\u00bf]"))
    rep = injected.select(
        "source",
        seqs.alias("n_seq"),
        (F.length("text") - _repaired_len_udf()(F.col("text"))).alias("shrunk"),
    )
    return rep.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_seq") > 0).cast("long")).cast("long").alias("flagged_docs"),
        F.sum("n_seq").cast("long").alias("mojibake_seqs"),
        F.sum(-F.col("shrunk")).cast("long").alias("repair_delta_chars"),
    )


_LN2 = 0.6931471805599453


@register(
    "char_entropy_quality",
    oracle=f"""
    WITH ch AS MATERIALIZED (
        SELECT doc_id, source, unnest(list_filter(string_split(text, ''), x -> x <> ''))
               AS ch
        FROM documents),
    cnt AS (
        SELECT doc_id, source, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM ch GROUP BY 1, 2, 3),
    per_doc AS (
        SELECT doc_id, source,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS DECIMAL(12,0))
                        * CAST(round(ln(c), 9) AS DECIMAL(12,9))) AS DOUBLE) AS s
        FROM cnt GROUP BY 1, 2),
    h AS (
        SELECT doc_id, source,
               round((round(ln(n), 9) - (s / CAST(n AS DOUBLE))) / {_LN2!r}, 9)
                   AS h_bits
        FROM per_doc)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(h_bits AS DECIMAL(12,9))) AS DOUBLE) / COUNT(*)
               AS avg_entropy_bits,
           CAST(SUM(CASE WHEN h_bits < 3.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS low_entropy_docs
    FROM h GROUP BY 1
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal: per-document Shannon entropy of
    the character distribution in bits/char (H = ln n - (1/n) Sum c ln c,
    the standard compressibility proxy used by corpus quality filters —
    boilerplate and keyboard-mash score low), aggregated per source with
    a low-entropy (< 3 bits) document count.

    Determinism: both ln leaves are 9-dp-rounded, the c*ln(c) mass is an
    exact (narrow-decimal x decimal) sum, and the per-doc entropy is one
    mirrored double expression pinned at 9 dp before the exact per-source
    average.

    Scale: char explode -> (doc, char) partial agg -> doc agg -> source
    agg; every shuffle key is uniform, and nothing is quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id",
        "source",
        F.explode(F.filter(F.split("text", ""), lambda x: x != F.lit(""))).alias("ch"),
    )
    cnt = ch.groupBy("doc_id", "source", "ch").agg(F.count(F.lit(1)).alias("c"))
    per_doc = cnt.groupBy("doc_id", "source").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.col("c").cast("decimal(12,0)")
            * F.round(F.log("c"), 9).cast("decimal(12,9)")
        )
        .cast("double")
        .alias("s"),
    )
    h = per_doc.select(
        "doc_id",
        "source",
        F.round(
            (F.round(F.log("n"), 9) - (F.col("s") / F.col("n").cast("double")))
            / F.lit(_LN2),
            9,
        ).alias("h_bits"),
    )
    return h.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        # rule 14 (r12 strip): h_bits is 9-dp-pinned per doc, so the
        # decimal sum is exact with unscaled value ~5e14 at sf0.1 (18x
        # under 2^53 — exact ->DOUBLE cast), and the division by the doc
        # count is one bit-identical IEEE op; round(,9) could only mask.
        (
            F.sum(F.col("h_bits").cast("decimal(12,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_entropy_bits"),
        F.sum((F.col("h_bits") < 3.0).cast("long")).cast("long").alias(
            "low_entropy_docs"
        ),
    )
