"""Post-window round-4 additions, part 57 (round-5 rotation material):
CIDR longest-prefix-match lookup — the routing/geo-IP dimension join.

IP-to-network attribution is a range join with LONGEST-match-wins
semantics (the trie lookup every geo/routing enrichment performs).
Here it runs as a real bit-arithmetic pipeline: each document gets a
dotted-quad string (closed-form in doc_id), Spark PARSES it back to an
integer (split + casts — real parsing, not a passthrough) and matches
it against a broadcast prefix table by masked equality, keeping the
most specific prefix per IP. The oracle is predictive (the llm28
family): it never parses an address or masks a bit — zones follow from
doc_id arithmetic, so a wrong parser, mask, or tie rule diverges.

Registered last in queries/__init__.py (after llm63); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

#: (cidr, zone) — overlapping prefixes force genuine longest-match logic
_CIDRS = [
    ("10.0.0.0/8", "corp-default"),
    ("10.0.0.0/10", "zone-a"),
    ("10.64.0.0/10", "zone-b"),
    ("10.64.0.0/12", "zone-b-hot"),
    ("10.192.0.0/10", "zone-d"),
]


def _cidr_rows():
    out = []
    for cidr, zone in _CIDRS:
        net, plen = cidr.split("/")
        a, b, c, d = (int(x) for x in net.split("."))
        out.append((zone, (a << 24) | (b << 16) | (c << 8) | d, int(plen)))
    return out


# doc_id % 256 decides the second octet -> the zone is closed-form:
#   0..63   -> zone-a (/10 beats /8)
#   64..79  -> zone-b-hot (/12 beats /10 and /8)
#   80..127 -> zone-b
#   128..191-> corp-default (/8 only)
#   192..255-> zone-d
_ZONE_SQL = """CASE
    WHEN doc_id % 256 < 64 THEN 'zone-a'
    WHEN doc_id % 256 < 80 THEN 'zone-b-hot'
    WHEN doc_id % 256 < 128 THEN 'zone-b'
    WHEN doc_id % 256 < 192 THEN 'corp-default'
    ELSE 'zone-d' END"""


@register(
    "cidr_zone_lookup",
    oracle=f"""
    WITH z AS (
        -- doc_id IS NOT NULL on BOTH sides: a NULL id synthesizes no IP
        -- (concat_ws would silently skip the NULL octet and ANSI
        -- element_at would crash on the short split)
        SELECT doc_id, {_ZONE_SQL} AS zone FROM documents
        WHERE doc_id IS NOT NULL)
    SELECT zone,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM z GROUP BY 1
    """,
)
def cidr_zone_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match IP attribution: dotted-quad addresses
    (10.{{id%256}}.x.y) parse back to integers, match every covering
    prefix in the broadcast CIDR table by masked equality
    (ip >> (32-len) == net >> (32-len)), and the MOST SPECIFIC prefix
    wins — the trie semantics of routing tables and geo-IP databases,
    expressed as broadcast-join + per-IP rank. Overlapping table
    entries (/8 under /10 under /12) make a first-match or
    shortest-match implementation diverge immediately.

    The oracle predicts each document's zone purely from doc_id ranges.

    Scale: map-side parse, broadcast 5-row dim join (fanout <= table
    size), per-IP rank over <= 3 candidate rows — zero corpus shuffle
    before the bounded zone census."""
    docs = load_table(spark, sf_dir, "documents")
    ip_str = F.concat_ws(
        ".",
        F.lit("10"),
        (F.col("doc_id") % 256).cast("string"),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        ((F.col("doc_id") * 13) % 256).cast("string"),
    )
    parts = F.split(ip_str, "\\.")
    ip_int = (
        F.element_at(parts, 1).cast("long") * F.lit(1 << 24)
        + F.element_at(parts, 2).cast("long") * F.lit(1 << 16)
        + F.element_at(parts, 3).cast("long") * F.lit(1 << 8)
        + F.element_at(parts, 4).cast("long")
    )
    ips = docs.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", ip_int.alias("ip")
    )
    dim = docs.sparkSession.createDataFrame(
        _cidr_rows(), "zone string, net long, plen int"
    )
    cand = ips.join(
        F.broadcast(dim),
        F.expr("(ip >> (32 - plen)) = (net >> (32 - plen))"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("plen").desc())
    best = cand.select(
        "doc_id", "zone", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1)
    return best.groupBy("zone").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )
