"""Post-window round-4 additions, part 31 (round-5 rotation material):
WARC web-archive ingestion — the Common Crawl container round-trip.

Registered last in queries/__init__.py (after llm37); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from .registry import register


@register(
    "warc_extract_stats",
    # every predicted column is NULL-guarded: a NULL text packs to a NULL
    # payload (kept row), so the decoder's features are NULL — the bare
    # constant 2 fabricated records for NULL docs (star-fixture find)
    oracle="""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE CAST(2 AS INTEGER) END AS n_records,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS response_bytes,
           md5(text) AS body_md5
    FROM documents
    """,
)
def warc_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web-archive ingestion, the Common Crawl shape: pack
    every document into a genuine WARC/1.0 file (warcinfo + response
    records, per-record gzip members — stdlib gzip is the whole codec),
    then READ it back: inflate the multi-member stream, walk records by
    magic, parse headers, slice bodies by Content-Length. Output proves
    bit-exact recovery: the response body's md5 must equal md5 of the
    original text, predicted by the oracle WITHOUT touching the archive
    bytes.

    Scale: ONE fused mapInPandas over Arrow batches — encode and decode
    composed in a single Python stage (identical math; the archive bytes
    never cross back to the JVM), the shard-parallel CC ingestion shape;
    zero shuffle."""
    from ..llmops.multimodal import warc_records_fused

    docs = load_table(spark, sf_dir, "documents")
    return warc_records_fused(docs)
