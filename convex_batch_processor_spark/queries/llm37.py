"""Post-window round-4 additions, part 30 (round-5 rotation material):
REAL compressed-image pipeline — PNG encode + decode via stdlib zlib.

Registered last in queries/__init__.py (after llm36); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from .registry import register


@register(
    "png_decode_features",
    oracle="""
    WITH dims AS (
        SELECT doc_id, 4 + doc_id % 13 AS w, 2 + doc_id % 7 AS h FROM documents
    ),
    px AS (
        SELECT doc_id, w, h, (doc_id + 3 * x + 5 * y) % 256 AS g
        FROM dims, unnest(range(0, w)) AS xs(x), unnest(range(0, h)) AS ys(y)
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(8 AS INTEGER) AS bit_depth,
           CAST(0 AS INTEGER) AS color_type,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_gray,
           CAST(MIN(g) AS INTEGER) AS min_gray,
           CAST(MAX(g) AS INTEGER) AS max_gray
    FROM px GROUP BY doc_id, w, h
    """,
)
def png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end COMPRESSED image pipeline, nothing stubbed: synthesize a
    genuine zlib-deflated grayscale PNG per document (signature, chunked
    IHDR/IDAT/IEND, CRC32s), then DECODE it — chunk walk, inflate,
    scanline unfiltering — and report header fields + exact gray stats.
    This retires the 'compressed formats are environment-blocked' caveat
    for PNG: stdlib zlib IS the codec.

    The oracle never touches the bytes: pixels are closed-form in doc_id
    ((id + 3x + 5y) % 256 over a w×h grid), so SQL PREDICTS what a
    correct decoder must emit — a wrong inflate, stride, filter handling,
    or header parse fails the hash.

    Scale: ONE fused mapInPandas over Arrow batches — encode and decode
    composed in a single Python stage (identical math; the PNG bytes
    never cross back to the JVM), partition-parallel, zero shuffle."""
    from ..llmops.multimodal import png_features_fused

    docs = load_table(spark, sf_dir, "documents")
    return png_features_fused(docs)
