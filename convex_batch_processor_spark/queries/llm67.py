"""Post-window round-4 additions, part 60 (round-5 rotation material):
DBSCAN density clustering over embeddings.

Completes the clustering family (k-means llm3, SemDeDup, LOF llm57)
with the density-based member: core points (>= minPts neighbors within
eps) connect into clusters by transitive eps-reachability, border
points attach to a neighboring core's cluster, everything else is
noise — the algorithm that finds arbitrarily-shaped clusters and an
explicit noise set, which centroid methods cannot.

Composition of existing verified machinery: the exact pair-distance
table (llm57's 6-dp diff-square fold), degree counting, and the
connected-components operator (operators/graph.py min-label
propagation) over the core-core subgraph, with the oracle replaying
the closure as a recursive CTE (the neardup_components pattern).
Border ties resolve to the MINIMUM adjacent cluster id.

Registered last in queries/__init__.py (after llm66); oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_EPS = 1.15
_MINPTS = 3

_D6_SQL = """round(sqrt(list_dot_product(
        list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)),
        list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))), 6)"""


@register(
    "dbscan_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE live AS (
        -- NULL embeddings have no neighborhood (DuckDB's list_dot_product
        -- ERRORS on NULL; Spark's NULL distance fails the eps filter) —
        -- they fall through the final LEFT JOINs and label 'noise'
        SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
    nb AS MATERIALIZED (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM live a JOIN live b ON b.vec_id <> a.vec_id
        WHERE {_D6_SQL} <= {_EPS!r}),
    deg AS (SELECT ia AS v, CAST(COUNT(*) AS BIGINT) AS n FROM nb GROUP BY 1),
    cores AS MATERIALIZED (SELECT v FROM deg WHERE n >= {_MINPTS}),
    ce AS MATERIALIZED (
        SELECT nb.ia AS a, nb.ib AS b
        FROM nb
        JOIN cores x ON x.v = nb.ia
        JOIN cores y ON y.v = nb.ib),
    reach(node, peer) AS (
        SELECT v, v FROM cores
        UNION
        SELECT r.node, e.b FROM reach r JOIN ce e ON e.a = r.peer),
    comp AS (SELECT node AS v, CAST(MIN(peer) AS BIGINT) AS cluster_id
             FROM reach GROUP BY 1),
    border AS (
        SELECT nb.ia AS v, CAST(MIN(comp.cluster_id) AS BIGINT) AS cluster_id
        FROM nb
        JOIN comp ON comp.v = nb.ib
        LEFT JOIN cores c ON c.v = nb.ia
        WHERE c.v IS NULL
        GROUP BY 1)
    SELECT e.vec_id,
           CASE WHEN comp.v IS NOT NULL THEN 'core'
                WHEN border.v IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(comp.cluster_id, border.cluster_id) AS cluster_id
    FROM embeddings e
    LEFT JOIN comp ON comp.v = e.vec_id
    LEFT JOIN border ON border.v = e.vec_id
    """,
)
def dbscan_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (eps = {_EPS}, minPts = {_MINPTS}) over the embedding
    corpus: cores by neighborhood degree, clusters as connected
    components of the core-core eps-graph (min-member id labels),
    borders attached to their minimum adjacent cluster, the rest noise
    — density clustering with an explicit outlier set, the shape-
    agnostic complement to the k-means family.

    Distances are the 6-dp diff-square fold; components run through the
    verified min-label-propagation operator with the recursive-CTE
    oracle closure; every tie resolves to a minimum id.

    Scale: the exact eps-graph here is the verification baseline — at
    100 TB the neighbor pairs come from the bucketed LSH/IVF path
    (exactly as LOF documents), and the component/border stages are
    unchanged: degree counts, a core-subgraph CC (log-round
    large-star/small-star available), one border min-join."""
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    diff2 = F.aggregate(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nb = (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.round(F.sqrt(diff2), 6).alias("d6"))
        .filter(F.col("d6") <= _EPS)
        .select("ia", "ib")
        .persist()  # degree, core edges, and border join all reuse it
    )
    deg = nb.groupBy(F.col("ia").alias("v")).agg(F.count(F.lit(1)).alias("n"))
    cores = deg.filter(F.col("n") >= _MINPTS).select("v").persist()
    cx = cores.select(F.col("v").alias("ia"))
    cy = cores.select(F.col("v").alias("ib"))
    ce = nb.join(cx, "ia").join(cy, "ib")
    # isolated cores (no core neighbor) must still form singleton
    # clusters: feed them as self-loops so CC emits them.
    self_loops = cores.select(F.col("v").alias("ia"), F.col("v").alias("ib"))
    comp = (
        connected_components(ce.unionByName(self_loops), "ia", "ib")
        .select(F.col("node").alias("v"), F.col("component_id").alias("cluster_id"))
        .persist()
    )
    border = (
        nb.join(comp.select(F.col("v").alias("ib"), "cluster_id"), "ib")
        .join(cores.select(F.col("v").alias("ia")), "ia", "left_anti")
        .groupBy(F.col("ia").alias("v"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    cmp_r = comp.select(F.col("v").alias("cv"), F.col("cluster_id").alias("cc"))
    bor_r = border.select(F.col("v").alias("bv"), F.col("cluster_id").alias("bc"))
    return (
        emb.select("vec_id")
        .join(cmp_r, F.col("vec_id") == F.col("cv"), "left")
        .join(bor_r, F.col("vec_id") == F.col("bv"), "left")
        .select(
            "vec_id",
            F.when(F.col("cv").isNotNull(), "core")
            .when(F.col("bv").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("cc"), F.col("bc")).cast("long").alias("cluster_id"),
        )
    )
