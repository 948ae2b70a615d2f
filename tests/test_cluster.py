"""k-means (llmops/cluster.py) and int8 quantization (similarity.py)
parity/property tests."""

from __future__ import annotations

import numpy as np
import pytest

from convex_batch_processor_spark.catalog import load_table
from convex_batch_processor_spark.llmops.cluster import kmeans_clusters, kmeans_fit
from convex_batch_processor_spark.llmops.similarity import quantize_int8


@pytest.fixture()
def emb_np(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return emb, ids, mat


def _kmeans_ref(ids, mat, k, n_iter):
    """Numpy replica: lowest-id init, squared-L2 argmin with cluster-id
    tiebreak (argmin takes the first minimum), empty clusters keep their
    centroid."""
    cent = mat[np.argsort(ids)[:k]].copy()
    for _ in range(n_iter):
        d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    return cent, d2.argmin(axis=1)


def test_kmeans_matches_numpy_replica(spark, sf_dir, emb_np):
    emb, ids, mat = emb_np
    k, n_iter = 8, 4
    ref_cent, ref_assign = _kmeans_ref(ids, mat, k, n_iter)

    got_cent = {
        r.cluster_id: np.array(r.centroid)
        for r in kmeans_fit(emb, k=k, n_iter=n_iter).collect()
    }
    assert set(got_cent) == set(range(k))
    for c in range(k):
        np.testing.assert_allclose(got_cent[c], ref_cent[c], rtol=1e-9, atol=1e-12)

    got = {r.vec_id: r.cluster_id for r in kmeans_clusters(emb, k=k, n_iter=n_iter).collect()}
    ref = dict(zip(ids.tolist(), ref_assign.tolist()))
    assert got == ref


def test_kmeans_clusters_nontrivial_partition(spark, sf_dir, emb_np):
    emb, ids, _ = emb_np
    out = kmeans_clusters(emb, k=8, n_iter=2).collect()
    assert len(out) == len(ids)  # every vector assigned exactly once
    sizes = {}
    for r in out:
        sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
        assert r.dist2 >= 0
    assert len(sizes) > 1  # not everything collapsed into one cluster


def test_semantic_dedup_kmeans_one_keeper_and_recall(spark, sf_dir, emb_np):
    """Every component keeps exactly its min-id member, and pairs whose
    two vectors land in the same k-means cluster are co-membered —
    within-cluster blocking loses only cross-cluster pairs (the paper's
    documented trade)."""
    from convex_batch_processor_spark.llmops.cluster import (
        kmeans_clusters,
        semantic_dedup_kmeans,
    )
    from convex_batch_processor_spark.llmops.similarity import cosine_neardup_pairs

    emb, ids, _ = emb_np
    out = semantic_dedup_kmeans(emb, threshold=0.42, k=8, n_iter=2).collect()
    assert len(out) == len(ids)  # every vector labeled
    by_comp: dict[int, list] = {}
    for r in out:
        by_comp.setdefault(r.component_id, []).append(r)
    for comp, members in by_comp.items():
        keepers = [m.vec_id for m in members if m.keep]
        assert keepers == [min(m.vec_id for m in members)] and comp == keepers[0]

    cluster_of = {
        r.vec_id: r.cluster_id for r in kmeans_clusters(emb, k=8, n_iter=2).collect()
    }
    comp_of = {r.vec_id: r.component_id for r in out}
    exact = cosine_neardup_pairs(emb, 0.42).collect()
    same_cluster = [p for p in exact if cluster_of[p.vec_id_a] == cluster_of[p.vec_id_b]]
    assert same_cluster, "test corpus must have within-cluster near-dups"
    for p in same_cluster:
        assert comp_of[p.vec_id_a] == comp_of[p.vec_id_b]


def test_product_quantize_matches_numpy_replica(spark, sf_dir, emb_np):
    from convex_batch_processor_spark.llmops.cluster import product_quantize

    emb, ids, mat = emb_np
    m, k, n_iter = 8, 16, 2
    sub = mat.shape[1] // m
    got = {r.vec_id: (list(r.codes), r.recon_err) for r in
           product_quantize(emb, m=m, k=k, n_iter=n_iter).collect()}
    err2 = np.zeros(len(ids))
    for j in range(m):
        sl = mat[:, j * sub : (j + 1) * sub]
        cent, assign = _kmeans_ref(ids, sl, k, n_iter)
        for row, vid in enumerate(ids.tolist()):
            assert got[vid][0][j] == assign[row], (vid, j)
        err2 += ((sl - cent[assign]) ** 2).sum(axis=1)
    for row, vid in enumerate(ids.tolist()):
        assert abs(got[vid][1] - np.sqrt(err2[row])) < 1e-5


def test_quantize_int8_properties(spark, sf_dir, emb_np):
    emb, ids, mat = emb_np
    out = {r.vec_id: r for r in quantize_int8(emb).collect()}
    assert set(out) == set(ids.tolist())
    for vid, v in zip(ids.tolist(), mat):
        r = out[vid]
        scale = np.abs(v).max() / 127.0
        q = np.round(v / scale)
        assert abs(r.scale - scale) < 1e-9
        assert np.abs(q).max() <= 127
        assert r.qnorm == int((q * q).sum())
        err = np.sqrt(((v - q * scale) ** 2).sum())
        assert abs(r.recon_err - err) < 1e-5
        # quantization error per dim is bounded by scale/2
        assert r.recon_err <= scale / 2 * np.sqrt(len(v)) + 1e-9


def test_empty_input_raises_clear_error(spark):
    from convex_batch_processor_spark.llmops.cluster import product_quantize

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        kmeans_fit(empty, k=2, n_iter=1)
    with pytest.raises(ValueError, match="empty"):
        product_quantize(empty, m=2, k=2, n_iter=1)


def test_pca_power_matches_numpy_direction(spark, sf_dir, emb_np):
    """The rounded power iterate must align with numpy's exact top
    eigenvector of the centered covariance: |cos| >= 0.98 after 20
    rounds (lambda2/lambda1 = 0.93 on this corpus makes convergence slow;
    per-round 6dp rounding costs ~1e-6 per component)."""
    from convex_batch_processor_spark.llmops.cluster import pca_power_top_component

    emb, ids, mat = emb_np
    out = pca_power_top_component(emb, n_iter=20).collect()
    v = np.array([r.loading for r in sorted(out, key=lambda r: r.dim)])
    mu = np.array([r.mu for r in sorted(out, key=lambda r: r.dim)])
    xc = mat - mat.mean(axis=0)
    cov = xc.T @ xc / len(mat)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    assert abs(float(np.dot(v, top)) / np.linalg.norm(v)) >= 0.98
    np.testing.assert_allclose(mu, mat.mean(axis=0), atol=5e-7)
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    assert v[0] >= 0  # deterministic sign convention


def test_kmeans_and_pca_skip_null_embeddings(spark, sf_dir):
    """Review r6 (confirmed TypeError): a NULL embedding among the k
    lowest ids killed kmeans_fit on the driver, and a NULL lowest-id row
    killed pca_power_top_component — absent vectors (failed encoder,
    tombstoned row) must simply not participate in the fit."""
    from pyspark.sql import functions as F

    from convex_batch_processor_spark.llmops.cluster import pca_power_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    nulled = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    cents = kmeans_fit(nulled, k=4, n_iter=2, round_dp=6)
    assert cents.count() == 4
    base = {r.dim for r in pca_power_top_component(emb, n_iter=2).collect()}
    got = {r.dim for r in pca_power_top_component(nulled, n_iter=2).collect()}
    assert got == base  # same dimensionality, no crash


def test_kmeans_clusters_keep_vec_carries_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_clusters(emb, k=4, n_iter=1, round_dp=6, keep_vec=True)
    assert out.columns == ["vec_id", "embedding", "cluster_id", "dist2"]
    assert out.filter("embedding IS NULL").count() == 0


def test_nearest_centroid_batch_handles_empty_and_null_batches():
    """The Arrow-batch kernel of the k-means assignment: an EMPTY batch
    (a filtered-out partition) must return an empty frame, not crash on
    np.concatenate([]) behind a vacuously-true valid.all(); NULL vectors
    keep the (lowest cluster_id, NULL dist2) contract."""
    import pandas as pd

    from convex_batch_processor_spark.llmops.cluster import nearest_centroid_batch

    ids, mat = [3, 7], [[0.0, 0.0], [1.0, 1.0]]
    empty = nearest_centroid_batch(pd.Series([], dtype=object), ids, mat)
    assert list(empty.columns) == ["cluster_id", "dist2"]
    assert len(empty) == 0
    got = nearest_centroid_batch(pd.Series([[0.9, 1.0], None], dtype=object), ids, mat)
    assert got["cluster_id"].tolist() == [7, 3]
    assert abs(got["dist2"][0] - 0.01) < 1e-12
    assert got["dist2"][1] is None
