"""Oracle parity for the round-15 pack (queries/llm76.py).

This file runs each entry through the SAME compare() harness the
driver-window fixture gates use, at a crafted boundary fixture AND
sf0.1 (the rounding-tie tier), plus a partition-invariance probe;
tests/test_oracle_parity.py covers sf0.001.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

# slow tier: excluded from the default run (pytest.ini); run with -m ""
pytestmark = pytest.mark.slow

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

from determinism_check import check_partition_invariance  # noqa: E402
from oracle_check import compare  # noqa: E402

from convex_batch_processor_spark.queries import QUERIES  # noqa: E402

CANDIDATES = {
    n: (s.fn, s.oracle) for n, s in QUERIES.items()
    if s.fn.__module__.endswith(".llm76")
}


def test_pack_is_fully_oracle_backed():
    assert len(CANDIDATES) == 7
    missing = [n for n, (fn, o) in CANDIDATES.items() if not o]
    assert missing == []


@pytest.fixture(scope="module")
def adv_r15_dir(tmp_path_factory):
    """Crafted boundary inputs: sources with hand-computable token
    totals (temperature grid, lognormal), an identical-text triple and
    pair with otherwise DISJOINT vocabularies (exact cluster-size and
    banding-precision pins), 1-token docs (ln = 0 moments), NULL/empty
    texts, and embeddings whose probe residues (0/20 vs 10/30), labels,
    zero vector, and NULL vector pin the anisotropy and separation
    numbers in closed form."""
    d = tmp_path_factory.mktemp("adv_r15_sf")
    con = duckdb.connect()

    def copy(table: str, sql: str) -> None:
        con.execute(f"COPY ({sql}) TO '{d}/{table}.parquet' (FORMAT PARQUET)")

    copy("documents", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), NULL, 'en', 'a', NULL),
            (1, '', 'en', 'a', CAST(0 AS BIGINT)),
            (2, 'w1 w2 w3 w4', 'en', 'a', 11),
            (3, 'v1 v2 v3 v4', 'en', 'a', 11),
            -- identical 10-token triple, vocabulary disjoint from all
            -- other docs: one size-3 near-dup cluster; all 3 minhash
            -- band keys collide pairwise at Jaccard 1.0
            (4, 'p1 p2 p3 p4 p5 p6 p7 p8 p9 p10', 'en', 'b', 29),
            (5, 'p1 p2 p3 p4 p5 p6 p7 p8 p9 p10', 'en', 'b', 29),
            (6, 'p1 p2 p3 p4 p5 p6 p7 p8 p9 p10', 'en', 'b', 29),
            -- identical 6-token pair, again disjoint vocabulary
            (11, 'z1 z2 z3 z4 z5 z6', 'en', 'c', 17),
            (12, 'z1 z2 z3 z4 z5 z6', 'en', 'c', 17),
            -- two 1-token docs: ln(1) = 0 -> mu_ln = var_ln = 0 exactly
            (13, 'solo', 'en', 'e', 4),
            (14, 'uno', 'en', 'e', 3)
        ) t(doc_id, text, lang, source, n_chars)""")
    copy("embeddings", """
        SELECT * FROM (VALUES
            -- probe set A (vec_id % 20 == 0): ids 0, 20
            (CAST(0 AS BIGINT), CAST([1.0, 0.0, 0.0, 0.0] AS FLOAT[]), 1),
            (20, CAST([2.0, 0.0, 0.0, 0.0] AS FLOAT[]), 1),
            -- probe set B (vec_id % 20 == 10): ids 10, 30
            (10, CAST([0.0, 1.0, 0.0, 0.0] AS FLOAT[]), 2),
            (30, CAST([-1.0, 0.0, 0.0, 0.0] AS FLOAT[]), 2),
            -- zero vector: excluded from cosine ops, label-3 group in
            -- the separation report
            (3, CAST([0.0, 0.0, 0.0, 0.0] AS FLOAT[]), 3),
            (4, CAST(NULL AS FLOAT[]), 3)
        ) t(vec_id, embedding, label)""")
    con.close()
    return str(d)


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_boundary_parity(spark, adv_r15_dir, name):
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, adv_r15_dir, name, fn, oracle)
    assert ok, f"{name}: {detail}"


def _floor_div(a: int, b: int) -> int:
    """Floor integer division — Python's native // (the query turns both
    engines' truncating div into floor via the negative-remainder
    correction, ADVICE r11)."""
    return a // b


def test_preflight_boundary_values(spark, adv_r15_dir):
    """Pin the crafted-boundary semantics, not just cross-engine parity
    (both engines agreeing on the wrong answer is the class the r8
    llmops review caught)."""
    fn, _ = CANDIDATES["temperature_sweep_weights"]
    tw = {(r.tau, r.source): r for r in fn(spark, adv_r15_dir).collect()}
    # token totals: a=8, b=30, c=12, e=2 -> at tau=1.0 the weights are
    # EXACT proportional shares
    tot = 8 + 30 + 12 + 2
    for src, n in (("a", 8), ("b", 30), ("c", 12), ("e", 2)):
        r = tw[(1.0, src)]
        assert r.n_tokens == n and r.w_raw == float(n)
        assert abs(r.weight - n / tot) < 1e-15
    # temperature flattens: the biggest source's share shrinks
    # monotonically as tau drops
    shares = [tw[(t, "b")].weight for t in (1.0, 0.75, 0.5, 0.25)]
    assert shares == sorted(shares, reverse=True)
    # every tau's weights sum to ~1
    for t in (0.25, 0.5, 0.75, 1.0):
        assert abs(sum(r.weight for (tau, _s), r in tw.items() if tau == t) - 1.0) < 1e-9

    fn, _ = CANDIDATES["embedding_anisotropy_probe"]
    (ap,) = fn(spark, adv_r15_dir).collect()
    # pairs A x B: cos(0,10)=0, cos(0,30)=-1, cos(20,10)=0, cos(20,30)=-1
    assert ap.n_pairs == 4
    assert abs(ap.mean_cos - (-0.5)) < 1e-12
    assert abs(ap.mean_abs_cos - 0.5) < 1e-12
    assert abs(ap.mean_cos_sq - 0.5) < 1e-12
    # norms over nonzero vectors: 1, 2, 1, 1 -> mean 1.25
    assert ap.n_vecs == 4 and abs(ap.mean_norm - 1.25) < 1e-12

    fn, _ = CANDIDATES["label_separation_report"]
    sep = {r.label: r for r in fn(spark, adv_r15_dir).collect()}
    # label 1 = {[1,0,0,0],[2,0,0,0]}: centroid [1.5,...], intra 0.25
    assert sep[1].n_vecs == 2 and abs(sep[1].mean_intra_sq - 0.25) < 1e-9
    # label 2 = {[0,1,0,0],[-1,0,0,0]}: centroid [-0.5,0.5,0,0], intra 0.5
    assert sep[2].n_vecs == 2 and abs(sep[2].mean_intra_sq - 0.5) < 1e-9
    # centroids: c1=[1.5,0,0,0], c2=[-0.5,0.5,0,0], c3=[0,0,0,0].
    # label 1's nearest OTHER centroid is c3 (1.5^2 = 2.25 < 4.25);
    # label 2's is c3 (0.25 + 0.25 = 0.5 < 4.25)
    assert abs(sep[1].min_inter_centroid_sq - 2.25) < 1e-9
    assert abs(sep[2].min_inter_centroid_sq - 0.5) < 1e-9
    # the zero vector is its own label-3 point: intra 0, nearest
    # centroid is label 2 at 0.25 + 0.25 = 0.5 (label 1 is at 2.25)
    assert sep[3].n_vecs == 1 and sep[3].mean_intra_sq == 0.0
    assert abs(sep[3].min_inter_centroid_sq - 0.5) < 1e-9

    fn, _ = CANDIDATES["neardup_cluster_sizes"]
    cs = {r.cluster_size: r for r in fn(spark, adv_r15_dir).collect()}
    # one size-3 cluster (docs 4,5,6) and TWO size-2: the identical pair
    # (11,12) and the NULL-text + empty-text pair (0,1) — _neardup_edges'
    # prefix fingerprint COALESCEs NULL text to '' so both hash md5('')
    # (the established llm.py semantics; the summary inherits them)
    assert {(k, v.n_clusters, v.n_docs) for k, v in cs.items()} == {
        (3, 1, 3), (2, 2, 4),
    }

    fn, _ = CANDIDATES["minhash_candidate_efficiency"]
    (eff,) = fn(spark, adv_r15_dir).collect()
    # identical texts share every band key -> C(3,2) + C(2,2) = 4
    # candidates; disjoint vocabularies make accidental band collisions
    # a ~2^-128 event; all 4 verify at Jaccard 1.0
    assert (eff.n_candidates, eff.n_verified) == (4, 4)
    assert eff.banding_precision == 1.0

    fn, _ = CANDIDATES["doc_length_lognormal_fit"]
    ln_fit = {r.source: r for r in fn(spark, adv_r15_dir).collect()}
    # source e: two 1-token docs -> ln(1) = 0 moments, exactly
    assert ln_fit["e"].n_docs == 2
    assert ln_fit["e"].mu_ln == 0.0 and ln_fit["e"].var_ln == 0.0
    # source b: three identical 10-token docs -> mu = ln(10) at 9 dp,
    # var ~0 within the scale-9 square-narrowing quantum (round(x*x, 9)
    # sits up to 0.5e-9 from x^2, so the moment difference inherits it)
    assert abs(ln_fit["b"].mu_ln - 2.302585093) < 1e-9
    assert abs(ln_fit["b"].var_ln) < 1e-9
    # the empty-text doc contributes nowhere (source a counts 2 docs)
    assert ln_fit["a"].n_docs == 2

    fn, _ = CANDIDATES["quality_band_token_share"]
    qb = fn(spark, adv_r15_dir).collect()
    # hashlib replay of the scorer and the floor-div banding
    def w(tok: str) -> int:
        return (
            int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 2000001
            - 1000000
        )

    texts = {
        2: "w1 w2 w3 w4", 3: "v1 v2 v3 v4",
        4: "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10",
        5: "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10",
        6: "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10",
        11: "z1 z2 z3 z4 z5 z6", 12: "z1 z2 z3 z4 z5 z6",
        13: "solo", 14: "uno",
    }
    from collections import defaultdict

    expect: dict = defaultdict(lambda: [0, 0])
    total = 0
    for _doc, text in texts.items():
        toks = text.split()
        ws = sum(w(t) for t in toks)
        band = _floor_div(ws * 10, len(toks) * 1_000_000)
        expect[band][0] += 1
        expect[band][1] += len(toks)
        total += len(toks)
    got = {r.band: (r.n_docs, r.n_tokens, r.token_share) for r in qb}
    assert {b: (v[0], v[1]) for b, v in expect.items()} == {
        b: (n, t) for b, (n, t, _s) in got.items()
    }
    for b, (_n, t, share) in got.items():
        assert abs(share - t / total) < 1e-15


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_parity_bench_scale(spark, name):
    """Parity at sf0.1 — the tier that catches scale-dependent
    determinism defects the small fixtures cannot."""
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, "/root/testdata/sf0.1", name, fn, oracle)
    assert ok, f"{name}: {detail}"


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_partition_invariance(spark, sf_dir, name):
    """Identical value multiset under the alien session config (200
    shuffle partitions, 64 KB scan splits)."""
    fn, _ = CANDIDATES[name]
    ok, detail = check_partition_invariance(spark, sf_dir, fn)
    assert ok, f"{name}: {detail}"


def test_preflight_plan_shapes(spark, sf_dir):
    """Plan gate: no CartesianProduct anywhere except
    the audited bounded probe product (anisotropy: (n/20)^2 broadcast
    nested loop is acceptable — it IS the operator's documented
    verification baseline and the build side is broadcast), and no
    unpartitioned windows at all (this pack is rollup-shaped)."""
    from convex_batch_processor_spark.plans import explain as E

    for name, (fn, _) in CANDIDATES.items():
        df = fn(spark, sf_dir)
        plan = E.physical_plan(df)
        assert "CartesianProduct" not in plan, name
        assert E.global_window_inputs(df) == [], (
            name, E.global_window_inputs(df))
