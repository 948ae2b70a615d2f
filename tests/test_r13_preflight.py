"""Oracle parity for the round-13 pack (queries/llm74.py).

This file runs each entry through the SAME compare() harness the
driver-window fixture gates use, at a crafted boundary fixture AND
sf0.1 (the rounding-tie tier); tests/test_oracle_parity.py covers
sf0.001.
"""

from __future__ import annotations

import os
import sys

import pytest

# slow tier: excluded from the default run (pytest.ini); run with -m ""
pytestmark = pytest.mark.slow

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

from oracle_check import compare  # noqa: E402

from convex_batch_processor_spark.queries import QUERIES  # noqa: E402

CANDIDATES = {
    n: (s.fn, s.oracle) for n, s in QUERIES.items()
    if s.fn.__module__.endswith(".llm74")
}


def test_pack_is_fully_oracle_backed():
    assert len(CANDIDATES) == 6
    missing = [n for n, (fn, o) in CANDIDATES.items() if not o]
    assert missing == []


@pytest.fixture(scope="module")
def adv_r13_dir(tmp_path_factory):
    """Crafted boundary inputs: an identical 8-token doc in TWO sources
    (exact duplicate AND the only shared gram -> contamination jaccard
    exactly 1.0; same hashed quality score), an unrelated >=8-token
    source, short/NULL/empty docs (no grams, no FIM for n<2), a 2-token
    doc (FIM minimum: prefix 1 / middle 1 / suffix 0), and embeddings
    with a constant dim (var=0 contributes 0), a NULL vector, and one
    extreme outlier."""
    d = tmp_path_factory.mktemp("adv_r13_sf")
    con = duckdb.connect()

    def copy(table: str, sql: str) -> None:
        con.execute(f"COPY ({sql}) TO '{d}/{table}.parquet' (FORMAT PARQUET)")

    copy("documents", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), NULL, 'en', 'alpha', NULL),
            (1, '', 'en', 'alpha', CAST(0 AS BIGINT)),
            (2, 'w1 w2 w3 w4 w5 w6 w7 w8', 'en', 'alpha', 23),
            (3, 'w1 w2 w3 w4 w5 w6 w7 w8', 'de', 'beta', 23),
            (4, 'u1 u2 u3 u4 u5 u6 u7 u8 u9 u10', 'en', 'gamma', 37),
            (5, 'x y', 'fr', 'gamma', 3),
            (6, 'one', 'fr', 'beta', 3)
        ) t(doc_id, text, lang, source, n_chars)""")
    copy("embeddings", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), CAST([1.0, 5.0, 0.0, 2.0] AS FLOAT[]), 1),
            (1, CAST([1.0, 5.5, 0.0, 2.5] AS FLOAT[]), 1),
            (2, CAST([1.0, 4.5, 0.0, 1.5] AS FLOAT[]), 2),
            (3, CAST([1.0, 50.0, 0.0, 2.0] AS FLOAT[]), 2),  -- outlier
            (4, CAST(NULL AS FLOAT[]), 2)
        ) t(vec_id, embedding, label)""")
    con.close()
    return str(d)


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_boundary_parity(spark, adv_r13_dir, name):
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, adv_r13_dir, name, fn, oracle)
    assert ok, f"{name}: {detail}"


def test_preflight_boundary_values(spark, adv_r13_dir):
    """Pin the crafted-boundary semantics, not just cross-engine parity."""
    fn, _ = CANDIDATES["cross_source_contamination_matrix"]
    rows = {(r.source_a, r.source_b): r for r in fn(spark, adv_r13_dir).collect()}
    # alpha/beta share their single gram -> jaccard exactly 1.0; gamma
    # shares nothing with anyone -> no rows involving it
    assert set(rows) == {("alpha", "beta")}
    r = rows[("alpha", "beta")]
    assert (r.n_shared, r.n_grams_a, r.n_grams_b) == (1, 1, 1)
    assert r.jaccard == 1.0

    fn, _ = CANDIDATES["dedup_impact_report"]
    rep = {r.method: r for r in fn(spark, adv_r13_dir).collect()}
    # exact: doc 3 duplicates doc 2 (min-id keeper) -> 1 doc / 8 tokens
    # of the 6 tokenizable docs / 23 tokens (0+8+8+10+2+1... wait: doc1
    # '' = 0, doc2 8, doc3 8, doc4 10, doc5 2, doc6 1 -> 29 tokens, 6 docs)
    ex = rep["exact_duplicate_docs"]
    assert (ex.n_docs_flagged, ex.n_tokens_flagged) == (1, 8)
    assert abs(ex.frac_docs - 1 / 6) < 1e-12
    assert abs(ex.frac_tokens - 8 / 29) < 1e-12
    # scrub: docs 2 and 3 fully covered by their shared gram
    sc = rep["substring_scrub_tokens"]
    assert (sc.n_docs_flagged, sc.n_tokens_flagged) == (2, 16)

    fn, _ = CANDIDATES["quality_filter_retention"]
    ret = {r.source: r for r in fn(spark, adv_r13_dir).collect()}
    # identical texts score identically: docs 2 (alpha) and 3 (beta)
    # either both pass or both fail -> their sources' pass flags agree
    # on that doc; every retention is a valid fraction
    for r in ret.values():
        assert 0 <= r.n_pass <= r.n_docs
        assert 0.0 <= r.doc_retention <= 1.0
        assert 0.0 <= r.token_retention <= 1.0
    # alpha's only scored doc is doc 2 (doc 1 has no tokens);
    # beta scores docs 3 and 6
    assert ret["alpha"].n_docs == 1 and ret["beta"].n_docs == 2

    fn, _ = CANDIDATES["heaps_law_fit"]
    (h,) = fn(spark, adv_r13_dir).collect()
    assert h.n_points == 3  # alpha, beta, gamma all have tokens
    assert h.beta is not None and h.r2 is not None
    assert 0.0 <= h.r2 <= 1.0 + 1e-12

    fn, _ = CANDIDATES["mahalanobis_outlier_topk"]
    out = fn(spark, adv_r13_dir).collect()
    # 4 scored vectors (NULL skipped); the crafted outlier ranks FIRST;
    # the constant dims (1 and 3) contribute zero to everyone
    assert len(out) == 4
    assert out[0].vec_id == 3 and out[0].outlier_rank == 1
    assert out[0].m2 > out[1].m2

    fn, _ = CANDIDATES["fim_split_plan"]
    fim = {r.doc_id: r for r in fn(spark, adv_r13_dir).collect()}
    # docs with >= 2 tokens plan a split; doc 6 (1 token) and the
    # NULL/empty docs do not
    assert set(fim) == {2, 3, 4, 5}
    for r in fim.values():
        assert r.prefix_len >= 1 and r.middle_len >= 1 and r.suffix_len >= 0
        assert r.prefix_len + r.middle_len + r.suffix_len == r.n_tokens
        assert r.middle_start == r.prefix_len + 1
    # the 2-token doc: the only legal split
    assert (fim[5].prefix_len, fim[5].middle_len, fim[5].suffix_len) == (1, 1, 0)
    # identical texts in different docs may split differently (hash is
    # keyed by doc_id) but both satisfy the identities — already checked


def test_llm74_plan_shapes(spark, sf_dir):
    """Zero cartesians; the only global window is the top-k rank over
    the LIMIT-bounded outlier head (<= _OUT_K rows)."""
    from convex_batch_processor_spark.plans import explain as E

    for name, (fn, _) in sorted(CANDIDATES.items()):
        df = fn(spark, sf_dir)
        assert "CartesianProduct" not in E.physical_plan(df), name
        gw = E.global_window_inputs(df)
        if name == "mahalanobis_outlier_topk":
            for cols in gw:
                assert cols <= {"m2", "vec_id"}, (name, cols)
        else:
            assert gw == [], (name, gw)


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_parity_bench_scale(spark, name):
    """Parity at sf0.1 — the rounding-tie tier."""
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, "/root/testdata/sf0.1", name, fn, oracle)
    assert ok, f"{name}: {detail}"


def _write_documents(tmpdir, rows):
    """rows: list of (doc_id, text, lang, source)."""
    import pandas as pd

    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    con.register("pdf", pdf)
    con.execute(
        f"COPY (SELECT CAST(doc_id AS BIGINT) doc_id, text, lang, source, "
        f"CAST(n_chars AS BIGINT) n_chars FROM pdf) "
        f"TO '{tmpdir}/documents.parquet' (FORMAT PARQUET)"
    )
    con.close()


def test_contamination_matrix_matches_python_reference_property(spark, tmp_path):
    """Random tiny-vocab corpora spread over random sources (heavy 8-gram
    collisions): the distributed pairwise shared-gram counts and Jaccard
    equal a direct python set computation."""
    from hypothesis import given, settings, strategies as st

    from convex_batch_processor_spark.queries.llm72 import _SPAN_N

    fn, _ = CANDIDATES["cross_source_contamination_matrix"]
    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.lists(st.sampled_from("ab"), min_size=1, max_size=20),
                st.sampled_from(["s1", "s2", "s3"]),
            ),
            min_size=2, max_size=10,
        )
    )
    def run(docs):
        counter[0] += 1
        d = tmp_path / f"cx{counter[0]}"
        d.mkdir()
        rows = [
            (i, " ".join(t), "en", src) for i, (t, src) in enumerate(docs)
        ]
        _write_documents(d, rows)

        grams: dict = {}
        for t, src in docs:
            toks = list(t)
            for p in range(len(toks) - _SPAN_N + 1):
                grams.setdefault(src, set()).add(tuple(toks[p:p + _SPAN_N]))
        expect = {}
        srcs = sorted(grams)
        for i, a in enumerate(srcs):
            for b in srcs[i + 1:]:
                shared = grams[a] & grams[b]
                if shared:
                    union = len(grams[a] | grams[b])
                    expect[(a, b)] = (
                        len(shared), len(grams[a]), len(grams[b]),
                        len(shared) / union,
                    )

        got = {
            (r.source_a, r.source_b): (
                r.n_shared, r.n_grams_a, r.n_grams_b, r.jaccard,
            )
            for r in fn(spark, str(d)).collect()
        }
        assert got == expect

    run()
