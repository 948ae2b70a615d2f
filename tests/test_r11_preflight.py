"""Oracle parity for the round-11 pack (queries/llm72.py).

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
    if s.fn.__module__.endswith(".llm72")
}


# Rows-only by documented contract (an inherently sequential loop and a
# driver-side eigendecomposition are not one SQL query each); both get
# reference-parity + invariant tests below instead of a DuckDB oracle.
_ROWS_ONLY = {"pack_best_fit_decreasing", "zca_whitening_matrix"}


def test_preflight_pack_registered_with_preflighted_oracles():
    """Only the documented two llm72 queries are rows-only; every other
    one is registered with its DuckDB oracle."""
    for name, (fn, oracle) in CANDIDATES.items():
        assert name in QUERIES, name
        assert QUERIES[name].fn is fn, name
        assert QUERIES[name].oracle == oracle, name
    rows_only = {n for n in CANDIDATES if CANDIDATES[n][1] is None}
    assert rows_only == _ROWS_ONLY


@pytest.fixture(scope="module")
def adv_preflight_dir(tmp_path_factory):
    """Crafted boundary inputs for every pre-flight candidate: NULL/empty
    /1-token texts, an exactly-8-token doc, a cross-doc 13-token shared
    prefix (one 6-position island), a doc whose 8-grams repeat only
    WITHIN itself (nd=1 — must not count as duplicated), constant and
    NULL embeddings (std=0 / skipped rows), single-event and
    NULL-ts-only users (tenure 0 / filtered), a 45-order segment with
    heavy price ties (exercises BOTH Acklam tail branches and the
    orderkey tiebreak), a single-order segment (p=0.5, central branch),
    a NULL market segment (NULL partition keys group on both engines),
    and duplicate part-supplier edges (distinct collapse)."""
    d = tmp_path_factory.mktemp("adv_preflight_sf")
    con = duckdb.connect()

    def copy(table: str, sql: str) -> None:
        con.execute(f"COPY ({sql}) TO '{d}/{table}.parquet' (FORMAT PARQUET)")

    copy("documents", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), NULL, 'en', 'web', NULL),
            (1, '', 'en', 'web', CAST(0 AS BIGINT)),
            (2, 'one', 'en', 'web', 3),
            (3, 'a b', 'en', 'web', 3),
            (4, 'w1 w2 w3 w4 w5 w6 w7 w8', 'en', 'web', 23),
            (5, 'w1 w2 w3 w4 w5 w6 w7 w8', 'de', 'book', 23),
            (6, 'p q r s t u v w x y z1 z2 z3 spark merge', 'en', 'web', 40),
            (7, 'p q r s t u v w x y z1 z2 z3 hash window', 'de', 'web', 40),
            (8, 'the the the the the the the the the', 'en', 'news', 35),
            (9, 'x  y   z', 'fr', 'web', 8),
            (10, 'spark spark merge window vector stream hash scan',
             'fr', 'cc', 48),
            -- phrase-tagging boundaries: overlapping matches (the
            -- trigram also yields both inner bigrams), a phrase at doc
            -- start AND doc end, and a repeated phrase
            (11, 'table scan merge join sort merge join table scan',
             'en', 'web', 49)
        ) t(doc_id, text, lang, source, n_chars)""")
    copy("embeddings", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), CAST([0.0, 0.0, 1.5, -2.25] AS FLOAT[]), 1),
            (1, CAST([0.0, 1.0, 1.5, 0.5] AS FLOAT[]), 1),
            (2, CAST([0.0, -1.0, 1.5, 0.125] AS FLOAT[]), 2),
            (3, CAST(NULL AS FLOAT[]), 2)
        ) t(vec_id, embedding, label)""")
    copy("events", """
        SELECT event_id, ts, user_id, event_type,
               CAST(value AS DOUBLE) AS value, props
        FROM (VALUES
            (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00',
             CAST(1 AS BIGINT), 'view', 1.0, '{}'),
            (2, TIMESTAMP '2024-01-02 09:00:00', 2, 'view', 2.0, '{}'),
            (3, TIMESTAMP '2024-01-02 23:59:59', 2, 'click', 3.0, '{}'),
            (4, TIMESTAMP '2024-01-01 00:00:00', 3, 'view', 4.0, '{}'),
            (5, TIMESTAMP '2024-01-04 00:00:00', 3, 'purchase', 5.0, '{}'),
            (6, CAST(NULL AS TIMESTAMP), 4, 'view', 6.0, '{}'),
            (7, CAST(NULL AS TIMESTAMP), 5, 'view', 7.0, '{}'),
            (8, TIMESTAMP '2024-02-01 12:00:00', 5, 'click', 8.0, '{}'),
            (9, TIMESTAMP '2024-02-02 11:00:00', 5, 'click', 9.0, '{}')
        ) t(event_id, ts, user_id, event_type, value, props)""")
    copy("customer", """
        SELECT c_custkey, c_name, c_nationkey,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
        FROM (VALUES
            (CAST(1 AS BIGINT), 'Customer#000000001', 0, 10.0, 'BUILDING'),
            (2, 'Customer#000000002', 1, 20.0, 'AUTOMOBILE'),
            (3, 'Customer#000000003', 2, 30.0, NULL)
        ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)""")
    copy("orders", """
        SELECT CAST(100 + i AS BIGINT) AS o_orderkey,
               CAST(1 AS BIGINT) AS o_custkey,
               'O' AS o_orderstatus,
               CAST(10.0 + (i % 7) AS DOUBLE) AS o_totalprice,
               TIMESTAMP '2024-01-01 00:00:00' AS o_orderdate,
               '1-URGENT' AS o_orderpriority
        FROM range(45) r(i)
        UNION ALL
        SELECT * FROM (VALUES
            (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'F', CAST(99.0 AS DOUBLE),
             TIMESTAMP '2024-02-01 00:00:00', '5-LOW'),
            (2, 3, 'O', 50.0, TIMESTAMP '2024-03-01 00:00:00', '3-MEDIUM'),
            (3, 3, 'O', 50.0, TIMESTAMP '2024-03-02 00:00:00', '3-MEDIUM'),
            -- NULL price: Spark windows sort NULLS FIRST, DuckDB NULLS
            -- LAST — the rank must be pinned identically on both sides
            (4, 3, 'O', CAST(NULL AS DOUBLE),
             TIMESTAMP '2024-03-03 00:00:00', '3-MEDIUM')
        ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            o_orderdate, o_orderpriority)""")
    copy("lineitem", """
        SELECT * FROM (VALUES
            (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), 1),
            (2, 1, 1, 1),  -- duplicate edge: distinct must collapse it
            (3, 1, 2, 1),
            (4, 2, 1, 1),
            (5, 3, 3, 1)   -- isolated pair
        ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber)""")
    con.close()
    return str(d)


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_boundary_parity(spark, adv_preflight_dir, name):
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, adv_preflight_dir, name, fn, oracle)
    assert ok, f"{name}: {detail}"


def test_preflight_boundary_values(spark, adv_preflight_dir):
    """Pin the crafted-boundary semantics, not just cross-engine parity
    (both engines agreeing on the wrong answer is the class the r8
    llmops review caught)."""
    import pyspark.sql.functions as F

    fn, _ = CANDIDATES["substring_dedup_spans"]
    spans = {r.doc_id: r for r in fn(spark, adv_preflight_dir).collect()}
    # docs 6/7 share exactly the 13-token prefix: grams at 6 positions,
    # one island, longest span = 6 + 7 = 13 tokens
    assert set(spans) == {4, 5, 6, 7}
    assert spans[6].n_dup_runs == 1 and spans[6].longest_span_tokens == 13
    assert spans[4].longest_span_tokens == 8  # the exactly-8-token pair
    # doc 8's self-repeated grams occur in ONE doc only — never flagged

    fn, _ = CANDIDATES["tenure_hazard_table"]
    hz = {r.tenure_day: r for r in fn(spark, adv_preflight_dir).collect()}
    # users 1,2 end day 0; user 5 ends day 1; user 3 day 3; user 4 is
    # NULL-ts-only and filtered entirely
    assert {d: (h.n_ending, h.n_at_risk) for d, h in hz.items()} == {
        0: (2, 4), 1: (1, 2), 3: (1, 1)}
    assert hz[3].hazard == 1.0

    fn, _ = CANDIDATES["embedding_dim_standardize"]
    dims = {r.dim: r for r in fn(spark, adv_preflight_dir).collect()}
    assert dims[1].std == 0.0 and dims[3].std == 0.0  # constant dims
    assert dims[1].n == 3  # the NULL embedding contributes no rows
    assert dims[3].mean == 1.5

    fn, _ = CANDIDATES["rank_gauss_prices"]
    rg = fn(spark, adv_preflight_dir)
    one = rg.filter(F.col("segment") == "AUTOMOBILE").collect()
    assert len(one) == 1 and one[0].gauss == 0.0  # p = 1/2 -> Phi^-1 = 0
    tails = rg.filter(F.col("segment") == "BUILDING").collect()
    gs = {r.r: r.gauss for r in tails}
    assert len(gs) == 45 and gs[1] < -2.0 and gs[45] > 2.0  # both tails
    assert abs(gs[1] + gs[45]) < 1e-6  # symmetric ranks -> symmetric z


def test_pack_best_fit_decreasing_reference_parity(spark, sf_dir):
    """Byte parity against a pure-Python BFD on the same inputs, plus the
    SQL-checkable invariants: no bin over capacity except singleton
    oversize docs, every doc packed exactly once."""
    from convex_batch_processor_spark.queries.llm72 import (
        _PACK_CAP,
        pack_best_fit_decreasing,
    )

    rows = pack_best_fit_decreasing(spark, sf_dir).collect()
    got = {(r.source, r.doc_id): (r.n_tokens, r.bin_id) for r in rows}
    assert len(got) == len(rows)  # every doc packed exactly once

    # reference: same sort, same best-fit rule, per source
    by_source: dict = {}
    for (src, doc), (nt, _) in got.items():
        by_source.setdefault(src, []).append((nt, doc))
    for src, docs in by_source.items():
        fills: list = []
        for nt, doc in sorted(docs, key=lambda x: (-x[0], x[1])):
            best, best_fill = -1, -1
            if nt <= _PACK_CAP:
                for b, f in enumerate(fills):
                    if f + nt <= _PACK_CAP and f > best_fill:
                        best, best_fill = b, f
            if best < 0:
                best = len(fills)
                fills.append(0)
            fills[best] += nt
            assert got[(src, doc)] == (nt, best), (src, doc)
        # invariant: a multi-doc bin never exceeds capacity
        bins: dict = {}
        for (s, d), (nt, b) in got.items():
            if s == src:
                bins.setdefault(b, []).append(nt)
        for b, sizes in bins.items():
            assert sum(sizes) <= _PACK_CAP or len(sizes) == 1, (src, b, sizes)


def test_zca_whitening_matrix_reference_parity(spark, sf_dir):
    """allclose vs a single-pass numpy reference on the same vectors,
    plus the defining invariants: W symmetric (ZCA), W cov W^T ~= I."""
    import numpy as np

    from convex_batch_processor_spark.catalog import load_table
    from convex_batch_processor_spark.queries.llm72 import (
        _ZCA_EPS,
        zca_whitening_matrix,
    )

    rows = zca_whitening_matrix(spark, sf_dir).collect()
    d = max(r.dim_i for r in rows)
    w = np.zeros((d, d))
    for r in rows:
        w[r.dim_i - 1, r.dim_j - 1] = r.w
    assert np.allclose(w, w.T, atol=1e-9)  # ZCA is symmetric

    vecs = [
        np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .filter("embedding IS NOT NULL")
        .select("embedding")
        .collect()
    ]
    x = np.asarray(vecs)
    cov = np.cov(x, rowvar=False, bias=True)
    lam, u = np.linalg.eigh(cov)
    ref = u @ np.diag(1.0 / np.sqrt(np.maximum(lam, 0.0) + _ZCA_EPS)) @ u.T
    assert np.allclose(w, ref, atol=1e-6), np.abs(w - ref).max()
    # whitening property (eps-regularized, so near-identity)
    wcw = w @ cov @ w.T
    assert np.allclose(wcw, np.eye(d), atol=1e-3), np.abs(wcw - np.eye(d)).max()


# --- property tests (random shapes the fixed testdata never produces) --------


def _write_documents(tmpdir, rows):
    """rows: list of (doc_id, text, lang, source)."""
    import pandas as pd

    con = duckdb.connect()
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source"]
    )
    pdf["n_chars"] = pdf["text"].str.len()
    con.register("pdf", pdf)
    con.execute(
        f"COPY (SELECT CAST(doc_id AS BIGINT) doc_id, text, lang, source, "
        f"CAST(n_chars AS BIGINT) n_chars FROM pdf) "
        f"TO '{tmpdir}/documents.parquet' (FORMAT PARQUET)"
    )
    con.close()


def test_bfd_packing_property(spark, tmp_path):
    """Random token-count shapes: Spark BFD == pure-Python BFD, bins
    never overfull (except singletons), docs packed exactly once."""
    from hypothesis import given, settings, strategies as st

    from convex_batch_processor_spark.queries.llm72 import (
        _PACK_CAP,
        pack_best_fit_decreasing,
    )

    counter = [0]

    @settings(max_examples=5, deadline=None)  # each example is a Spark job
    @given(
        st.lists(st.integers(min_value=1, max_value=600), min_size=1, max_size=30)
    )
    def run(token_counts):
        counter[0] += 1
        d = tmp_path / f"bfd{counter[0]}"
        d.mkdir()
        rows = [
            (i, " ".join(["w"] * n), "en", "src") for i, n in enumerate(token_counts)
        ]
        _write_documents(d, rows)
        got = {
            r.doc_id: (r.n_tokens, r.bin_id)
            for r in pack_best_fit_decreasing(spark, str(d)).collect()
        }
        assert len(got) == len(token_counts)
        fills: list = []
        for nt, doc in sorted(
            ((n, i) for i, n in enumerate(token_counts)), key=lambda x: (-x[0], x[1])
        ):
            best, best_fill = -1, -1
            if nt <= _PACK_CAP:
                for b, f in enumerate(fills):
                    if f + nt <= _PACK_CAP and f > best_fill:
                        best, best_fill = b, f
            if best < 0:
                best = len(fills)
                fills.append(0)
            fills[best] += nt
            assert got[doc] == (nt, best), (doc, got[doc], (nt, best))

    run()


def test_acklam_inverts_the_normal_cdf_property(spark):
    """Phi(acklam(p)) ~= p to the approximation's documented 1.15e-9
    relative error, and the transform is strictly monotone — across all
    three CASE branches."""
    import math

    from hypothesis import given, settings, strategies as st

    from convex_batch_processor_spark.queries.llm72 import _acklam_sql
    from pyspark.sql import functions as F

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=1e-6, max_value=1.0 - 1e-6,
                      allow_nan=False, allow_infinity=False),
            min_size=2, max_size=50, unique=True,
        )
    )
    def run(ps):
        # force coverage of both tails and the center every example
        ps = sorted(set(ps) | {1e-5, 0.02, 0.5, 0.98, 1 - 1e-5})
        df = spark.createDataFrame([(p,) for p in ps], "pv double")
        xs = [
            r.x for r in df.select(F.expr(_acklam_sql("pv")).alias("x"))
            .orderBy("pv").collect()
        ]
        assert xs == sorted(xs)  # monotone
        for p, x in zip(ps, xs):
            phi = 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))
            assert abs(phi - p) < 5e-9, (p, x, phi)

    run()


def test_substring_spans_match_python_reference_property(spark, tmp_path):
    """Random tiny-vocab corpora (heavy 8-gram collisions): the
    distributed islands pipeline == a direct python computation of
    duplicated-position runs."""
    from hypothesis import given, settings, strategies as st

    from convex_batch_processor_spark.queries.llm72 import (
        _SPAN_N,
        substring_dedup_spans,
    )

    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from("ab"), min_size=1, max_size=24),
            min_size=2, max_size=8,
        )
    )
    def run(texts):
        counter[0] += 1
        d = tmp_path / f"spans{counter[0]}"
        d.mkdir()
        toks = [list(t) for t in texts]
        rows = [(i, " ".join(t), "en", "src") for i, t in enumerate(toks)]
        _write_documents(d, rows)

        # python reference
        from collections import defaultdict

        owners = defaultdict(set)
        for i, t in enumerate(toks):
            for p in range(len(t) - _SPAN_N + 1):
                owners[tuple(t[p:p + _SPAN_N])].add(i)
        expect = {}
        for i, t in enumerate(toks):
            dup = [
                p for p in range(len(t) - _SPAN_N + 1)
                if len(owners[tuple(t[p:p + _SPAN_N])]) >= 2
            ]
            if not dup:
                continue
            runs = []
            cur = 1
            for a, b in zip(dup, dup[1:]):
                if b == a + 1:
                    cur += 1
                else:
                    runs.append(cur)
                    cur = 1
            runs.append(cur)
            expect[i] = (len(runs), max(runs) + _SPAN_N - 1, sum(runs))

        got = {
            r.doc_id: (r.n_dup_runs, r.longest_span_tokens, r.n_dup_positions)
            for r in substring_dedup_spans(spark, str(d)).collect()
        }
        assert got == expect

    run()


def test_phrase_tag_overlaps_and_positions(spark, adv_preflight_dir):
    """Pin the overlapping-match semantics on the crafted doc 11
    ('table scan merge join sort merge join table scan'): the trigram
    match also yields its inner bigrams at their own positions, repeated
    phrases count every occurrence, and first_pos is the 1-based token
    index (phrase at both doc start and doc end)."""
    fn, _ = CANDIDATES["phrase_tag_spans"]
    rows = {
        r.phrase: (r.n_occurrences, r.first_pos)
        for r in fn(spark, adv_preflight_dir).filter("doc_id = 11").collect()
    }
    assert rows == {
        "table scan": (2, 1),        # doc start AND doc end
        "table scan merge": (1, 1),
        "merge join": (2, 3),
        "sort merge": (1, 5),
        "sort merge join": (1, 5),   # overlaps both bigrams above
    }


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_parity_bench_scale(spark, name):
    """Parity at sf0.1 — the tier that catches scale-dependent
    determinism defects the small fixtures cannot (the rounding-tie
    class fired ONLY here: 2 of 5000 doc means, 1 of 64 dim means)."""
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, "/root/testdata/sf0.1", name, fn, oracle)
    assert ok, f"{name}: {detail}"
