"""Oracle parity for the round-12 pack (queries/llm73.py).

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
    if s.fn.__module__.endswith(".llm73")
}

# Rows-only by documented contract (PAVA pooling is an inherently
# sequential scan over the bounded histogram); reference parity +
# invariants below stand in for a DuckDB oracle.
_ROWS_ONLY = {"isotonic_calibration_pava"}


def test_preflight_pack_is_registered_behind_the_window():
    """Only the documented llm73 query is rows-only; every other one is
    registered with its DuckDB oracle."""
    for name, (fn, oracle) in CANDIDATES.items():
        assert name in QUERIES, name
        assert QUERIES[name].fn is fn, name
        assert QUERIES[name].oracle == oracle, name
    rows_only = {n for n in CANDIDATES if CANDIDATES[n][1] is None}
    assert rows_only == _ROWS_ONLY


@pytest.fixture(scope="module")
def adv_r12_dir(tmp_path_factory):
    """Crafted boundary inputs: NULL/empty/irregular-whitespace texts, an
    exactly-8-token cross-doc duplicate pair, a 9-token shared prefix
    whose two duplicated gram positions cover OVERLAPPING token ranges
    (9 distinct tokens, NOT 16 — the scrub's interval-overlap subtlety),
    a within-doc-only repeater (nd=1, never scrubbed; top-2-gram
    coverage > 1.0), a NULL lang, an empty-text group (NULL
    chars_per_token), single-doc sources (mix shares), and a lineitem
    histogram with monotonicity violations + a zero-return quantity for
    the PAVA pooling."""
    d = tmp_path_factory.mktemp("adv_r12_sf")
    con = duckdb.connect()

    def copy(table: str, sql: str) -> None:
        con.execute(f"COPY ({sql}) TO '{d}/{table}.parquet' (FORMAT PARQUET)")

    copy("documents", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), NULL, 'en', 'web', NULL),
            (1, '', 'en', 'web', CAST(0 AS BIGINT)),
            (2, 'one', NULL, 'web', 3),
            (3, 'x  y   z', 'fr', 'cc', 8),
            -- exactly-8-token duplicate pair: every token scrubbed
            (4, 'w1 w2 w3 w4 w5 w6 w7 w8', 'en', 'web', 23),
            (5, 'w1 w2 w3 w4 w5 w6 w7 w8', 'de', 'book', 23),
            -- 9-token shared prefix + distinct tails: dup positions 1,2
            -- cover tokens 1..9 (overlap!), tails differ
            (6, 'p1 p2 p3 p4 p5 p6 p7 p8 p9 tail6a tail6b', 'en', 'web', 40),
            (7, 'p1 p2 p3 p4 p5 p6 p7 p8 p9 tail7a', 'de', 'web', 37),
            -- within-doc repeats only: nd = 1, never scrubbed; the
            -- 'the the' bigram covers 8 x 7 = 56 chars of 35 -> 1.6
            (8, 'the the the the the the the the the', 'en', 'news', 35),
            (9, 'alpha beta', 'zz', 'solo', 10)
        ) t(doc_id, text, lang, source, n_chars)""")
    copy("embeddings", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), CAST([0.0, 0.0, 0.0, 0.0] AS FLOAT[]), 1),
            (1, CAST([1.0, -2.0, 0.5, 0.25] AS FLOAT[]), 1),
            (2, CAST([3.0, 0.0, -1.5, 2.0] AS FLOAT[]), 2),
            (3, CAST(NULL AS FLOAT[]), 2)
        ) t(vec_id, embedding, label)""")
    copy("lineitem", """
        SELECT CAST(ROW_NUMBER() OVER () AS BIGINT) AS l_orderkey,
               CAST(1 AS BIGINT) AS l_partkey,
               CAST(1 AS BIGINT) AS l_suppkey,
               1 AS l_linenumber,
               CAST(q AS DOUBLE) AS l_quantity,
               rf AS l_returnflag
        FROM (
            -- q=1: rate 3/4; q=2: rate 1/4 (violation -> pools with q=1);
            -- q=3: rate 0/2 (violation -> pools further: {1,2,3} = 4/10);
            -- q=4: rate 3/3 (new pool); q=5: 1/2 (violation -> pools
            -- with q=4 into 4/5 = 0.8, which stays above 0.4 — TWO pools)
            SELECT 1 AS q, 'R' AS rf FROM range(3)
            UNION ALL SELECT 1, 'N' FROM range(1)
            UNION ALL SELECT 2, 'R' FROM range(1)
            UNION ALL SELECT 2, 'N' FROM range(3)
            UNION ALL SELECT 3, 'N' FROM range(2)
            UNION ALL SELECT 4, 'R' FROM range(3)
            UNION ALL SELECT 5, 'R' FROM range(1)
            UNION ALL SELECT 5, 'N' FROM range(1)
        )""")
    con.close()
    return str(d)


@pytest.mark.parametrize(
    "name", sorted(n for n in CANDIDATES if n not in _ROWS_ONLY)
)
def test_preflight_boundary_parity(spark, adv_r12_dir, name):
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, adv_r12_dir, name, fn, oracle)
    assert ok, f"{name}: {detail}"


def test_preflight_boundary_values(spark, adv_r12_dir):
    """Pin the crafted-boundary semantics, not just cross-engine parity
    (both engines agreeing on the wrong answer is the class the r8
    llmops review caught)."""
    fn, _ = CANDIDATES["substring_dedup_scrub"]
    scrub = {r.doc_id: r for r in fn(spark, adv_r12_dir).collect()}
    # every tokenizable doc emits a row (docs 0 is NULL text: absent)
    assert set(scrub) == {1, 2, 3, 4, 5, 6, 7, 8, 9}
    # the exactly-8-token pair: all 8 tokens removed
    assert (scrub[4].n_removed_tokens, scrub[4].n_kept_tokens) == (8, 0)
    assert (scrub[5].n_removed_tokens, scrub[5].n_kept_tokens) == (8, 0)
    # the 9-token shared prefix: dup positions 1 and 2 OVERLAP -> 9
    # distinct covered tokens, never 16
    assert scrub[6].n_removed_tokens == 9 and scrub[6].n_kept_tokens == 2
    assert scrub[7].n_removed_tokens == 9 and scrub[7].n_kept_tokens == 1
    # within-doc repeats are nd=1 -> untouched
    assert scrub[8].n_removed_tokens == 0
    assert scrub[1].n_tokens == 0 and scrub[1].n_removed_tokens == 0

    fn, _ = CANDIDATES["top_ngram_char_fraction"]
    rep = {(r.doc_id, r.n): r for r in fn(spark, adv_r12_dir).collect()}
    # doc 8: 9x 'the' -> 8 'the the' bigrams x 7 chars / 35 chars = 1.6
    assert rep[(8, 2)].top_cover_chars == 56
    assert rep[(8, 2)].total_chars == 35
    assert abs(rep[(8, 2)].cover_frac - 1.6) < 1e-12
    # doc 9 has 2 tokens: rows only for n=2, none for n=3/4
    assert (9, 2) in rep and (9, 3) not in rep
    # doc 3 normalizes 'x  y   z' to 'x y z' (5 chars)
    assert rep[(3, 2)].total_chars == 5

    fn, _ = CANDIDATES["tokenizer_fertility_by_lang"]
    fert = {r.lang: r for r in fn(spark, adv_r12_dir).collect()}
    # the NULL lang forms its own group; empty-text-only groups NULL
    # their chars_per_token ('' tokenizes to zero tokens)
    assert fert[None].n_docs == 1 and fert[None].n_tokens == 1
    assert fert["fr"].n_chars == 5  # normalized, not raw, characters
    assert fert["zz"].tokens_per_doc == 2.0

    fn, _ = CANDIDATES["source_mix_divergence"]
    mix = {r.source: r for r in fn(spark, adv_r12_dir).collect()}
    total = sum(r.n_tokens for r in mix.values())
    assert abs(sum(r.share for r in mix.values()) - 1.0) < 1e-12
    assert mix["web"].n_tokens > mix["solo"].n_tokens
    # shares cover the TOKENIZED corpus only: the hand-counted fixture
    # total (docs 1-9; the NULL-text doc contributes nothing) is
    # 0+1+3+8+8+11+10+9+2 = 52
    assert total == 52

    fn, _ = CANDIDATES["hashed_linear_quality_score"]
    q = {r.doc_id: r for r in fn(spark, adv_r12_dir).collect()}
    # identical texts hash to identical scores regardless of lang/source
    assert q[4].w_sum == q[5].w_sum and q[4].quality_p == q[5].quality_p
    assert all(0.0 < r.quality_p < 1.0 for r in q.values())
    assert all(-1.0 <= r.mean_w <= 1.0 for r in q.values())

    fn, _ = CANDIDATES["span_corruption_plan"]
    plan: dict = {}
    for r in fn(spark, adv_r12_dir).collect():
        plan.setdefault(r.doc_id, []).append(r)
    # docs with floor(0.15 n) = 0 (n < 7) emit nothing: 1,2,3,9 absent
    assert set(plan) == {4, 5, 6, 7, 8}
    for doc_id, spans in plan.items():
        spans.sort(key=lambda r: r.span_idx)
        n = spans[0].n_tokens
        # span count matches the plan arithmetic
        assert len(spans) == ((n * 15) // 100 + 2) // 3
        covered: set = set()
        for r in spans:
            # within bounds, 1-based
            assert 1 <= r.start_pos and r.start_pos + r.span_len - 1 <= n
            span = set(range(r.start_pos, r.start_pos + r.span_len))
            assert not (covered & span)  # strata make spans disjoint
            covered |= span
    # identical texts yield identical span GEOMETRY only if doc_ids
    # match — the hash is keyed by doc_id, so docs 4 and 5 may differ
    assert plan[4][0].span_len == plan[5][0].span_len == 3

    fn, _ = CANDIDATES["embedding_energy_profile"]
    prof = {r.k: r for r in fn(spark, adv_r12_dir).collect()}
    # 4-dim vectors: every k in (16,32,48) captures ALL dims -> ratio 1.0
    # exactly (same decimal sums on both sides of the division); the
    # NULL vector contributes nothing, the zero vector adds no energy
    assert set(prof) == {16, 32, 48}
    for r in prof.values():
        assert r.energy == r.total_energy and r.energy_ratio == 1.0
    assert abs(prof[16].total_energy - (5.3125 + 15.25)) < 1e-9

    fn, _ = CANDIDATES["bigram_conditional_entropy"]
    (ent,) = fn(spark, adv_r12_dir).collect()
    # doc 8 contributes 8 'the the' bigrams (fully predictable); the
    # entropy is finite, non-negative, and bounded by ln(n_types)
    import math

    assert ent.n_bigrams > ent.n_bigram_types
    assert 0.0 <= ent.cond_entropy_nats <= math.log(ent.n_bigram_types)

    fn, _ = CANDIDATES["chunked_attention_waste"]
    caw = fn(spark, adv_r12_dir).collect()
    # a single-doc bin has zero cross-doc pairs; multi-doc bins positive
    for r in caw:
        if r.n_docs == 1 and r.n_real > 0:
            assert r.cross_attn_frac == 0.0
        if r.n_docs > 1 and r.n_real > 0:
            assert 0.0 < r.cross_attn_frac < 1.0


def test_isotonic_pava_reference_parity(spark, sf_dir):
    """Exact parity against a pure-Python PAVA on the same histogram,
    plus the defining invariants: the fit is non-decreasing in v, the
    weighted mean is preserved, and the fit is constant within pools."""
    from convex_batch_processor_spark.catalog import load_table
    from convex_batch_processor_spark.queries.llm73 import (
        isotonic_calibration_pava,
    )
    import pyspark.sql.functions as F

    rows = sorted(
        isotonic_calibration_pava(spark, sf_dir).collect(),
        key=lambda r: r.v,
    )
    assert rows

    # python reference from the raw table
    li = load_table(spark, sf_dir, "lineitem")
    hist = sorted(
        li.groupBy(F.col("l_quantity").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias("p"),
        )
        .collect(),
        key=lambda r: r.v,
    )
    pools = []
    for r in hist:
        pools.append([r.v, r.v, int(r.p), int(r.c)])
        while (
            len(pools) >= 2
            and pools[-2][2] * pools[-1][3] > pools[-1][2] * pools[-2][3]
        ):
            a = pools.pop()
            pools[-1][1] = a[1]
            pools[-1][2] += a[2]
            pools[-1][3] += a[3]
    expect = {}
    for vs, ve, sp, sc in pools:
        for r in hist:
            if vs <= r.v <= ve:
                expect[r.v] = (int(r.c), int(r.p), sp / sc)
    got = {r.v: (r.c, r.p, r.rate_fit) for r in rows}
    assert got == expect

    # invariants
    fits = [r.rate_fit for r in rows]
    assert all(a <= b for a, b in zip(fits, fits[1:]))  # monotone
    assert (
        abs(
            sum(r.rate_fit * r.c for r in rows)
            - sum(r.p for r in rows)
        )
        < 1e-6
    )  # weighted mean preserved


def test_isotonic_pava_boundary(spark, adv_r12_dir):
    """The crafted violations pool as expected (including the BACKWARD
    merge): q=1 (3/4) pools with q=2 (1/4) and q=3 (0/2) into 4/10;
    q=4 (3/3) opens a new pool and absorbs q=5 (1/2) into 4/5 = 0.8,
    which stays above 0.4 — exactly two pools."""
    from convex_batch_processor_spark.queries.llm73 import (
        isotonic_calibration_pava,
    )

    rows = {r.v: r for r in isotonic_calibration_pava(spark, adv_r12_dir).collect()}
    assert abs(rows[1.0].rate_fit - 0.4) < 1e-12
    assert rows[1.0].rate_fit == rows[2.0].rate_fit == rows[3.0].rate_fit
    assert abs(rows[4.0].rate_fit - 0.8) < 1e-12
    assert rows[4.0].rate_fit == rows[5.0].rate_fit


@pytest.mark.parametrize(
    "name", sorted(n for n in CANDIDATES if n not in _ROWS_ONLY)
)
def test_preflight_parity_bench_scale(spark, name):
    """Parity at sf0.1 — the tier that catches scale-dependent
    determinism defects the small fixtures cannot (the rounding-tie
    class fires only here)."""
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, "/root/testdata/sf0.1", name, fn, oracle)
    assert ok, f"{name}: {detail}"


# --- property tests (random shapes the fixed testdata never produces) --------


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


def test_scrub_matches_python_reference_property(spark, tmp_path):
    """Random tiny-vocab corpora (heavy 8-gram collisions): the
    distributed distinct-covered-position count == a direct python
    computation of the union of covered token ranges."""
    from hypothesis import given, settings, strategies as st

    from convex_batch_processor_spark.queries.llm73 import (
        _SCRUB_N,
        substring_dedup_scrub,
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
        d = tmp_path / f"scrub{counter[0]}"
        d.mkdir()
        toks = [list(t) for t in texts]
        rows = [(i, " ".join(t), "en", "src") for i, t in enumerate(toks)]
        _write_documents(d, rows)

        from collections import defaultdict

        owners = defaultdict(set)
        for i, t in enumerate(toks):
            for p in range(len(t) - _SCRUB_N + 1):
                owners[tuple(t[p:p + _SCRUB_N])].add(i)
        expect = {}
        for i, t in enumerate(toks):
            covered: set = set()
            for p in range(len(t) - _SCRUB_N + 1):
                if len(owners[tuple(t[p:p + _SCRUB_N])]) >= 2:
                    covered |= set(range(p, p + _SCRUB_N))
            expect[i] = (len(t), len(covered), len(t) - len(covered))

        got = {
            r.doc_id: (r.n_tokens, r.n_removed_tokens, r.n_kept_tokens)
            for r in substring_dedup_scrub(spark, str(d)).collect()
        }
        assert got == expect

    run()


def test_pava_matches_python_reference_property(spark, tmp_path):
    """Random (rate-shuffled) histograms: the distributed PAVA == a pure
    python PAVA, and the fit is always monotone and mean-preserving."""
    import duckdb as _duck

    from hypothesis import given, settings, strategies as st

    from convex_batch_processor_spark.queries.llm73 import (
        isotonic_calibration_pava,
    )

    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=9),   # c per value
                st.integers(min_value=0, max_value=9),   # p <= c enforced below
            ),
            min_size=1, max_size=12,
        )
    )
    def run(hist_shape):
        counter[0] += 1
        d = tmp_path / f"pava{counter[0]}"
        d.mkdir()
        hist = [(float(v + 1), c, min(p, c)) for v, (c, p) in enumerate(hist_shape)]
        con = _duck.connect()
        rows = []
        k = 0
        for v, c, p in hist:
            for j in range(c):
                k += 1
                rows.append((k, v, "R" if j < p else "N"))
        con.execute(
            "CREATE TABLE t (l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag VARCHAR)"
        )
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
        con.execute(
            f"COPY (SELECT l_orderkey, CAST(1 AS BIGINT) l_partkey, "
            f"CAST(1 AS BIGINT) l_suppkey, 1 l_linenumber, l_quantity, "
            f"l_returnflag FROM t) TO '{d}/lineitem.parquet' (FORMAT PARQUET)"
        )
        con.close()

        pools = []
        for v, c, p in hist:
            pools.append([v, v, p, c])
            while (
                len(pools) >= 2
                and pools[-2][2] * pools[-1][3] > pools[-1][2] * pools[-2][3]
            ):
                a = pools.pop()
                pools[-1][1] = a[1]
                pools[-1][2] += a[2]
                pools[-1][3] += a[3]
        expect = {}
        for vs, ve, sp, sc in pools:
            for v, c, p in hist:
                if vs <= v <= ve:
                    expect[v] = (c, p, sp / sc)

        got = {
            r.v: (r.c, r.p, r.rate_fit)
            for r in isotonic_calibration_pava(spark, str(d)).collect()
        }
        assert got == expect
        fits = [got[v][2] for v in sorted(got)]
        assert all(a <= b for a, b in zip(fits, fits[1:]))

    run()
