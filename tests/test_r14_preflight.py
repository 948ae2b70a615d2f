"""Oracle parity for the round-14 pack (queries/llm75.py).

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
    if s.fn.__module__.endswith(".llm75")
}


def test_pack_is_fully_oracle_backed():
    """All ten candidates carry DuckDB oracles — no rows-only entries in
    this pack."""
    assert len(CANDIDATES) == 10
    missing = [n for n, (fn, o) in CANDIDATES.items() if not o]
    assert missing == []


@pytest.fixture(scope="module")
def adv_r14_dir(tmp_path_factory):
    """Crafted boundary inputs: NULL/empty/1-token texts (gumbel weights,
    interleave zero-length docs), a QL pair of same-length docs with and
    without query terms, an identical-text triple sharing an 8-token
    prefix (threshold-sweep Jaccard 1.0 + fold leakage groups), a
    single-token repeater (TTR floor), a >10-distinct-term vocabulary
    (nonzero OOV under the top-10 vocab), a solo source (rankings,
    schedule), and embeddings with a zero vector, a NULL vector, and two
    probe ids (0 and 20) for the kNN-graph histogram."""
    d = tmp_path_factory.mktemp("adv_r14_sf")
    con = duckdb.connect()

    def copy(table: str, sql: str) -> None:
        con.execute(f"COPY ({sql}) TO '{d}/{table}.parquet' (FORMAT PARQUET)")

    copy("documents", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), NULL, 'en', 'a', NULL),
            (1, '', 'en', 'a', CAST(0 AS BIGINT)),
            (2, 'spark window hash spark', 'en', 'a', 23),
            (3, 'alpha beta gamma delta', 'en', 'a', 22),
            -- identical 10-token triple: same 8-token prefix fingerprint,
            -- 3-gram Jaccard 1.0 within source b
            (4, 'p1 p2 p3 p4 p5 p6 p7 p8 t1 t2', 'en', 'b', 29),
            (5, 'p1 p2 p3 p4 p5 p6 p7 p8 t1 t2', 'en', 'b', 29),
            (6, 'p1 p2 p3 p4 p5 p6 p7 p8 x1 x2', 'en', 'b', 29),
            -- single-token repeater: 1 distinct of 12 (TTR floor)
            (7, 'rep rep rep rep rep rep rep rep rep rep rep rep', 'en', 'c', 47),
            -- 12 distinct tokens (pushes corpus vocab over the top-10)
            (8, 'q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12', 'en', 'c', 39),
            (9, 'alpha beta', 'en', 'd', 10),
            -- NULL source: its own group everywhere; exercises the
            -- NULLS FIRST source-ordering pins (Spark windows default
            -- NULLS FIRST, DuckDB NULLS LAST) and the null-safe
            -- interleave join
            (10, 'nul1 nul2 nul3', 'en', NULL, 14)
        ) t(doc_id, text, lang, source, n_chars)""")
    copy("embeddings", """
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), CAST([1.0, 0.0, 0.0, 0.0] AS FLOAT[]), 1),
            (1, CAST([0.5, 0.0, 0.0, 0.0] AS FLOAT[]), 1),
            (2, CAST([0.0, 1.0, 0.0, 0.0] AS FLOAT[]), 2),
            (3, CAST([0.0, 0.0, 0.0, 0.0] AS FLOAT[]), 2),
            (4, CAST(NULL AS FLOAT[]), 2),
            (20, CAST([-1.0, 0.0, 0.0, 0.0] AS FLOAT[]), 1)
        ) t(vec_id, embedding, label)""")
    con.close()
    return str(d)


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_boundary_parity(spark, adv_r14_dir, name):
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, adv_r14_dir, name, fn, oracle)
    assert ok, f"{name}: {detail}"


def test_preflight_boundary_values(spark, adv_r14_dir):
    """Pin the crafted-boundary semantics, not just cross-engine parity
    (both engines agreeing on the wrong answer is the class the r8
    llmops review caught)."""
    fn, _ = CANDIDATES["gumbel_topk_sample"]
    gum = fn(spark, adv_r14_dir).collect()
    by_src: dict = {}
    for r in gum:
        by_src.setdefault(r.source, []).append(r)
    # every source emits min(K, n_docs) rows with contiguous ranks —
    # including the NULL source as its own group
    assert {s: len(v) for s, v in by_src.items()} == {
        "a": 4, "b": 3, "c": 2, "d": 1, None: 1,
    }
    for rows in by_src.values():
        assert sorted(r.sample_rank for r in rows) == list(range(1, len(rows) + 1))
        # ranks follow the key order (value DESC, doc_id ASC)
        rows.sort(key=lambda r: r.sample_rank)
        keys = [(r.gumbel_key, -r.doc_id) for r in rows]
        assert keys == sorted(keys, reverse=True)
    # NULL and empty texts carry weight 1 and are still sampleable
    w = {r.doc_id: r.weight for r in gum}
    assert w[0] == 1 and w[1] == 1 and w[2] == 5

    fn, _ = CANDIDATES["query_likelihood_topk"]
    ql = {r.doc_id: r.ql_score for r in fn(spark, adv_r14_dir).collect()}
    # same length, query terms present vs absent: doc 2 beats doc 3
    assert ql[2] > ql[3]
    # every scored doc has a finite negative log-likelihood
    assert all(s < 0 for s in ql.values())

    fn, _ = CANDIDATES["oov_rate_by_source"]
    oov = {r.source: r for r in fn(spark, adv_r14_dir).collect()}
    # the corpus has > 10 distinct terms, so SOME source has OOV > 0,
    # and rates are exact token-count ratios
    assert any(r.oov_tokens > 0 for r in oov.values())
    for r in oov.values():
        assert 0 <= r.oov_tokens <= r.total_tokens
        assert abs(r.oov_rate - r.oov_tokens / r.total_tokens) < 1e-15
    # vocab by (count DESC, term ASC): rep(12), p1..p8(3) = 9 slots;
    # the count-2 tier (alpha, beta, spark, t1, t2) tiebreaks
    # alphabetically, so slot 10 = 'alpha' and 'beta' is OOV — source d
    # ('alpha beta') reads exactly 1/2 OOV
    assert oov["d"].oov_tokens == 1 and abs(oov["d"].oov_rate - 0.5) < 1e-15

    fn, _ = CANDIDATES["quality_signal_fusion"]
    fus = {r.doc_id: r for r in fn(spark, adv_r14_dir).collect()}
    # NULL/empty texts are excluded; everything else survives (<=5/source)
    assert 0 not in fus and 1 not in fus
    # source c (ns=2), hand-computed: length ties 12=12 -> doc_id gives
    # doc7 r1=1; TTR 1/12 vs 12/12 gives doc8 r2=1; mean token length
    # 36/12=3.0 vs 27/12=2.25 gives doc7 r3=1. Borda: doc7 = 6-1-2-1 = 2,
    # doc8 = 6-2-1-2 = 1 -> doc 7 wins 2 of 3 signals and the fusion
    assert (fus[7].borda, fus[8].borda) == (2, 1)
    assert fus[7].fused_rank == 1 and fus[8].fused_rank == 2

    fn, _ = CANDIDATES["curriculum_interleave_plan"]
    ip = {r.doc_id: r for r in fn(spark, adv_r14_dir).collect()}
    # sources rank NULL=1 (NULLS FIRST), a=2, b=3, c=4, d=5; S = 5
    # the NULL-source doc is IN the plan (null-safe join), pos 1
    assert ip[10].source is None and ip[10].interleave_pos == 1
    # source d has one doc -> pos = (1-1)*5 + 5 = 5
    assert ip[9].interleave_pos == 5
    # within source a, shortest-first with doc_id ties: NULL(0 toks, id 0)
    # then ''(0, id 1) then the two 4-token docs by id
    assert [ip[i].rn_in_source for i in (0, 1, 2, 3)] == [1, 2, 3, 4]
    assert ip[0].interleave_pos == 2  # (1-1)*5 + 2
    # positions are globally unique
    pos = [r.interleave_pos for r in ip.values()]
    assert len(pos) == len(set(pos))

    fn, _ = CANDIDATES["rbo_ranking_agreement"]
    rbo = {r.depth: r for r in fn(spark, adv_r14_dir).collect()}
    # 5 sources -> depths 1..5; overlap at full depth = 5 always;
    # the doc-count tie between d and the NULL source (1 doc each)
    # breaks NULLS FIRST identically in both engines
    assert set(rbo) == {1, 2, 3, 4, 5}
    assert rbo[5].overlap == 5
    assert abs(rbo[5].weighted_agreement - rbo[5].p_weight) < 1e-15
    for r in rbo.values():
        assert 0 <= r.overlap <= r.depth

    fn, _ = CANDIDATES["neardup_threshold_sweep"]
    sw = {r.threshold: r for r in fn(spark, adv_r14_dir).collect()}
    assert set(sw) == {0.5, 0.6, 0.7, 0.8, 0.9}
    # docs 4=5 (Jaccard 1.0) and each vs 6 (6 of 10 shared 3-gram
    # shingles -> 6/10 = 0.6): at 0.9 only the identical pair remains;
    # at 0.5/0.6 all three pairs and all three docs are flagged
    assert (sw[0.9].n_pairs, sw[0.9].n_docs_flagged) == (1, 2)
    assert (sw[0.6].n_pairs, sw[0.6].n_docs_flagged) == (3, 3)
    assert sw[0.5].n_pairs == 3
    # monotone non-increasing in the threshold
    ordered = [sw[t].n_pairs for t in (0.5, 0.6, 0.7, 0.8, 0.9)]
    assert ordered == sorted(ordered, reverse=True)

    fn, _ = CANDIDATES["fold_leakage_pairs"]
    leak = fn(spark, adv_r14_dir).collect()
    # expected from first principles: docs 4,5,6 share the 8-token
    # prefix fingerprint; folds = md5(doc_id) % 5 computed right here
    folds = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5
        for i in (4, 5, 6)
    }
    from collections import Counter

    cnt = Counter(folds.values())
    expect_pairs = 0
    for fa in cnt:
        for fb in cnt:
            if fa < fb:
                expect_pairs += cnt[fa] * cnt[fb]
            elif fa == fb:
                expect_pairs += cnt[fa] * (cnt[fa] - 1) // 2
    assert sum(r.n_dup_pairs for r in leak) == expect_pairs == 3

    fn, _ = CANDIDATES["knn_graph_degree_stats"]
    deg = {r.in_degree: r.n_vecs for r in fn(spark, adv_r14_dir).collect()}
    # probes {0, 20}; candidates {0,1,2,20} (zero + NULL vectors out);
    # k=5 >= 3 remaining candidates -> each probe links all others:
    # in-degree 0:1, 1:2, 2:2, 20:1 -> histogram {1: 2, 2: 2}
    assert deg == {1: 2, 2: 2}

    fn, _ = CANDIDATES["source_epoch_schedule"]
    sched = {r.source: r for r in fn(spark, adv_r14_dir).collect()}
    # exact integer replay of the largest-remainder allocation
    n_tok = {"a": 0 + 0 + 4 + 4, "b": 30, "c": 24, "d": 2, None: 3}
    import math

    wi = {s: round(math.sqrt(n) * 1_000_000) for s, n in n_tok.items()}
    tw = sum(wi.values())
    base = {s: (1_000_000 * w) // tw for s, w in wi.items()}
    rem = {s: (1_000_000 * w) % tw for s, w in wi.items()}
    leftover = 1_000_000 - sum(base.values())
    # rem ties break (rem DESC, source ASC NULLS FIRST)
    order = sorted(rem, key=lambda s: (-rem[s], s is not None, s or ""))
    alloc = {
        s: base[s] + (1 if order.index(s) < leftover else 0) for s in wi
    }
    assert {s: r.alloc_tokens for s, r in sched.items()} == alloc
    assert sum(r.alloc_tokens for r in sched.values()) == 1_000_000
    for s, r in sched.items():
        assert r.n_tokens == n_tok[s]
        assert abs(r.epochs - alloc[s] / n_tok[s]) < 1e-12


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_parity_bench_scale(spark, name):
    """Parity at sf0.1 — the tier that catches scale-dependent
    determinism defects the small fixtures cannot (the rounding-tie
    class fires only here)."""
    fn, oracle = CANDIDATES[name]
    ok, detail = compare(spark, "/root/testdata/sf0.1", name, fn, oracle)
    assert ok, f"{name}: {detail}"


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_preflight_partition_invariance(spark, sf_dir, name):
    """Identical value multiset under the alien session config (200
    shuffle partitions, 64 KB scan splits) — shuffle-order float sums
    and underspecified ties surface here."""
    fn, _ = CANDIDATES[name]
    ok, detail = check_partition_invariance(spark, sf_dir, fn)
    assert ok, f"{name}: {detail}"


def test_preflight_plan_shapes(spark, sf_dir):
    """Plan gate: no CartesianProduct anywhere; the only unpartitioned
    windows run over bounded aggregates — the |sources| rankings (rbo,
    schedule, interleave's source index) and the vocab-frequency
    histogram (oov via histogram_rank). These four are on the
    full-registry allowlist in tests/test_plans.py."""
    from convex_batch_processor_spark.plans import explain as E

    bounded_ok = {
        "rbo_ranking_agreement",
        "source_epoch_schedule",
        "curriculum_interleave_plan",
        "oov_rate_by_source",
    }
    for name, (fn, _) in CANDIDATES.items():
        df = fn(spark, sf_dir)
        plan = E.physical_plan(df)
        assert "CartesianProduct" not in plan, name
        inputs = E.global_window_inputs(df)
        if name in bounded_ok:
            for cols in inputs:
                # bounded-aggregate columns only — never a corpus column
                assert not ({"text", "doc_id", "embedding"} & cols), (name, cols)
        else:
            assert inputs == [], (name, inputs)


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


def test_gumbel_sample_matches_python_reference_property(spark, tmp_path):
    """The distributed Gumbel-top-k selection == an exact python replica
    (hashlib md5 slice, math.log key, BigDecimal-HALF_UP 9-dp rounding
    via decimal.quantize — the same rounding Spark's F.round applies to
    the binary double) on random corpora with duplicate weights and
    multi-source splits."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings, strategies as st

    from convex_batch_processor_spark.queries.llm75 import (
        _GUM_DENOM,
        _GUM_K,
        gumbel_topk_sample,
    )

    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(  # per doc: (n_tokens in 0..30, source in 2 buckets)
            st.tuples(st.integers(0, 30), st.sampled_from(["s1", "s2"])),
            min_size=1, max_size=40,
        )
    )
    def run(shape):
        counter[0] += 1
        d = tmp_path / f"gum{counter[0]}"
        d.mkdir()
        rows = [
            (i, " ".join(f"t{j}" for j in range(n)), "en", src)
            for i, (n, src) in enumerate(shape)
        ]
        _write_documents(d, rows)

        def key(doc_id, w):
            h = int(
                hashlib.md5(f"{doc_id}:gum".encode()).hexdigest()[:11], 16
            )
            u = (h + 1.0) / float(_GUM_DENOM)
            raw = math.log(w) - math.log(-math.log(u))
            return float(
                Decimal(raw).quantize(Decimal("1e-9"), ROUND_HALF_UP)
            )

        expect = {}
        by_src: dict = {}
        for i, (n, src) in enumerate(shape):
            by_src.setdefault(src, []).append((key(i, n + 1), i))
        for src, ks in by_src.items():
            ks.sort(key=lambda t: (-t[0], t[1]))
            for rank, (k, i) in enumerate(ks[:_GUM_K], start=1):
                expect[i] = (src, rank, k)

        got = {
            r.doc_id: (r.source, r.sample_rank, r.gumbel_key)
            for r in gumbel_topk_sample(spark, str(d)).collect()
        }
        assert got == expect

    run()


def test_fold_leakage_matches_python_reference_property(spark, tmp_path):
    """The fold-pair duplicate accounting == a hashlib replay on random
    corpora with INJECTED duplicate prefixes (the fixed testdata has
    none at the raw-text level)."""
    from collections import Counter, defaultdict

    from hypothesis import given, settings, strategies as st

    from convex_batch_processor_spark.queries.llm75 import (
        _LEAK_FOLDS,
        fold_leakage_pairs,
    )

    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(  # per doc: which of 3 shared 9-token prefixes to use
            st.integers(0, 2), min_size=2, max_size=30,
        )
    )
    def run(choices):
        counter[0] += 1
        d = tmp_path / f"leak{counter[0]}"
        d.mkdir()
        # 9 tokens: the 8-token prefix fingerprint ignores the tail
        rows = [
            (i, " ".join(f"p{c}w{j}" for j in range(8)) + f" tail{i}",
             "en", "src")
            for i, c in enumerate(choices)
        ]
        _write_documents(d, rows)

        fold = {
            i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
            % _LEAK_FOLDS
            for i, _ in enumerate(choices)
        }
        groups = defaultdict(list)
        for i, c in enumerate(choices):
            groups[c].append(fold[i])
        expect: Counter = Counter()
        digests: Counter = Counter()
        for c, folds in groups.items():
            if len(folds) < 2:
                continue
            cnt = Counter(folds)
            for fa in cnt:
                for fb in cnt:
                    if fa < fb:
                        expect[(fa, fb)] += cnt[fa] * cnt[fb]
                        digests[(fa, fb)] += 1
                    elif fa == fb:
                        expect[(fa, fa)] += cnt[fa] * (cnt[fa] - 1) // 2
                        digests[(fa, fa)] += 1

        got_pairs = {}
        got_digests = {}
        for r in fold_leakage_pairs(spark, str(d)).collect():
            got_pairs[(r.fold_a, r.fold_b)] = r.n_dup_pairs
            got_digests[(r.fold_a, r.fold_b)] = r.n_digests
        assert got_pairs == dict(expect)
        assert got_digests == dict(digests)

    run()
