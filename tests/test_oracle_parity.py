"""Every registered query matches its DuckDB oracle (local replica of the
driver's correctness gate) at the small test scale factor."""

from __future__ import annotations

import pytest

from convex_batch_processor_spark.queries import QUERIES

from .oracle_check import compare


# slow tier (pytest.ini): the FULL registry sweep — replicated
# standalone by `python tests/oracle_check.py <sf_dir>`, which every
# round runs anyway; the default tier keeps the smoke subset below
@pytest.mark.slow
@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    spec = QUERIES[name]
    ok, detail = compare(spark, sf_dir, name, spec.fn, spec.oracle)
    assert ok, f"{name}: {detail}"


#: one representative per operator family (relational agg, window,
#: sessionize, json, minhash/banding, sketch, graph, survivorship,
#: iterative, codec, packing, inverted-index) — a fast default-tier
#: canary that catches import-level or shared-helper breakage without
#: the 300-query sweep.
_SMOKE = [
    "q1_pricing_summary",
    "window_rank_lag_running",
    "sessionize_events",
    "json_extract_props",
    "neardup_eval_metrics",
    # the shared LSH pipeline (signatures → band keys → band_join →
    # verify) through each oracle-backed hash family and verify step
    "minhash_portable_neardup",
    "simhash_portable_neardup",
    "cosine_lsh_portable_neardup",
    "minhash_estimate_neardup",
    "semantic_dedup_keep",
    "bloom_decontamination_prefilter",
    "supplier_triangles",
    "golden_record_merge",
    "kmeans_clusters",
    "audio_decode_features",
    "token_pack_greedy",
    "tfidf_cosine_pairs",
    "exact_substr_scrub",
    "market_basket_rules",
]


@pytest.mark.parametrize("name", _SMOKE)
def test_query_matches_oracle_smoke(spark, sf_dir, name):
    spec = QUERIES[name]
    ok, detail = compare(spark, sf_dir, name, spec.fn, spec.oracle)
    assert ok, f"{name}: {detail}"


def test_every_query_has_entry_contract():
    import __spark_entry__ as e

    qs = e.queries()
    sqls = e.oracle_sql()
    assert set(sqls) <= set(qs)
    assert len(qs) >= 40
