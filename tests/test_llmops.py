"""LLM-ops semantics beyond oracle parity: the hash-based approximate
operators (MinHash-LSH, SimHash, hyperplane LSH) agree with their exact
counterparts on this corpus, and the multimodal plumbing produces the
promised shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from convex_batch_processor_spark.catalog import load_table
from convex_batch_processor_spark.llmops import dedup as D
from convex_batch_processor_spark.llmops import multimodal as M
from convex_batch_processor_spark.llmops import similarity as S
from convex_batch_processor_spark.llmops import textstats as X


def test_minhash_lsh_finds_exact_jaccard_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.jaccard_pairs(docs, D.minhash_candidates(docs)[0])
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    # ground truth: all-pairs exact jaccard (bounded corpus)
    sh = D.with_shingles(docs)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("j"))
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    assert truth, "corpus should contain near-dup pairs"
    # LSH with 8 bands x 4 rows catches jaccard>=0.5 w.h.p.; verification
    # filter removes false positives, so the result is exactly the truth set
    assert exact == truth


def test_simhash_neardups_are_high_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # tight radius: every surfaced pair is a true near-dup (precision)
    tight = D.jaccard_pairs(docs, D.simhash_neardup(docs, max_hamming=2).select("id_a", "id_b"))
    rows = tight.collect()
    assert rows, "simhash should surface candidate pairs"
    assert all(r.jaccard >= 0.5 for r in rows)
    # wider radius only ADDS pairs (monotone blocking)
    wide = D.simhash_neardup(docs, max_hamming=3).select("id_a", "id_b").collect()
    assert {(r.id_a, r.id_b) for r in rows} <= {(r.id_a, r.id_b) for r in wide}


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = [0, 1, 2]
    exact = {
        (r.q_vec_id, r.vec_id)
        for r in S.knn_bruteforce(emb, queries, k=5).collect()
    }
    approx_df = S.lsh_ann(emb, queries, k=5, n_bits=4, multiprobe=1)
    approx = {(r.q_vec_id, r.vec_id) for r in approx_df.collect()}
    # 4-bit buckets + hamming-1 multiprobe → ~5/16 of corpus probed
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"ANN recall collapsed: {recall}"
    # every ANN hit must be a real vector with sane similarity
    sims = [r.sim for r in approx_df.collect()]
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_bucketed_neardup_recall_and_exact_precision(spark, sf_dir):
    """cosine_neardup_pairs_bucketed must be a high-recall SUBSET of the
    exact all-pairs baseline: rerank is exact cosine, so precision is 1.0
    by construction; banding (24×4 bits) must keep recall ≥ 0.95 at the
    corpus's 0.42 tail threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.vec_id_a, r.vec_id_b, r.sim)
        for r in S.cosine_neardup_pairs(emb, 0.42).collect()
    }
    lsh = {
        (r.vec_id_a, r.vec_id_b, r.sim)
        for r in S.cosine_neardup_pairs_bucketed(emb, 0.42).collect()
    }
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    recall = len(lsh & exact) / max(len(exact), 1)
    assert recall >= 0.95, f"banded-LSH recall collapsed: {recall}"


def test_language_id_profiles_are_self_consistent(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = X.language_id(docs)
    rows = out.collect()
    assert len(rows) == docs.count()  # every doc classified
    langs = {r.predicted_lang for r in rows}
    assert langs <= set(r.lang for r in docs.select("lang").distinct().collect())


def test_multimodal_payload_roundtrip_and_features(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pay = M.attach_payload(docs)
    assert [f.name for f in pay.schema.fields] == ["doc_id", "payload", "meta"]
    sample = pay.orderBy("doc_id").limit(3).collect()
    orig = {r.doc_id: r.text for r in docs.orderBy("doc_id").limit(3).collect()}
    for r in sample:
        assert bytes(r.payload).decode("utf-8") == orig[r.doc_id]  # lossless
        assert r.meta.n_bytes == len(bytes(r.payload))
    feats = M.payload_byte_features(pay)
    assert feats.columns == ["doc_id", "n_bytes", "head_byte", "feat_mean"]
    frow = feats.filter(F.col("doc_id") == sample[0].doc_id).collect()[0]
    raw = bytes(sample[0].payload)
    assert frow.n_bytes == len(raw)
    assert frow.head_byte == raw[0]
    assert abs(frow.feat_mean - sum(raw) / len(raw)) < 1e-9


def test_frame_sample_stub_shapes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    frames = M.frame_sample(M.attach_payload(docs), every_n=2)
    rows = frames.collect()
    assert rows, "frame sampling should emit rows for non-empty payloads"
    assert frames.columns == ["doc_id", "frame_idx", "frame_bytes"]
    assert all(r.frame_idx % 2 == 0 for r in rows)


def test_label_centroids_match_numpy(spark, sf_dir):
    import numpy as np

    from convex_batch_processor_spark.llmops.similarity import ivf_assign, label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r.label: list(r.centroid) for r in label_centroids(emb).collect()}
    rows = emb.collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype=np.float64))
    for label, vecs in by_label.items():
        expected = np.mean(vecs, axis=0)
        assert np.allclose(got[label], expected, atol=1e-9)
    # IVF assignment: every vector assigned to exactly one centroid
    assigned = ivf_assign(emb, label_centroids(emb))
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()


def test_ivf_assign_empty_centroids_returns_zero_rows(spark, sf_dir):
    """ADVICE r5: the map-side rewrite's collect_list aggregate emits one
    row even for an empty centroid table; the degenerate-case guard must
    restore the broadcast-join contract (no centroids -> no assignments),
    not a corpus of NULL centroid_ids."""
    from convex_batch_processor_spark.llmops.similarity import ivf_assign, label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    no_cents = label_centroids(emb).filter("label < -1")
    assert ivf_assign(emb, no_cents).count() == 0


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    from pyspark.sql import functions as F2

    from convex_batch_processor_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r.l_returnflag: (r.n, r.sq, r.mx)
        for r in li.groupBy("l_returnflag")
        .agg(
            F2.count(F2.lit(1)).alias("n"),
            F2.sum(F2.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sq"),
            F2.max("l_shipdate").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.l_returnflag: (r.n, r.sq, r.mx)
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {
                "n": F2.count(F2.lit(1)),
                "sq": F2.sum(F2.col("l_quantity").cast("decimal(18,2)")).cast("double"),
                "mx": F2.max("l_shipdate"),
            },
            salt_buckets=8,
        ).collect()
    }
    assert salted == plain


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from convex_batch_processor_spark.plans import explain as E
    from convex_batch_processor_spark.sources.sinks import read_partitioned, write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, ["lang"])
    back = read_partitioned(spark, out)
    assert back.count() == docs.count()
    pruned = back.filter(F.col("lang") == "de")
    plan = E.physical_plan(pruned)
    # partition filter handled at planning: only lang=de directories scanned
    assert pruned.count() == docs.filter(F.col("lang") == "de").count()
    assert "PartitionFilters" in plan or "lang=de" in plan or "PartitionCount: 1" in plan


def test_grouped_map_zscore_matches_window_form(spark, sf_dir):
    from pyspark.sql import Window

    from convex_batch_processor_spark.llmops.groupedmap import group_zscore

    ev = load_table(spark, sf_dir, "events")
    got = {r.event_id: r.zscore for r in group_zscore(ev).collect()}
    w = Window.partitionBy("user_id")
    expected = {
        r.event_id: r.z
        for r in ev.select(
            "event_id",
            ((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)).alias("z"),
        ).collect()
    }
    assert set(got) == set(expected)
    for eid, z in expected.items():
        assert abs(got[eid] - z) < 1e-4


def test_salted_agg_rejects_distinct_and_avg(spark, sf_dir):
    """Regression (code-review finding): countDistinct must be refused,
    not silently overcounted."""
    import pytest as pt
    from pyspark.sql import functions as F2

    from convex_batch_processor_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    with pt.raises(ValueError, match="DISTINCT"):
        salted_agg(ev, ["event_type"], {"d": F2.countDistinct("user_id")})
    with pt.raises(ValueError, match="decomposable"):
        salted_agg(ev, ["event_type"], {"a": F2.avg("value")})
    # cast-wrapped DISTINCT: toString() drops the qualifier ("CAST(count(x)
    # AS BIGINT)"), so only a node-tree walk catches it — a string probe
    # would merge it with sum and silently overcount
    with pt.raises(ValueError, match="DISTINCT"):
        salted_agg(
            ev, ["event_type"], {"d": F2.countDistinct("user_id").cast("long")}
        )


def test_char_trigrams_short_text(spark):
    """Regression: <3-char texts yield empty trigram arrays, not
    fabricated partial grams."""
    from pyspark.sql import types as T2

    docs = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, "abc"), (4, "abcd")],
        T2.StructType([T2.StructField("doc_id", T2.LongType()), T2.StructField("text", T2.StringType())]),
    )
    got = {r.doc_id: sorted(r.tg) for r in docs.select("doc_id", X.char_trigrams().alias("tg")).collect()}
    assert got[1] == [] and got[2] == []
    assert got[3] == ["abc"]
    assert got[4] == ["abc", "bcd"]


def test_sampled_by_lang_rates(spark, sf_dir):
    from convex_batch_processor_spark.queries import QUERIES

    docs = load_table(spark, sf_dir, "documents")
    totals = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    sampled = QUERIES["sampled_by_lang"].fn(spark, sf_dir)
    got = {r.lang: r.n for r in sampled.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    fractions = {lang: (0.2 if i % 2 == 0 else 0.8) for i, lang in enumerate(sorted(totals))}
    for lang, frac in fractions.items():
        rate = got.get(lang, 0) / totals[lang]
        assert abs(rate - frac) < 0.2, f"{lang}: rate {rate} vs {frac}"
    # seeded: two runs identical
    a = {r.doc_id for r in sampled.collect()}
    b = {r.doc_id for r in QUERIES["sampled_by_lang"].fn(spark, sf_dir).collect()}
    assert a == b


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """The signature-agreement estimator must (a) find every pair the
    exact path confirms at >=0.7 (high-sim pairs collide in many bands
    AND agree on most components), and (b) estimate Jaccard within the
    ~3-sigma band of the 32-perm estimator (|err| <= 0.27) for every
    candidate pair both paths emit."""
    from convex_batch_processor_spark.llmops.dedup import (
        minhash_estimate_neardup,
        minhash_neardup,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_neardup(docs, threshold=0.0).collect()
    }
    est = {
        (r.id_a, r.id_b): r.jaccard_est
        for r in minhash_estimate_neardup(docs, threshold=0.0).collect()
    }
    assert set(est) == set(exact)  # same candidate pairs (same LSH banding)
    high_sim = {p for p, j in exact.items() if j >= 0.7}
    found = {p for p, j in est.items() if j >= 0.5}
    assert high_sim <= found
    errs = [abs(est[p] - exact[p]) for p in exact]
    assert max(errs) <= 0.27, f"estimator out of 3-sigma band: {max(errs)}"


def test_minhash_persist_modes_identical_pairs(spark, sf_dir):
    """The 100 TB persist_mode='signatures' path (narrow signature persist
    + semi-join shingle rebuild for candidates only) must return exactly
    the pairs of the default shingle-persist path."""
    from convex_batch_processor_spark.llmops.dedup import minhash_neardup

    docs = load_table(spark, sf_dir, "documents")
    base = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_neardup(docs, persist_mode="shingles").collect()
    }
    sig = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_neardup(docs, persist_mode="signatures").collect()
    }
    assert base == sig and base


def test_exact_substr_scrub_keeps_first_occurrence(spark):
    """Two identical docs + one unique: the earlier copy keeps its text,
    the later copy loses every covered token, the unique doc is intact."""
    import hashlib

    from convex_batch_processor_spark.llmops.dedup import exact_substr_scrub

    dup_text = "a b c d e f g h i j"
    uniq_text = "q r s t u v w x y z"
    df = spark.createDataFrame(
        [(1, dup_text), (2, dup_text), (3, uniq_text), (4, "short doc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in exact_substr_scrub(df).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1]["n_removed"] == 0 and out[1]["clean_md5"] == md5(dup_text)
    assert out[2]["n_removed"] == 10 and out[2]["clean_md5"] == md5("")
    assert out[3]["n_removed"] == 0 and out[3]["clean_md5"] == md5(uniq_text)
    # sub-n docs can never be covered
    assert out[4]["n_removed"] == 0 and out[4]["clean_md5"] == md5("short doc")


# --- Jaro-Winkler (record linkage) ------------------------------------------


def test_jaro_winkler_published_vectors():
    """Independent ground truth: the canonical Winkler reference pairs
    (and classic textbook values) pin the implementation the oracle's
    literal scores are generated from."""
    from convex_batch_processor_spark.llmops.linkage import jaro, jaro_winkler

    assert round(jaro_winkler("MARTHA", "MARHTA"), 3) == 0.961
    assert round(jaro_winkler("DIXON", "DICKSONX"), 3) == 0.813
    assert round(jaro_winkler("DWAYNE", "DUANE"), 3) == 0.840
    assert round(jaro("CRATE", "TRACE"), 3) == 0.733
    assert jaro_winkler("ABC", "ABC") == 1.0
    assert jaro_winkler("ABC", "") == 0.0
    assert jaro_winkler("", "") == 1.0  # exact-equality short-circuit
    assert jaro_winkler("A", "B") == 0.0
    # prefix bonus only above the 0.7 boost threshold
    assert jaro_winkler("ABCDEF", "UVWXYZ") == jaro("ABCDEF", "UVWXYZ")


def test_jw_score_pairs_vectorized(spark):
    from convex_batch_processor_spark.llmops.linkage import jaro_winkler, jw_score_pairs

    rows = [("martha", "marhta"), ("smith", "jones"), ("x", "x")]
    df = spark.createDataFrame(rows, "a string, b string")
    got = {(r.a, r.b): r.jw for r in jw_score_pairs(df, "a", "b").collect()}
    for a, b in rows:
        assert got[(a, b)] == round(jaro_winkler(a, b), 9)


def test_jw_score_pairs_null_names(spark):
    """NULL on either side -> NULL score (never 1.0, never a stage crash)."""
    from convex_batch_processor_spark.llmops.linkage import jw_score_pairs

    df = spark.createDataFrame(
        [("martha", None), (None, "jones"), (None, None), ("x", "x")],
        "a string, b string",
    )
    got = {(r.a, r.b): r.jw for r in jw_score_pairs(df, "a", "b").collect()}
    assert got[("martha", None)] is None
    assert got[(None, "jones")] is None
    assert got[(None, None)] is None
    assert got[("x", "x")] == 1.0


def test_banded_lsh_signatures_skip_null_embeddings(spark):
    """A NULL embedding cannot be hashed: it gets no signature rows (so it
    never becomes a candidate) instead of failing the Arrow batch."""
    from convex_batch_processor_spark.llmops.similarity import banded_lsh_signatures

    rows = [(1, [0.5] * 64), (2, None), (3, [-0.25] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sig = banded_lsh_signatures(df, n_bands=4, bits_per_band=4, dim=64)
    got = sig.groupBy("vec_id").count().collect()
    counts = {r.vec_id: r["count"] for r in got}
    assert counts == {1: 4, 3: 4}  # id 2 absent, others one row per band


def test_unicode_and_mojibake_probes_null_text(spark):
    """NULL text probes NULL (not a batch-killing TypeError)."""
    from pyspark.sql import functions as F

    from convex_batch_processor_spark.queries.llm46 import (
        _norm_probe_udf,
        _repaired_len_udf,
    )

    df = spark.createDataFrame([(1, None), (2, "café")], "doc_id long, text string")
    probed = df.select(
        "doc_id",
        _norm_probe_udf()(F.col("text")).alias("np"),
        _repaired_len_udf()(F.col("text")).alias("rl"),
    ).collect()
    rows = {r.doc_id: r for r in probed}
    assert rows[1].np.nfc_delta is None and rows[1].rl is None
    assert rows[2].np.nfc_delta is not None and rows[2].rl is not None


def test_salted_agg_rejects_min_by(spark, sf_dir):
    """Review r6 (confirmed wrong result): min_by prints as
    'min_by(x, y)' and rode the bare 'min' prefix into a plain-min
    merge, silently returning the wrong row's value — it is not
    decomposable and must be refused loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F2

    from convex_batch_processor_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").limit(100)
    with _pytest.raises(ValueError, match="decomposable"):
        salted_agg(
            li, ["l_returnflag"], {"xm": F2.min_by("l_quantity", "l_extendedprice")}
        ).collect()


def test_salted_agg_rejects_cast_wrapped_count_min_sketch(spark, sf_dir):
    """Regression (r8 operators review): 'cast(count_min_sketch(...' must
    not ride an unanchored 'cast(count' prefix into the sum-merge branch —
    non-decomposable aggregates refuse loudly even when cast-wrapped."""
    import pytest as pt
    from pyspark.sql import functions as F2

    from convex_batch_processor_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    with pt.raises(ValueError, match="decomposable"):
        salted_agg(
            ev,
            ["event_type"],
            {"sk": F2.count_min_sketch(
                "user_id", F2.lit(0.1), F2.lit(0.01), F2.lit(1)
            ).cast("string")},
        )


# --- value checks of the xxhash64 family against a pure-Python reference -----


def _doc_tokens(spark, sf_dir):
    """doc_id -> whitespace tokens (empties dropped), NULL texts skipped."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    return {
        r.doc_id: [t for t in r.text.split(" ") if t] for r in docs if r.text is not None
    }


def test_xxh64_reference_matches_spark(spark):
    """The reference reproduces F.xxhash64 on short, over-32-byte and
    non-ASCII strings and on chained (string, int) arguments."""
    from tests.xxh64 import spark_xxhash64

    cases = [
        ("", 0),
        ("a b c", 3),
        ("x" * 33 + " long enough for four lanes", 31),
        ("naïve café 東京", -7),
    ]
    df = spark.createDataFrame(cases, "s string, i int")
    got = df.select(F.xxhash64("s").alias("h1"), F.xxhash64("s", "i").alias("h2")).collect()
    assert [(r.h1, r.h2) for r in got] == [
        (spark_xxhash64(s), spark_xxhash64(s, i)) for s, i in cases
    ]


def test_minhash_neardup_matches_python_reference(spark, sf_dir):
    """Value check of the rows-only ``minhash_neardup`` query: 32 xxhash64
    permutations, 8 bands of 4 keyed by xxhash64(band, "h,h,h,h"), exact
    Jaccard >= 0.5 on the candidates — every (id_a, id_b, jaccard) equal
    to the Spark output at full precision."""
    from tests.xxh64 import spark_xxhash64

    from convex_batch_processor_spark.queries import QUERIES

    shingles = {}
    for doc_id, toks in _doc_tokens(spark, sf_dir).items():
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        if sh:
            shingles[doc_id] = sh
    perm_hashes = {}  # shingle -> its 32 permutation hashes
    for sh in shingles.values():
        for s in sh:
            if s not in perm_hashes:
                perm_hashes[s] = [spark_xxhash64(s, p) for p in range(32)]
    buckets = {}
    for doc_id, sh in shingles.items():
        sig = [min(perm_hashes[s][p] for s in sh) for p in range(32)]
        for b in range(8):
            key = spark_xxhash64(b, ",".join(str(h) for h in sig[4 * b:4 * b + 4]))
            buckets.setdefault((b, key), []).append(doc_id)
    cands = {
        (a, b) for ids in buckets.values() for a in ids for b in ids if a < b
    }
    want = set()
    for a, b in cands:
        inter = len(shingles[a] & shingles[b])
        j = inter / (len(shingles[a]) + len(shingles[b]) - inter)
        if j >= 0.5:
            want.add((a, b, j))
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in QUERIES["minhash_neardup"].fn(spark, sf_dir).collect()
    }
    assert want, "corpus should contain near-dup pairs"
    assert got == want


def test_simhash_neardup_matches_python_reference(spark, sf_dir):
    """Value check of the rows-only ``simhash_neardup`` query: 64-bit
    SimHash over token xxhash64s (ties → 0), 4 × 16-bit chunk blocking,
    Hamming <= 3 — every (id_a, id_b, hamming) equal to the Spark
    output."""
    from tests.xxh64 import spark_xxhash64

    from convex_batch_processor_spark.queries import QUERIES

    sigs = {}
    for doc_id, toks in _doc_tokens(spark, sf_dir).items():
        if not toks:
            continue
        hs = [spark_xxhash64(t) for t in toks]
        sums = [sum(1 if (h >> i) & 1 else -1 for h in hs) for i in range(64)]
        sigs[doc_id] = sum(1 << i for i in range(64) if sums[i] > 0)
    blocks = {}
    for doc_id, sig in sigs.items():
        for c in range(4):
            blocks.setdefault((c, (sig >> (16 * c)) & 0xFFFF), []).append(doc_id)
    want = set()
    for ids in blocks.values():
        for a in ids:
            for b in ids:
                d = bin(sigs[a] ^ sigs[b]).count("1")
                if a < b and d <= 3:
                    want.add((a, b, d))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in QUERIES["simhash_neardup"].fn(spark, sf_dir).collect()
    }
    assert want, "corpus should contain near-dup pairs"
    assert got == want
