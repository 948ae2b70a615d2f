"""Streaming sketches (streaming/sketches.py): the state maintained over
micro-batches must equal the batch-built sketch over the same rows —
sketch updates are order-independent merges, so splitting the input into
arbitrary micro-batches cannot change the result."""

from __future__ import annotations

import pytest

# slow tier: excluded from the default run (pytest.ini); run with -m ""
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F
from pyspark.sql import types as T

from convex_batch_processor_spark.llmops.sketches import md5_int
from convex_batch_processor_spark.streaming.sketches import (
    streaming_cms_cells,
    streaming_hll_registers,
)

SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("term", T.StringType()),
    ]
)

ROWS = [
    ("en", t)
    for t in "the quick brown fox jumps over the lazy dog the end the".split()
] + [
    ("de", t)
    for t in "der schnelle braune fuchs der hund der".split()
]


def _stage_batches(spark, src, n_batches=3):
    """Write ROWS as n separate files -> n micro-batches with maxFilesPerTrigger=1."""
    per = (len(ROWS) + n_batches - 1) // n_batches
    for i in range(n_batches):
        chunk = ROWS[i * per : (i + 1) * per]
        if chunk:
            spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))


def _run_complete(spark, stream_df, name, ckpt):
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_streaming_cms_equals_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _stage_batches(spark, src)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = {
        (r.j, r.bucket): r.counter
        for r in _run_complete(
            spark, streaming_cms_cells(stream, "term", 4, 64), "cms_stream", tmp_path / "c1"
        )
    }

    batch = spark.read.parquet(str(src))
    want = {
        (r.j, r.bucket): r.counter
        for r in streaming_cms_cells(batch, "term", 4, 64).collect()
    }
    assert got == want
    assert sum(v for (j, _), v in got.items() if j == 0) == len(ROWS)


def test_streaming_hll_registers_equal_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _stage_batches(spark, src)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = {
        (r.lang, r.bucket): r.m_reg
        for r in _run_complete(
            spark,
            streaming_hll_registers(stream, "term", ["lang"], b=6),
            "hll_stream",
            tmp_path / "c2",
        )
    }

    batch = spark.read.parquet(str(src))
    want = {
        (r.lang, r.bucket): r.m_reg
        for r in streaming_hll_registers(batch, "term", ["lang"], b=6).collect()
    }
    assert got == want
    # registers reflect only that group's keys: distinct buckets bounded by m
    assert all(1 <= v <= 55 for v in got.values())
    assert len({k for k in got if k[0] == "de"}) <= 64


def test_streaming_cms_state_is_bounded(spark, tmp_path):
    """The 100 TB point: state rows never exceed depth x width however many
    distinct terms stream through."""
    src = tmp_path / "src"
    src.mkdir()
    many = [("en", f"term_{i}") for i in range(500)]
    spark.createDataFrame(many, SCHEMA).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    rows = _run_complete(
        spark, streaming_cms_cells(stream, "term", 4, 32), "cms_bounded", tmp_path / "c3"
    )
    assert len(rows) <= 4 * 32
    assert sum(r.counter for r in rows if r.j == 2) == 500


def test_streaming_windowed_cms_equals_batch_and_appends(spark, tmp_path):
    """Windowed sketch: per-window cells match the batch computation, and
    append mode works (watermark finalizes closed windows)."""
    import datetime as dt

    from convex_batch_processor_spark.streaming.sketches import (
        streaming_cms_windowed,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("term", T.StringType()),
        ]
    )
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for h in range(3):  # three 1-hour windows
        for i, t in enumerate("alpha beta alpha gamma".split()):
            rows.append((base + dt.timedelta(hours=h, minutes=i), t))
    src = tmp_path / "src"
    src.mkdir()
    half = len(rows) // 2
    for chunk in (rows[:half], rows[half:]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_cms_windowed(stream, "ts", "term", "1 hour", "30 minutes", 4, 64)
    q = (
        out.writeStream.outputMode("append")  # watermark makes append legal
        .format("memory")
        .queryName("cms_win")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.win.start.hour, r.j, r.bucket): r.counter
        for r in spark.sql("SELECT * FROM cms_win").collect()
    }

    batch = spark.read.parquet(str(src))
    want = {
        (r.win.start.hour, r.j, r.bucket): r.counter
        for r in streaming_cms_windowed(batch, "ts", "term", "1 hour", "30 minutes", 4, 64)
        .collect()
    }
    # append mode emits only watermark-CLOSED windows; whatever was emitted
    # must match the batch value exactly. With the final watermark at
    # 02:03 - 30min = 01:33, window 0 is definitely closed; windows 1-2 may
    # legitimately still be open at stream end.
    assert got
    for k, v in got.items():
        assert want[k] == v, k
    emitted_hours = {h for (h, _, _) in got}
    assert 0 in emitted_hours
    assert 2 not in emitted_hours  # never emitted while open


def test_spacesaving_topk_guarantees(spark, sf_dir, tmp_path):
    """Space-Saving invariants vs exact batch counts, with state carried
    ACROSS a query restart (two availableNow runs over one checkpoint):
    est >= true, est - err <= true, and every item with true count >
    N/capacity is monitored."""
    import os

    import pyspark.sql.functions as F

    from convex_batch_processor_spark.catalog import load_table, table_path
    from convex_batch_processor_spark.streaming.sketches import spacesaving_topk_per_key

    ev = load_table(spark, sf_dir, "events")
    sel = ev.select(F.col("user_id").cast("string").alias("grp"),
                    F.col("event_type").alias("item"), "event_id")
    src = tmp_path / "ss_src"
    src.mkdir()
    sel.filter(F.col("event_id") % 2 == 0).drop("event_id").coalesce(1).write.parquet(
        str(src / "a")
    )
    cap = 3  # < 5 event types -> evictions actually happen

    emitted: list = []  # (epoch, row) — memory sink can't recover
    # checkpoints (NOTES), so restart tests collect via foreachBatch

    def run():
        stream = (
            spark.readStream.schema("grp string, item string")
            .parquet(str(src) + "/*")
        )
        q = (
            spacesaving_topk_per_key(stream, capacity=cap)
            .writeStream.foreachBatch(
                lambda df, eid: emitted.extend((eid, r) for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()  # first half builds state
    first_rows = len(emitted)
    sel.filter(F.col("event_id") % 2 == 1).drop("event_id").coalesce(1).write.parquet(
        str(src / "b")
    )
    run()  # restart: second half merges into recovered state
    assert len(emitted) > first_rows  # the restarted run really emitted

    # each key's FINAL monitored table = its rows from its LAST epoch
    last_epoch: dict = {}
    for eid, r in emitted:
        last_epoch[r.grp] = max(last_epoch.get(r.grp, -1), eid)
    got = {}
    for eid, r in emitted:
        if eid == last_epoch[r.grp]:
            got.setdefault(r.grp, {})[r.item] = (r.count_est, r.overcount_max)

    ev = load_table(spark, sf_dir, "events")
    true = {
        (str(r.user_id), r.event_type): r.n
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals = {}
    for (grp, _), n in true.items():
        totals[grp] = totals.get(grp, 0) + n

    assert got, "no output"
    for grp, items in got.items():
        assert len(items) <= cap
        for item, (est, err) in items.items():
            t = true.get((grp, item), 0)
            assert est >= t, (grp, item, est, t)
            assert est - err <= t, (grp, item, est, err, t)
        # heavy-hitter guarantee
        for (g2, item), t in true.items():
            if g2 == grp and t > totals[grp] / cap:
                assert item in items, (grp, item, t, totals[grp])


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

DOC_ROWS = [
    (1, "web", "a b c d e f"),
    (2, "web", "c d e f g h"),
    (3, "book", "x y z w v u t"),
    (4, "web", "a b c q r s"),
    (5, "book", "x y z a b c"),
    (6, "book", ""),  # empty doc: contributes no shingles
]


def test_streaming_minhash_signatures_match_batch(spark, tmp_path):
    """Arbitrary micro-batch splits must converge to the batch-built
    group signatures (min-merge is order-independent), and per-batch
    snapshots must be monotone (mins only ever decrease)."""
    from convex_batch_processor_spark.streaming.sketches import (
        streaming_minhash_signatures,
    )

    src = tmp_path / "docs"
    for i, row in enumerate(DOC_ROWS):
        spark.createDataFrame([row], DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_minhash_signatures(stream, ["source"])
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("mh_sigs")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.source: tuple(r[f"h{p}"] for p in range(16))
        for r in spark.sql("SELECT * FROM mh_sigs").collect()
    }
    batch_df = spark.createDataFrame(DOC_ROWS, DOC_SCHEMA)
    want = {
        r.source: tuple(r[f"h{p}"] for p in range(16))
        for r in streaming_minhash_signatures(batch_df, ["source"]).collect()
    }
    assert got == want
    # monotonicity: signatures over a PREFIX of the docs are >= the final
    prefix = spark.createDataFrame(DOC_ROWS[:3], DOC_SCHEMA)
    pre = {
        r.source: tuple(r[f"h{p}"] for p in range(16))
        for r in streaming_minhash_signatures(prefix, ["source"]).collect()
    }
    for src_key, sig in pre.items():
        assert all(a >= b for a, b in zip(sig, want[src_key]))


def test_group_signature_agreement_tracks_overlap(spark):
    """Groups sharing most shingles agree on most mins; disjoint groups
    agree on (almost) none — the containment signal the sketch exists
    for."""
    from convex_batch_processor_spark.streaming.sketches import (
        streaming_minhash_signatures,
    )

    rows = [
        (1, "a", "p q r s t u v w"),
        (2, "b", "p q r s t u v x"),  # near-identical shingle set to a
        (3, "c", "m n o k l j i h"),  # disjoint
    ]
    rows_out = (
        streaming_minhash_signatures(spark.createDataFrame(rows, DOC_SCHEMA), ["source"])
        .selectExpr("source", *[f"h{p}" for p in range(16)])
        .collect()
    )
    sigs = {r[0]: tuple(r[1:17]) for r in rows_out}
    agree_ab = sum(x == y for x, y in zip(sigs["a"], sigs["b"]))
    agree_ac = sum(x == y for x, y in zip(sigs["a"], sigs["c"]))
    assert agree_ab > agree_ac
    assert agree_ac <= 2


def _run_quantile_stream(spark, batches, tmp_path, name, bin_width=1.0):
    """One parquet file per batch, one micro-batch per trigger."""
    from convex_batch_processor_spark.streaming.sketches import (
        streaming_quantile_bins,
    )

    src = tmp_path / f"src_{name}"
    schema = "grp string, value double"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_quantile_bins(stream, bin_width=bin_width)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}").collect()


def _bin_quantiles(values, bin_width, qs=(0.5, 0.9, 0.99)):
    """Batch twin: lower edge of the first bin whose cumcount hits
    ceil(q*n) over the same fixed-width grid."""
    import math

    bins: dict = {}
    for v in values:
        if v is None:
            continue
        b = int(math.floor(v / bin_width))
        bins[b] = bins.get(b, 0) + 1
    items = sorted(bins.items())
    n = sum(c for _, c in items)
    out = []
    for q in qs:
        target = math.ceil(q * n)
        cum = 0
        val = None
        for b, c in items:
            cum += c
            if cum >= target:
                val = b * bin_width
                break
        out.append(val)
    return n, len(items), tuple(out)


def test_streaming_quantile_bins_equal_batch(spark, tmp_path):
    """The final epoch's per-key quantiles equal the batch bin-histogram
    quantiles over all arrivals; NULL values are ignored."""
    vals_a = [1.2, 3.7, 0.4, 9.9, 2.1, 2.3, 5.5, None]
    vals_b = [100.0, 101.5]
    e1 = [("a", v) for v in vals_a[:4]] + [("b", vals_b[0])]
    e2 = [("a", v) for v in vals_a[4:]] + [("b", vals_b[1])]
    rows = _run_quantile_stream(spark, [e1, e2], tmp_path, "qb_eq")
    last = {}
    for r in rows:  # append stream: the LAST row per key is the newest
        last[r.grp] = r
    n, nb, (p50, p90, p99) = _bin_quantiles([v for v in vals_a], 1.0)
    assert (last["a"].n_total, last["a"].n_bins) == (n, nb)
    assert (last["a"].p50, last["a"].p90, last["a"].p99) == (p50, p90, p99)
    n, nb, qs = _bin_quantiles(vals_b, 1.0)
    assert (last["b"].n_total, last["b"].p99) == (n, qs[2])


def test_streaming_quantile_bins_split_invariance(spark, tmp_path):
    """Bins are additive, so the FINAL state must not depend on how the
    arrivals split across micro-batches."""
    vals = [0.1, 0.9, 1.1, 4.4, 4.6, 7.7, 7.8, 7.9, 12.0, 3.3]
    rows_all = [("k", v) for v in vals]
    one = _run_quantile_stream(spark, [rows_all], tmp_path, "qb_one")
    split = _run_quantile_stream(
        spark, [rows_all[:3], rows_all[3:7], rows_all[7:]], tmp_path, "qb_split"
    )
    final_one = max(one, key=lambda r: r.n_total)
    final_split = max(split, key=lambda r: r.n_total)
    key = lambda r: (r.n_total, r.n_bins, r.p50, r.p90, r.p99)  # noqa: E731
    assert key(final_one) == key(final_split)


def test_streaming_quantile_bins_state_survives_restart(spark, tmp_path):
    """The bin histogram recovers from the checkpoint: quantiles after a
    restart reflect ALL arrivals, not just the new epoch's."""
    from convex_batch_processor_spark.streaming.sketches import (
        streaming_quantile_bins,
    )

    schema = "grp string, value double"
    src = tmp_path / "qb_restart_src"
    src.mkdir()
    spark.createDataFrame(
        [("k", float(v)) for v in (1, 2, 3, 4, 5, 6, 7, 8)], schema
    ).coalesce(1).write.parquet(str(src / "a"))

    emitted: list = []

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            streaming_quantile_bins(stream, bin_width=1.0)
            .writeStream.foreachBatch(
                lambda df, eid: emitted.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "qb_restart_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    spark.createDataFrame(
        [("k", float(v)) for v in (9, 10)], schema
    ).coalesce(1).write.parquet(str(src / "b"))
    run()
    final = max(emitted, key=lambda r: r.n_total)
    n, nb, (p50, p90, p99) = _bin_quantiles(
        [float(v) for v in range(1, 11)], 1.0
    )
    assert (final.n_total, final.n_bins) == (n, nb)
    assert (final.p50, final.p90, final.p99) == (p50, p90, p99)
