"""Streaming sketch maintenance: Count-Min and HyperLogLog over
unbounded streams.

Sketches are ORDER-INDEPENDENT MERGES (counter sums, register maxes), so
Structured Streaming maintains them natively as stateful aggregations
with BOUNDED state — depth×width counter cells (CMS) or m registers per
group (HLL) — no matter how long the stream runs. This is the streaming
twin of llmops/sketches.py: the same md5-derived portable hash family,
the same cell/register layout, so a snapshot of the streaming state is
bit-identical to a batch-built sketch over the same rows (pinned by
tests/test_streaming_sketches.py).

Streams allow only ONE stateful aggregation per query, so the builders
here work from RAW rows (each occurrence updates the cells directly)
rather than pre-aggregated counts — same result, and exactly the
classical sketch update rule. Run with outputMode("complete"/"update");
at scale the state store holds ≤ depth×width (CMS) / groups×m (HLL)
rows, which is what makes these viable where a streaming exact
groupBy-term would grow without bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..llmops.sketches import cms_cells


def streaming_cms_cells(
    stream: DataFrame,
    term_col: str = "term",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Maintain CMS counters over a stream: every arriving occurrence
    increments its depth cells; the result is the live (j, bucket,
    counter) sketch. State is ≤ depth×width rows forever."""
    cells = stream.select(F.explode(cms_cells(term_col, depth, width)).alias("cell"))
    return (
        cells.select("cell.j", "cell.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def streaming_cms_windowed(
    stream: DataFrame,
    ts_col: str,
    term_col: str = "term",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Time-windowed CMS: one sketch per tumbling event-time window, with
    watermark-driven state EVICTION — the form an always-on pipeline
    runs, where an unwindowed sketch would conflate all of history and
    its state, while bounded, would never age out. State is
    (live windows) × depth × width cells; once the watermark passes a
    window, its cells finalize (append-mode emittable) and leave the
    store. Output: (win, j, bucket, counter)."""
    cells = stream.withWatermark(ts_col, watermark).select(
        F.window(F.col(ts_col), window_duration).alias("win"),
        F.explode(cms_cells(term_col, depth, width)).alias("cell"),
    )
    return (
        cells.select("win", "cell.j", "cell.bucket")
        .groupBy("win", "j", "bucket")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def streaming_hll_registers(
    stream: DataFrame,
    key_col: str,
    group_cols: list[str],
    b: int = 8,
) -> DataFrame:
    """Maintain HLL registers over a stream: per (group, bucket) the max
    leading-zero rank seen so far. State is ≤ groups × 2^b rows; the
    snapshot feeds the same estimate formula as the batch operator.

    Delegates to the batch builder — a max-aggregation is an allowed
    streaming stateful op, and sharing the expression guarantees the
    streaming state is bit-identical to a batch-built sketch (and
    MERGEABLE with one: llmops/sketches.py:hll_registers)."""
    from ..llmops.sketches import hll_registers

    return hll_registers(stream, key_col, group_cols, b)


TOPK_OUTPUT_SCHEMA = "grp string, item string, count_est long, overcount_max long"
TOPK_STATE_SCHEMA = "items array<string>, counts array<long>, errs array<long>"


def spacesaving_topk_per_key(
    stream: DataFrame,
    capacity: int,
    key_col: str = "grp",
    item_col: str = "item",
) -> DataFrame:
    """Space-Saving heavy hitters per key (Metwally/Agrawal/El Abbadi):
    each key keeps at most ``capacity`` monitored (item, count, error)
    entries; an unmonitored arrival EVICTS the current minimum and
    inherits its count as its overestimation bound.

    Guarantees (the tests' contract): count_est >= true count;
    count_est - overcount_max <= true count; any item with true count
    > N/capacity is monitored. This is the bounded-state answer to
    streaming "top items per key" — an exact groupBy(term) grows without
    bound; CMS answers point queries but cannot enumerate its heavy
    items without a candidate set; Space-Saving keeps the candidates.

    applyInPandasWithState (not a stateful agg: eviction is not an
    order-independent merge): one shuffle per micro-batch on the key,
    state is exactly ``capacity`` rows' worth per key forever. Each epoch
    emits the key's full monitored table (update semantics downstream).
    """

    def update_topk(key, pdfs, state):
        import pandas as pd

        (grp,) = key
        if state.exists:
            items_raw, counts_raw, errs_raw = state.get
            table = {
                it: [c, e]
                for it, c, e in zip(list(items_raw), list(counts_raw), list(errs_raw))
            }
        else:
            table = {}
        cap = capacity
        for pdf in pdfs:
            for it in pdf[item_col].astype("object"):
                if it in table:
                    table[it][0] += 1
                elif len(table) < cap:
                    table[it] = [1, 0]
                else:
                    evict = min(table.items(), key=lambda kv: (kv[1][0], kv[0]))
                    mc = evict[1][0]
                    del table[evict[0]]
                    table[it] = [mc + 1, mc]
        items = sorted(table.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update(
            (
                [it for it, _ in items],
                [v[0] for _, v in items],
                [v[1] for _, v in items],
            )
        )
        yield pd.DataFrame(
            {
                "grp": [grp] * len(items),
                "item": [it for it, _ in items],
                "count_est": [v[0] for _, v in items],
                "overcount_max": [v[1] for _, v in items],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.groupBy(F.col(key_col).alias("grp"))
        .applyInPandasWithState(
            update_topk,
            outputStructType=TOPK_OUTPUT_SCHEMA,
            stateStructType=TOPK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_minhash_signatures(
    stream: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    num_perm: int = 16,
) -> DataFrame:
    """Maintain per-group MinHash signatures over a document stream: the
    running min of each of ``num_perm`` portable md5 permutation hashes
    across every shingle seen for the group — the live dedup/containment
    index a crawl pipeline consults as documents arrive. State is
    groups x num_perm values forever (mins only ever decrease).

    The signature build is the shared batch builder
    (llmops/dedup.minhash_signatures, md5 family) — a min-aggregation is
    an allowed streaming stateful op, and sharing the expression
    guarantees the streaming state is bit-identical to a batch-built
    signature over the same rows, and MERGEABLE with one. The same call
    on a batch DataFrame IS the batch-built group sketch.

    SKETCH FORMAT v2 (round 5): h0..h{p-1} changed from 16-hex STRINGS
    (min over hex digests) to INT64 (conv base-16 min applied after the
    string min — same ordering, fixed-width hex is order-isomorphic to
    its integer value). Any streaming checkpoint or persisted sketch
    written by the v1 string-typed aggregates is schema-incompatible:
    REBUILD such state from source rather than restoring/merging — a
    restore fails on the aggregate expression change, and a hand-merged
    v1 string MIN against v2 int64 MIN would silently mismatch."""
    from ..llmops.dedup import MD5, minhash_signatures, shingles_from_tokens, tokens_col

    toks = stream.select(*group_cols, tokens_col(text_col).alias("_toks"))
    sh = toks.select(*group_cols, F.explode(shingles_from_tokens("_toks")).alias("shingle"))
    return minhash_signatures(sh, group_cols, num_perm, MD5)


QUANTILE_OUTPUT_SCHEMA = (
    "grp string, n_total long, n_bins long, p50 double, p90 double, p99 double"
)
QUANTILE_STATE_SCHEMA = "bin_ids array<long>, counts array<long>"


def streaming_quantile_bins(
    stream: DataFrame,
    bin_width: float,
    key_col: str = "grp",
    value_col: str = "value",
) -> DataFrame:
    """Streaming quantile estimation per key via a MERGEABLE fixed-width
    bin histogram — the streaming twin of the batch histogram-quantile
    queries (histogram_median_price / histogram_quantile_accuracy) and
    the percentile primitive an exact streaming sort cannot provide with
    bounded state. Each epoch emits the key's current (p50, p90, p99):
    the LOWER EDGE of the first bin whose cumulative count reaches
    ceil(q * n) — deterministic (exact integer bins, the quantile is a
    bin boundary), mergeable (bins are additive, so micro-batch split
    and shuffle order cannot change the state), and within one
    ``bin_width`` of the true value by construction.

    Bounded-state contract: state size is the number of DISTINCT bins a
    key's values span — the caller picks ``bin_width`` to bound
    value_range / bin_width (the CMS/HLL sizing discipline); a
    production variant swaps the fixed grid for KLL/t-digest, same
    plumbing. NULL values are ignored (a NULL has no bin); emitted
    quantiles are NULL until the key has data.
    """

    # the quantile set is FIXED because the output schema names the
    # columns (p50/p90/p99) — a parameter here would silently emit
    # mislabeled quantiles under those names
    qs = (0.5, 0.9, 0.99)

    def update_bins(key, pdfs, state):
        import math

        import pandas as pd

        (grp,) = key
        if state.exists:
            ids_raw, counts_raw = state.get
            bins = dict(zip((int(b) for b in ids_raw), (int(c) for c in counts_raw)))
        else:
            bins = {}
        for pdf in pdfs:
            for v in pdf[value_col]:
                if pd.isna(v):
                    continue
                bins[int(math.floor(float(v) / bin_width))] = (
                    bins.get(int(math.floor(float(v) / bin_width)), 0) + 1
                )
        items = sorted(bins.items())
        n = sum(c for _, c in items)
        out_q = []
        for q in qs:
            target = math.ceil(q * n)
            cum = 0
            val = None
            for b, c in items:
                cum += c
                if cum >= target:
                    val = b * bin_width
                    break
            out_q.append(val)
        state.update(([b for b, _ in items], [c for _, c in items]))
        yield pd.DataFrame(
            {
                "grp": [None if pd.isna(grp) else str(grp)],
                "n_total": [n],
                "n_bins": [len(items)],
                "p50": [out_q[0]],
                "p90": [out_q[1]],
                "p99": [out_q[2]],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.groupBy(F.col(key_col).alias("grp"))
        .applyInPandasWithState(
            update_bins,
            outputStructType=QUANTILE_OUTPUT_SCHEMA,
            stateStructType=QUANTILE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
