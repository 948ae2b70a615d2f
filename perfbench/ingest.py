"""The accumulator half of the dataflow workload: one producer drives the
batch accumulator through the ``BatchProcessor`` client.

Before the timed passes an untimed warm cycle runs every call a timed
cycle makes, so the timed cycles find the JVM and the streaming query
warm. Its first epoch fails in the handle after it has aggregated
(``InjectedFailure``) and a second flush replays it. A cycle is
three ``add_items`` calls (two of 1-50 items, one of about 5,000, in
seeded order), a blocking ``flush`` (``immediate_flush_threshold=2``
staged files per epoch, so it runs several epochs), then
``get_batch_status``, ``get_all_batches_for_base_id`` and
``vacuum_staging``. Every item carries its creation time. The handle
aggregates its epoch per ``event_name`` and records when it received it.
"""

from __future__ import annotations

import collections
import os
import random
import statistics
import time

from common import Calls, InjectedFailure, weighted_quantile
from pyspark.sql import functions as F
from pyspark.sql import types as T

from convex_batch_processor_spark.client import BatchProcessor
from convex_batch_processor_spark.sources.registry import HandleRegistry

EVENTS = ("view", "click", "purchase", "signup", "error", "share", "search", "logout")
ITEM_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType(), False),
        T.StructField("event_name", T.StringType(), False),
        T.StructField("value_cents", T.LongType(), False),
        T.StructField("created_at", T.DoubleType(), False),
    ]
)
BATCH = "events"
ADDS_PER_CYCLE = 3
FILES_PER_EPOCH = 2
BIG_ADD = (4500, 5500)


class Ingest:
    def __init__(self, spark, work: str, rng: random.Random, tracer, calls: Calls):
        self.rng = rng
        self.tracer = tracer
        self.calls = calls
        registry = HandleRegistry()
        registry.add("perfbench_epoch", self._handle)
        self.proc = BatchProcessor(spark, root=os.path.join(work, "bp"), registry=registry)
        self.acc = self.proc.accumulator(
            BATCH, ITEM_SCHEMA, "perfbench_epoch", immediate_flush_threshold=FILES_PER_EPOCH
        )
        self.failed = False
        self.staged: dict[int, tuple[str, int]] = {}  # item_id -> (event_name, value_cents)
        # (epoch_id, received_at, rows, committed) per handle call
        self.deliveries: list[tuple[int, float, list, bool]] = []
        self.cycle_walls: list[float] = []
        self.timed_from = 0  # deliveries before this index came from the warm cycle
        self.last_status: dict | None = None
        self.staged_files_peak = 0

    # --- the handle ---------------------------------------------------------

    def _handle(self, df, epoch_id: int) -> None:
        received = time.time()
        with self.tracer.span("accumulator.handle"):
            rows = (
                df.groupBy("event_name", "created_at")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("value_cents").alias("value_cents"),
                    F.collect_list("item_id").alias("ids"),
                )
                .collect()
            )
        fail = not self.failed
        self.deliveries.append((epoch_id, received, rows, not fail))
        if fail:
            self.failed = True
            raise InjectedFailure(f"epoch {epoch_id} fails once on purpose")

    # --- the producer -------------------------------------------------------

    def _items(self, n: int) -> list[dict]:
        created = time.time()
        first = len(self.staged)
        return [
            {
                "item_id": first + k,
                "event_name": self.rng.choice(EVENTS),
                "value_cents": self.rng.randrange(1, 100_000),
                "created_at": created,
            }
            for k in range(n)
        ]

    def _add(self, n: int) -> None:
        items = self._items(n)
        if self.calls.call("accumulator.add_items", self.proc.add_items, BATCH, items) == n:
            for it in items:
                self.staged[it["item_id"]] = (it["event_name"], it["value_cents"])
        staged_files = [f for f in os.listdir(self.acc.staging_dir) if f.endswith(".parquet")]
        self.staged_files_peak = max(self.staged_files_peak, len(staged_files))

    def _sizes(self, adds: int) -> list[int]:
        sizes = [self.rng.randint(1, 50) for _ in range(adds)]
        sizes[self.rng.randrange(adds)] = self.rng.randint(*BIG_ADD)
        return sizes

    def _cycle(self, warm: bool) -> None:
        for n in self._sizes(ADDS_PER_CYCLE):
            self._add(n)
        if warm:
            # the first epoch fails once in the handle; the next flush replays it
            self.calls.call("accumulator.flush_now", self.proc.flush, BATCH, injected=True)
        self.calls.call("accumulator.flush_now", self.proc.flush, BATCH)
        self.last_status = self.calls.call("accumulator.status", self.proc.get_batch_status, BATCH)
        self.calls.call("accumulator.list_batches", self.proc.get_all_batches_for_base_id, BATCH)
        self.calls.call("accumulator.vacuum_staging", self.acc.vacuum_staging)

    def warm(self) -> None:
        """Untimed: one cycle whose first epoch fails once and is replayed."""
        self._cycle(warm=True)
        self.timed_from = len(self.deliveries)

    def one_pass(self) -> None:
        start = time.perf_counter()
        self._cycle(warm=False)
        self.cycle_walls.append(time.perf_counter() - start)

    # --- results ------------------------------------------------------------

    def _latencies(self) -> list[tuple[float, int]]:
        """(creation to receipt, items) of the timed cycles' committed epochs."""
        return [
            (received - r["created_at"], r["n"])
            for _, received, rows, committed in self.deliveries[self.timed_from:]
            if committed
            for r in rows
        ]

    def detail(self, measured_s: float) -> dict:
        lat = self._latencies()
        return {
            "add_p50_s": self.calls.p50("accumulator.add_items"),
            "flush_p50_s": self.calls.p50("accumulator.flush_now"),
            "delivery_p50_s": weighted_quantile(lat, 0.5),
            "delivery_p90_s": weighted_quantile(lat, 0.9),
            "ingest_items_per_s": self.delivered() / measured_s,
            "status_p50_s": self.calls.p50("accumulator.status"),
            "list_batches_p50_s": self.calls.p50("accumulator.list_batches"),
            "vacuum_p50_s": self.calls.p50("accumulator.vacuum_staging"),
            "cycle_p50_s": statistics.median(self.cycle_walls),
            "items_staged": len(self.staged),
        }

    def delivered(self) -> int:
        """Items delivered by the timed cycles' committed epochs."""
        return sum(n for _, n in self._latencies())

    def counters(self) -> dict:
        epochs = collections.Counter(e for e, _, _, _ in self.deliveries)
        return {
            "accumulator.replayed_epochs": sum(1 for n in epochs.values() if n > 1),
            "accumulator.staged_files_peak": self.staged_files_peak,
        }

    def check(self) -> bool:
        c = self.calls
        seen = collections.Counter(
            i for _, _, rows, _ in self.deliveries for r in rows for i in r["ids"]
        )
        failed_ids = collections.Counter(
            i for _, _, rows, ok in self.deliveries if not ok for r in rows for i in r["ids"]
        )
        ok = c.check(self.failed, "the warm epoch failed once")
        ok &= c.check(set(seen) == set(self.staged), "delivered ids == staged ids")
        ok &= c.check(
            +(seen - collections.Counter(set(seen))) == failed_ids,
            "duplicates come only from the replayed epoch",
        )
        hist = self.acc.flush_history().filter("success").agg(F.sum("item_count")).collect()[0][0]
        ok &= c.check(hist == len(self.staged), "successful flush_history rows sum to staged count")
        ok &= c.check(
            self.last_status is not None and self.last_status["staged_item_count"] == 0,
            "get_batch_status reports 0 staged items after the last flush",
        )
        want = collections.Counter()
        for event, value in self.staged.values():
            want[event] += value
        got = collections.Counter()
        for _, _, rows, committed in self.deliveries:
            if committed:
                for r in rows:
                    got[r["event_name"]] += r["value_cents"]
        ok &= c.check(got == want, "per-event value sums of the committed epochs")
        return ok

