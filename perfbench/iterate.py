"""The iterator half of the dataflow workload: ``TableIterator`` jobs over
a 150,000-row orders table.

The table has a unique numeric key, written sorted by key in row groups of
16,384 rows, with values drawn from the seed. A pass runs two jobs over
it, one with planned key ranges and one with ``plan_ranges=False``
(cursor pages), each in chunks of 50,000 rows driven one chunk per
``run(max_chunks=1)`` call. In each job one seeded chunk fails once in
the handle and one seeded chunk pauses the job, which the benchmark then
resumes. ``delay_between_batches_s=0`` and ``sleep_fn`` records the
backoff instead of sleeping. The handle aggregates its chunk. An untimed
warm pair of jobs runs first; the figures cover the timed jobs only.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from common import Calls, InjectedFailure, weighted_quantile
from pyspark.sql import functions as F

from convex_batch_processor_spark.iterator import TableIterator, backoff_ms
from convex_batch_processor_spark.sources.registry import HandleRegistry

ROWS = 150_000
CHUNK_ROWS = 50_000
KEY = "o_orderkey"
STATUSES = ("F", "O", "P")


def write_orders(path: str, seed: int) -> dict:
    """Write the table; return its whole-table aggregate."""
    rng = np.random.default_rng(seed)
    keys = np.sort(rng.choice(ROWS * 8, size=ROWS, replace=False)).astype(np.int64)
    price = rng.integers(100, 50_000_000, size=ROWS, dtype=np.int64)
    status = rng.integers(0, len(STATUSES), size=ROWS)
    table = pa.table(
        {
            KEY: keys,
            "o_custkey": rng.integers(0, 15_000, size=ROWS, dtype=np.int64),
            "o_orderstatus": pa.array(np.array(STATUSES)[status]),
            "o_totalprice_cents": price,
        }
    )
    pq.write_table(table, path, row_group_size=16_384)
    return {
        "n": ROWS,
        "price": int(price.sum()),
        "keys": int(keys.sum()),
        "open": int((status == STATUSES.index("O")).sum()),
    }


class Iterate:
    def __init__(self, spark, work: str, seed: int, rng: random.Random, tracer, calls: Calls):
        self.rng = rng
        self.tracer = tracer
        self.calls = calls
        path = os.path.join(work, "orders.parquet")
        self.want = write_orders(path, seed)
        registry = HandleRegistry()
        registry.add("perfbench_chunk", self._handle)
        self.it = TableIterator(
            state_dir=os.path.join(work, "jobs"),
            source=spark.read.parquet(path),
            key_col=KEY,
            registry=registry,
            sleep_fn=self._sleep,
        )
        if tracer.enabled:
            store = self.it.store
            store.load = tracer.wrap("iterator.jobstore.load", store.load)
            store.save = tracer.wrap("iterator.jobstore.save", store.save)
        self.jobs: list[dict] = []
        self.timed_from = 0  # jobs before this index are the warm pair
        self.job = None
        self.pass_walls: list[float] = []
        self.chunk_walls: list[float] = []

    # --- the handle and the sleep recorder ----------------------------------

    def _sleep(self, seconds: float) -> None:
        self.job["sleeps"].append(seconds)  # what the iterator asked to sleep

    def _handle(self, df, cursor) -> None:
        job = self.job
        received = time.time()
        with self.tracer.span("iterator.handle"):
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_totalprice_cents").alias("price"),
                F.sum(KEY).alias("keys"),
                F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("open"),
            ).collect()[0]
        job["attempts"] += 1
        index = len(job["chunks"])
        if index == job["fail_at"] and not job["failed"]:
            job["failed"] = True
            raise InjectedFailure(f"chunk {index} of {job['id']} fails once on purpose")
        job["chunks"].append((received, row.asDict()))
        if index == job["pause_at"]:
            self.it.pause(job["id"])

    # --- one job, one pass --------------------------------------------------

    def _job(self, job_id: str, planned: bool) -> None:
        n_chunks = -(-ROWS // CHUNK_ROWS)
        fail_at, pause_at = self.rng.sample(range(n_chunks - 1), 2)
        job = {
            "id": job_id, "planned": planned, "fail_at": fail_at, "pause_at": pause_at,
            "failed": False, "attempts": 0, "chunks": [], "sleeps": [], "state": None,
        }
        self.job = job
        self.jobs.append(job)
        job["start"] = time.time()
        st = self.calls.call(
            "iterator.start", self.it.start, job_id, "perfbench_chunk",
            batch_size=CHUNK_ROWS, delay_between_batches_s=0, max_retries=3,
            plan_ranges=planned,
        )
        while st is not None and st.status in ("running", "paused"):
            if st.status == "paused":
                st = self.calls.call("iterator.resume", self.it.resume, job_id)
                continue
            before = job["attempts"]
            t0 = time.perf_counter()
            st = self.calls.call("iterator.run", self.it.run, job_id, max_chunks=1)
            if job["attempts"] > before:
                self.chunk_walls.append(time.perf_counter() - t0)
        job["state"] = st

    def _pair(self, name: str) -> None:
        self._job(f"planned-{name}", True)
        self._job(f"cursor-{name}", False)

    def warm(self) -> None:
        self._pair("warm")
        self.timed_from = len(self.jobs)

    def one_pass(self, i: int) -> None:
        start = time.perf_counter()
        self._pair(str(i))
        self.pass_walls.append(time.perf_counter() - start)

    # --- results ------------------------------------------------------------

    def delivered(self) -> int:
        """Rows handed to the handle by the timed jobs' chunks that succeeded."""
        return sum(r["n"] for j in self.jobs[self.timed_from:] for _, r in j["chunks"])

    def detail(self, measured_s: float) -> dict:
        timed = self.jobs[self.timed_from:]
        lat = [(t - j["start"], r["n"]) for j in timed for t, r in j["chunks"]]
        return {
            "iterate_rows_per_s": self.delivered() / measured_s,
            "chunk_p50_s": statistics.median(self.chunk_walls),
            "start_p50_s": self.calls.p50("iterator.start"),
            "row_delivery_p50_s": weighted_quantile(lat, 0.5),
            "job_pair_p50_s": statistics.median(self.pass_walls),
        }

    def counters(self) -> dict:
        """Counts of the timed jobs."""
        timed = self.jobs[self.timed_from:]
        return {
            "iterator.chunks": sum(len(j["chunks"]) for j in timed),
            "iterator.chunk_attempts": sum(j["attempts"] for j in timed),
            "iterator.retries": sum(1 for j in timed for s in j["sleeps"] if s > 0),
            "iterator.requested_sleep_s": sum(s for j in timed for s in j["sleeps"]),
        }

    def check(self) -> bool:
        c = self.calls
        sleeps = [s for j in self.jobs for s in j["sleeps"]]
        ok = True
        for j in self.jobs:
            st = j["state"]
            ok &= c.check(st is not None and st.status == "completed", f"{j['id']} completed")
            ok &= c.check(
                st is not None and st.processed_count == self.want["n"],
                f"{j['id']} processed_count == table rows",
            )
            got = {k: sum(r[k] for _, r in j["chunks"]) for k in self.want}
            ok &= c.check(got == self.want, f"{j['id']} chunk aggregates sum to the table's")
        injected = sum(1 for j in self.jobs if j["failed"])
        ok &= c.check(injected == len(self.jobs), "each job's seeded chunk failed once")
        ok &= c.check(
            sum(1 for s in sleeps if s > 0) == injected, "retries == injected failures"
        )
        ok &= c.check(
            sleeps == [backoff_ms(1) / 1000.0 if s > 0 else 0 for s in sleeps]
            and sum(sleeps) == injected * backoff_ms(1) / 1000.0,
            "requested sleeps follow the backoff_ms schedule",
        )
        return ok
