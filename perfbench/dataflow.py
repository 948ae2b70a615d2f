"""dataflow: the two dataflow subsystems, driven by one closed-loop caller.

A pass is one accumulator cycle (``ingest.py``) followed by one pair of
iterator jobs (``iterate.py``). An untimed warm pass runs first: the
first pass of a fresh JVM takes about 1.5 times as long as the ones after
it. The query layer is idle here.
"""

from __future__ import annotations

import random
import statistics
import time

from common import Calls, run_passes
from ingest import Ingest
from iterate import Iterate


class Dataflow:
    def __init__(self, spark, work: str, seed: int, tracer):
        rng = random.Random(seed)
        self.tracer = tracer
        self.calls = Calls(tracer)
        self.ingest = Ingest(spark, work, rng, tracer, self.calls)
        self.iterate = Iterate(spark, work, seed, rng, tracer, self.calls)
        self.pass_walls: list[float] = []
        self.measured_s = 0.0

    def warm_and_check(self) -> bool:
        with self.tracer.span("warm"):
            self.ingest.warm()
            self.iterate.warm()
        self.calls.clear()  # the figures cover the timed passes only
        return True

    def one_pass(self, i: int) -> None:
        start = time.perf_counter()
        self.ingest.one_pass()
        self.iterate.one_pass(i)
        self.pass_walls.append(time.perf_counter() - start)

    def measure(self, seconds: float) -> None:
        self.measured_s = run_passes(seconds, self.one_pass)

    def metrics(self) -> dict:
        """The run's figures, for the line before the result."""
        records = self.ingest.delivered() + self.iterate.delivered()
        detail = {
            "passes": len(self.pass_walls),
            "call_cpu_s": self.calls.cpu_p50(["accumulator.add_items"]),
            "pass_s": statistics.median(self.pass_walls),
            "call_p50_s": self.calls.p50("accumulator.add_items"),
            "records_per_s": records / self.measured_s,
        }
        detail.update(self.ingest.detail(self.measured_s))
        detail.update(self.iterate.detail(self.measured_s))
        detail["call_cpu_p50_s"] = {k: self.calls.cpu_p50([k]) for k in self.calls.cpus}
        return detail

    def counters(self) -> dict:
        return {**self.ingest.counters(), **self.iterate.counters()}

    def check(self) -> bool:
        ingest_ok = self.ingest.check()
        return self.iterate.check() and ingest_ok
