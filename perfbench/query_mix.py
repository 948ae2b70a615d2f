"""query_mix: registry queries through the noop sink, one at a time.

The tables are the repository's sf0.01 test tables, copied under
``perfbench/data/sf0.01``. First an untimed pass runs every query once,
collects its result and checks it (against the query's DuckDB twin
through ``tests/oracle_check.compare``, or, for the rows-only queries,
against the row count the seed commit produced). That pass is also the
warm-up. Then timed passes run the queries in a seeded order, each forced
end to end with the noop sink, with the session cache cleared between
queries as ``tests/benchlib.time_query`` does.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

from common import Calls, run_passes

from convex_batch_processor_spark.queries import QUERIES

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Grouped by the traced run at sf0.01 (README.md): a query whose wall time
# is at least 40% idle (no stage running) is driver-bound.
GROUPS = {
    "driver_bound": (
        "q1_pricing_summary",
        "o2_topk_orders",
        "cms_heavy_hitters",
        "minhash_neardup",
    ),
    # Python-worker or executor CPU work
    "compute_bound": (
        "cosine_neardup_bucketed",
        "audio_decode_features",
    ),
}
# rows-only queries have no oracle: their row count at the seed commit
ROWS_ONLY = {"cosine_neardup_bucketed": 33, "minhash_neardup": 25}


class QueryMix:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.calls = Calls(tracer)
        self.names = [n for group in GROUPS.values() for n in group]
        self.result_rows: dict[str, int] = {}
        self.pass_walls: list[float] = []
        self.group_walls: dict[str, list[float]] = {g: [] for g in GROUPS}
        self.measured_s = 0.0

    def warm_and_check(self) -> bool:
        from tests.oracle_check import compare

        ok = True
        for name in self.rng.sample(self.names, len(self.names)):
            spec = QUERIES[name]
            try:
                with self.tracer.span(f"check.{name}"):
                    good, detail = compare(self.spark, DATA_DIR, name, spec.fn, spec.oracle)
            except Exception as exc:  # noqa: BLE001 — a crash is a failed check
                good, detail = False, f"{type(exc).__name__}: {exc}"
            finally:
                self.spark.catalog.clearCache()
            m = re.search(r"(\d+) rows", detail)
            self.result_rows[name] = int(m.group(1)) if m else 0
            if name in ROWS_ONLY:
                good &= self.result_rows[name] == ROWS_ONLY[name]
                detail += f" (seed commit: {ROWS_ONLY[name]} rows)"
            ok &= self.calls.check(good, f"{name}: {detail}")
        return ok

    def _run(self, name: str) -> None:
        with self.tracer.span(f"query.{name}.build"):
            df = QUERIES[name].fn(self.spark, DATA_DIR)
        with self.tracer.span(f"query.{name}.exec"):
            df.write.mode("overwrite").format("noop").save()

    def one_pass(self, i: int) -> None:
        start = time.perf_counter()
        for name in self.rng.sample(self.names, len(self.names)):
            self.calls.call(f"query.{name}", self._run, name)
            self.spark.catalog.clearCache()
        self.pass_walls.append(time.perf_counter() - start)
        for group, names in GROUPS.items():
            walls = [self.calls.walls.get(f"query.{n}", []) for n in names]
            if all(len(w) == i + 1 for w in walls):  # no query of the group failed
                self.group_walls[group].append(sum(w[-1] for w in walls))

    def measure(self, seconds: float) -> None:
        self.measured_s = run_passes(seconds, self.one_pass)

    def metrics(self) -> dict:
        """The run's figures, for the line before the result."""
        kinds = [f"query.{n}" for n in self.names]
        walls = [w for k in kinds for w in self.calls.walls.get(k, [])]
        rows = len(self.pass_walls) * sum(self.result_rows.values())
        detail = {
            "passes": len(self.pass_walls),
            "call_cpu_s": self.calls.cpu_p50(kinds),
            "pass_s": statistics.median(self.pass_walls),
            "call_p50_s": statistics.median(walls),
            "records_per_s": rows / sum(walls),
        }
        detail.update({f"{g}_s": statistics.median(w) for g, w in self.group_walls.items()})
        detail["query_s"] = {n: self.calls.p50(f"query.{n}") for n in self.names}
        detail["query_cpu_s"] = {n: self.calls.cpu_p50([f"query.{n}"]) for n in self.names}
        return detail

    def counters(self) -> dict:
        return {}

    def check(self) -> bool:
        return True  # checked in warm_and_check, before the timed passes
