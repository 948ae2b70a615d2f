"""In-memory spans around the benchmark's calls into the program.

A span has a name, a start and an end (epoch seconds, the clock Spark's
event log uses), the id of the span it sits in, and the run id. Spans are
kept in a list and written out once, when the run ends. With tracing off
``span`` yields at once and records nothing.

The benchmark has one caller thread. Spark calls a ``foreachBatch``
handle back on another Python thread while the caller is blocked inside
the flush span, so a single stack still nests the handle under the flush.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "parent": parent,
                    "start": start,
                    "end": time.time(),
                    "run": self.run_id,
                }
            )

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def read_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
