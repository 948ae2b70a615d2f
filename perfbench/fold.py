"""Fold a Spark event log and a span file into a per-span layer table.

    python3 perfbench/fold.py <event-log file or dir> <spans.jsonl>

prints the per-layer table: for each span name, the number of spans and
their summed wall, self and idle time, Spark jobs and stages, executor
run and CPU time, and shuffle megabytes. ``run.py --trace 1 --keep``
leaves both inputs in its work dir.

- A job belongs to the innermost span open at its submission time, a
  stage to the innermost span open at its own submission time. The
  benchmark makes its calls one at a time, so each instant has exactly
  one innermost span.
- Jobs, stages, CPU, run time and shuffle are summed over a span's
  subtree.
- Self time is the span's wall time minus the union of its children's
  intervals. Idle time is its wall time minus the union of the intervals
  of the stages in its subtree, both clipped to the span.

The event log must be uncompressed (``spark.eventLog.compress=false``).
Spark 4 writes a rolling log: a directory of ``events_<n>_<app>`` files,
read in order of ``n``.
"""

from __future__ import annotations

import json
import os
import sys


def _files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    names.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in names]


def read_event_log(path: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from an event log. Times are epoch seconds; stages
    are the attempts that completed, skipped stages never appear."""
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    for fname in _files(path):
        with open(fname) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {
                        a["Name"]: float(a["Value"])
                        for a in info.get("Accumulables", [])
                        if a.get("Name", "").startswith("internal.metrics.")
                        and "Value" in a
                    }
                    stages.append(
                        {
                            "id": info["Stage ID"],
                            "attempt": info.get("Stage Attempt ID", 0),
                            "start": info["Submission Time"] / 1000.0,
                            "end": info["Completion Time"] / 1000.0,
                            "run_s": acc.get("internal.metrics.executorRunTime", 0.0) / 1e3,
                            "cpu_s": acc.get("internal.metrics.executorCpuTime", 0.0) / 1e9,
                            "shuffle_bytes": sum(
                                acc.get(f"internal.metrics.shuffle.{k}", 0.0)
                                for k in (
                                    "read.remoteBytesRead",
                                    "read.localBytesRead",
                                    "write.bytesWritten",
                                )
                            ),
                        }
                    )
    return sorted(jobs.values(), key=lambda j: j["submit"]), stages


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _innermost(spans_by_start: list[dict], depth: dict[int, int], t: float) -> dict | None:
    best = None
    for s in spans_by_start:
        if s["start"] > t:
            break
        if s["end"] >= t and (best is None or depth[s["id"]] > depth[best["id"]]):
            best = s
    return best


def fold(spans: list[dict], jobs: list[dict], stages: list[dict]) -> list[dict]:
    """One row per span, in span-id order (see the module docstring)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append(s)
    depth: dict[int, int] = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p in by_id:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    spans_by_start = sorted(spans, key=lambda s: s["start"])

    own_jobs = {s["id"]: 0 for s in spans}
    own_stages: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        s = _innermost(spans_by_start, depth, j["submit"])
        if s is not None:
            own_jobs[s["id"]] += 1
    for st in stages:
        s = _innermost(spans_by_start, depth, st["start"])
        if s is not None:
            own_stages[s["id"]].append(st)

    subtree_jobs: dict[int, int] = {}
    subtree_stages: dict[int, list[dict]] = {}

    def collect(sid: int) -> None:
        n, sts = own_jobs[sid], list(own_stages[sid])
        for c in children[sid]:
            collect(c["id"])
            n += subtree_jobs[c["id"]]
            sts += subtree_stages[c["id"]]
        subtree_jobs[sid], subtree_stages[sid] = n, sts

    for s in spans:
        if s["parent"] not in by_id:
            collect(s["id"])

    rows = []
    for s in sorted(spans, key=lambda s: s["id"]):
        lo, hi = s["start"], s["end"]
        sts = subtree_stages[s["id"]]
        rows.append(
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "wall_s": hi - lo,
                "self_s": (hi - lo)
                - union_length([(c["start"], c["end"]) for c in children[s["id"]]], lo, hi),
                "idle_s": (hi - lo) - union_length([(x["start"], x["end"]) for x in sts], lo, hi),
                "jobs": subtree_jobs[s["id"]],
                "stages": len(sts),
                "run_s": sum(x["run_s"] for x in sts),
                "cpu_s": sum(x["cpu_s"] for x in sts),
                "shuffle_mb": sum(x["shuffle_bytes"] for x in sts) / 1e6,
            }
        )
    return rows


TABLE_FIELDS = ("wall_s", "self_s", "idle_s", "jobs", "stages", "run_s", "cpu_s", "shuffle_mb")


def table(rows: list[dict]) -> list[dict]:
    """Rows summed per span name, in order of first appearance."""
    out: dict[str, dict] = {}
    for r in rows:
        t = out.setdefault(r["name"], {"name": r["name"], "spans": 0, **dict.fromkeys(TABLE_FIELDS, 0)})
        t["spans"] += 1
        for k in TABLE_FIELDS:
            t[k] += r[k]
    return list(out.values())


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    from spans import read_spans

    jobs, stages = read_event_log(argv[0])
    rows = fold(read_spans(argv[1]), jobs, stages)
    print(f"{'span':48s} {'spans':>5s} " + " ".join(f"{k:>10s}" for k in TABLE_FIELDS))
    for t in table(rows):
        print(f"{t['name']:48s} {t['spans']:5d} " + " ".join(f"{t[k]:10.3f}" for k in TABLE_FIELDS))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
