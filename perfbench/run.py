"""Benchmark of the accumulator, the table iterator and the query engine.

    python3 perfbench/run.py --workload {dataflow,query_mix} --seed N
                             --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Each run builds one
Spark session with ``session.get_spark`` at ``SPARK_GRAFT_CPUS`` = half
the usable cores, warms it with ``tests/benchlib.warm_up``, runs the
workload's untimed warm pass, then its timed passes for at least
``--seconds``, then checks the outputs. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also records
spans and Spark's event log and reports the per-layer metrics instead.
The line before it holds the host facts and the workload's own figures.
The exit code is 0 only if every check passed.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed when it ends.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def workload_class(name: str):
    # imported on demand: the query registry alone is ~80 modules
    if name == "dataflow":
        from dataflow import Dataflow

        return Dataflow
    from query_mix import QueryMix

    return QueryMix


def source_digest() -> str:
    """sha256 of the package's Python sources: names the code measured
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "convex_batch_processor_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def cpu_seconds() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole machine so far, all cores
    summed, from /proc/stat. Busy excludes idle, iowait and steal."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM plus this process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + self_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited; it
    exits when its stdin, a pipe from this process, closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — a run cut short mid-call; the JVM exits below
        pass
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def per_layer(rows: list[dict], query_names: list[str], counters: dict) -> dict:
    """The per-layer metrics from the folded span table (see README.md):
    the session spans, and the spans inside the timed passes."""
    parent = {r["id"]: r["parent"] for r in rows}
    measure = {r["id"] for r in rows if r["name"] == "measure"}

    def timed(sid: int | None) -> bool:
        while sid is not None:
            if sid in measure:
                return True
            sid = parent.get(sid)
        return False

    by_name: dict[str, list[dict]] = {}
    for r in rows:
        if r["name"].startswith("session.") or timed(r["id"]):
            by_name.setdefault(r["name"], []).append(r)

    def total(name: str, field: str = "wall_s") -> float:
        return sum(r[field] for r in by_name.get(name, []))

    def calls(name: str) -> int:
        return len(by_name.get(name, []))

    epochs = calls("accumulator.handle")
    attempts = counters.get("iterator.chunk_attempts", 0)
    out = {
        "session.get_spark_s": (total("session.get_spark"), "s"),
        "session.warm_up_s": (total("session.warm_up"), "s"),
        "accumulator.add_items.calls": (calls("accumulator.add_items"), "count"),
        "accumulator.add_items.busy_s": (total("accumulator.add_items"), "s"),
        "accumulator.add_items.spark_jobs": (total("accumulator.add_items", "jobs"), "count"),
        "accumulator.flush_now.calls": (calls("accumulator.flush_now"), "count"),
        "accumulator.flush_now.busy_s": (total("accumulator.flush_now"), "s"),
        "accumulator.epochs": (epochs, "count"),
        "accumulator.replayed_epochs": (counters.get("accumulator.replayed_epochs", 0), "count"),
        "accumulator.handle.busy_s": (total("accumulator.handle"), "s"),
        "accumulator.overhead_per_epoch_s": (
            (total("accumulator.flush_now") - total("accumulator.handle")) / epochs if epochs else 0.0,
            "s",
        ),
        "accumulator.spark_jobs_per_epoch": (
            total("accumulator.flush_now", "jobs") / epochs if epochs else 0.0,
            "count",
        ),
        "accumulator.status.busy_s": (total("accumulator.status"), "s"),
        "accumulator.list_batches.busy_s": (total("accumulator.list_batches"), "s"),
        "accumulator.vacuum_staging.busy_s": (total("accumulator.vacuum_staging"), "s"),
        "accumulator.staged_files_peak": (counters.get("accumulator.staged_files_peak", 0), "count"),
        "iterator.start.busy_s": (total("iterator.start"), "s"),
        "iterator.run.busy_s": (total("iterator.run"), "s"),
        "iterator.chunks": (counters.get("iterator.chunks", 0), "count"),
        "iterator.chunk_attempts": (attempts, "count"),
        "iterator.retries": (counters.get("iterator.retries", 0), "count"),
        "iterator.handle.busy_s": (total("iterator.handle"), "s"),
        "iterator.overhead_per_chunk_s": (
            (total("iterator.run") - total("iterator.handle")) / attempts if attempts else 0.0,
            "s",
        ),
        "iterator.spark_jobs_per_chunk": (
            total("iterator.run", "jobs") / attempts if attempts else 0.0,
            "count",
        ),
        "iterator.jobstore.ops": (
            calls("iterator.jobstore.load") + calls("iterator.jobstore.save"),
            "count",
        ),
        "iterator.jobstore.busy_s": (
            total("iterator.jobstore.load") + total("iterator.jobstore.save"),
            "s",
        ),
        "iterator.requested_sleep_s": (counters.get("iterator.requested_sleep_s", 0.0), "s"),
    }
    units = {"stages": "count", "shuffle_mb": "MB"}
    for name in query_names:
        q = f"query.{name}"
        passes = calls(q) or 1
        values = {"build_s": total(f"{q}.build"), "exec_s": total(f"{q}.exec")}
        values.update({f: total(q, f) for f in ("stages", "cpu_s", "run_s", "shuffle_mb", "idle_s")})
        for field, v in values.items():
            out[f"{q}.{field}"] = (v / passes, units.get(field, "s"))
    return out


def reconcile(rows: list[dict]) -> dict:
    """How the timed passes' wall time splits: the self times of the spans
    inside them sum to it, and so do stage-busy and idle time."""
    measure = next(r for r in rows if r["name"] == "measure")
    inside, frontier = {measure["id"]}, [measure["id"]]
    while frontier:
        kids = [r["id"] for r in rows if r["parent"] in frontier]
        inside.update(kids)
        frontier = kids
    self_sum = sum(r["self_s"] for r in rows if r["id"] in inside)
    return {
        "measure_wall_s": measure["wall_s"],
        "span_self_sum_s": self_sum,
        "untraced_s": measure["self_s"],
        "stage_busy_s": measure["wall_s"] - measure["idle_s"],
        "idle_s": measure["idle_s"],
        "spans": len(inside),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--workload", required=True, choices=("dataflow", "query_mix")
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work dir (spans, event log)")
    args = ap.parse_args(argv)

    for need in ("convex_batch_processor_spark/session.py", "tests/benchlib.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout", file=sys.stderr)
            return 2

    load_at_start = os.getloadavg()[0]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Half the cores run Spark tasks; the rest are left to the JVM's own
    # threads, the Python workers, this process and the hypervisor. At
    # local[nproc] a Python-UDF stage alone runs about twice as many busy
    # threads as there are cores, and the timings follow the scheduler.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc // 2))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM Spark starts (launcher and driver) keeps its files in the work
    # dir, and keeps its JIT compiler threads for its whole life, so that
    # common.tree_cpu_s can leave their time out
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(1, ROOT)

    from common import cpu_split
    from spans import Tracer

    from convex_batch_processor_spark.session import get_spark
    from tests.benchlib import SCAN_CONF, warm_up

    tracer = Tracer(bool(args.trace), run_id=f"{args.workload}-{args.seed}")
    conf = dict(SCAN_CONF)
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    conf["spark.ui.showConsoleProgress"] = "false"
    eventlog = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(eventlog)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + eventlog
        conf["spark.eventLog.compress"] = "false"

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        with tracer.span("session.warm_up"):
            warm_up(spark)
        setup_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        workload = workload_class(args.workload)(spark, work, args.seed, tracer)
        correct = workload.warm_and_check()
        warm_s = time.perf_counter() - t0
        busy0, steal0 = cpu_seconds()
        tree0, jit0 = cpu_split()
        with tracer.span("measure"):
            workload.measure(args.seconds)
        tree1, jit1 = cpu_split()
        busy1, steal1 = cpu_seconds()
        with tracer.span("check"):
            correct &= workload.check()
        correct &= workload.calls.failed == 0
        detail = workload.metrics()
        e2e = {
            "pass_cpu_s": ((tree1 - tree0) / len(workload.pass_walls), "s"),
            "setup_s": (setup_s, "s"),
        }
        detail["warm_s"] = warm_s
        detail["measured_s"] = workload.measured_s
        detail["jit_cpu_per_pass_s"] = (jit1 - jit0) / len(workload.pass_walls)
        detail["machine_cpu_per_pass_s"] = (busy1 - busy0) / len(workload.pass_walls)
        detail["steal_share"] = (steal1 - steal0) / (workload.measured_s * nproc)
        detail["peak_rss_mb"] = peak_rss_mb(spark)
        host = {
            "nproc": nproc,
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_1m_at_start": load_at_start,
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "seed": args.seed,
            "commit": git_commit(),
            "source_sha256_16": source_digest(),
        }
        stop_spark(spark)
        spark = None

        metrics = e2e
        if args.trace:
            from fold import fold, read_event_log

            tracer.write(os.path.join(work, "spans.jsonl"))
            logs = glob.glob(os.path.join(eventlog, "*"))
            jobs, stages = read_event_log(logs[0])
            rows = fold(tracer.spans, jobs, stages)
            from query_mix import GROUPS

            metrics = per_layer(rows, [n for g in GROUPS.values() for n in g], workload.counters())
            detail["trace"] = reconcile(rows)
            detail["trace"].update(jobs=len(jobs), stages=len(stages))
            detail["trace"]["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        print(json.dumps({"workload": args.workload, "host": host, "detail": detail,
                          "errors": workload.calls.errors}))
        print(
            json.dumps(
                {
                    "correct": bool(correct),
                    "attempted": workload.calls.attempted,
                    "failed": workload.calls.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
