"""Run the benchmark once per seed and summarise each metric's spread.

    python3 perfbench/sweep.py --workload dataflow --seeds 1-10 --out runs.jsonl

Runs ``run.py`` one seed at a time from the checkout root, appends each
run's host/detail line and result line to ``--out`` as one JSON object,
then prints, per metric, the median, the quartiles and the spread
(interquartile range over median, from ``statistics.quantiles(n=4)``).
``--summarize FILE`` prints the summary of an existing file instead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarize(records: list[dict]) -> list[str]:
    values: dict[str, list[float]] = {}
    for r in records:
        for name, m in (r["result"] or {}).get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    lines = [f"{'metric':44s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}"]
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else 0.0
        lines.append(f"{name:44s} {len(vs):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f}")
    ok = sum(1 for r in records if r["result"] and r["result"]["correct"] and r["rc"] == 0)
    lines.append(f"runs {len(records)}, correct {ok}, wall {sum(r['wall_s'] for r in records):.0f} s")
    return lines


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    ap.add_argument("--summarize", metavar="FILE")
    args = ap.parse_args(argv)
    if args.summarize:
        with open(args.summarize) as f:
            print("\n".join(summarize([json.loads(line) for line in f if line.strip()])))
        return 0
    if not (args.workload and args.out):
        ap.error("--workload and --out are required unless --summarize is given")
    records = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        start = time.time()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        rec = {
            "seed": seed,
            "rc": p.returncode,
            "wall_s": time.time() - start,
            "info": json.loads(lines[-2]) if len(lines) > 1 else None,
            "result": json.loads(lines[-1]) if lines else None,
        }
        records.append(rec)
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"seed {seed}: rc {p.returncode}, {rec['wall_s']:.1f} s", flush=True)
    print("\n".join(summarize(records)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
