"""Repeat the benchmark over seeds and summarize its spread.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/results/baseline.jsonl

For each workload in BENCHMARK.json (or ``--workloads``), runs
``perfbench/run.py`` once per seed with ``--trace 0``, then once with
``--trace 1`` (first seed), one process at a time, and appends one JSON
line per run to ``--out``: the workload, seed, trace flag, process wall
time, exit code, the run's result object and its ``perfbench-record``.
Then prints, per workload and end-to-end metric, the median, the
quartiles (``statistics.quantiles(n=4)``) and the spread
(q3 - q1) / median next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    record = next((json.loads(line.split(" ", 1)[1]) for line in lines
                   if line.startswith("perfbench-record ")), None)
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if result is None:
        sys.stderr.write(p.stderr[-4000:])
    return {"workload": workload, "seed": seed, "trace": trace, "process_s": wall,
            "exit": p.returncode, "result": result, "record": record}


def summarize(rows: list[dict], bench: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in dict.fromkeys(r["workload"] for r in rows):
        runs = [r for r in rows if r["workload"] == wl and r["trace"] == 0 and r["result"]]
        if not runs:
            continue
        ok = all(r["result"]["correct"] for r in runs)
        walls = [r["process_s"] for r in rows if r["workload"] == wl]
        print(f"{wl}: {len(runs)} runs, all correct={ok}, "
              f"process wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            unit = runs[0]["result"]["metrics"][name]["unit"]
            print(f"  {name:14s} median {med:10.4g} {unit:9s} q1 {q1:10.4g} q3 {q3:10.4g} "
                  f"spread {(q3 - q1) / med:.3f} (bound {bound})")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--traces", type=int, default=1, help="traced runs per workload")
    p.add_argument("--out", required=True)
    args = p.parse_args()

    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    seeds = _seeds(args.seeds)
    with open(args.out, "a") as out:
        for wl in args.workloads.split(","):
            plan = [(s, 0) for s in seeds] + [(s, 1) for s in seeds[:args.traces]]
            for seed, trace in plan:
                row = run_once(wl, seed, bench["run_seconds"], trace)
                out.write(json.dumps(row) + "\n")
                out.flush()
                res = row["result"] or {}
                print(f"{wl} seed {seed} trace {trace}: exit {row['exit']} "
                      f"{row['process_s']:.1f} s correct={res.get('correct')}", flush=True)
    with open(args.out) as f:
        summarize([json.loads(line) for line in f], bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
