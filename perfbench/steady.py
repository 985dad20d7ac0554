#!/usr/bin/env python3
"""Steadiness report: repeat whole benchmark runs and print, per workload
and end-to-end metric, the median, the quartiles and the spread
(interquartile distance over the median, from
``statistics.quantiles(values, n=4)``) next to the metric's bound in
``BENCHMARK.json``. A spread above a third of its bound is flagged.

    python3 perfbench/steady.py --runs 10 [--workloads lake_day,llm_corpus]
        [--seed0 100] [--seconds N] [--traced]

Runs are sequential, one process at a time; run ``i`` uses seed
``seed0 + i``. ``--traced`` adds one traced run per workload and prints
its tracing overhead (traced wall ``pass_s`` minus the untraced median).
Raw results are appended, one run a line, to
``.bench_work/steady-<time>.jsonl``.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    out["info"] = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    path = os.path.join(ROOT, ".bench_work", f"steady-{int(time.time())}.jsonl")
    flagged = []
    for wl in args.workloads.split(","):
        runs: list[dict] = []
        for i in range(args.runs):
            r = run_once(wl, args.seed0 + i, args.seconds, 0)
            runs.append(r)
            with open(path, "a") as fh:
                fh.write(json.dumps({"workload": wl, **r}) + "\n")
            print(f"{wl} seed={args.seed0 + i} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  f"steal={r['info'].get('steal_share', 0):.3f}", flush=True)
        print(f"\n{wl}: {len(runs)} runs, median wall "
              f"{statistics.median(r['wall_s'] for r in runs):.1f} s")
        print(f"  {'metric':<20} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = " <-- above bound/3" if spread > bound / 3 else ""
            if flag:
                flagged.append(f"{wl}/{name}")
            print(f"  {name:<20} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {spread:>8.4f} "
                  f"{bound:>6}{flag}")
        if args.traced:
            t = run_once(wl, args.seed0, args.seconds, 1)
            with open(path, "a") as fh:
                fh.write(json.dumps({"workload": wl, "traced": True, **t}) + "\n")
            untraced = statistics.median(r["info"]["pass_s"] for r in runs)
            traced = t["metrics"]["trace.pass_s"]["value"]
            print(f"  tracing overhead: traced pass_s {traced:.3f} s - untraced median "
                  f"{untraced:.3f} s = {traced - untraced:+.3f} s; in-run estimate "
                  f"{t['metrics']['trace.overhead_s']['value']:+.3f} s")
        print(flush=True)
    print(f"raw results: {path}")
    print("flagged: " + (", ".join(flagged) if flagged else "none"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
