"""Steadiness report: run each workload once per seed and print, per
workload and end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median, next to the bound BENCHMARK.json fixes for the
metric. Each run's host CPU steal share is printed with it, so a noisy
host window shows as noise, not as a regression.

Usage (from the root of a checkout):
  python3 perfbench/steadiness.py [--workloads a,b] [--seeds 1,2,3] [--runs 10]
                                  [--seconds S] [--json out.json]
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    result = json.loads(lines[-1])
    steal = None
    for line in lines:
        m = re.search(r"host\.steal_frac=([0-9.]+)", line)
        if m:
            steal = float(m.group(1))
    return {"seed": seed, "steal": steal, "wall_s": round(wall, 1), "correct": result["correct"],
            "failed": result["failed"], "attempted": result["attempted"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", help="comma-separated seeds (default 1..runs)")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--json", help="also write every run's numbers here")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")] if a.seeds else list(range(1, a.runs + 1))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds:
            r = run_once(w, s, a.seconds)
            if r is None:
                print(f"{w} seed={s}: run failed", flush=True)
                continue
            runs.append(r)
            vals = " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items())
            print(f"{w} seed={s} wall={r['wall_s']}s steal={r['steal']} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
        report[w] = runs
        if len(runs) < 2:
            continue
        print(f"\n{w}: {len(runs)} runs, host steal "
              f"{min(r['steal'] or 0 for r in runs):.4f}..{max(r['steal'] or 0 for r in runs):.4f}")
        print(f"  {'metric':24s} {'median':>12s} {'Q1':>12s} {'Q3':>12s} {'spread':>8s} {'bound':>6s}")
        for k in runs[0]["metrics"]:
            med, q1, q3, sp = spread([r["metrics"][k] for r in runs])
            b = bounds.get(k)
            flag = "" if b is None else ("ok" if sp <= b / 3 else "WIDE" if sp <= b else "OVER")
            print(f"  {k:24s} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.4f} {b!s:>6s} {flag}")
        print(flush=True)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
