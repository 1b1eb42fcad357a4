#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and summarise its spread.

    python3 perfbench/steady.py --seeds 1-10 [--workloads olap,curation]
                                [--trace 0] [--out summary.json]

Runs perfbench/run.py once per (workload, seed) with the settings in
BENCHMARK.json and reports, per workload and metric, the median, the first
and third quartiles (statistics.quantiles, n=4) and the spread: the
distance between the quartiles as a share of the median. For end-to-end
metrics the spread is compared with the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)
            if statistics.median(values) else 0.0, "n": len(values),
            "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for wl in a.workloads.split(","):
        runs = []
        for seed in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"),
                 "--workload", wl, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True, check=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            res["seed"], res["run_s"] = seed, time.time() - t0
            runs.append(res)
            print(f"{wl} seed={seed} correct={res['correct']} "
                  f"run={res['run_s']:.1f}s", file=sys.stderr)
        names = runs[0]["metrics"]
        summary[wl] = {
            "seeds": [r["seed"] for r in runs],
            "all_correct": all(r["correct"] for r in runs),
            "run_s": summarise([r["run_s"] for r in runs]),
            "metrics": {n: dict(summarise([r["metrics"][n]["value"]
                                           for r in runs]),
                                unit=runs[0]["metrics"][n]["unit"])
                        for n in names}}
        print(f"\n## {wl} (trace={a.trace}, seeds {a.seeds}, "
              f"all correct: {summary[wl]['all_correct']}, "
              f"median run {summary[wl]['run_s']['median']:.1f} s)")
        print("| metric | unit | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|---|")
        for n, s in summary[wl]["metrics"].items():
            b = bounds.get(n)
            print(f"| {n} | {s['unit']} | {s['median']:.4g} | {s['q1']:.4g} "
                  f"| {s['q3']:.4g} | {s['spread']:.3f} | "
                  f"{'' if b is None else b} |")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
