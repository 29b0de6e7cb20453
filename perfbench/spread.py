#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs `run.py` once per seed for each workload (untraced), then prints for
each metric the median and the quartile spread, (Q3 - Q1) / median, with
the quartiles of `statistics.quantiles(values, n=4)`.

    python3 perfbench/spread.py --workloads etl_batch,txn_stream \
        --seeds 1,2,3,4,5 --seconds 8 [--out perfbench/results/spread.json]

Run from the repository root. With --out, the per-run results and the
summary are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    wall = time.time() - t0
    try:
        result = json.loads(r.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        result = None
    rec_path = os.path.join(".bench_build", "perfbench", "runs", workload, "record.json")
    host = None
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            host = json.load(f)["host"]
    return {"seed": seed, "exit": r.returncode, "wall_s": wall, "result": result,
            "host": host, "stderr_tail": r.stderr[-1500:] if r.returncode else ""}


def summarize(runs):
    vals = {}
    for run in runs:
        if run["result"]:
            for k, v in run["result"]["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
    out = {}
    for k, xs in vals.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        out[k] = {"median": med, "q1": q[0], "q3": q[2], "spread": (q[2] - q[0]) / med,
                  "min": min(xs), "max": max(xs), "n": len(xs)}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    report = {}
    for w in a.workloads.split(","):
        runs = [one_run(w, s, a.seconds) for s in seeds]
        bad = [r["seed"] for r in runs if r["exit"] or not r["result"]
               or not r["result"]["correct"]]
        summary = summarize(runs)
        report[w] = {"runs": runs, "summary": summary, "incorrect_or_failed_seeds": bad}
        walls = [r["wall_s"] for r in runs]
        print(f"{w}: {len(runs)} runs, failed/incorrect {bad}, "
              f"wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for k, s in summary.items():
            print(f"  {k:20s} median {s['median']:12.4f}  spread {s['spread']:.4f}  "
                  f"min {s['min']:.4f}  max {s['max']:.4f}")
        sys.stdout.flush()
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seconds": a.seconds, "seeds": seeds, "workloads": report}, f, indent=1)


if __name__ == "__main__":
    main()
