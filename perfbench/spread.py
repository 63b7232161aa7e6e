#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's spread.

    python3 perfbench/spread.py --seeds 1-10 [--workloads rfp_etl,stream_events]
                                [--seconds 5] [--out runs.json]

For every workload and end-to-end metric it prints the median of the runs
and the spread: the distance between the first and third quartile (as
`statistics.quantiles(values, n=4)` gives them) as a share of the median.
The runs go one after the other, never in parallel.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,9")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for w in args.workloads.split(","):
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=root, capture_output=True, text=True)
            if res.returncode != 0:
                sys.stderr.write(res.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed}: exit {res.returncode}")
            out = json.loads(res.stdout.strip().splitlines()[-1])
            out.update(workload=w, seed=seed, run_s=time.time() - t0)
            runs.append(out)
            print(f"{w} seed={seed} {out['run_s']:.1f}s correct={out['correct']} "
                  f"failed={out['failed']}/{out['attempted']}", file=sys.stderr)
    report = {}
    for w in args.workloads.split(","):
        mine = [r for r in runs if r["workload"] == w]
        report[w] = {k: summary([r["metrics"][k]["value"] for r in mine])
                     for k in mine[0]["metrics"]}
        print(f"{w}: {len(mine)} runs, all correct={all(r['correct'] for r in mine)}, "
              f"run_s median {statistics.median(r['run_s'] for r in mine):.1f} "
              f"max {max(r['run_s'] for r in mine):.1f}")
        for k, s in report[w].items():
            flag = "" if k == "setup_s" or s["spread"] < bounds.get(k, 1) / 3 else \
                "  <-- above a third of the bound"
            print(f"  {k:16s} median={s['median']:11.4f} spread={s['spread']:.3f} "
                  f"bound={bounds.get(k)}{flag}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"summary": report, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
