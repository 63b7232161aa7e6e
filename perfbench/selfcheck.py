#!/usr/bin/env python3
"""Self-check of the benchmark at its smallest scale.

    python3 perfbench/selfcheck.py

For every workload, on the base tables as they are (`run.py --smoke`):

1. a plain run must be correct and print every end-to-end metric by name
   with its unit;
2. a run told to expect a wrong fingerprint for one query (a negative
   control) must report that query's runs as failed, not pass silently.

Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import E2E_UNITS, WORKLOADS  # noqa: E402


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", "0", "--smoke", *extra]
    res = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                         text=True, timeout=900)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-4000:])
        raise SystemExit(f"FAIL {workload}: run.py exited {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def main():
    problems = []
    for workload, spec in WORKLOADS.items():
        plain = run(workload)
        units = {k: v["unit"] for k, v in plain["metrics"].items()}
        if units != E2E_UNITS:
            problems.append(f"{workload}: metrics/units {units} != {E2E_UNITS}")
        if not plain["correct"] or plain["failed"]:
            problems.append(f"{workload}: plain run not correct: {plain}")
        victim = spec["queries"][0]
        control = run(workload, "--corrupt", victim)
        passes = control["attempted"] // len(spec["queries"])
        if control["correct"] or control["failed"] != passes:
            problems.append(f"{workload}: negative control on {victim} gave "
                            f"correct={control['correct']} failed={control['failed']}, "
                            f"expected {passes} failures")
        print(f"{workload}: plain attempted={plain['attempted']} failed={plain['failed']}; "
              f"control failed={control['failed']} of {control['attempted']}")
    for p in problems:
        print("FAIL " + p)
    print("selfcheck " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
