#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (1 % of the benchmark's sizes).

For every workload it runs the benchmark untraced and traced and checks
that each metric BENCHMARK.json lists is printed with its unit and that
every operation passed its output check; then it runs each workload with
a deliberately wrong expected value and checks that the run reports
failures and `correct: false`.

    python3 portalbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "0.01", *extra]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            out = run(w, trace)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics/units differ: "
                                f"{sorted(set(want[trace].items()) ^ set(got.items()))}")
            if not (out["correct"] and out["failed"] == 0 and out["attempted"] >= 1):
                problems.append(f"{w} trace={trace}: {out['failed']} of {out['attempted']} failed")
        bad = run(w, 0, ["--corrupt"])
        if bad["correct"] or bad["failed"] < 1:
            problems.append(f"{w}: a wrong expected value was not counted as a failure")
        print(f"{w}: ok" if not problems else f"{w}: {problems}", flush=True)
    if problems:
        raise SystemExit("\n".join(problems))
    print("selftest passed")


if __name__ == "__main__":
    main()
