#!/usr/bin/env python3
"""Run the benchmark on several seeds and print each metric's spread.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workload suite --seeds 1-10 [--trace 1]

For every metric: the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`) and their distance as a share of the
median. Per run it prints the wall time and the share of CPU time the host
took from the machine during the timed passes (`pass_steal_share` in the
environment stamp). The raw results go to `.bench_build/spread-<workload>.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    runs = []
    for s in seeds(a.seeds):
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(s),
                                 "--seconds", str(spec["run_seconds"]), "--trace", a.trace]
        t0 = time.time()
        p = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.exit(f"seed {s}: rc={p.returncode}\n{p.stderr[-2000:]}")
        env, res = [json.loads(x) for x in p.stdout.strip().splitlines()[-2:]]
        runs.append(dict(res, env=env["env"], wall_s=wall))
        print(f"seed {s}: correct={res['correct']} failed={res['failed']} wall={wall:.0f}s "
              f"steal={env['env']['pass_steal_share']:.3f}", file=sys.stderr)
    with open(os.path.join(".bench_build", f"spread-{a.workload}.json"), "w") as f:
        json.dump(runs, f)
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8}")
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        rel = (q3 - q1) / med if med else float("nan")
        print(f"{name:32} {med:12.4f} {q1:12.4f} {q3:12.4f} {rel:8.3f}")
    print(f"all correct: {all(r['correct'] for r in runs)}")


if __name__ == "__main__":
    main()
