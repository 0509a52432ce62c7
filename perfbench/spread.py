#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <workload> <first seed> <runs> [seconds]

Runs the benchmark once per seed (seeds first .. first+runs-1, untraced)
and prints, per end-to-end metric, the median, the quartiles and the
spread: (Q3 - Q1) / median, with quartiles from
`statistics.quantiles(values, n=4)`, next to the metric's bound and a
third of it. Each run's result line is appended to
`.bench_build/perfbench/spread-<workload>.jsonl`.
"""
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main(argv):
    if len(argv) < 3:
        print(__doc__)
        return 2
    workload, first, runs = argv[0], int(argv[1]), int(argv[2])
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = argv[3] if len(argv) > 3 else str(spec["run_seconds"])
    log = os.path.join(ROOT, ".bench_build", "perfbench", f"spread-{workload}.jsonl")
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(first, first + runs):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}")
            return 1
        res = json.loads(r.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps(dict(res, seed=seed, wall_s=wall)) + "\n")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: wall {wall:.0f} s, correct {res['correct']}, "
              + ", ".join(f"{k} {v[-1]:.4g}" for k, v in values.items()), flush=True)
    print(f"\n{'metric':<20}{'median':>12}{'Q1':>12}{'Q3':>12}{'spread':>9}{'bound':>7}{'bound/3':>9}")
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:<20}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}"
              f"{(q3 - q1) / med:>9.3f}{m['bound']:>7.2f}{m['bound'] / 3:>9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
