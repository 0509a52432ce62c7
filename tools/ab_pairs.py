#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark: a parent checkout against a change.

    python3 tools/ab_pairs.py PARENT CHANGE --workload ingest \\
        --seeds 901-910 [--seconds 8] [--log pairs.jsonl]

PARENT and CHANGE are two checkouts of the repository. For each seed the
script runs `perfbench/run.py --trace 0` once in each checkout, one after
the other, and switches which side goes first from one pair to the next.
Every run's result line is printed (and appended to `--log` when given).

At the end it prints, for each end-to-end metric of BENCHMARK.json (read
from PARENT), both sides' medians and quartiles, the pairs the change won
(ties count for neither side), and the verdict of the sandbox rule: a gain
needs the change to win at least nine tenths of the pairs and the medians
to differ by more than the parent's interquartile range. It also says
whether the change's median is within the metric's bound of the parent's.
The script only calls the benchmark; it changes no file in either checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(arg):
    out = []
    for part in arg.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(checkout, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"{checkout} seed {seed}: run.py exited with {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, med, q3 = statistics.quantiles(v, n=4)
    return q1, med, q3


def summary(metrics, pairs):
    """One row per metric: medians, quartiles, pairs won and the verdict."""
    rows = []
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        a = [p["parent"]["metrics"][name]["value"] for p in pairs]
        b = [p["change"]["metrics"][name]["value"] for p in pairs]
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        won = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
        better_by = (bm - am) if higher else (am - bm)
        gain = won >= 0.9 * len(pairs) and better_by > a3 - a1
        within = -better_by <= m["bound"] * am
        rows.append((name, am, a1, a3, bm, b1, b3, won, better_by / am if am else 0.0,
                     a3 - a1, gain, within))
    return rows


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 901-910 or 1,5,9")
    p.add_argument("--seconds", type=float, default=None,
                   help="run length (default: BENCHMARK.json run_seconds)")
    p.add_argument("--log", help="append every run's result line to this file")
    a = p.parse_args(argv)
    spec = json.load(open(os.path.join(a.parent, "BENCHMARK.json")))
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    pairs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            res = run(sides[side], a.workload, seed, seconds)
            pair[side] = res
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps(dict(res, side=side, seed=seed, first=order[0])) + "\n")
            print(f"seed {seed} {side:<6} correct={res['correct']} failed={res['failed']} "
                  f"wall={res['wall_s']}s " + ", ".join(
                      f"{m['name']} {res['metrics'][m['name']]['value']:.5g}"
                      for m in spec["end_to_end"]), flush=True)
        pairs.append(pair)
    bad = [(s, side) for s, pr in zip(seeds_of(a.seeds), pairs) for side, r in pr.items()
           if not r["correct"] or r["failed"]]
    print(f"\n{len(pairs)} pairs, {a.workload}, {seconds:g} s; runs not correct or with "
          f"failures: {bad or 'none'}")
    print(f"{'metric':<19}{'parent median [Q1-Q3]':>32}{'change median [Q1-Q3]':>32}"
          f"{'won':>8}{'gap':>8}{'parent IQR':>12}  verdict")
    for (name, am, a1, a3, bm, b1, b3, won, rel, iqr, gain, within) in summary(
            spec["end_to_end"], pairs):
        verdict = "gain" if gain else ("within bound" if within else "WORSE than bound")
        print(f"{name:<19}{f'{am:.5g} [{a1:.5g}-{a3:.5g}]':>32}{f'{bm:.5g} [{b1:.5g}-{b3:.5g}]':>32}"
              f"{f'{won}/{len(pairs)}':>8}{rel:>+8.1%}{iqr:>12.5g}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
