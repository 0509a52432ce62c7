#!/usr/bin/env python3
"""Per-layer report of a traced run.

    python3 perfbench/report.py <workload> <seed>

reads `.bench_build/perfbench/results/<workload>-seed<seed>-trace1.*` (the
span file and result of a `--trace 1` run) and, when present, the
`--trace 0` result of the same workload and seed. It prints self time,
share of the timed window and span count per layer and per span name, and
the tracing overhead: how far each end-to-end metric of the traced run is
from the untraced one.

A span's self time is its duration minus the part of it that its child
spans cover; where sibling spans run at once (concurrent jobs), the time
they share is split evenly between them. Layers are the engine's module
names; `bench` is the benchmark's own work (and the window root's
uncovered time).
"""
import json
import os
import sys

STATE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".bench_build", "perfbench")


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def self_times(spans, root):
    """Self time of every span under `root`, in microseconds.

    The window is cut at every span boundary; each piece goes to the
    deepest spans running through it, split evenly when several run at
    once (concurrent jobs), so self times add up to the window exactly.
    """
    depth = {root["id"]: 0}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    order = [root]
    for s in order:
        for k in kids.get(s["id"], []):
            depth[k["id"]] = depth[s["id"]] + 1
            order.append(k)
    cuts = sorted({t for s in order for t in (s["start_us"], s["end_us"])
                   if root["start_us"] <= t <= root["end_us"]})
    out = {s["id"]: 0.0 for s in order}
    for lo, hi in zip(cuts, cuts[1:]):
        live = [s for s in order if s["start_us"] <= lo and s["end_us"] >= hi]
        if not live:
            continue
        deepest = max(depth[s["id"]] for s in live)
        top = [s for s in live if depth[s["id"]] == deepest]
        for s in top:
            out[s["id"]] += (hi - lo) / len(top)
    return order, out


def layer_table(spans):
    """Self time per layer and per (layer, name) inside the timed window."""
    root = next(s for s in spans if s["name"] == "window" and s["parent"] == 0)
    window_us = root["end_us"] - root["start_us"]
    tree, st = self_times(spans, root)
    layers, names = {}, {}
    for s in tree:
        for key, acc in ((s["layer"], layers), ((s["layer"], s["name"]), names)):
            row = acc.setdefault(key, {"self_s": 0.0, "spans": 0})
            row["self_s"] += st[s["id"]] / 1e6
            row["spans"] += 1
    for acc in (layers, names):
        for row in acc.values():
            row["share"] = row["self_s"] * 1e6 / window_us if window_us else 0.0
    program = sum(r["self_s"] for k, r in layers.items() if k != "bench")
    # spans outside the window (other traces: generator, pipeline probe)
    outside = {}
    for s in spans:
        if s["trace"] != root["trace"]:
            row = outside.setdefault((s["trace"], s["layer"], s["name"]),
                                     {"total_s": 0.0, "spans": 0})
            row["total_s"] += (s["end_us"] - s["start_us"]) / 1e6
            row["spans"] += 1
    return {"window_s": window_us / 1e6, "layers": layers, "names": names,
            "program_share": program * 1e6 / window_us if window_us else 0.0,
            "outside": outside}


def overhead(traced, untraced):
    out = {}
    for k, m in untraced["metrics"].items():
        t = traced["metrics"].get(k)
        if t and m["value"]:
            out[k] = (t["value"] - m["value"]) / m["value"]
    return out


def main(argv):
    if len(argv) != 2:
        print(__doc__)
        return 2
    tag = os.path.join(STATE, "results", f"{argv[0]}-seed{argv[1]}")
    t = layer_table(load(tag + "-trace1.spans.jsonl"))
    print(f"timed window {t['window_s']:.3f} s; program layers cover "
          f"{100 * t['program_share']:.1f}% of it as self time")
    print(f"\n{'layer':<12}{'self_s':>10}{'share':>8}{'spans':>8}")
    for k, r in sorted(t["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{k:<12}{r['self_s']:>10.3f}{100 * r['share']:>7.1f}%{r['spans']:>8}")
    print(f"\n{'layer/span':<34}{'self_s':>10}{'share':>8}{'spans':>8}")
    for (l, n), r in sorted(t["names"].items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{l + '/' + n:<34}{r['self_s']:>10.3f}{100 * r['share']:>7.1f}%{r['spans']:>8}")
    if t["outside"]:
        print("\noutside the window:")
        for (tr, l, n), r in sorted(t["outside"].items()):
            print(f"  {tr}/{l}/{n}: {r['total_s']:.3f} s over {r['spans']} spans")
    traced = json.load(open(tag + "-trace1.json"))
    print("\nper-layer figures:")
    for k, m in sorted(traced["layers"].items()):
        print(f"  {k:<44}{m['value']:>14.6g} {m['unit']}")
    if os.path.exists(tag + "-trace0.json"):
        untraced = json.load(open(tag + "-trace0.json"))
        print("\ntracing overhead (traced vs untraced, same seed):")
        for k, v in sorted(overhead(traced, untraced).items()):
            print(f"  {k:<24}{100 * v:+8.1f}%  ({untraced['metrics'][k]['value']:.6g} -> "
                  f"{traced['metrics'][k]['value']:.6g} {untraced['metrics'][k]['unit']})")
    else:
        print("\nno untraced run of this workload and seed: overhead not computed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
