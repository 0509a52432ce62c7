#!/usr/bin/env python3
"""Diff two PLANS_r{N}.json plan-fingerprint artifacts.

Usage: python3 tools/diff_plans.py PLANS_r10.json PLANS_r11.json

For every catalog entry present in both files, reports whether the
canonical-plan hash changed; on change, prints the node-histogram delta
(which operators appeared/disappeared) — the "how" behind the "what" —
and the optimized plan's expression-node count before -> after (`?` for a
file written before the count was recorded).
Entries only in one file are listed as added/removed. Exit code 0 when
every shared entry's hash is unchanged, 1 otherwise — so a bench-drift
adjudication can be a one-line check: unchanged hash ⇒ no plan mechanism.
"""
import json
import sys


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    changed = []
    for name in sorted(set(a) & set(b)):
        if a[name]["plan_md5"] == b[name]["plan_md5"]:
            continue
        na, nb = a[name].get("nodes", {}), b[name].get("nodes", {})
        delta = {
            op: (na.get(op, 0), nb.get(op, 0))
            for op in sorted(set(na) | set(nb))
            if na.get(op, 0) != nb.get(op, 0)
        }
        exprs = (a[name].get("expr_nodes"), b[name].get("expr_nodes"))
        changed.append((name, delta, exprs))
    for name in added:
        print(f"ADDED    {name}")
    for name in removed:
        print(f"REMOVED  {name}")
    for name, delta, (ea, eb) in changed:
        pretty = ", ".join(f"{op}: {x}->{y}" for op, (x, y) in delta.items()) \
            or "same node counts (expression-level change)"
        counts = "" if ea is None and eb is None else \
            f"  expr_nodes: {'?' if ea is None else ea}->{'?' if eb is None else eb}"
        print(f"CHANGED  {name}  [{pretty}]{counts}")
    same = len(set(a) & set(b)) - len(changed)
    print(f"\n{same} unchanged, {len(changed)} changed, "
          f"{len(added)} added, {len(removed)} removed")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
