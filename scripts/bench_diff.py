#!/usr/bin/env python3
"""Compare two full bench records (target/bench.json shape): per-gate
seconds, ratio, sorted by absolute delta. Usage:
  python3 scripts/bench_diff.py A.json B.json [min_abs_delta]
A = before, B = after. Also prints totals and geomean speedup (A/B) over
gates present in both."""
import json, math, re, sys

def load(p):
    txt = open(p).read().replace("\\", "")
    m = re.search(r'"queries":\{([^}]*)\}', txt)
    if m is None:
        sys.exit(f"{p}: no \"queries\" block; not a full bench record")
    qs = {}
    for k, v in re.findall(r'"([A-Za-z0-9_]+)":([0-9]+\.[0-9Ee+-]+)', m.group(1)):
        qs[k] = float(v)
    return qs

a, b = load(sys.argv[1]), load(sys.argv[2])
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.0
common = sorted(set(a) & set(b))
if not common:
    sys.exit("no gates in common; nothing to compare")
rows = [(k, a[k], b[k], a[k] - b[k], a[k] / b[k] if b[k] > 0 else float("inf"))
        for k in common]
rows.sort(key=lambda r: -abs(r[3]))
print(f"{'gate':30s} {'before':>8s} {'after':>8s} {'delta':>8s} {'speedup':>8s}")
for k, va, vb, d, r in rows:
    if abs(d) >= thr:
        print(f"{k:30s} {va:8.3f} {vb:8.3f} {d:+8.3f} {r:8.2f}x")
ta, tb = sum(a[k] for k in common), sum(b[k] for k in common)
logs = [math.log(a[k] / b[k]) for k in common if a[k] > 0 and b[k] > 0]
total = f"{ta / tb:.3f}x" if tb > 0 else "n/a"
geo = f"{math.exp(sum(logs) / len(logs)):.3f}x over {len(logs)}" if logs else "n/a"
print(f"\ncommon gates: {len(common)}  total before {ta:.1f}s  after {tb:.1f}s  "
      f"(total speedup {total}, per-gate geomean {geo})")
only_a = set(a) - set(b); only_b = set(b) - set(a)
if only_a: print("only in A:", sorted(only_a))
if only_b: print("only in B:", sorted(only_b))
