#!/usr/bin/env python3
"""Compare two full bench records (target/bench.json shape): per-gate
seconds, ratio, sorted by absolute delta. Usage:
  python3 scripts/bench_diff.py A.json B.json [min_abs_delta]
A = before, B = after. Also prints totals and geomean speedup (A/B) over
gates present in both.

Given two per-gate metrics records (target/gate_metrics.jsonl, or a
committed BASELINE_metrics_sf<x>.jsonl reference; one JSON object per gate),
the compared number is each gate's task CPU seconds, with its job and stage
counts and shuffle bytes (read + written, MB) as extra columns."""
import json, math, re, sys

def load(p):
    """{gate: (value, extra columns or None)}"""
    txt = open(p).read()
    if txt.lstrip().startswith('{"gate"'):
        recs = [json.loads(l) for l in txt.splitlines() if l.strip()]
        return {r["gate"]: (r["cpu_ns"] / 1e9, (r["jobs"], r["stages"],
                (r["shuffle_read_bytes"] + r["shuffle_write_bytes"]) / 1048576))
                for r in recs}
    txt = txt.replace("\\", "")
    m = re.search(r'"queries":\{([^}]*)\}', txt)
    if m is None:
        sys.exit(f"{p}: no \"queries\" block; not a full bench record")
    qs = {}
    for k, v in re.findall(r'"([A-Za-z0-9_]+)":([0-9]+\.[0-9Ee+-]+)', m.group(1)):
        qs[k] = (float(v), None)
    return qs

A, B = load(sys.argv[1]), load(sys.argv[2])
a, b = {k: v for k, (v, _) in A.items()}, {k: v for k, (v, _) in B.items()}
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.0
common = sorted(set(a) & set(b))
if not common:
    sys.exit("no gates in common; nothing to compare")
extra = all(A[k][1] is not None and B[k][1] is not None for k in common)
unit = " task CPU s" if extra else "s"
rows = [(k, a[k], b[k], a[k] - b[k], a[k] / b[k] if b[k] > 0 else float("inf"))
        for k in common]
rows.sort(key=lambda r: -abs(r[3]))
head = f"{'gate':30s} {'before':>8s} {'after':>8s} {'delta':>8s} {'speedup':>8s}"
print(head + (f" {'jobs':>9s} {'stages':>9s} {'shuffle MB':>17s}" if extra else ""))
for k, va, vb, d, r in rows:
    if abs(d) >= thr:
        line = f"{k:30s} {va:8.3f} {vb:8.3f} {d:+8.3f} {r:8.2f}x"
        if extra:
            (ja, sa, ma), (jb, sb, mb) = A[k][1], B[k][1]
            line += f" {ja:4d}>{jb:<4d} {sa:4d}>{sb:<4d} {ma:8.2f}>{mb:<8.2f}"
        print(line)
ta, tb = sum(a[k] for k in common), sum(b[k] for k in common)
logs = [math.log(a[k] / b[k]) for k in common if a[k] > 0 and b[k] > 0]
total = f"{ta / tb:.3f}x" if tb > 0 else "n/a"
geo = f"{math.exp(sum(logs) / len(logs)):.3f}x over {len(logs)}" if logs else "n/a"
print(f"\ncommon gates: {len(common)}  total before {ta:.1f}{unit}  after {tb:.1f}{unit}  "
      f"(total speedup {total}, per-gate geomean {geo})")
only_a = set(a) - set(b); only_b = set(b) - set(a)
if only_a: print("only in A:", sorted(only_a))
if only_b: print("only in B:", sorted(only_b))
