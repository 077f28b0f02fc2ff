#!/usr/bin/env python3
"""Combine several full-bench JSON artifacts into a per-query min table.

Usage: python3 tools/rebaseline.py out.json run1.json run2.json [...]

Per query takes the min of `queries_min` across all runs (the achievable
plan cost on this box — BASELINE.md's min-vs-min rule). Queries absent
from a run are skipped for that run, and so is a failed run of a query
(-1): another run's measurement stands. A query that failed in every run
is listed, not written. Like flagcheck.py, it refuses an artifact without
`queries_min` (a compact stdout line or a BENCH_r*.json wrapper). Prints a
markdown table fragment and writes the combined mins as JSON.
"""
import json, sys

out, runs = sys.argv[1], sys.argv[2:]
mins, seen = {}, set()
for f in runs:
    d = json.load(open(f))
    per_q = d.get("queries_min")
    if per_q is None:
        sys.exit(f"{f}: no 'queries_min' key — not a full Bench "
                 "bench_out.json artifact (compact stdout lines and the "
                 "driver's BENCH_r*.json wrappers are not closeable "
                 "evidence; keep copies of bench_out.json)")
    for q, v in per_q.items():
        seen.add(q)
        if v >= 0:
            mins[q] = min(mins.get(q, float("inf")), v)
failed = sorted(seen - set(mins))

json.dump(dict(sorted(mins.items())), open(out, "w"), indent=1)
qs = sorted(mins)
cols = 3
rows = (len(qs) + cols - 1) // cols
print("| query | min | query | min | query | min |")
print("|---|---|---|---|---|---|")
for r in range(rows):
    cells = []
    for c in range(cols):
        i = c * rows + r
        cells.append(f"{qs[i]} | {mins[qs[i]]:.2f}" if i < len(qs) else " | ")
    print("| " + " | ".join(cells) + " |")
print(f"\n# queries: {len(qs)}, sum of mins: {sum(mins.values()):.2f}")
if failed:
    print(f"# failed in every run (not written): {', '.join(failed)}")
