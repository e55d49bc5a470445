#!/usr/bin/env python3
"""Fit growth exponents from /tmp/growth/curves.json (GrowthCurves probe).

For each heavy query and each structural count, fits wall ~ factor^b by
least squares on log2/log2 over factors {1,2,4,8} (walls use the min of
the two samples — the load-robust statistic). Prints a markdown table
for PLANS.md.
"""
import json
import math
import sys

path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/growth/curves.json"
rows = json.load(open(path))
factors = [r["factor"] for r in rows]


def fit(xs, ys):
    lx = [math.log2(x) for x in xs]
    ly = [math.log2(y) for y in ys]
    n = len(xs)
    mx, my = sum(lx) / n, sum(ly) / n
    b = sum((a - mx) * (c - my) for a, c in zip(lx, ly)) / sum(
        (a - mx) ** 2 for a in lx)
    return b


print("### Structural counts (predict ~ factor^1.0)\n")
print("| count | " + " | ".join(f"x{f}" for f in factors) + " | exponent |")
print("|---|" + "---|" * (len(factors) + 1))
for key in ("jaccard_candidates", "prefix_candidates",
            "copurchase_edges", "repeat_edges",
            "apriori_triple_candidates"):
    if key not in rows[0]:  # older curves.json predate a count
        continue
    vals = [r[key] for r in rows]
    if any(v < 0 for v in vals):  # count skipped under GROWTH_ONLY
        continue
    print(f"| {key} | " + " | ".join(str(v) for v in vals) +
          f" | {fit(factors, vals):.2f} |")

print("\n### Heavy-query walls, default config (min of 2 samples, sec)\n")
queries = list(rows[0]["default"].keys())
print("| query | " + " | ".join(f"x{f}" for f in factors) + " | exponent |")
print("|---|" + "---|" * (len(factors) + 1))
for q in queries:
    vals = [min(r["default"][q]["walls"]) for r in rows]
    print(f"| {q} | " + " | ".join(f"{v:.2f}" for v in vals) +
          f" | {fit(factors, vals):.2f} |")

print("\nloadavg/cpu_wall per sample are in the JSON for exoneration.")
