#!/usr/bin/env python3
"""Per-query growth audit across scale factors (driver-side tooling).

Reads the per-query seconds of the committed artifacts at each SF and
prints a markdown table of growth factors — the scale-shape evidence
the 100 TB design point argues from: a query whose Spark wall grows
faster than the data is a candidate-work problem, not a constant.

Inputs are (label, sparkJson, duckJson) triples; spark JSONs are
graft.Bench outputs (per-query under "queries"), duck JSONs either
bench_duckdb.py outputs ("queries") or crosscheck.py timing dumps
(flat name->sec map).

Usage: tools/growth_audit.py out.md
"""
import json, sys

PAIRS = [
    ("sf0.1", "BENCH_SELF.json", "BASELINE_DUCKDB.json"),
    ("sf1", "BENCH_SF1.json", "BASELINE_DUCKDB_SF1.json"),
]

def qmap(path):
    d = json.load(open(path))
    qs = d.get("queries", d)
    # bench_duckdb nests {name: {...,"sec": s}} or {name: s}; Bench uses {name: s}
    out = {}
    for k, v in qs.items():
        out[k] = v["sec"] if isinstance(v, dict) else v
    return out

cols = []
for label, sj, dj in PAIRS:
    try:
        cols.append((label, qmap(sj), qmap(dj)))
    except FileNotFoundError as e:
        print(f"skipping {label}: {e}", file=sys.stderr)

names = sorted(set().union(*[set(s) | set(d) for _, s, d in cols]))
lines = []
hdr = ["query"]
for label, _, _ in cols:
    hdr += [f"{label} spark", f"{label} duck"]
for a, b in zip(cols, cols[1:]):
    hdr += [f"{a[0]}→{b[0]} spark ×", f"{a[0]}→{b[0]} duck ×"]
lines.append("| " + " | ".join(hdr) + " |")
lines.append("|" + " --- |" * len(hdr))

def fmt(v):
    return f"{v:.2f}" if v is not None else "—"

rows = []
for n in names:
    cells = [n]
    vals = []
    for _, s, d in cols:
        sv, dv = s.get(n), d.get(n)
        vals.append((sv, dv))
        cells += [fmt(sv), fmt(dv)]
    growths = []
    for (s0, d0), (s1, d1) in zip(vals, vals[1:]):
        gs = (s1 / s0) if s0 and s1 and s0 > 0 else None
        gd = (d1 / d0) if d0 and d1 and d0 > 0 else None
        growths.append((gs, gd))
        cells += [fmt(gs), fmt(gd)]
    # sort key: worst spark growth in the LAST decade
    last = growths[-1][0] if growths and growths[-1][0] else 0.0
    rows.append((last, "| " + " | ".join(cells) + " |"))

rows.sort(key=lambda t: -t[0])
lines += [r for _, r in rows]

out = sys.argv[1] if len(sys.argv) > 1 else "/dev/stdout"
with open(out, "w") as f:
    f.write("\n".join(lines) + "\n")
print(f"growth table ({len(names)} queries) -> {out}", file=sys.stderr)
