#!/usr/bin/env python3
"""DuckDB side of the matched bench pair (BASELINE.md protocol):
run every oracle SQL from a Verify dump's oracle_sql.json over the
sfDir parquet, one DuckDB thread per core, one warmup pass then min
of N measured passes with warm views — the mirror of graft.Bench's
steady-state mode. Writes BASELINE_DUCKDB.json in the cwd.

Run back-to-back with graft.Bench on a quiet host (never while sbt
or another bench is running); accept the pair only when the Spark
run's floor_per_stage_sec <= 0.25.

Usage: tools/bench_duckdb.py [sfDir] [verifyOut] [passes] [--no-warmup]

--no-warmup skips the warmup pass — for SFs where one full pass is
an hour-plus and the page cache is already warm from a crosscheck
run; disclose the protocol in the artifact that cites the numbers.
"""
import json, sys, glob, os, time
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# default matches graft.Bench's min-of-3 so neither engine gets an
# extra chance to discard a noisy pass in the published ratio
passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
warmup = "--no-warmup" not in sys.argv

con = duckdb.connect()
THREADS = os.cpu_count()
con.execute(f"SET threads TO {THREADS}")
# Same big-SF spill discipline as crosscheck.py: the timing pass
# must survive the same ~74 GB temp ceiling the oracle pass does.
# Insertion order is irrelevant here (fetchall, no compare) and
# preserving it roughly doubles the spill footprint of the sf10
# window sorts; GRAFT_MEM/GRAFT_TMP bound memory and isolate the
# spill dir exactly as the crosscheck protocol does.
con.execute("SET preserve_insertion_order=false")
if os.environ.get("GRAFT_MEM"):
    import re as _re
    _mem = os.environ["GRAFT_MEM"]
    if not _re.fullmatch(r"\d+(\.\d+)?\s*[KMGT]i?B", _mem, _re.IGNORECASE):
        sys.exit(f"GRAFT_MEM must be a memory size like 24GB, got {_mem!r}")
    con.execute(f"SET memory_limit='{_mem}'")
if os.environ.get("GRAFT_TMP"):
    if "'" in os.environ["GRAFT_TMP"]:
        sys.exit("GRAFT_TMP must not contain single quotes")
    os.makedirs(os.environ["GRAFT_TMP"], exist_ok=True)
    con.execute(f"SET temp_directory='{os.environ['GRAFT_TMP']}'")
for f in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(f)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracles = json.load(open(f"{out}/oracle_sql.json"))
names = sorted(oracles)

def run_once(sql):
    t0 = time.perf_counter()
    con.sql(sql).fetchall()
    return time.perf_counter() - t0

# warmup pass (page cache, view binding), then measured passes
if warmup:
    for q in names:
        try: run_once(oracles[q])
        except Exception as e: print(f"[warmup] {q} FAILED: {e}", file=sys.stderr)

results = {}
for p in range(passes):
    for q in names:
        try: t = run_once(oracles[q])
        except Exception as e:
            print(f"[pass {p}] {q} FAILED: {e}", file=sys.stderr)
            t = -1.0
        if t >= 0:
            results[q] = min(results.get(q, float("inf")), t)
results = {q: round(v, 4) for q, v in results.items() if v != float("inf")}
# graft.Bench semantics: min over the SUCCESSFUL passes; a query is
# failed only when every pass failed. A query that errors once but
# succeeds later keeps its min-of-successes timing on both engines.
failed = set(names) - set(results)

# a failed query must be visible in the record, not silently shrink
# the total — the matched Spark comparison needs identical query sets
record = {
    "total_sec": round(sum(results.values()), 2),
    "n": len(results),
    "n_failed": len(failed),
    "failed": sorted(failed),
    "threads": THREADS,
    "sf": sf,
    "mode": f"min of {passes} passes, " +
        ("warm views" if warmup else "NO warmup pass (page cache pre-warmed externally)"),
    "queries": dict(sorted(results.items())),
}
with open("BASELINE_DUCKDB.json", "w") as fh:
    json.dump(record, fh, indent=1)
print(json.dumps({k: v for k, v in record.items() if k != "queries"}))
