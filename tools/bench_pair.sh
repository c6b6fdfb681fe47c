#!/bin/bash
# Matched quiet-floor bench pair (BASELINE.md protocol), one command:
#   1. wait for a quiet host (1-min loadavg below threshold),
#   2. graft.Bench (Spark, one thread per core, sf0.1) -> BENCH_SELF.json,
#   3. tools/bench_duckdb.py (same oracles, one thread per core)
#      -> BASELINE_DUCKDB.json, back-to-back,
#   4. tools/make_baseline.py -> BASELINE.md regenerated from the two
#      artifacts (never hand-copied).
# ATOMIC: the three files BENCH_SELF.json, BASELINE_DUCKDB.json and
# BASELINE.md are only ever replaced TOGETHER, on acceptance. Exit 3
# if the Spark floor_per_stage_sec exceeded the gate (noisy window):
# the rejected run's artifacts are saved under /tmp for inspection
# and the PREVIOUS accepted artifacts are restored in the working
# tree, so a later snapshot/commit can never pair a rejected run with
# a stale BASELINE.md (the r10 end-of-round failure mode).
#
# Prereqs: classes compiled (sbt compile), oracle dump current
# (tools/run_verify.sh — rerun it after any query/oracle change; this
# script refuses a stale-looking dump). NEVER run sbt concurrently.
#
# Usage: tools/bench_pair.sh [sfDir] [verifyOut] [maxWaitSec]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-/tmp/verify_out}
MAXWAIT=${3:-900}
LOAD_GATE=0.5

[ -f "$OUT/oracle_sql.json" ] || {
  echo "no $OUT/oracle_sql.json — run tools/run_verify.sh first" >&2; exit 1; }
if [ -n "$(find target/scala-2.13/classes -newer "$OUT/oracle_sql.json" -name '*.class' -print -quit)" ]; then
  echo "classes newer than oracle dump — rerun tools/run_verify.sh first" >&2
  exit 1
fi

# quiet-host gate: an external process loads this box in bursts
# (loadavg 6-9); launching into one wastes the whole 8-minute window
waited=0
while :; do
  load=$(cut -d' ' -f1 /proc/loadavg)
  ok=$(awk -v l="$load" -v g="$LOAD_GATE" 'BEGIN{print (l<g)?1:0}')
  [ "$ok" = 1 ] && break
  [ "$waited" -ge "$MAXWAIT" ] && {
    echo "host never went quiet (loadavg $load after ${waited}s)" >&2; exit 2; }
  sleep 15; waited=$((waited+15))
done
echo "host quiet (loadavg $load) — starting Spark bench"

# atomicity snapshot: keep the currently-accepted artifacts so every
# reject path can restore them (the working tree must always hold a
# CONSISTENT (BENCH_SELF, BASELINE_DUCKDB, BASELINE.md) triple)
snap=$(mktemp -d /tmp/bench_snap.XXXXXX)
cp BENCH_SELF.json BASELINE_DUCKDB.json BASELINE.md "$snap/" 2>/dev/null || true
restore_accepted() {
  ts=$(date +%H%M%S)
  for f in BENCH_SELF.json BASELINE_DUCKDB.json BASELINE.md; do
    [ -f "$f" ] && cp "$f" "/tmp/rejected_${ts}_$f"
    [ -f "$snap/$f" ] && cp "$snap/$f" "$f"
  done
  echo "rejected artifacts saved to /tmp/rejected_${ts}_*; accepted pair restored" >&2
}
# set -e exits on ANY unhandled failure (a Bench JVM dying after its
# BENCH_SELF.json write, a truncated JSON breaking the floor read);
# the ERR trap makes every such path restore the accepted triple too
# (commands with explicit || handlers don't trigger it, so no double
# restore)
trap 'restore_accepted' ERR

# freshness marker: graft.Bench warns-but-continues if its
# BENCH_SELF.json write fails, so a stale committed file could
# silently pair with a fresh DuckDB run
marker=$(mktemp /tmp/bench_start.XXXXXX)
# SPARK_GRAFT_WRITE_SELF=1: graft.Bench only writes the repo-root
# BENCH_SELF.json under this flag (any other run dumps to tmp), so
# this script is the ONLY writer of the committed triple
SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_WRITE_SELF=1 \
  tools/run_verify.sh "$SF" "$OUT" graft.Bench
if [ ! BENCH_SELF.json -nt "$marker" ]; then
  rm -f "$marker"
  echo "REJECT: BENCH_SELF.json was not refreshed by this run" >&2
  restore_accepted
  exit 4
fi
rm -f "$marker"
# keep a copy immediately: the r7/r8 lesson — a good run's per-query
# map got overwritten by the next attempt before being saved
cp BENCH_SELF.json "/tmp/bench_keep_$(date +%H%M%S).json"

echo "Spark done — DuckDB side (back-to-back)"
python3 tools/bench_duckdb.py "$SF" "$OUT" 3 || { restore_accepted; exit 5; }

# 0.20 gate: the floor probe rides the measured shuffle-width dial
# (~9-task exchanges at sf0.1), whose quiet floor is ~0.15 — the old
# 0.25 threshold was calibrated to 32-task probes and would accept
# windows the dialed probe shows as noisy. Bench reports the WORST
# bracketing sample, so one mid-run burst rejects the window.
floor=$(python3 -c "import json; print(json.load(open('BENCH_SELF.json'))['floor_per_stage_sec'])")
ok=$(awk -v f="$floor" 'BEGIN{print (f<=0.20)?1:0}')
if [ "$ok" != 1 ]; then
  echo "REJECT: floor_per_stage_sec $floor > 0.20 — noisy window, rerun." >&2
  restore_accepted
  exit 3
fi
# make_baseline itself re-checks the floor and the DuckDB failure
# list; any nonzero exit means the triple must not change
python3 tools/make_baseline.py --label "$(date +%Y-%m-%d) pair, floor $floor" \
  || { restore_accepted; exit 6; }
trap - ERR
rm -rf "$snap"
