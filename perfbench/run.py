#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, in its own JVM.

    python3 perfbench/run.py --workload pipeline|adhoc --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness from this checkout's sources (once;
later runs reuse the classes while the sources are unchanged),
generates the run's data drops from the seed (one fresh drop per
measured pass: one pass per PASS_S seconds of --seconds, at least
one), runs the harness in a private directory (its own copy of the
classes, its own java.io.tmpdir and Spark local dir), samples the
set-up time once more in a JVM that only sets up, checks every
output, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
from a run that records spans and Spark counters. The run directory
is removed at the end. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "classes")
STAMP = os.path.join(HERE, "target", "sources.sha256")
SPARK_JARS = "/opt/spark/jars"

SF = 0.01               # drop scale (sf0.01: 15,000 orders, 60,000 lines)
PASS_S = 30             # one measured pass per PASS_S seconds asked for:
                        # the count follows --seconds alone, never the
                        # engine's speed (the JVM's first pass takes about 30 s here)
JVM_LIMIT_S = 150       # a harness still running after this is killed
BUILD_LIMIT_S = 600     # likewise a build
HEAP = "2g"
SETUPS = 2              # set-up time: the median of this many JVMs' set-ups

END_TO_END = {"setup_s": "s", "pass_s": "s", "heap_live_mb": "MB"}
PER_LAYER = {
    "plan.build_s": "s", "plan.eager_jobs": "count", "plan.analysis_s": "s",
    "plan.optimize_s": "s", "plan.physical_s": "s", "driver.outside_exec_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_cores": "cores", "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.spill_mb": "MB", "ingest.relayout_s": "s", "ingest.relayout_mb": "MB",
    "etl.books_s": "s", "etl.fixture_mb": "MB", "kpi.tables_s": "s",
    "catalog.publish_s": "s", "catalog.mb": "MB", "report.eda_s": "s",
    "pipeline.written_mb": "MB",
    "adhoc.relational_s": "s", "adhoc.advanced_s": "s", "adhoc.warehouse_s": "s",
    "adhoc.streaming_s": "s", "corpus.dedup_s": "s", "corpus.similarity_s": "s",
    "corpus.text_s": "s", "corpus.select_s": "s", "corpus.multimodal_s": "s",
    "jvm.gc_s": "s",
}
MODULE_METRIC = {"relational": "adhoc.relational_s", "advanced": "adhoc.advanced_s",
                 "warehouse": "adhoc.warehouse_s", "streaming": "adhoc.streaming_s",
                 "dedup": "corpus.dedup_s", "similarity": "corpus.similarity_s",
                 "text": "corpus.text_s", "select": "corpus.select_s",
                 "multimodal": "corpus.multimodal_s"}
MB = 1e6


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----

def source_files():
    files = []
    for r in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles the engine and the harness with the Scala compiler that
    ships in Spark's jars, unless the classes were built from exactly
    these sources. The compiler is called directly, not through sbt,
    so the build reads and writes nothing outside perfbench/target
    (sbt keeps lock files and native libraries under the home
    directory). build.sbt describes the same compilation."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a graft checkout")
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    files = source_files()
    h = hashlib.sha256("\n".join(os.path.basename(j) for j in jars).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    target = os.path.dirname(CLASSES)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(jars), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, "@" + argfile]
    r = run_child("build", cmd, BUILD_LIMIT_S, cwd=target, stdout=subprocess.PIPE,
                  stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write((r.stdout or "")[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_child(what, cmd, limit_s, **kw):
    """Runs `cmd` in its own process group and waits for it; on a time
    limit, an interrupt or a termination it kills the whole group and
    waits for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{what} still running after {limit_s} s")
        raise
    return subprocess.CompletedProcess(cmd, proc.returncode, out)


# ---- one run ----

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def drops_for(seed, run_dir, passes):
    """The run's drops, one for each measured pass, each from its own
    seed derived from --seed."""
    import gen
    paths = []
    for i in range(1, 1 + passes):
        p = os.path.join(run_dir, "drops", f"d{i}")
        gen.generate(p, seed * 1000 + i, SF)
        paths.append(p)
    return paths


def run_harness(workload, trace, run_dir, drops, name="out"):
    """Runs the harness in its own JVM, writing to `run_dir`/`name`;
    returns the time of the JVM's launch and that directory."""
    classes = os.path.join(run_dir, "target", "classes")
    if not os.path.isdir(classes):
        shutil.copytree(CLASSES, classes)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, name)
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = (["java"] + JAVA_OPENS +
           # no hsperfdata: the JVM would write it under /tmp
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.driver.bindAddress=127.0.0.1",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{SPARK_JARS}/*", "graftbench.Harness",
            workload, out, str(trace)] + drops)
    # Spark binds to the loopback address, whatever the host's name
    # resolves to
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    env.pop("SPARK_GRAFT_CONF", None)
    with open(f"{out}.log", "w") as log:
        launch = time.time()
        code = run_child("harness", cmd, JVM_LIMIT_S, cwd=run_dir, env=env,
                         stdout=log, stderr=log).returncode
    if code != 0:
        tail = open(f"{out}.log", errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        fail(f"harness exited with {code}")
    return launch, out


# ---- metrics ----

def records(out):
    return [json.loads(l) for l in open(f"{out}/ops.jsonl")]


def setup_s(launch, out):
    return json.load(open(f"{out}/run.json"))["measure_start_ms"] / 1000.0 - launch


def end_to_end(setups, out, run):
    ops = records(out)
    return {"setup_s": statistics.median(setups),
            "pass_s": statistics.median(r["wall_s"] for r in ops if r["cls"] == "pass"),
            "heap_live_mb": run["heap_live_mb"]}


def per_layer(workload, out, run):
    ops = [r for r in records(out) if r["cls"] != "pass"]
    passes = [r for r in records(out) if r["cls"] == "pass"]
    n = len(passes) if workload == "pipeline" else len(ops)
    m = dict.fromkeys(PER_LAYER, 0.0)

    def tot(key, scale=1.0):
        return sum(r.get(key, 0) for r in ops) * scale / n

    m["plan.build_s"] = tot("build_s")
    m["plan.eager_jobs"] = tot("eager_jobs")
    m["plan.analysis_s"] = tot("analysis_ms", 1e-3)
    m["plan.optimize_s"] = tot("optimize_ms", 1e-3)
    m["plan.physical_s"] = tot("physical_ms", 1e-3)
    m["driver.outside_exec_s"] = sum(max(0.0, r["wall_s"] - r["exec_ns"] / 1e9) for r in ops) / n
    m["sched.jobs"] = tot("jobs")
    m["sched.stages"] = tot("stages")
    m["sched.tasks"] = tot("tasks")
    m["sched.delay_s"] = tot("delay_ms", 1e-3)
    m["exec.run_s"] = tot("run_ms", 1e-3)
    m["exec.cpu_s"] = tot("cpu_ns", 1e-9)
    m["exec.gc_s"] = tot("gc_ms", 1e-3)
    m["exec.busy_cores"] = sum(r["run_ms"] for r in ops) / 1e3 / sum(r["wall_s"] for r in ops)
    m["shuffle.write_mb"] = tot("shuffle_write", 1 / MB)
    m["shuffle.read_mb"] = tot("shuffle_read", 1 / MB)
    m["shuffle.spill_mb"] = tot("spill", 1 / MB)
    m["jvm.gc_s"] = run["jvm_gc_s"]
    if workload == "pipeline":
        def wall(cls):
            return sum(r["wall_s"] for r in ops if r["cls"] == cls) / n
        notes = {x["pass"]: x for x in (json.loads(l) for l in open(f"{out}/passes.jsonl"))}
        written = [notes[p["id"]]["written"] for p in passes]

        def mb(k):
            return sum(w[k] for w in written) / n / MB
        m["ingest.relayout_s"] = wall("ingest.relayout")
        m["ingest.relayout_mb"] = mb("relayout")
        m["etl.books_s"] = wall("etl")
        m["etl.fixture_mb"] = mb("fixtures")
        m["kpi.tables_s"] = wall("kpi")
        m["catalog.publish_s"] = wall("catalog.publish")
        m["catalog.mb"] = mb("catalog")
        m["report.eda_s"] = wall("report")
        m["pipeline.written_mb"] = sum(sum(w.values()) for w in written) / n / MB
    else:
        for mod, name in MODULE_METRIC.items():
            walls = [r["wall_s"] for r in ops if r["cls"] == mod]
            m[name] = statistics.mean(walls)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "adhoc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its harness and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    run_dir = os.path.join(HERE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        drops = drops_for(a.seed, run_dir, max(1, round(a.seconds / PASS_S)))
        launch, out = run_harness(a.workload, a.trace, run_dir, drops)
        run = json.load(open(f"{out}/run.json"))
        setups = [setup_s(launch, out)]
        if not a.trace:
            # more samples of the set-up time: JVMs that only set up
            for k in range(1, SETUPS):
                setups.append(setup_s(*run_harness("setup", 0, run_dir, drops[:1], f"setup{k}")))
        fails = checks.check(a.workload, out, lambda note: note["drop"])
        for f in fails:
            print(f"check failed: {f}", file=sys.stderr)
        if a.trace:
            values, units = per_layer(a.workload, out, run), PER_LAYER
        else:
            values, units = end_to_end(setups, out, run), END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not fails,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
