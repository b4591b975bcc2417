#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload fec_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness (perfbench/harness, sbt) and prepares the catalog data set;
later runs reuse both. A run generates its inputs from --seed, starts
one JVM (local[N] session, N = min(4, cores), fixed heap), which runs
untimed set-up and then whole passes of the workload until --seconds
have been measured, checks every output (checks.py) and prints one JSON
line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the spans are kept in perfbench/.work/trace-<workload>.json).
See perfbench/README.md.
"""
import time

START = time.time()

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the harness builds against the checkout's sources, and checks.py uses
# the checkout's oracle rules (tools/check.py)
if not all(os.path.exists(os.path.join(ROOT, p)) for p in
           ("build.sbt", "src/main/scala/graft", "tools/check.py")):
    sys.exit("not a graft checkout: build.sbt, src/main/scala/graft and "
             "tools/check.py are needed next to perfbench/")

import checks  # noqa: E402
import fecgen  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")

HEAP = "3g"
RUN_LIMIT_S = 175           # a run must end within 180 s
# the catalog data set: a copy of the fixed sf0.01 data set of the
# repository's TESTDATA.md (seed 42), read-only
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
# memo-heavy graph entries, whose cold runs rebuild SessionCache
# memos, and output-heavy entries, whose time is in final projections
CATALOG_ENTRIES = ["graph_linkpred", "dq_iqr", "text_repetition",
                   "j01_enrich"]

END_TO_END = [("setup_s", "s"), ("cold_cpu_s", "s"), ("warm_cpu_s", "s")]
MODULES = ["fec.FecSchemas", "fec.MasterTables", "fec.ContributionViews",
           "fec.FecDocs", "io.DocStore", "graph.GraphStore", "ops.GraphOps",
           "ops.Profiling", "ops.TextOps",
           "ops.CoreRelational"]
PER_LAYER = (
    [(f"{part}.{ph}_s", "s") for part in ("cold", "warm")
     for ph in ("build", "plan", "exec")]
    + [("cold.build_jobs", "count"), ("warm.build_jobs", "count"),
       ("trace.pass_s", "s"), ("host.steal_pct", "%"), ("pass.rows", "count"),
       ("memo.persisted_rdds", "count"), ("memo.bytes", "bytes"),
       ("store.bytes", "bytes"), ("store.bytes_written", "bytes"),
       ("store.doc_rows", "count"), ("store.vertices", "count"),
       ("store.edges", "count"),
       ("delta.input_bytes", "bytes"), ("delta.bytes_written", "bytes"),
       ("delta.buckets_rewritten", "count"), ("delta.buckets_total", "count"),
       ("delta.rewrite_per_input_byte", "ratio")]
    + [(f"spark.{k}", "count") for k in ("jobs", "stages", "tasks")]
    + [(f"spark.{k}", "bytes") for k in ("input_bytes", "shuffle_read_bytes",
                                         "shuffle_write_bytes", "spill_bytes")]
    + [("spark.gc_s", "s"), ("spark.cpu_s", "s")]
    + [(f"share.{m}", "%") for m in MODULES])
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile graft and the harness with sbt, once per source state."""
    cp = os.path.join(HARNESS, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp).read().strip()
    log("building graft and the harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "writeClasspath"], HARNESS, os.path.join(WORK, "build.log"),
                  time.time() + 800, env)
    if rc != 0 or not os.path.exists(cp):
        sys.exit(f"build failed ({rc}), see {WORK}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp).read().strip()


# --------------------------------------------------------------------- run

def run_proc(cmd, cwd, log_path, deadline, env=None):
    """Runs `cmd` in its own process group and waits for it; past the
    deadline the whole group is killed and waited for. Returns the exit
    code, or None on time-out."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def run_jvm(classpath, args, work, deadline):
    cmd = (["java", f"-Xmx{HEAP}"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-cp", classpath, "perfbench.Main"] + args)
    rc = run_proc(cmd, work, os.path.join(work, "jvm.log"), deadline)
    if rc is None:
        sys.exit(f"run exceeded its time limit, see {work}/jvm.log")
    if rc != 0:
        sys.exit(f"JVM exited with {rc}, see {work}/jvm.log")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=["fec_cycle", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    deadline = START + RUN_LIMIT_S
    stamp = source_stamp()
    if not os.path.exists(os.path.join(WORK, "build.stamp")) or \
            open(os.path.join(WORK, "build.stamp")).read() != stamp:
        deadline = START + 880  # the first run of a checkout also builds
    t = time.time()
    classpath = build(stamp)
    data = CATALOG_DATA
    # set-up is timed from the process's start, less the one-time build
    # of the checkout
    start_ms = int((START + time.time() - t) * 1000)

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jargs = ["--workload", a.workload, "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work,
             "--out", os.path.join(work, "result.json"),
             "--start_ms", str(start_ms),
             # the JVM leaves out optional work that would not end in time
             "--deadline_ms", str(int((deadline - 8) * 1000))]
    verified = os.path.join(WORK, f"verified-{stamp}.txt")
    if a.workload == "fec_cycle":
        inputs = os.path.join(work, "inputs")
        expected = fecgen.generate(a.seed, inputs)
        jargs += ["--inputs", inputs]
    else:
        # the catalog data set is fixed (seed 42), so every run times the
        # same work; --seed only seeds fec_cycle's generator
        jargs += ["--inputs", data, "--entries", ",".join(CATALOG_ENTRIES),
                  "--verified", verified]
    run_jvm(classpath, jargs, work, deadline)

    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    if "error" in res:
        sys.exit(f"run failed: {res['error']}")
    passes = res["passes"]
    errs = []
    if a.workload == "fec_cycle":
        for p in passes:
            errs += checks.check_fec_pass(expected, p)
        errs += checks.check_fec_finish(expected, res["observations"])
        for step in res["observations"].get("skipped", []):
            log(f"{step} left out: the run's time limit would not allow it")
    else:
        errs += verify_catalog(res, data, work, verified)
    for e in errs:
        log(f"CHECK FAILED: {e}")
    log(f"set-up ended at {res['setup_s']:.1f} s, the passes at "
        f"{res['passes_end_s']:.1f} s, the observations at "
        f"{res['finish_end_s']:.1f} s, the checks at {time.time() - START:.1f} s")
    for i, p in enumerate(passes, 1):
        for e in p["errors"]:
            log(f"operation failed: {e}")
        log(f"pass {i}: cold {p['cold_s']:.2f} s wall, {p['cold_cpu_s']:.2f} s "
            f"CPU; warm-up {p.get('warmup_s', 0.0):.2f} s wall; warm "
            f"{p['warm_s']:.2f} s wall, {p['warm_cpu_s']:.2f} s CPU; "
            f"steal {p['steal_pct']:.1f}%")

    if a.trace:
        layers = res.get("layers", {})
        layers["trace.pass_s"] = median([p["cold_s"] + p["warm_s"] for p in passes])
        layers["host.steal_pct"] = median([p["steal_pct"] for p in passes])
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER}
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(WORK, f"trace-{a.workload}.json"))
    else:
        # set-up: process start to the first timed operation, plus the
        # first pass's untimed warm-up (fec_cycle)
        setup = res["setup_s"] + (passes[0].get("warmup_s", 0.0) if passes else 0.0)
        values = {"setup_s": setup,
                  "cold_cpu_s": median([p["cold_cpu_s"] for p in passes]),
                  "warm_cpu_s": median([p["warm_cpu_s"] for p in passes])}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    shutil.rmtree(os.path.join(work, "inputs"), ignore_errors=True)
    out = {"correct": not errs,
           "attempted": sum(p["attempted"] for p in passes),
           "failed": sum(p["failed"] for p in passes),
           "metrics": metrics}
    print(json.dumps(out))


def verify_catalog(res, data, work, verified):
    """Cold and warm outputs agree; every output not verified before in
    this checkout matches its oracle."""
    errs = checks.check_digests(res["passes"])
    obs = res["observations"]
    written = obs["written"]
    if written:
        import pandas as pd
        oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
        con = checks.connect_catalog(data)
        good = []
        for name in written:
            if name not in oracles:
                errs.append(f"{name}: no oracle")
                continue
            d = obs["written_digests"].get(name)
            if [d] != obs["digests"].get(name):
                errs.append(f"{name}: written output {d} is not the timed "
                            f"output {obs['digests'].get(name)}")
                continue
            got = pd.read_parquet(os.path.join(work, "out", name))
            e = checks.compare_frames(name, got,
                                      checks.oracle_frame(con, oracles[name]))
            errs += e
            if not e:
                good.append(f"{name} {d}")
        with open(verified, "a") as f:
            f.writelines(g + "\n" for g in good)
    return errs


if __name__ == "__main__":
    main()
