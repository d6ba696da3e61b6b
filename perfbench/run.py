#!/usr/bin/env python3
"""Benchmark for the graft ETL engine and its query catalogue.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 25 --trace 0

Builds the library and the harness from source (scalac from the Spark
distribution, into $CARGO_TARGET_DIR or .bench_build), generates the
workload's inputs from the seed, runs the closed-loop harness in one JVM
(local[<all cores>]): one cold operation, then warm operations for
--seconds (at least WARMUP_OPS + MEASURED_OPS). It checks every output
and prints one JSON line:
  {"correct", "attempted", "failed", "metrics"}
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). A human-readable summary goes to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
from stats import median, self_time_by_layer, uncovered, count_failures  # noqa: E402

WORKLOADS = ("etl_backfill", "etl_daily", "catalogue_mix")
BACKFILL_GROUPS = 40        # season-league groups per API
DAILY_HISTORY = 25          # league-seasons of history per API
DAILY_MAX_DAYS = 120        # more days than any run reaches
CATALOGUE_DATA = os.path.join(HERE, "data", "sf0.001")
# the catalogue mix: Tables scan and aggregation, joins, Enforce,
# containment, a loop operator and a similarity kernel; d58 and g01 do
# most of their work while the query is built, the rest at the count
CATALOGUE = ("q01_pricing_summary", "q33_multiway_join", "q30_enforce_ok",
             "d58_containment_minimal", "g01_pagerank", "s51_knn_ivf")
# run_s is the median of the warm operations after the first WARMUP_OPS:
# the JIT is still compiling the operation's code path in those (they run
# a quarter slower and their speed-up differs from run to run); a run has
# at least MEASURED_OPS operations after them
WARMUP_OPS = 2
MEASURED_OPS = 3
TIME_LIMIT_S = 170
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("no Spark distribution found: set SPARK_HOME")
    return jars


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not lib or not harness:
        raise SystemExit("library or harness sources missing: run from a checkout of the repository")
    return lib + harness


def build(root):
    """Compile library + harness with scalac unless the sources are unchanged."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(out, "classes")
    srcs = sources(root)
    resources = os.path.join(root, "src/main/resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True)):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", ":".join(jars)] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("build failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built in {time.time() - t0:.1f}s")
    return classes


def generate(workload, seed, work):
    """Write the harness's input manifest; return the expectations."""
    if workload == "etl_backfill":
        corpus = gen.backfill_corpus(seed, BACKFILL_GROUPS)
        gen.write_manifest(os.path.join(work, "manifest.jsonl"), {"corpus": corpus})
        return {api: gen.expectation(g) for api, g in corpus.items()}
    if workload == "etl_daily":
        hist, days = gen.daily_corpus(seed, DAILY_HISTORY, DAILY_MAX_DAYS)
        sets = {"hist": hist}
        sets.update({f"day_{d:04d}": by_api for d, by_api in enumerate(days)})
        gen.write_manifest(os.path.join(work, "manifest.jsonl"), sets)
        return {f"day_{d:04d}": {api: gen.expectation(g) for api, g in by_api.items()}
                for d, by_api in enumerate(days)}
    with open(os.path.join(HERE, "catalogue_expected.json")) as f:
        return json.load(f)


def java(classes, work, main, args, deadline):
    """Run `main` from the built classes in one JVM whose scratch files
    stay in `work` (no perf-data file in the system temp dir either);
    its output goes to stderr."""
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-cp", ":".join([classes] + spark_jars()), main] + [str(x) for x in args])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{main} exceeded the time limit")
    if rc != 0:
        raise SystemExit(f"{main} exited with {rc}")


def per_layer(res, counts):
    """Per-layer metrics from a traced run."""
    ops = res["ops"]
    counters = {c["op"]: c for c in res["counters"]}
    traced = [o["i"] for o in ops if o["traced"] and o["i"] > WARMUP_OPS and not o["error"]]
    untraced = [o for o in ops if not o["traced"] and o["i"] > WARMUP_OPS and not o["error"]]
    cold = counters.get(0, {})

    def med(name):
        return median(counters.get(i, {}).get(name, 0.0) for i in traced)

    m = {}
    for name in ("normalize.build_s", "sinks.unified_s", "sinks.deadletter_s",
                 "sinks.files_written", "sinks.bytes_written", "ledger.newfiles_s",
                 "ledger.commit_s", "plan.analysis_s", "plan.optimization_s",
                 "plan.planning_s", "codegen.compile_s", "codegen.classes",
                 "spark.jobs", "spark.tasks", "spark.executor_run_s",
                 "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
                 "spark.shuffle_write_bytes", "caches.release_s"):
        m[name] = med(name)
    m["normalize.build_jobs"] = med("jobs.normalize.build")
    for name in ("plan.analysis_s", "plan.optimization_s", "plan.planning_s",
                 "codegen.compile_s", "codegen.classes"):
        m["cold." + name] = cold.get(name, 0.0)
    stage = res.get("setup_stats") or {}
    for name in ("staging.stage_s", "staging.files", "staging.bytes"):
        m[name] = med(name) if name not in stage else stage[name]
    staged = m["staging.bytes"]
    m["read_amplification"] = med("spark.input_bytes") / staged if staged else 0.0

    # catalogue: per query (median over warm traced passes) and per pass
    def query_split(c, q):
        construct = c.get(f"queries.{q}.construct_s", 0.0)
        plan = c.get(f"queries.{q}.count.plan_s", 0.0)
        count = c.get(f"queries.{q}.count_s", 0.0)
        return construct, plan, max(0.0, count - plan)
    for q in CATALOGUE:
        splits = [query_split(counters.get(i, {}), q) for i in traced]
        for k, part in enumerate(("construct_s", "plan_s", "exec_s")):
            m[f"queries.{q}.{part}"] = median(s[k] for s in splits)
    for label, op_ids in (("cold", [0] if 0 in counters else []), ("warm", traced)):
        totals = [[sum(query_split(counters.get(i, {}), q)[k] for q in CATALOGUE)
                   for k in range(3)] for i in op_ids]
        for k, part in enumerate(("construct_s", "plan_s", "exec_s")):
            m[f"queries.{label}.{part}"] = median(t[k] for t in totals)

    for name, v in counts.items():
        m[name] = v

    spans = res["spans"]
    selfs = self_time_by_layer(spans, traced)
    for layer in ("op", "normalize.build", "sinks.unified", "sinks.deadletter",
                  "staging.stage", "ledger.newfiles", "ledger.commit",
                  "caches.release", "queries.construct", "queries.count", "spark.job"):
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    m["trace.uncovered_s"] = uncovered(res["window"], spans)
    t_run = median(o["seconds"] for o in ops if o["i"] in traced)
    u_run = median(o["seconds"] for o in untraced)
    m["trace.traced_run_s"] = t_run
    m["trace.untraced_run_s"] = u_run
    m["trace.overhead_s"] = t_run - u_run
    m["samples.traced"] = len(traced)
    m["samples.untraced"] = len(untraced)
    m["cold.run_s"] = ops[0]["seconds"]
    m["process.cpu_s"] = median(o["cpu"] for o in ops if o["i"] in traced)
    m["items_per_s"] = (sum(o["items"] for o in untraced) / sum(o["seconds"] for o in untraced)
                        if untraced else 0.0)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + TIME_LIMIT_S
    root = os.getcwd()
    classes = build(root)
    deadline = max(deadline, time.time() + 120)  # a first-run build has its own budget

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    expected = generate(a.workload, a.seed, work)
    gen_s = time.time() - t0

    java(classes, work, "perfbench.Harness",
         [a.workload, a.seed, a.seconds, WARMUP_OPS + MEASURED_OPS, a.trace, work,
          CATALOGUE_DATA, ",".join(CATALOGUE)],
         deadline)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    ops = res["ops"]
    bad, counts = checks.check(a.workload, work, res, expected, CATALOGUE)
    attempted, failed = count_failures(ops, bad)
    measured = [o for o in ops if o["i"] > WARMUP_OPS and not o["traced"] and not o["error"]]

    if a.trace:
        metrics = {k: (v, unit_of(k)) for k, v in per_layer(res, counts).items()}
    else:
        metrics = {
            "setup_s": (gen_s + res["setup_s"], "s"),
            "run_s": (median(o["seconds"] for o in measured), "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
    log(f"{a.workload} seed={a.seed} trace={a.trace}: {attempted} ops, {failed} failed, "
        f"{len(measured)} measured samples; set-up: generate {gen_s:.2f}s session "
        f"{res['session_s']:.2f}s inputs {res['inputs_s']:.2f}s; op seconds "
        + " ".join(f"{o['seconds']:.3f}" for o in ops))
    # keep only the raw result (timings, counters, spans) of the last run
    for entry in os.scandir(work):
        if entry.is_dir():
            shutil.rmtree(entry.path)
        elif entry.name != "result.json":
            os.remove(entry.path)
    print(json.dumps({"correct": failed == 0 and not res["finish_error"],
                      "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def unit_of(name):
    if name == "items_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name == "read_amplification":
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
