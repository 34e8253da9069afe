#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload estimators --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first call builds the harness with
sbt (perfbench/build.sbt compiles graft from the checkout's sources);
later calls reuse the build until a source file changes. The inputs are
the repo's sf0.01 test tables, copied into perfbench/data/sf0.01; --seed
draws the order of every pass. Each run then starts fresh JVMs: a set-up
probe, then the benchmark JVM, which makes a cold pass and warm passes
over the workload's queries and an untimed pass that writes every result
for the DuckDB oracle compare done here.

The last line of stdout is one JSON object: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DATA = os.path.join(HERE, ".data")   # generated inputs (report.py's scaling table)
WORK = os.path.join(HERE, ".work")

SF = 0.01          # input scale: 60,000 lineitem rows, 500 documents
INPUTS = os.path.join(HERE, "data", f"sf{SF}")  # the repo's test tables at SF
CORES = 4          # local[CORES], shuffle partitions = CORES
HEAP = "2g"        # fixed JVM heap (-Xms = -Xmx)
SETUP_PROBES = 1   # extra set-up-only JVMs; setup_s is the median of 1 + this
RUN_TIMEOUT = 170  # seconds allowed to one benchmark JVM
WARM_PASSES = 3    # at least this many warm passes; warm metrics are medians
                   # per query over them

# The query lists are four queries each so that one run
# (two JVM set-ups, a cold pass, three warm passes and the check pass)
# stays under a minute on four cores, with room for a host that runs a
# fifth slower: the 48 runs of a benchmark check must fit in 3420 s. The
# queries keep each workload's property and cover eight of graft's
# fifteen estimator and operator modules (see README.md).
ESTIMATORS = ["kmeans", "lasso_cd", "svm_rbf", "gbt_stumps"]
PIPELINE = ["dedup_minhash", "multimodal_mp3_decode", "ann_lsh", "label_prop"]
WORKLOADS = {
    # cuML surface: fits (FitCache misses, cached training frames, driver
    # round trips) cold, FitCache-served scoring warm
    "estimators": ESTIMATORS,
    # data-pipeline operators (per-row signatures, a decoder, an LSH pair
    # shuffle) and an iterative graph loop (checkpointed rounds)
    "pipeline": PIPELINE,
}

# graft module each query is built on (module time <module>.s)
MODULE = {
    "kmeans": "cluster", "lasso_cd": "linear", "svm_rbf": "svm", "gbt_stumps": "ensemble",
    "dedup_minhash": "dedup", "multimodal_mp3_decode": "multimodal", "ann_lsh": "neighbors",
    "label_prop": "graph",
}
MODULES = sorted(set(MODULE.values()))

# Expected result row count of a query that has no DuckDB oracle.
ROW_COUNTS = {}

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile graft and the harness unless nothing changed; returns the
    runtime classpath."""
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("graft sources not found: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx3g"])
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                             "classpathFile"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}), log in {log}", 1)
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return open(cp_file).read().strip()


# ------------------------------------------------------------------ JVM

def java_cmd(cp, work):
    """JVM command prefix: fixed heap, every temp and Spark directory
    inside the work directory."""
    for sub in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def jvm(cp, work, args, timeout=RUN_TIMEOUT):
    """Run perfbench.Main in a fresh JVM; returns its JSON output."""
    out = os.path.join(work, "out.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = java_cmd(cp, work)
    cmd += ["perfbench.Main", "--out", out]
    cmd += [str(a) for a in args]
    with open(os.path.join(work, "jvm.log"), "a") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd + ["--launched", repr(launched)], cwd=work,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {timeout} s", 1)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"benchmark JVM failed (exit {rc})", 1)
    with open(out) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- check

def check_outputs(data_dir, check_dir, queries):
    """{query: None if its result matches, else the reason}. Queries with
    an oracle go through the repo's own gate, tools/check_oracle.py (DuckDB
    running SparkEntry.oracleSql, compared after its canonicalization);
    the others are held to a committed row count."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    import duckdb
    report = os.path.join(check_dir, "oracle_check.json")
    with contextlib.redirect_stdout(sys.stderr):
        check_oracle.main(data_dir, check_dir, report)
    with open(report) as fh:
        gate = json.load(fh)["queries"]
    verdict = {}
    for q in queries:
        if q in gate:
            verdict[q] = None if gate[q]["status"] == "pass" else gate[q]["reason"]
            continue
        try:
            n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{check_dir}/{q}/*.parquet')").fetchone()[0]
        except duckdb.Error as e:
            verdict[q] = f"result missing: {e}"
            continue
        want = ROW_COUNTS.get(q)
        verdict[q] = None if want == n else f"{n} rows, expected {want}"
    return verdict


# -------------------------------------------------------------- metrics

def passes(requests, kind):
    """Per-pass lists of timed requests of one kind, in pass order."""
    by = {}
    for r in requests:
        if r["kind"] == kind:
            by.setdefault(r["pass"], []).append(r)
    return [by[p] for p in sorted(by)]


def wall(reqs):
    """Wall time of a pass: its requests' build plus exec time."""
    return sum(r["build_s"] + r["exec_s"] for r in reqs)


def warm_latencies(warm):
    """{query: its warm latencies}."""
    lat = {}
    for p in warm:
        for r in p:
            lat.setdefault(r["query"], []).append(r["build_s"] + r["exec_s"])
    return lat


def warm_pass(warm):
    """Time of a typical warm pass: the sum over the queries of each one's
    median warm latency. Unlike the median of the pass totals, it drops a
    stall in one query of one pass without keeping another's."""
    return sum(statistics.median(v) for v in warm_latencies(warm).values())


def hd_median(xs):
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, with Beta((n+1)/2, (n+1)/2) weights. Unlike the sample
    median, it does not jump from one order statistic to the next when
    the samples fall in clusters (requests of a few queries of distinct
    cost)."""
    import numpy as np
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    a = (n + 1) / 2
    t = np.linspace(0.0, 1.0, 200 * n + 1)
    logc = 2 * math.lgamma(a) - math.lgamma(2 * a)
    with np.errstate(divide="ignore"):
        pdf = np.exp((a - 1) * (np.log(t) + np.log1p(-t)) - logc)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2 * np.diff(t))])
    w = np.diff(cdf[::200])
    return float((w / w.sum()) @ xs)


def layer_rows(res):
    """Per-request rows of every per-layer counter (traced runs)."""
    spans = {}
    for c in res.get("counters", []):
        spans[(c["id"], c["span"])] = c
    zero = {k: 0 for k in ("jobs", "stages", "tasks", "task_s", "scan_bytes", "scan_rows",
                           "shuffle_write_bytes", "shuffle_records", "fetch_wait_s",
                           "spill_bytes", "exchanges", "bhj", "smj", "broadcast_bytes",
                           "scala_udf", "generate", "in_memory_scans")}
    rows = []
    for r in res["requests"]:
        b, e = spans.get((r["id"], "build"), zero), spans.get((r["id"], "exec"), zero)
        row = {k: r[k] for k in ("id", "pass", "kind", "query", "ok", "build_s", "exec_s",
                                 "fitcache_hits", "fitcache_misses", "codegen_compilations",
                                 "gc_s", "jit_s", "cache_entries", "cache_bytes")}
        # persisted blocks this request left behind (clearCache drops the
        # CacheManager's entries, not checkpointed or unpersisted RDDs)
        row["cache_bytes_new"] = max(0, r["cache_bytes"] - r["cache_bytes_before"])
        row["module"] = MODULE[r["query"]]
        row["wall_s"] = r["build_s"] + r["exec_s"]
        row["build_jobs"] = b["jobs"]
        for k in zero:
            row[k] = b[k] + e[k]
        row["exec_task_s"] = e["task_s"]
        rows.append(row)
    return rows


def per_layer(res, cores):
    """Per-layer metrics of a traced run, and the per-request rows they sum.
    Each is the median over the warm passes of its per-pass total; cold.*
    are cold-pass totals and jvm.*_peak_mb cover the timed run."""
    rows = layer_rows(res)

    def per_pass(reqs):
        s = lambda k: sum(r[k] for r in reqs)  # noqa: E731
        hits, misses = s("fitcache_hits"), s("fitcache_misses")
        exec_wall = s("exec_s")
        m = {
            "queries.build_s": s("build_s"), "queries.exec_s": exec_wall,
            "queries.build_jobs": s("build_jobs"),
            "core.fitcache.hits": hits, "core.fitcache.misses": misses,
            "core.fitcache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "spark.scheduler.jobs": s("jobs"), "spark.scheduler.stages": s("stages"),
            "spark.scheduler.tasks": s("tasks"), "spark.scheduler.task_s": s("task_s"),
            "spark.scheduler.idle_frac":
                1 - s("exec_task_s") / (exec_wall * cores) if exec_wall else 0.0,
            "spark.scan.bytes": s("scan_bytes"), "spark.scan.rows": s("scan_rows"),
            "spark.exchange.shuffle_write_bytes": s("shuffle_write_bytes"),
            "spark.exchange.shuffle_records": s("shuffle_records"),
            "spark.exchange.fetch_wait_s": s("fetch_wait_s"),
            "spark.exchange.spill_bytes": s("spill_bytes"),
            "spark.exchange.exchanges": s("exchanges"),
            "spark.plan.bhj": s("bhj"), "spark.plan.smj": s("smj"),
            "spark.plan.broadcast_bytes": s("broadcast_bytes"),
            "spark.plan.scala_udf": s("scala_udf"), "spark.plan.generate": s("generate"),
            "spark.plan.in_memory_scans": s("in_memory_scans"),
            "spark.codegen.compilations": s("codegen_compilations"),
            "spark.cache.bytes_held": s("cache_bytes"),
            "spark.cache.entries_held": s("cache_entries"),
            "jvm.gc_s": s("gc_s"), "jvm.jit_s": s("jit_s"),
        }
        for mod in MODULES:
            m[f"{mod}.s"] = sum(r["wall_s"] for r in reqs if r["module"] == mod)
        return m

    warm = [per_pass(p) for p in passes(rows, "warm")]
    cold = per_pass(passes(rows, "cold")[0])
    out = {k: statistics.median(w[k] for w in warm) for k in warm[0]}
    for k in ("queries.build_s", "queries.build_jobs", "core.fitcache.misses",
              "spark.codegen.compilations", "jvm.jit_s", "jvm.gc_s"):
        out[f"cold.{k}"] = cold[k]
    out["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    out["jvm.rss_peak_mb"] = res["rss_peak_mb"]
    return out, rows


def unit_of(name):
    """Unit of a per-layer metric, read off its name."""
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio")):
        return "ratio"
    return "rows" if name.endswith(".rows") else "count"


# ----------------------------------------------------------------- main

def run(queries, data, seed, seconds, trace, cores=CORES, footer="lineitem",
        timeout=RUN_TIMEOUT, warm=WARM_PASSES):
    """One benchmark run: set-up probes, then the benchmark JVM, then the
    oracle compare. Returns (JVM output, {query: mismatch or None},
    set-up samples)."""
    cp = build()
    work = os.path.join(WORK, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        common = ["--data", data, "--cores", cores, "--seed", seed, "--trace", trace,
                  "--footer", footer, "--warm", warm]
        setups = [jvm(cp, work, ["--mode", "setup"] + common)["setup_s"]
                  for _ in range(SETUP_PROBES)]
        check_dir = os.path.join(work, "check")
        res = jvm(cp, work, ["--mode", "run", "--queries", ",".join(queries),
                             "--seconds", seconds, "--check", check_dir] + common, timeout)
        setups.append(res["setup_s"])
        verdict = check_outputs(data, check_dir, queries)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res, verdict, setups


def end_to_end(res, verdict, setups):
    """{metric: (value, unit, sample note)} plus (attempted, failed, problems)."""
    reqs = res["requests"]
    cold, warm = passes(reqs, "cold"), passes(reqs, "warm")
    problems = {r["query"]: r["error"] for r in reqs if not r["ok"]}
    # a wrong result fails its check-pass request (unless that one threw)
    checked_ok = {r["query"] for r in reqs if r["kind"] == "check" and r["ok"]}
    wrong = {q: why for q, why in verdict.items() if why and q in checked_ok}
    for q, why in wrong.items():
        problems.setdefault(q, f"output mismatch: {why}")
    attempted = len(reqs)
    failed = sum(1 for r in reqs if not r["ok"]) + len(wrong)
    lat = [x for v in warm_latencies(warm).values() for x in v]
    e2e = {
        "setup_s": (statistics.median(setups), "s", f"median of {len(setups)} JVM set-ups"),
        "cold_pass_s": (wall(cold[0]), "s", f"1 pass of {len(cold[0])} requests"),
        "warm_pass_s": (warm_pass(warm), "s", f"per-query medians of {len(warm)} passes"),
        "warm_query_p50_s": (hd_median(lat), "s",
                             f"Harrell-Davis median of {len(lat)} warm requests in {len(warm)} passes"),
    }
    # printed but not gated: fail_frac is 0 on a healthy tree, and peak RSS
    # does not repeat within any bound across runs (jvm.rss_peak_mb instead)
    shown = {"fail_frac": (failed / attempted, "ratio", f"{failed} failed of {attempted} requests"),
             "rss_peak_mb": (res["rss_peak_mb"], "MB", f"VmHWM, heap fixed at {HEAP}")}
    return e2e, shown, attempted, failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run unwinds, so the JVM it started is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    res, verdict, setups = run(WORKLOADS[a.workload], INPUTS, a.seed, a.seconds, a.trace)
    e2e, shown, attempted, failed, problems = end_to_end(res, verdict, setups)
    print(f"workload {a.workload}  seed {a.seed}  cores {CORES}  trace {a.trace}")
    for name, (v, unit, n) in (e2e | shown).items():
        print(f"  {name:18s} {v:12.4f} {unit:6s} {n}")
    for q, why in sorted(problems.items()):
        print(f"  FAILED {q}: {why}")
    if a.trace:
        layers, _ = per_layer(res, CORES)
        for k, v in layers.items():
            print(f"  {k:40s} {v:14.4f} {unit_of(k)}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
