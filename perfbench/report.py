#!/usr/bin/env python3
"""Traced study of the benchmark workloads; writes perfbench/results/.

    python3 perfbench/report.py [--seed 7] [--seconds 15]

For every workload it makes three traced and three untraced runs on the
same seed, in alternating order, then writes to perfbench/results/<workload>/:

  requests.csv   per-request table of every per-layer counter (run A)
  spans.json     run -> pass -> request -> {build, exec} -> Spark job
  summary.json   tracing overhead (median over the pairs of traced minus
                 untraced pass times),
                 count reproducibility between runs A and B, the layer
                 split of the warm pass, and the cache-leak listing

and perfbench/results/REPORT.md with the same in prose. It also times
the corpus queries at local[1], [2] and [4] on MakeOrganicSF documents
and embeddings at ten times the sf0.1 count (results/scaling.json).
Takes about twenty minutes on four cores.
"""
import argparse
import csv
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import numpy as np

import run as rb

RESULTS = os.path.join(rb.HERE, "results")
# counters that must repeat exactly between two runs of the same inputs
EXACT = ["build_jobs", "jobs", "stages", "tasks", "scan_bytes", "scan_rows",
         "shuffle_write_bytes", "shuffle_records", "exchanges", "bhj", "smj",
         "broadcast_bytes", "scala_udf", "generate", "in_memory_scans",
         "fitcache_hits", "fitcache_misses", "cache_entries"]
# regressors of the layer split: (column, layer it stands for)
SPLIT = [("stages", "spark.scheduler (per stage)"),
         ("shuffle_mb", "spark.exchange (per shuffle MB)"),
         ("task_s", "executor compute (per task second)"),
         ("build_jobs", "queries.build (per Spark driver round trip)")]
ORGANIC_DOCS, ORGANIC_VECS = 50_000, 20_000  # ten times the sf0.1 counts
# the pipeline workload's corpus queries: they read only documents and
# embeddings, the two tables MakeOrganicSF writes
SCALING = ["dedup_minhash", "multimodal_mp3_decode", "ann_lsh"]


def traced(queries, data, seed, seconds, cores=rb.CORES, footer="lineitem", timeout=rb.RUN_TIMEOUT,
           warm=rb.WARM_PASSES):
    res, verdict, setups = rb.run(queries, data, seed, seconds, 1, cores, footer, timeout, warm)
    _, rows = rb.per_layer(res, cores)
    return res, verdict, setups, rows


def pass_times(res):
    reqs = res["requests"]
    cold, warm = rb.passes(reqs, "cold"), rb.passes(reqs, "warm")
    return rb.wall(cold[0]), rb.warm_pass(warm)


def reproducibility(rows_a, rows_b):
    """Requests of the timed passes whose exact counters differ between
    two runs, matched by (pass, query)."""
    key = lambda r: (r["pass"], r["query"])  # noqa: E731
    b = {key(r): r for r in rows_b if r["kind"] in ("cold", "warm")}
    compared, differing = 0, []
    for r in rows_a:
        other = b.get(key(r))
        if r["kind"] not in ("cold", "warm") or other is None:
            continue
        compared += 1
        diff = {k: [r[k], other[k]] for k in EXACT if r[k] != other[k]}
        if diff:
            differing.append({"pass": r["pass"], "kind": r["kind"], "query": r["query"],
                              "counters": diff})
    return {"compared": compared, "identical": compared - len(differing),
            "identical_frac": (compared - len(differing)) / compared if compared else 0.0,
            "differing": differing}


def design(rows):
    """Regressor matrix of the layer model: the SPLIT columns and a 1."""
    return np.array([[r["stages"], r["shuffle_write_bytes"] / 1e6, r["task_s"],
                      r["build_jobs"], 1.0] for r in rows])


def fit_layers(rows):
    """Least squares of request wall time on the SPLIT counters plus an
    intercept, with coefficients kept non-negative: a column whose
    coefficient comes out negative is dropped (most negative first) and
    the rest refitted. Returns (coefficients, R²)."""
    x = design(rows)
    y = np.array([r["wall_s"] for r in rows])
    keep = list(range(x.shape[1]))
    while True:
        c, *_ = np.linalg.lstsq(x[:, keep], y, rcond=None)
        if c.min() >= 0:
            break
        keep.pop(int(np.argmin(c)))
    coef = np.zeros(x.shape[1])
    coef[keep] = c
    r2 = 1 - ((y - x @ coef) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    return coef, float(r2)


def layer_split(coef, r2, n_fit, warm):
    """Split of one workload's warm pass by the fitted layer terms."""
    n_pass = len({r["pass"] for r in warm})
    x = design(warm)
    total = sum(r["wall_s"] for r in warm) / n_pass
    split = {layer: float(coef[i] * x[:, i].sum() / n_pass) for i, (_, layer) in enumerate(SPLIT)}
    split["fixed per request (intercept)"] = float(coef[-1] * len(warm) / n_pass)
    split["unexplained"] = total - sum(split.values())
    return {"warm_pass_s": total, "r2": r2, "n_fit": n_fit,
            "coef": {c: float(v) for (c, _), v in zip(SPLIT, coef)} | {"intercept": float(coef[-1])},
            "split_s": split}


def cache_leaks(rows):
    """Per query: CacheManager entries still held after its requests, and
    bytes of persisted blocks its requests left behind, before the
    benchmark cleared the SQL cache."""
    out = {}
    for r in rows:
        q = out.setdefault(r["query"], {"requests": 0, "leaking_requests": 0,
                                        "max_entries": 0, "max_new_bytes": 0})
        q["requests"] += 1
        q["leaking_requests"] += int(r["cache_entries"] > 0 or r["cache_bytes_new"] > 0)
        q["max_entries"] = max(q["max_entries"], r["cache_entries"])
        q["max_new_bytes"] = max(q["max_new_bytes"], r["cache_bytes_new"])
    return dict(sorted(out.items()))


def spans(res):
    """The run's span tree; Spark jobs hang under the build or exec span
    that was active when they started."""
    out = list(res["spans"])
    t0 = res["epoch_ms"]
    for j in res.get("job_spans", []):
        if j["id"] < 0:
            continue
        out.append({"name": f"job/{j['job']}", "kind": "job",
                    "parent": f"request/{j['id']}/{j['span']}",
                    "start_s": (j["start_ms"] - t0) / 1e3, "end_s": (j["end_ms"] - t0) / 1e3})
    return out


def write_table(path, rows):
    cols = list(rows[0])
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=cols, lineterminator="\n")
        w.writeheader()
        for r in rows:
            w.writerow({k: (f"{v:.6f}" if isinstance(v, float) else v) for k, v in r.items()})


def study(workload, seed, seconds, pairs=3):
    """Traced and untraced runs of one workload, in `pairs` pairs whose
    order alternates (so a drift of the host's speed does not read as
    overhead); writes run A's table and spans and returns (summary, run
    A's rows). Counts are compared between traced runs A and B, and the
    tracing overhead is the median over the pairs."""
    queries = rb.WORKLOADS[workload]
    runs = {1: [], 0: []}
    for i in range(pairs):
        for t in ((1, 0) if i % 2 == 0 else (0, 1)):
            runs[t].append(traced(queries, rb.INPUTS, seed, seconds) if t
                           else rb.run(queries, rb.INPUTS, seed, seconds, 0))
    res_a, verdict, _, rows_a = runs[1][0]
    rows_b = runs[1][1][3]
    tr = [pass_times(r[0]) for r in runs[1]]
    un = [pass_times(r[0]) for r in runs[0]]
    med = lambda xs: statistics.median(xs)  # noqa: E731
    out = os.path.join(RESULTS, workload)
    os.makedirs(out, exist_ok=True)
    write_table(os.path.join(out, "requests.csv"), rows_a)
    with open(os.path.join(out, "spans.json"), "w") as fh:
        json.dump(spans(res_a), fh, indent=0)
    summary = {
        "workload": workload, "queries": queries, "seed": seed, "seconds": seconds,
        "cores": rb.CORES, "sf": rb.SF,
        "output_check": {q: why or "ok" for q, why in sorted(verdict.items())},
        "tracing_overhead_s": {
            "pairs": pairs,
            "cold_pass": med([t[0] - u[0] for t, u in zip(tr, un)]),
            "warm_pass": med([t[1] - u[1] for t, u in zip(tr, un)]),
            "traced": {"cold_pass": [t[0] for t in tr], "warm_pass": [t[1] for t in tr]},
            "untraced": {"cold_pass": [u[0] for u in un], "warm_pass": [u[1] for u in un]}},
        "reproducibility": reproducibility(rows_a, rows_b),
        "cache_leaks": cache_leaks(rows_a),
    }
    return summary, rows_a


def add_layer_splits(studies):
    """Fit the layer model once over the warm requests of every workload's
    table (each workload alone has only as many distinct counter rows as
    queries, fewer than the five coefficients), then split each
    workload's warm pass with it and write its summary.json."""
    warm = {s["workload"]: [r for r in rows if r["kind"] == "warm"] for s, rows in studies}
    pooled = [r for rows in warm.values() for r in rows]
    coef, r2 = fit_layers(pooled)
    for s, _ in studies:
        s["layer_split"] = layer_split(coef, r2, len(pooled), warm[s["workload"]])
        with open(os.path.join(RESULTS, s["workload"], "summary.json"), "w") as fh:
            json.dump(s, fh, indent=1)
    return [s for s, _ in studies]


def organic(seed):
    """MakeOrganicSF documents and embeddings at ten times the sf0.1 count."""
    d = os.path.join(rb.DATA, f"organic_seed{seed}")
    if not os.path.exists(os.path.join(d, "_done")):
        cp = rb.build()
        work = os.path.join(rb.WORK, f"organic_{os.getpid()}")
        shutil.rmtree(d, ignore_errors=True)
        try:
            cmd = rb.java_cmd(cp, work) + ["graft.tools.MakeOrganicSF", d,
                                           str(ORGANIC_DOCS), str(ORGANIC_VECS), str(seed)]
            with open(os.path.join(work, "gen.log"), "w") as log:
                subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               env=dict(os.environ, SPARK_GRAFT_CPUS=str(rb.CORES)),
                               check=True, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        open(os.path.join(d, "_done"), "w").close()
    return d


def scaling(seed):
    """Cold and warm pass times of the corpus queries at 1, 2 and 4 cores."""
    data = organic(seed)
    table = []
    for cores in (1, 2, 4):
        # two warm passes: at ten times the data one core takes minutes a pass
        res, verdict, setups, _ = traced(SCALING, data, seed, 0, cores, "documents", 1500, 2)
        cold, warm = pass_times(res)
        table.append({"cores": cores, "cold_pass_s": cold, "warm_pass_s": warm,
                      "setup_s": statistics.median(setups),
                      "failed": [q for q, why in verdict.items() if why] +
                                [r["query"] for r in res["requests"] if not r["ok"]]})
    out = {"queries": SCALING, "seed": seed, "n_docs": ORGANIC_DOCS, "n_vecs": ORGANIC_VECS,
           "table": table}
    with open(os.path.join(RESULTS, "scaling.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    return out


def markdown(studies, scale):
    lines = ["# Traced benchmark study", "",
             "Written by `python3 perfbench/report.py`; raw files beside this one.", ""]
    for s in studies:
        w = s["workload"]
        lines += [f"## {w}", "", f"Queries: {', '.join(s['queries'])} (seed {s['seed']}, "
                  f"sf {s['sf']}, local[{s['cores']}]).", ""]
        o = s["tracing_overhead_s"]
        lines += [f"Tracing overhead (traced minus untraced, median of {o['pairs']} pairs run "
                  f"in alternating order): cold pass {o['cold_pass']:+.3f} s of "
                  f"{statistics.median(o['untraced']['cold_pass']):.3f} s untraced, warm pass "
                  f"{o['warm_pass']:+.3f} s of {statistics.median(o['untraced']['warm_pass']):.3f} s.",
                  "", "| pass | traced s | untraced s |", "|---|---|---|"]
        lines += [f"| {k} | {', '.join(f'{v:.2f}' for v in o['traced'][k])} | "
                  f"{', '.join(f'{v:.2f}' for v in o['untraced'][k])} |"
                  for k in ("cold_pass", "warm_pass")]
        lines.append("")
        r = s["reproducibility"]
        lines += [f"Count reproducibility: {r['identical']} of {r['compared']} timed requests "
                  f"({100 * r['identical_frac']:.1f}%) have identical exact counters in two "
                  "traced runs."]
        for d in r["differing"]:
            lines.append(f"- {d['query']} ({d['kind']} pass {d['pass']}): " + ", ".join(
                f"{k} {a} vs {b}" for k, (a, b) in d["counters"].items()))
        ls = s["layer_split"]
        lines += ["", f"Layer split of the warm pass ({ls['warm_pass_s']:.3f} s; non-negative "
                  f"least squares over the {ls['n_fit']} warm requests of all workloads, "
                  f"R² {ls['r2']:.2f}):", "",
                  "| layer | s per warm pass |", "|---|---|"]
        lines += [f"| {k} | {v:.3f} |" for k, v in ls["split_s"].items()]
        lines += ["", "Cache left behind before the benchmark cleared it (run A, all passes; "
                  "bytes are persisted blocks a request added, which clearCache does not drop):",
                  "", "| query | requests leaving cache | max CacheManager entries | max new bytes |",
                  "|---|---|---|---|"]
        lines += [f"| {q} | {c['leaking_requests']} of {c['requests']} | {c['max_entries']} | "
                  f"{c['max_new_bytes']} |" for q, c in s["cache_leaks"].items()]
        lines.append("")
    lines += ["## Core scaling (pipeline's corpus queries, MakeOrganicSF data)", "",
              f"{scale['n_docs']} documents and {scale['n_vecs']} embeddings, seed "
              f"{scale['seed']}; queries {', '.join(scale['queries'])}. Not gated.", "",
              "| cores | cold pass s | warm pass s | failed |", "|---|---|---|---|"]
    lines += [f"| {t['cores']} | {t['cold_pass_s']:.2f} | {t['warm_pass_s']:.2f} | "
              f"{', '.join(t['failed']) or '-'} |" for t in scale["table"]]
    lines.append("")
    with open(os.path.join(RESULTS, "REPORT.md"), "w") as fh:
        fh.write("\n".join(lines))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(RESULTS, exist_ok=True)
    studies = add_layer_splits([study(w, a.seed, a.seconds) for w in rb.WORKLOADS])
    markdown(studies, scaling(a.seed))


if __name__ == "__main__":
    main()
