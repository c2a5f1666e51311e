#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source (`build.py`), makes the
workload's inputs from the seed, runs them in one local Spark process
(`Harness.scala`: local[nproc], shuffle partitions = nproc), checks every
output (`check.py`), and prints the run record followed by the result as
the last stdout line:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones measured from outside the program (spans around the
calls into each layer, counts from listeners the harness registers and
from each executed plan). Workloads are described in BENCHMARK.json.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen_tables  # noqa: E402
import gen_tweets  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
N_TWEETS = 2000
TABLES_SF, TABLES_SEED = 0.01, 42
# the ANN/recall rows, then the relational rows (the order within a pass
# is drawn from the seed)
CATALOG_ROWS = ["q_ann_ivf", "q_ann_ivfpq", "q_dedup_embed_recall",
                "q_tpch_q18", "q_window_topk", "q_band_join", "q_jaccard_pairs"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 160
# untimed passes in set-up. The pass after the first is still ~20% slower
# than the later ones: tweets runs too few timed passes for a median to
# drop it, so it is a second warm-up pass there; a catalog run times at
# least three passes, which keep it out of the median
WARMUP = {"tweets_e2e": 2, "catalog": 1}
MIN_PASSES = {"tweets_e2e": 2, "catalog": 3}


def tables():
    """The catalog tables, generated once per checkout."""
    d = os.path.join(BUILD_DIR, f"tables-sf{TABLES_SF}-seed{TABLES_SEED}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        gen_tables.main(tmp, TABLES_SF, TABLES_SEED)
        os.replace(tmp, d)
    return d


def harness(cp, args, work):
    """Run the Spark process; its temporary files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness", *args]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT,
                            timeout=JVM_TIMEOUT_S).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: harness exited with {rc}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def by_name(spans):
    """Span name -> span, over a span tree (first occurrence wins)."""
    out = {}
    stack = list(spans)
    while stack:
        s = stack.pop(0)
        out.setdefault(s["name"], s)
        stack[:0] = s["children"]
    return out


def total(span, key):
    return span["counts"].get(key, 0.0) + sum(total(c, key) for c in span["children"])


def peak(span, key):
    return max([span["counts"].get(key, 0.0)] + [peak(c, key) for c in span["children"]])


def end_to_end(record, failed, attempted):
    plain = [p for p in record["passes"] if not p["traced"]]
    ops = sorted({op for p in plain for op in p["ops"]})
    per_op = [median([sum(p["ops"][op].values()) for p in plain if op in p["ops"]]) for op in ops]
    return {
        "setup_s": (record["setup_s"], "s"),
        "pass_s": (median([p["wall_s"] for p in plain]), "s"),
        "row_geomean_s": (math.exp(statistics.fmean(math.log(max(t, 1e-9)) for t in per_op)), "s"),
        "ok_share": ((attempted - failed) / attempted, "share"),
        "heap_peak_mb": (median([p["heap_peak_mb"] for p in plain]), "MB"),
    }


LAYER_SPANS = {"tweets.scan_s": "tweets.scan", "ops.retweet_s": "ops.retweet",
               "ops.hashtag_s": "ops.hashtag", "ops.jaccard_s": "ops.jaccard",
               "ops.report_s": "ops.report", "ops.neighbours_s": "ops.neighbours",
               "ops.wordcloud_s": "ops.wordcloud", "graph.save_s": "graph.save"}
SPARK_COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_mb",
                "spark.spill_mb", "spark.failed_tasks"]
PLAN_COUNTS = ["plans.bnlj_nodes", "plans.topk_nodes", "plans.window_after_topk",
               "plans.exchanges", "plans.non_codegen_nodes"]


def layer_names():
    names = list(LAYER_SPANS) + [
        "ops.jaccard.candidate_pairs", "ops.jaccard.edge_yield", "ops.jaccard.executions",
        "graph.written_mb", "storage.cache_peak_mb", "storage.blocks_left",
        "catalog.build_s", "catalog.build_jobs", "catalog.consume_s"]
    for q in CATALOG_ROWS:
        names += [f"row.{q}.build_s", f"row.{q}.consume_s"]
    return names + PLAN_COUNTS + SPARK_COUNTS + ["spark.task_busy_share", "trace.overhead_s"]


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name.endswith("_yield"):
        return "share"
    return "count"


def per_layer(record, jc_edges):
    """Per-layer metrics: the median over traced passes of each value."""
    passes = record["passes"]
    traced = [p for p in passes if p["traced"]]
    roots = record["spans"]
    samples = []
    for i, p in enumerate(traced):
        pipe, layers = roots[2 * i], roots[2 * i + 1]
        v = {k: 0.0 for k in layer_names()}
        named = by_name(layers["children"])
        for metric, span in LAYER_SPANS.items():
            if span in named:
                v[metric] = named[span]["self_s"]
        if "graph.save" in named:
            v["graph.written_mb"] = total(named["graph.save"], "spark.output_mb")
        jc = named.get("ops.jaccard", pipe)
        v["ops.jaccard.candidate_pairs"] = total(jc, "ops.jaccard.candidate_pairs") / max(
            total(jc, "ops.jaccard.executions"), 1)
        if jc_edges is not None and v["ops.jaccard.candidate_pairs"]:
            v["ops.jaccard.edge_yield"] = jc_edges / v["ops.jaccard.candidate_pairs"]
        v["ops.jaccard.executions"] = total(pipe, "ops.jaccard.executions")
        v["storage.cache_peak_mb"] = peak(pipe, "storage.cache_mb")
        v["storage.blocks_left"] = p["blocks_left"]
        for row in pipe["children"]:
            if row["name"].startswith("row."):
                q = row["name"][4:]
                parts = {c["name"].rsplit(".", 1)[1]: c for c in row["children"]}
                if "build" in parts:
                    v[f"row.{q}.build_s"] = parts["build"]["s"]
                    v["catalog.build_s"] += parts["build"]["s"]
                    v["catalog.build_jobs"] += total(parts["build"], "spark.jobs")
                if "consume" in parts:
                    v[f"row.{q}.consume_s"] = parts["consume"]["s"]
                    v["catalog.consume_s"] += parts["consume"]["s"]
        for k in PLAN_COUNTS + SPARK_COUNTS:
            v[k] = total(pipe, k)
        v["spark.task_busy_share"] = total(pipe, "spark.task_run_s") / (
            p["wall_s"] * record["cores"])
        samples.append(v)
    out = {k: (median([s[k] for s in samples]), unit(k)) for k in layer_names()}
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced]) - median(
        [p["wall_s"] for p in passes if not p["traced"]]), "s")
    return out


def operator_rows(span):
    """Σ output rows per physical operator, over a span tree."""
    rows = dict(span["operators"])
    for c in span["children"]:
        for k, v in operator_rows(c).items():
            rows[k] = rows.get(k, 0) + v
    return rows


def plan_facts(record):
    """Plan-fact counts per catalog row, from the traced passes."""
    facts = {}
    for root in record["spans"]:
        for row in root["children"]:
            if row["name"].startswith("row."):
                f = {k: total(row, k) for k in PLAN_COUNTS + ["spark.jobs", "sql.executions"]}
                f["operator_rows"] = operator_rows(row)
                facts.setdefault(row["name"][4:], f)
    return facts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["tweets_e2e", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run stops its Spark process too (subprocess.run kills
    # the child on any exception) and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build.build()
    work = os.path.join(BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "out")
    common = ["--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--warmup", str(WARMUP[a.workload]),
              "--min-passes", str(1 if a.trace else MIN_PASSES[a.workload])]
    info = {"workload": a.workload, "seed": a.seed}
    t0 = time.time()
    try:
        if a.workload == "tweets_e2e":
            corpus = gen_tweets.Corpus(N_TWEETS, a.seed)
            path = os.path.join(work, "tweets.jsonl")
            gen_tweets.write(path, corpus)
            tweets = list(corpus.tweets())
            exp = gen_tweets.expected(tweets)
            info["corpus"] = exp["stats"]
            who = corpus.top_author()
            harness(cp, ["--workload", "tweets_e2e", "--input", path, "--neighbour", who,
                         *common], work)
            record = json.load(open(os.path.join(out, "record.json")))
            bad, reasons = check.tweets(record, out, tweets, exp, who)
            jc_edges = len(exp["jc"])
        else:
            rows = list(CATALOG_ROWS)
            random.Random(a.seed).shuffle(rows)
            info["rows"] = rows
            tdir = tables()
            harness(cp, ["--workload", "catalog", "--input", tdir, "--rows", ",".join(rows),
                         *common], work)
            record = json.load(open(os.path.join(out, "record.json")))
            bad, reasons = check.catalog(record, tdir, out)
            jc_edges = None
        passes = record["passes"]
        attempted = sum(len(p["ops"]) + len(p["failed"]) for p in passes)
        failed = sum(len(set(p["failed"]) | (set(p["ops"]) & bad)) for p in passes)
        info.update(passes=len(passes), wall_s=round(time.time() - t0, 3),
                    samples=sum(not p["traced"] for p in passes), wrong=sorted(reasons))
        if a.trace:
            metrics = per_layer(record, jc_edges)
            info["plan_facts"] = plan_facts(record)
        else:
            metrics = end_to_end(record, failed, attempted)
            plain = [p for p in passes if not p["traced"]]
            info["pass_s_samples"] = [p["wall_s"] for p in plain]
            info["heap_mb_samples"] = [p["heap_peak_mb"] for p in plain]
            info["op_s"] = {op: round(median([sum(p["ops"][op].values()) for p in plain
                                              if op in p["ops"]]), 4) for op in plain[0]["ops"]}
            info["session_s"] = record["session_s"]
            if a.workload == "tweets_e2e":
                info["tweets_per_s"] = N_TWEETS / metrics["pass_s"][0]
        print(json.dumps({"run": info}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
