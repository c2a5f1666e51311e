#!/usr/bin/env python3
"""One-shot scale record of the tweet pipeline, layer by layer.

    python3 perfbench/scale.py [sizes...]   (default: 10000 30000 100000)

For each corpus size, generates the `tweets_e2e` corpus (seed 1), runs one
traced harness pass and records each layer's self time, the Jaccard
self-join's candidate pairs and the corpus facts. A size at or above
CEILING_TWEETS is not run: its corpus facts are recorded with the reason.
Writes `perfbench/scale_tweets.json`. Not part of the repeated benchmark.
"""
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen_tweets  # noqa: E402
import run  # noqa: E402

CEILING_TWEETS = 1000000
CEILING_NOTE = ("not timed: a full run on a 1M-tweet corpus has been reported not to finish "
                "within 10 minutes on 4 cores; only the corpus facts are recorded")
SEED = 1


def one(cp, n, work):
    corpus = gen_tweets.Corpus(n, SEED)
    stats = gen_tweets.stats(corpus.tweets())
    if n >= CEILING_TWEETS:
        return {"corpus": stats, "status": CEILING_NOTE}
    path = os.path.join(work, "tweets.jsonl")
    gen_tweets.write(path, corpus)
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    cmd = ["java", *run.ADD_OPENS, "-Xms4g", "-Xmx4g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", cp, "perfbench.Harness",
           "--workload", "tweets_e2e", "--input", path, "--out", out,
           "--neighbour", corpus.top_author(), "--seconds", "0", "--trace", "1",
           "--min-passes", "1"]
    t0 = time.time()
    with open(os.path.join(work, "harness.log"), "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True, timeout=3600)
    record = json.load(open(os.path.join(out, "record.json")))
    edges = check.csv_rows(os.path.join(out, record["passes"][0]["dir"], "gFull/g.edges.csv"))
    layers = run.per_layer(record, sum(e[3] == "JC" for e in edges))
    keep = [m for m in run.layer_names() if not m.startswith(("row.", "catalog."))]
    return {"corpus": stats, "wall_s": round(time.time() - t0, 1),
            "setup_s": record["setup_s"],
            "pass_s": [p["wall_s"] for p in record["passes"]],
            "layers": {m: layers[m][0] for m in keep}}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sizes = [int(a) for a in sys.argv[1:]] or [10000, 30000, 100000, CEILING_TWEETS]
    cp = build.build()
    work = os.path.join(run.BUILD_DIR, "scale")
    result = {"host": {"cores": os.cpu_count(), "machine": platform.machine()},
              "seed": SEED, "sizes": {}}
    for n in sizes:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        result["sizes"][str(n)] = one(cp, n, work)
        print(n, json.dumps(result["sizes"][str(n)]), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "scale_tweets.json"), "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
