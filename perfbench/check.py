"""Output checks for the benchmark workloads.

Each check returns the set of operation names whose output is wrong, and
a list of human-readable reasons.

- Catalog rows: the rows of the first timed pass must equal the DuckDB
  oracle's rows for the same SQL (column names, row count and every value,
  compared order-independently), and every pass must hash the same.
- Tweet pipeline: the outputs of the first timed pass must equal what the
  corpus generator says they are (retweet weights, user-tag edges,
  Jaccard edges, the per-user report, the 2-hop neighbourhood, the
  cleaned word-cloud text), and every pass must write the same rows.
"""
import csv
import glob
import hashlib
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
TWEET_OUTPUTS = {
    "wordcloud": ["wordCloud"],
    "full_graph": ["gFull/g.edges.csv", "gFull/g.vertices.csv"],
    "report": ["exportPowerBI"],
    "neighbours": ["id_neighbours_{id}/id.edges.csv", "id_neighbours_{id}/id.vertices.csv"],
}


def _canon(v):
    return repr(v) if isinstance(v, float) else str(v)


def _frame(con, sql):
    rel = con.sql(sql)
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_canon(r[i]) for i in order) for r in rel.fetchall())
    return sorted(cols), rows


def cross_pass(passes, hashes_of):
    """Operations whose output differs between passes."""
    bad, reasons = set(), []
    ref = hashes_of(passes[0])
    for p in passes[1:]:
        for op, h in hashes_of(p).items():
            if op in ref and h != ref[op]:
                bad.add(op)
                reasons.append(f"{op}: output of {p['dir']} differs from {passes[0]['dir']}")
    return bad, reasons


def catalog(record, tables_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    passes = record["passes"]
    bad, reasons = cross_pass(passes, lambda p: p["hashes"])
    ref_dir = os.path.join(out_dir, passes[0]["dir"])
    for name, sql in record["oracle_sql"].items():
        if name in passes[0]["failed"]:
            continue
        try:
            want = _frame(con, sql)
            got = _frame(con, f"SELECT * FROM '{ref_dir}/{name}/*.parquet'")
        except Exception as e:  # noqa: BLE001 - any failure is a wrong output
            bad.add(name)
            reasons.append(f"{name}: {e}")
            continue
        if want != got:
            bad.add(name)
            reasons.append(f"{name}: differs from the oracle "
                           f"({len(want[1])} oracle rows, {len(got[1])} rows)")
    return bad, reasons


def csv_rows(path, sep=","):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.csv"))):
        with open(f, newline="", encoding="utf-8") as fh:
            r = list(csv.reader(fh, delimiter=sep))
            rows += r[1:]
    return rows


def _digest(paths, sep):
    lines = sorted(sep.join(r) for p in paths for r in csv_rows(p, sep))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def tweet_hashes(out_dir, neighbour):
    def hashes(p):
        base = os.path.join(out_dir, p["dir"])
        return {op: _digest([os.path.join(base, d.format(id=neighbour)) for d in dirs],
                            ";" if op == "report" else ",")
                for op, dirs in TWEET_OUTPUTS.items()}
    return hashes


def clean(text):
    """The word-cloud cleaner: lower-case, keep runs of letters."""
    return " ".join(re.findall(r"[^\W\d_]+", text.lower()))


def tweets(record, out_dir, corpus, exp, neighbour):
    passes = record["passes"]
    bad, reasons = cross_pass(passes, tweet_hashes(out_dir, neighbour))
    base = os.path.join(out_dir, passes[0]["dir"])

    def expect(op, ok, why):
        if not ok:
            bad.add(op)
            reasons.append(f"{op}: {why}")

    edges = {}
    for (s, d), w in exp["rt"].items():
        edges[(s, d, "RT")] = float(w)
    for (u, t) in exp["ht"]:
        edges[(u, t, "HT")] = 1.0
    for (a, b), w in exp["jc"].items():
        edges[(a, b, "JC")] = w
    got = {(s, d, t): float(w) for s, d, w, t in csv_rows(f"{base}/gFull/g.edges.csv")}
    rt_sum = sum(w for (_, _, t), w in got.items() if t == "RT")
    expect("full_graph", rt_sum == exp["stats"]["retweets"],
           f"RT weights sum to {rt_sum}, {exp['stats']['retweets']} retweets generated")
    for kind in ("RT", "HT", "JC"):
        g = {k: v for k, v in got.items() if k[2] == kind}
        e = {k: v for k, v in edges.items() if k[2] == kind}
        expect("full_graph", g == e, f"{kind} edges: {len(g)} written, {len(e)} expected")
    verts = {r[0] for r in csv_rows(f"{base}/gFull/g.vertices.csv")}
    expect("full_graph", verts == {v for s, d, _ in edges for v in (s, d)}, "vertex set")

    one_hop = [k for k in edges if neighbour in (k[0], k[1])]
    frontier = {d for s, d, t in one_hop if t != "HT"} | {neighbour}
    two_hop = {k: w for k, w in edges.items() if k[0] in frontier or k[1] in frontier}
    nb = f"{base}/id_neighbours_{neighbour}"
    got_nb = {(s, d, t): float(w) for s, d, w, t in csv_rows(f"{nb}/id.edges.csv")}
    expect("neighbours", got_nb == two_hop,
           f"{len(got_nb)} 2-hop edges written, {len(two_hop)} expected")

    def arr(xs):
        return "[" + ",".join(sorted(xs)) + "]"
    report = {}
    for u, tags in exp["user_tags"].items():
        rt_to = {d for (s, d) in exp["rt"] if s == u}
        rt_from = {s for (s, d) in exp["rt"] if d == u}
        peers = {b for (a, b) in exp["jc"] if a == u} | {a for (a, b) in exp["jc"] if b == u}
        report[u] = [u, arr(tags), arr(rt_to), arr(rt_from), arr(peers)]
    got_rep = {r[0]: r for r in csv_rows(f"{base}/exportPowerBI", ";")}
    expect("report", got_rep == report, f"{len(got_rep)} report rows, {len(report)} expected")

    words = sorted(clean(t["retweeted_status"]["text"] if t["retweeted_status"] else t["text"])
                   for t in corpus)
    got_words = sorted(r[0] if r else "" for r in csv_rows(f"{base}/wordCloud"))
    expect("wordcloud", got_words == words, f"{len(got_words)} cleaned texts, {len(words)} tweets")
    return bad, reasons
