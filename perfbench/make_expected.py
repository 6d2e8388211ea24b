#!/usr/bin/env python3
"""Writes perfbench/expected.json: the suite split and the expected result
fingerprint of every `SparkEntry.queries` key on perfbench/data/sf0.01.

    python3 perfbench/make_expected.py

Run it from the root of a checkout after a key is added or its oracle
changes. It takes a few minutes:
  1. dumps `SparkEntry.oracleSql` and `SparkEntry.minRows` (JVM);
  2. runs every key once and records the parquet files its plans scan, which
     decides its suite (documents/embeddings: corpus_suite, else olap_suite);
  3. runs each oracle in DuckDB on the same files and fingerprints the
     result with fingerprint.py (the normalization of
     tools/oracle_check.py).
Keys whose oracle fails in DuckDB keep a null fingerprint, which every run
reports as a failed check.
"""
import json
import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
from fingerprint import fingerprint  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# corpus_suite times one key per family of corpus keys, so each family's
# operator code runs in every run; together they take about 12 s a pass.
# corpus_semantic_adc builds the shared corpus-index state on first use, so
# set-up includes that build.
CORPUS_SAMPLE = {
    "dedup": "dedup_clusters",                 # MinHash LSH + star clustering
    "text/LM": "bm25_search",                  # BM25 index + scoring
    "classifier": "quality_classifier_score",  # classifier training + scoring
    "quantizer training": "ann_ivf_trained_topk",  # k-means IVF training
    "graph navigation": "ann_graph_search",    # beam navigation over a kNN graph
    "corpus index": "corpus_semantic_adc",     # ADC serving over the corpus index
}
# olap_suite (run by hand) times every STRIDE-th key in name order among the
# keys that took at most MAX_SPLIT_S in the split run.
STRIDE = 16
MAX_SPLIT_S = 3.0


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "make_expected")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    far = time.monotonic() + 3600
    run.java(cp, work, ["--mode", "oracles", "--out", os.path.join(work, "oracles.json")], far)
    run.java(cp, work, ["--mode", "split", "--data", run.SUITE_DATA, "--work", work,
                        "--cpus", len(os.sched_getaffinity(0)),
                        "--out", os.path.join(work, "split.json")], far)
    with open(os.path.join(work, "oracles.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(work, "split.json")) as fh:
        split = json.load(fh)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.SUITE_DATA}/{t}.parquet')")
    keys = {}
    for k in sorted(split):
        sql = oracles["oracle_sql"].get(k)
        fp, rows = None, None
        if sql is not None:
            try:
                fp, rows = fingerprint(con.execute(sql).fetchdf())
            except Exception as e:  # recorded, and failed by every run
                print(f"[oracle-fail] {k}: {e}", file=sys.stderr)
        keys[k] = {"suite": split[k]["suite"], "tables": split[k]["tables"],
                   "fingerprint": fp, "rows": rows, "min_rows": oracles["min_rows"][k],
                   "split_s": round(split[k]["seconds"], 3), "split_jobs": split[k]["jobs"],
                   "corpus_index": split[k]["corpus_index"]}
    olap = sorted(k for k, v in keys.items() if v["suite"] == "olap_suite" and v["split_s"] <= MAX_SPLIT_S)
    timed = set(olap[::STRIDE]) | set(CORPUS_SAMPLE.values())
    for k, v in keys.items():
        v["timed"] = k in timed
    wrong = [k for k in CORPUS_SAMPLE.values() if keys[k]["suite"] != "corpus_suite"]
    if wrong:
        raise SystemExit(f"corpus sample keys outside corpus_suite: {wrong}")
    suites = ("olap_suite", "corpus_suite")
    counts = {s: sum(v["suite"] == s for v in keys.values()) for s in suites}
    timed = {s: sum(v["suite"] == s and v["timed"] for v in keys.values()) for s in suites}
    with open(run.EXPECTED, "w") as fh:
        json.dump({"data": os.path.relpath(run.SUITE_DATA, run.ROOT), "counts": counts,
                   "timed": timed, "keys": keys}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"split {counts}, timed {timed}; wrote {run.EXPECTED}")


if __name__ == "__main__":
    main()
