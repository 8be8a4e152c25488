"""Accuracy@10 at the reference's PUBLISHED best-config operating point.

The reference's docs/Guidelines.md:41-70 names one parameterization as "a
highly effective index" and reports Accuracy@10 = 99% (vs exact search)
with it on its 8.8M-doc MSMARCO corpus:

    build:  n_postings=3000, centroid_fraction=0.2, min_cluster_size=2,
            summary_energy=0.5, max_fraction=6
            (the Python build's pruning is GlobalThreshold — n_postings is
            the AVERAGE per-token budget, max_fraction caps one list at
            n_postings*max_fraction, pylib/mod.rs:329-362,
            inverted_index.rs:353-386; blocking RandomKmeans, summaries
            EnergyPreserving, nearest-value quantization)
    search: k=10, query_cut=10, heap_factor=0.8, sorted=False

This harness runs the engine at EXACTLY that config on the 1M-doc synthetic
corpus (the scaling campaign's input table) and reports Accuracy@10 against
full-exact BM25 top-10 (brute-force full scan over the forward table — Q10,
exact by definition; the queries have <= 6 terms so query_cut=10 cuts
nothing).  Engine-chosen configs appear in the round-3 grids; this row
makes the parity claim direct at the reference's own operating point.

tests/test_refconfig_accuracy.py pins Accuracy@10 >= 0.95 at the same
config at test scale.

Canary protocol per BENCH/BASELINE.md: pre/post brackets; timings published
only with their readings (accuracy itself is timing-free).

Usage: python tools/bench_refconfig.py [--docs 1000000] [--vocab 100000]
       [--cores 16] [--queries 200] [--out /tmp/refconfig.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_scaling import DAEMON_ENV, MASTER, ensure_cluster, stop_cluster  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, "@REPO@")
from pyspark.sql import SparkSession, functions as F
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.sources.pages import synth_pages
from seismic_spark import search as srch
from bench import bench_queries

cores_max = @CORES@
n_docs = @NDOCS@
vocab_size = @VOCAB@
n_queries = @NQUERIES@
spark = (SparkSession.builder.appName("refconfig-%d" % cores_max)
    .master("@MASTER@")
    .config("spark.cores.max", str(cores_max))
    .config("spark.executor.cores", "2")
    .config("spark.executor.memory", "7g")
    .config("spark.executorEnv.PYTHONPATH", "@REPO@")
    .config("spark.locality.wait", "1s")
    .config("spark.sql.shuffle.partitions", "128")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

input_path = "/dev/shm/scaling-input-%d-%d" % (n_docs, vocab_size)
if not os.path.exists(os.path.join(input_path, "_SUCCESS")):
    pages = synth_pages(spark, n_docs, vocab_size=vocab_size, seed=42, partitions=64)
    pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    ).write.mode("overwrite").parquet(input_path)
docs = spark.read.parquet(input_path)

# --- the reference's published best config, verbatim -----------------------
t0 = time.time()
idx = SeismicSparkIndex.build(spark, docs, IndexConfig(
    n_postings=3000, max_fraction=6.0, pruning="global",
    blocking="kmeans", centroid_fraction=0.2, min_cluster_size=2,
    kmeans_doc_cut=15, summary_energy=0.5, quant_ceil=False,
))
idx.postings.count()
build_sec = round(time.time() - t0, 2)

terms = [r["term"] for r in idx.vocab.filter(F.col("df") > 5).select("term").collect()]
qs = bench_queries(terms, n=n_queries)

idx.batch_search(qs[:2], k=10).count()  # worker warmup, untimed

t0 = time.time()
approx = idx.batch_search(qs, k=10, query_cut=10, heap_factor=0.8,
                          two_phase=False).persist()
n_approx = approx.count()
search_sec = round(time.time() - t0, 2)

# --- exact ground truth: full-scan brute force over the forward table ------
# (exact BM25 by definition — Q10; an UNPRUNED 1M index would serve too but
# its stopword posting lists make the oracle build far costlier than the
# oracle query.  The queries have <= 6 terms so query_cut=10 cuts nothing.)
t0 = time.time()
qvecs = srch.resolve_queries(spark, qs, idx.vocab)
exact = srch.bruteforce_search(spark, idx.forward, qvecs, k=10).persist()
n_exact = exact.count()
exact_sec = round(time.time() - t0, 2)
build_exact_sec = 0.0

inter = (approx.select("query_id", "doc_id")
    .join(exact.select("query_id", "doc_id"), ["query_id", "doc_id"])
    .groupBy("query_id").count())
per_q = exact.groupBy("query_id").agg(F.count("*").alias("n_ex"))
acc = (per_q.join(inter, "query_id", "left")
    .agg(F.avg(F.coalesce(F.col("count"), F.lit(0)) / F.col("n_ex")).alias("a"))
    .collect()[0]["a"])

stats = idx.serving_replica().search_stats(
    qs[:50], k=10, query_cut=10, heap_factor=0.8)

spark.stop()
print("RESULT " + json.dumps({
    "cores": cores_max, "docs": n_docs, "vocab": vocab_size,
    "config": {"n_postings": 3000, "max_fraction": 6.0, "pruning": "global",
               "blocking": "kmeans", "centroid_fraction": 0.2,
               "min_cluster_size": 2, "summary_energy": 0.5,
               "quant_ceil": False, "k": 10, "query_cut": 10,
               "heap_factor": 0.8, "two_phase": False},
    "accuracy_at_10": round(float(acc), 4),
    "n_queries": len(qs), "n_approx_rows": n_approx, "n_exact_rows": n_exact,
    "skip_rate_50q": stats["skip_rate"],
    "oracle": "bruteforce_forward_scan",
    "build_sec": build_sec, "build_exact_sec": build_exact_sec,
    "search_sec": search_sec, "search_exact_sec": exact_sec,
    "search_qps": round(len(qs) / search_sec, 2),
}))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1000000)
    ap.add_argument("--vocab", type=int, default=100000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--queries", type=int, default=200)
    ap.add_argument("--out", default="/tmp/refconfig.json")
    args = ap.parse_args()

    from canary import measure

    ensure_cluster(workers=8)
    pre = measure()["first_touch_mbps"]
    child = (
        CHILD.replace("@REPO@", REPO)
        .replace("@MASTER@", MASTER)
        .replace("@CORES@", str(args.cores))
        .replace("@NDOCS@", str(args.docs))
        .replace("@VOCAB@", str(args.vocab))
        .replace("@NQUERIES@", str(args.queries))
    )
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True, text=True,
        env={**os.environ, **DAEMON_ENV},
        timeout=3 * 3600,
    )
    wall = round(time.time() - t0, 1)
    post = measure()["first_touch_mbps"]
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith("RESULT ")), None
    )
    if line is None:
        with open("/tmp/refconfig_child_stdout.log", "w") as f:
            f.write(proc.stdout)
        with open("/tmp/refconfig_child_stderr.log", "w") as f:
            f.write(proc.stderr)
        print(proc.stdout[-3000:])
        print(proc.stderr[-3000:])
        raise SystemExit(
            "child produced no RESULT line (full logs: "
            "/tmp/refconfig_child_{stdout,stderr}.log)"
        )
    rec = json.loads(line[len("RESULT "):])
    rec.update(
        {
            "wall_sec": wall,
            "canary_pre_mbps": pre,
            "canary_post_mbps": post,
            "canary_valid": min(pre, post) >= 900.0,
        }
    )
    with open(args.out, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec))
    stop_cluster()


if __name__ == "__main__":
    main()
