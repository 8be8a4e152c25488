"""Does dynamic pruning WIN at 1M docs?  (VERDICT r2 top item.)

Round-2 never showed pruned search beating exact at any benched scale —
the sf0.1 bench config (geometric blocking, energy=0.8) skipped only 3.5-4%
of blocks.  This harness measures the estimate-summary serving config the
reference actually uses (kmeans blocking + energy truncation,
Guidelines.md:41-70) against the exact-contract config on the SAME corpus:

  exact   n_postings=1000, geometric, summary_energy=1.0, ceil, hf=1.0
          (proven exact-BM25-identical by the contract tests)
  pruned  n_postings=1000, kmeans blocking, summary_energy=0.5,
          hf ∈ {1.0, 0.9, 0.8} × two_phase ∈ {off, on}

Reported per config: median QPS over `--reps` 1000-query batches,
Accuracy@10 vs the exact config's results (ground truth: the bench queries
have ≤7 terms < query_cut, so the exact config IS full exact BM25), and the
block skip rate (ServingReplica.search_stats) on a 100-query sample.

Usage: python tools/bench_pruning_1m.py [--docs 1000000] [--vocab 100000]
       [--cores 16] [--reps 3]
Input is cached at /dev/shm/scaling-input-<docs>-<vocab> (shared with
tools/bench_scaling.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vocab", type=int, default=100_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--queries", type=int, default=1000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bench import bench_queries
    from seismic_spark.checkpoint import CheckpointedBuild
    from seismic_spark.metrics import accuracy_at_k
    from seismic_spark.postings import IndexConfig
    from seismic_spark.session import get_spark
    from seismic_spark.sources.pages import synth_pages

    spark = get_spark(
        "bench-pruning", cores=args.cores, shuffle_partitions=128
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")

    input_path = f"/dev/shm/scaling-input-{args.docs}-{args.vocab}"
    if not os.path.exists(os.path.join(input_path, "_SUCCESS")):
        pages = synth_pages(
            spark, args.docs, vocab_size=args.vocab, seed=42, partitions=64
        )
        pages.select("url", "text").withColumn(
            "doc_id", F.abs(F.xxhash64("url"))
        ).write.mode("overwrite").parquet(input_path)
    docs = spark.read.parquet(input_path)

    configs = {
        "exact": IndexConfig(
            n_postings=1000, pruning="fixed", summary_energy=1.0, quant_ceil=True
        ),
        "kmeans_e05": IndexConfig(
            n_postings=1000, pruning="fixed", blocking="kmeans",
            centroid_fraction=0.1, min_cluster_size=2, kmeans_doc_cut=15,
            summary_energy=0.5, quant_ceil=False,
        ),
    }
    idx = {}
    build_secs = {}
    for name, cfg in configs.items():
        ckpt = f"/dev/shm/bench-pruning-{name}-{args.docs}"
        t0 = time.time()
        idx[name] = CheckpointedBuild(
            spark, ckpt, resume=True, lineage_detail="light"
        ).build(docs, cfg)
        build_secs[name] = round(time.time() - t0, 1)
        print(f"# build {name}: {build_secs[name]} s", flush=True)

    terms = [
        r["term"]
        for r in idx["exact"].vocab.filter(F.col("df") > 5).select("term").collect()
    ]
    qs = bench_queries(terms, n=args.queries)
    qs_acc = qs[:100]

    # ground truth: exact config @ hf=1.0 (== exact BM25 for these queries)
    exact_truth = idx["exact"].batch_search(
        qs_acc, k=10, query_cut=10, heap_factor=1.0, two_phase=False
    ).persist()
    exact_truth.count()

    def timed_qps(index, hf, tp):
        secs = []
        for _ in range(args.reps):
            t0 = time.time()
            index.batch_search(
                qs, k=10, query_cut=10, heap_factor=hf, two_phase=tp
            ).count()
            secs.append(round(time.time() - t0, 2))
        med = sorted(secs)[len(secs) // 2]
        return {"secs": secs, "sec_median": med,
                "qps": round(len(qs) / med, 1)}

    results = {}
    runs = [("exact", 1.0, False)] + [
        ("kmeans_e05", hf, tp) for hf in (1.0, 0.9, 0.8) for tp in (False, True)
    ]
    # warmup (Python workers / JIT)
    idx["exact"].batch_search(qs[:2], k=10).count()
    for name, hf, tp in runs:
        key = f"{name}_hf{hf}" + ("_2p" if tp else "")
        r = timed_qps(idx[name], hf, tp)
        got = idx[name].batch_search(
            qs_acc, k=10, query_cut=10, heap_factor=hf, two_phase=tp
        )
        r["accuracy_at_10"] = accuracy_at_k(got, exact_truth, 10)
        r["stats"] = idx[name].serving_replica().search_stats(
            qs_acc, k=10, query_cut=10, heap_factor=hf, two_phase=tp,
        )
        results[key] = r
        print(f"# {key}: {json.dumps(r)}", flush=True)

    print(json.dumps({
        "n_docs": args.docs, "vocab": args.vocab, "cores": args.cores,
        "n_queries": len(qs), "builds_sec": build_secs, "results": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
