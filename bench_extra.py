"""Round-6 optimization harness — isolated, labeled, plan-captured timings.

NOT the driver bench (bench.py is frozen): this file exists so optimization
work can time one operator at a time (guide §1.4 noop-sink methodology),
capture `.explain("formatted")` for the plans/r06/ deliverables, and count
jobs/stages via the status tracker, without touching the frozen harness.

Usage:
    python bench_extra.py [line ...]        # default: all lines
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py
    --explain-dir plans/r06 --tag before    # write <line>_<tag>.txt plans
    python bench_extra.py ungated [--reps 4]  # Spark paths, in-process gate off

Prints one JSON line per timed line: {"line": ..., "sec": ..., "jobs": N}.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class JobCounter:
    """Job/stage counts from the status tracker, by delta."""

    def __init__(self, sc):
        self.sc = sc
        self.t = sc.statusTracker()

    def snap(self):
        return len(self.t.getJobIdsForGroup(None) or [])

    def __enter__(self):
        self.start_jobs = self.sc._jsc.sc().dagScheduler().nextJobId()
        return self

    def __exit__(self, *a):
        self.end_jobs = self.sc._jsc.sc().dagScheduler().nextJobId()
        self.jobs = self.end_jobs - self.start_jobs


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    import numpy as np

    q1, med, q3 = np.percentile(np.asarray(xs, dtype=np.float64), [25, 50, 75])
    return float(q1), float(med), float(q3)


# θ arms of the ungated leg: search._DRIVER_THETA_MAX per arm, toggled on
# the module between runs ("driver_theta": the shipped routing, where
# two-phase dict batches derive θ on the driver; "inplan": 0 sends every
# batch to the in-plan derivation, so one-phase cells are an A/A pair)
UNGATED_ARMS = {"driver_theta": 1024, "inplan": 0}


def ungated(spark, docs, reps: int, batches=(10, 100, 400)) -> None:
    """The Spark search formulations with the in-process gate forced off.

    Builds the bench's unpruned (hf 1.0) and pruned kmeans e0.5 (hf 0.9)
    indexes and times ``idx.batch_search(...).collect()`` on
    ``bench_queries(n)`` for every batch size, one- and two-phase, k 10,
    cut 10.  Reps and arms interleave inside each cell (ABAB), so host
    drift hits every arm alike.  Prints one JSON line per run and one
    summary line per cell and arm (median and quartiles of the seconds,
    median jobs, and the digests of the answers, one when every run
    returned the same rows)."""
    import hashlib

    import seismic_spark.index as index_mod
    from bench import bench_queries
    from seismic_spark import search as srch
    from seismic_spark.index import SeismicSparkIndex
    from seismic_spark.postings import IndexConfig

    index_mod._LOCAL_SCORE_MAX_BYTES = 0  # every call answers with Spark
    sc = spark.sparkContext
    configs = {
        "unpruned": (IndexConfig(n_postings=10**6), 1.0),
        "pruned": (IndexConfig(
            n_postings=1000, pruning="fixed", blocking="kmeans",
            centroid_fraction=0.1, min_cluster_size=2, kmeans_doc_cut=15,
            summary_energy=0.5, quant_ceil=False,
        ), 0.9),
    }
    idxs = {}
    for name, (cfg, _hf) in configs.items():
        t0 = time.time()
        idxs[name] = SeismicSparkIndex.build(spark, docs, cfg)
        idxs[name].postings.count()
        print(json.dumps({"line": "ungated_build", "index": name,
                          "sec": round(time.time() - t0, 3)}), flush=True)
    terms = [r["term"] for r in idxs["unpruned"].vocab.select("term").collect()]
    qsets = {n: bench_queries(terms, n=n) for n in batches}

    def run(name: str, n: int, phase: int) -> dict:
        idx, hf = idxs[name], configs[name][1]
        with JobCounter(sc) as jc:
            t0 = time.time()
            rows = idx.batch_search(qsets[n], k=10, query_cut=10,
                                    heap_factor=hf,
                                    two_phase=phase == 2).collect()
            dt = time.time() - t0
        key = sorted((r["query_id"], r["rank"], r["doc_id"], repr(r["score"]))
                     for r in rows)
        digest = hashlib.sha1(repr(key).encode()).hexdigest()[:12]
        return {"sec": round(dt, 3), "jobs": jc.jobs, "digest": digest}

    for cap in UNGATED_ARMS.values():  # untimed warm-up, per arm
        srch._DRIVER_THETA_MAX = cap
        for name in idxs:
            for phase in (1, 2):
                run(name, min(batches), phase)

    cells = [(name, n, phase) for name in idxs for n in batches
             for phase in (1, 2)]
    runs: dict[tuple, list[dict]] = {}
    for rep in range(reps):
        for name, n, phase in cells:
            for arm, cap in UNGATED_ARMS.items():
                srch._DRIVER_THETA_MAX = cap
                r = run(name, n, phase)
                runs.setdefault((name, n, phase, arm), []).append(r)
                print(json.dumps({"line": "ungated", "index": name, "batch": n,
                                  "phase": phase, "arm": arm, "rep": rep, **r}),
                      flush=True)

    for (name, n, phase, arm), rs in runs.items():
        q1, med, q3 = _quartiles([r["sec"] for r in rs])
        jobs = sorted(r["jobs"] for r in rs)[len(rs) // 2]
        s = {"line": "ungated_cell", "index": name, "batch": n,
             "phase": phase, "arm": arm, "reps": len(rs),
             "median_s": round(med, 3), "q1_s": round(q1, 3),
             "q3_s": round(q3, 3), "jobs": jobs,
             "digests": sorted({r["digest"] for r in rs})}
        print(json.dumps(s), flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    explain_dir = None
    tag = "before"
    reps = 4
    args = []
    skip = False
    for i, a in enumerate(sys.argv[1:], 1):
        if skip:
            skip = False
            continue
        if a == "--explain-dir":
            explain_dir = sys.argv[i + 1]
            skip = True
        elif a == "--tag":
            tag = sys.argv[i + 1]
            skip = True
        elif a == "--reps":
            reps = int(sys.argv[i + 1])
            skip = True
        else:
            args.append(a)
    lines = set(args) if args else None

    def want(name: str) -> bool:
        return lines is None or name in lines

    from bench import bench_queries
    from seismic_spark.index import SeismicSparkIndex
    from seismic_spark.postings import IndexConfig
    from seismic_spark.session import get_spark

    spark = get_spark("seismic-bench-extra", cores=cores,
                      shuffle_partitions=max(32, cores))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    out: dict[str, dict] = {}

    def plan_of(df, name: str) -> None:
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(explain_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(txt)

    def timed(name: str, fn, df_for_plan=None):
        sc.setJobDescription(name)
        with JobCounter(sc) as jc:
            t0 = time.time()
            fn()
            dt = time.time() - t0
        sc.setJobDescription(None)
        out[name] = {"line": name, "sec": round(dt, 3), "jobs": jc.jobs}
        print(json.dumps(out[name]), flush=True)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n_docs = docs.count()

    # ---- ungated: the Spark formulations, in-process gate off ---------------
    # (its own line only: it lowers the gate for the rest of the process)
    if lines is not None and "ungated" in lines:
        ungated(spark, docs, reps)
        spark.stop()
        return

    # ---- build (headline, n_postings=10^6 ≈ unpruned) ----------------------
    idx = None
    if want("build") or want("search_exact") or want("bruteforce"):
        def f():
            nonlocal idx
            idx = SeismicSparkIndex.build(spark, docs, IndexConfig(n_postings=10**6))
            idx.postings.count()
        timed("build", f)
        plan_of(idx.postings, "build_postings")

    terms = None
    qs = None
    if idx is not None:
        terms = [r["term"] for r in idx.vocab.select("term").collect()]
        qs = bench_queries(terms, n=100)
        # warm
        idx.batch_search(qs[:2], k=10, query_cut=10, heap_factor=1.0).count()

    if want("search_exact") and idx is not None:
        res = idx.batch_search(qs, k=10, query_cut=10, heap_factor=1.0)
        plan_of(res, "search_exact")
        timed("search_exact", lambda: idx.batch_search(
            qs, k=10, query_cut=10, heap_factor=1.0).count())

    idx_pruned = None
    if want("build_pruned") or want("search_pruned") or want("search_2p") or want("replica"):
        def f():
            nonlocal idx_pruned
            idx_pruned = SeismicSparkIndex.build(
                spark, docs, IndexConfig(
                    n_postings=1000, pruning="fixed", blocking="kmeans",
                    centroid_fraction=0.1, min_cluster_size=2, kmeans_doc_cut=15,
                    summary_energy=0.5, quant_ceil=False,
                )
            )
            idx_pruned.postings.count()
        timed("build_pruned", f)
        if qs is None:
            terms = [r["term"] for r in idx_pruned.vocab.select("term").collect()]
            qs = bench_queries(terms, n=100)
            idx_pruned.batch_search(qs[:2], k=10, query_cut=10, heap_factor=1.0).count()

    if want("search_pruned") and idx_pruned is not None:
        timed("search_pruned", lambda: idx_pruned.batch_search(
            qs, k=10, query_cut=10, heap_factor=0.9, two_phase=False).count())

    if want("search_2p") and idx_pruned is not None:
        res = idx_pruned.batch_search(
            qs, k=10, query_cut=10, heap_factor=0.9, two_phase=True)
        plan_of(res, "search_2p")
        timed("search_2p", lambda: idx_pruned.batch_search(
            qs, k=10, query_cut=10, heap_factor=0.9, two_phase=True).count())

    if want("replica") and idx_pruned is not None:
        rep = None
        def f():
            nonlocal rep
            rep = idx_pruned.serving_replica()
        timed("hydrate_replica", f)
        timed("search_replica", lambda: rep.batch_search(
            qs, k=10, query_cut=10, heap_factor=0.9, two_phase=True))

    if want("bruteforce") and idx is not None:
        timed("bruteforce", lambda: idx.bruteforce(qs[:20], k=10).count())

    # ---- knn ----------------------------------------------------------------
    if want("knn") or want("build_knn_index"):
        from seismic_spark import knn as knn_mod

        idx_geo = None
        def f():
            nonlocal idx_geo
            idx_geo = SeismicSparkIndex.build(
                spark, docs, IndexConfig(n_postings=1000, pruning="fixed",
                                         summary_energy=0.8)
            )
            idx_geo.postings.count()
        timed("build_knn_index", f)

        if want("knn"):
            knn_df = knn_mod.build_knn(idx_geo, nknn=5, query_cut=10,
                                       heap_factor=0.6)
            plan_of(knn_df, "knn")

            def g():
                kdf = knn_mod.build_knn(idx_geo, nknn=5, query_cut=10,
                                        heap_factor=0.6)
                kdf = kdf.persist()
                kdf.count()
                kdf.unpersist()
            timed("knn", g)

    # ---- dedup / ann --------------------------------------------------------
    if want("dedup_lsh"):
        from seismic_spark.operators.dedup import (
            lsh_candidate_pairs, minhash_signatures,
        )
        full_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        res = lsh_candidate_pairs(minhash_signatures(full_docs, n_hashes=16))
        plan_of(res, "dedup_lsh")
        timed("dedup_lsh", lambda: lsh_candidate_pairs(
            minhash_signatures(full_docs, n_hashes=16)).count())

    if want("ann_cosine"):
        from seismic_spark.operators.ann import cosine_topk
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q_emb = emb.filter(F.col("vec_id") % 50 == 0)
        c_emb = emb.filter(F.col("vec_id") % 50 != 0)
        res = cosine_topk(q_emb, c_emb, k=5)
        plan_of(res, "ann_cosine")
        timed("ann_cosine", lambda: cosine_topk(q_emb, c_emb, k=5).count())

    total = round(sum(v["sec"] for v in out.values()), 3)
    print(json.dumps({"total": total, "n_docs": n_docs,
                      "lines": {k: v["sec"] for k, v in out.items()},
                      "jobs": {k: v["jobs"] for k, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
