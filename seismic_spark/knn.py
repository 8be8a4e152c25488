"""κ-NN graph over the indexed corpus: construction (Q8) + refinement (Q7).

Reference: ``Knn::new`` self-queries the index for every doc (k=nknn+1,
query_cut=10, heap_factor=0.7, drop self — inverted_index.rs:448-500) and
``Knn::refine`` re-scores each result's stored neighbors (551-593).

Spark shape: construction is ONE batch self-search job — the forward index
itself becomes the queries DataFrame (search.py takes queries as a DataFrame,
so query vectors travel as Arrow array columns through the plan; nothing is
ever collected to the driver).  This is the per-doc rayon loop of
inverted_index.rs:448-500 re-expressed as a join.  The graph persists as a
``knn(doc_id BIGINT, neighbors ARRAY<BIGINT>)`` table (S8); loading may
truncate neighbor lists (`nknn` param) like ``new_from_serialized``
(inverted_index.rs:502-540).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seismic_spark import search as srch


def build_knn(index, nknn: int = 10, batch_size: int | None = None,
              query_cut: int = 10, heap_factor: float = 0.7,
              two_phase: bool = False) -> DataFrame:
    """(doc_id, neighbors ARRAY<BIGINT>) — top-nknn neighbors per doc.

    Reference parity: self-queries with the doc's own vector, drops the doc
    itself, keeps nknn (inverted_index.rs:448-500; defaults 468-472).

    One distributed job: forward-as-queries ⋈ postings on term_id → block
    pruning → exact re-score ⋈ forward — no ``collect()``, no per-batch job
    loop, so it runs at corpus scale.  ``batch_size`` is accepted for
    backward compatibility and ignored (the old driver-batched path is gone).
    """
    spark = index.spark
    queries_df = index.forward.select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.col("terms").alias("q_terms"),
        F.col("weights").alias("q_weights"),
    ).filter(F.size("q_terms") > 0)
    rep = None if two_phase else index._in_process_replica()
    if rep is not None:
        # map-only self-search: broadcast the index's replica —
        # bit-identical to batch_search by test_serving's pinning — and run
        # every query against it inside ONE map stage over the forward scan:
        # no block-UB scan, no gap-blob exchange, no per-pair rows anywhere
        # (guide §8 taken to its end for size-gated corpora)
        res = _replica_self_search(
            index, rep, queries_df, nknn + 1, query_cut, heap_factor
        )
    else:
        res = srch.batch_search(
            spark, index.postings, index.forward, queries_df,
            k=nknn + 1, query_cut=query_cut, heap_factor=heap_factor,
            two_phase=two_phase, broadcast_queries=False,
        )
    # group on the STRING query_id so the aggregation reuses the top-k
    # window's hash(query_id) partitioning (no extra Exchange — guide §2.4);
    # the bigint cast is injective here (ids were produced by a bigint→string
    # cast) and moves after the agg, so groups and results are unchanged.
    return (
        res.filter(F.col("doc_id") != F.col("query_id").cast("bigint"))
        .groupBy("query_id")
        .agg(
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "doc_id"))),
                    lambda s: s["doc_id"],
                ),
                1,
                nknn,
            ).alias("neighbors")
        )
        .select(F.col("query_id").cast("bigint").alias("doc_id"), "neighbors")
    )


def _replica_self_search(
    index, rep, queries_df: DataFrame, k: int, query_cut: int,
    heap_factor: float,
) -> DataFrame:
    """Score every query row against a broadcast :class:`ServingReplica` in
    one map stage — (query_id, rank, doc_id, score), bitwise-identical to
    `search.batch_search` on the same index/params (the replica IS the
    pinned bit-identical twin of batch_search, tests/test_serving.py;
    `test_build_knn_replica_matches_join` pins this path against the join
    path on real data).

    Per-row duplicate/merge semantics match the engine's `_repair_qkey`
    batch-side repair: forward rows are duplicate-free and term-sorted by
    construction, and `merge_sorted_terms` is the identity on such rows —
    the merge only exists as belt-and-braces for non-forward callers.

    Cost model (why this wins): the replica's postings+forward arrays are
    ≈ the index's own bytes, shipped ONCE per executor via broadcast (a
    fixed set of flat numpy arrays, pickled as they are), while the prior
    path shipped every (query, term) pair's gap blob through an exchange
    and re-decoded it per task.  One narrow map over the forward scan is
    the entire search.
    """
    # one broadcast per index, reused by later builds and released by
    # unpersist_serving()
    if index._replica_bc is None:
        index._replica_bc = index.spark.sparkContext.broadcast(rep)
    bc = index._replica_bc

    def gen(it):
        import numpy as np
        import pandas as pd

        r = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            out_qid: list[str] = []
            out_rank: list[np.ndarray] = []
            out_doc: list[np.ndarray] = []
            out_score: list[np.ndarray] = []
            qids = pdf["query_id"].to_numpy()
            t_col = pdf["q_terms"].to_numpy()
            w_col = pdf["q_weights"].to_numpy()
            for i in range(len(pdf)):
                t = np.asarray(t_col[i], dtype=np.int64)
                if t.size == 0:
                    continue
                w = np.asarray(w_col[i], dtype=np.float64)
                qt, qw = srch.merge_sorted_terms(t, w)
                hit = r._search_resolved(
                    qt, qw, k, query_cut, heap_factor, False
                )
                if hit is None:
                    continue
                pos, sc = hit
                out_qid.extend([qids[i]] * pos.size)
                out_rank.append(np.arange(1, pos.size + 1, dtype=np.int32))
                out_doc.append(r.doc_ids[pos])
                out_score.append(sc)
            if out_qid:
                yield pd.DataFrame(
                    {
                        "query_id": out_qid,
                        "rank": np.concatenate(out_rank),
                        "doc_id": np.concatenate(out_doc),
                        "score": np.concatenate(out_score),
                    }
                )

    return queries_df.mapInPandas(
        gen, "query_id STRING, rank INT, doc_id BIGINT, score DOUBLE"
    )


def refine(results: DataFrame, knn: DataFrame, forward: DataFrame,
           qvecs: dict, k: int = 10, n_knn: int = 5) -> DataFrame:
    """Q7: expand current top-k with their stored neighbors, exact-rescore,
    re-rank.  One join to the knn table + one scoring pass; candidates are
    deduped ((query, doc) distinct — the `visited` set analogue)."""
    neigh_cands = (
        results.join(knn, "doc_id")
        .select("query_id", F.explode(F.slice("neighbors", 1, n_knn)).alias("doc_id"))
    )
    all_cands = results.select("query_id", "doc_id").unionByName(neigh_cands).distinct()
    scored = srch.exact_score(all_cands, forward, qvecs)
    return srch.topk(scored, k)


def save_knn(knn: DataFrame, path: str) -> None:
    """S8 sink."""
    knn.write.mode("overwrite").parquet(os.path.join(path, "knn"))


def load_knn(spark, path: str, nknn: int | None = None) -> DataFrame:
    """S8 load with optional neighbor-count truncation
    (inverted_index.rs:502-540)."""
    knn = spark.read.parquet(os.path.join(path, "knn"))
    if nknn is not None:
        knn = knn.select("doc_id", F.slice("neighbors", 1, nknn).alias("neighbors"))
    return knn
