"""Quality + efficiency metrics: Accuracy@k vs exact, skip rate, recall grid.

The reference's primary quality metric is Accuracy@k — the overlap of the
engine's top-k with the exact brute-force top-k, averaged over queries
(scripts/run_experiments.py:287-309, scripts/recall.py:17-33).  This module
re-exposes it for the Spark engine, together with the block skip-rate
counters (serving.ServingReplica.search_stats) that quantify what dynamic
pruning actually buys at a given (heap_factor, query_cut, config).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def accuracy_at_k(got, exact, k: int) -> float:
    """|got top-k ∩ exact top-k| / (n_queries · k) — run_experiments.py:287-309.

    Queries with fewer than k exact results contribute their exact count to
    the denominator (same as the reference: denominator is total exact
    result pairs, capped at k per query).  ``got`` and ``exact`` are both
    Spark DataFrames or both pandas frames (the serving replica's answers).
    """
    if isinstance(got, pd.DataFrame):
        g = got.loc[got["rank"] <= k, ["query_id", "doc_id"]]
        e = exact.loc[exact["rank"] <= k, ["query_id", "doc_id"]]
        n_exact = len(e)
        n_hit = len(g.merge(e, on=["query_id", "doc_id"]))
    else:
        g = got.filter(F.col("rank") <= k).select("query_id", "doc_id")
        e = exact.filter(F.col("rank") <= k).select("query_id", "doc_id")
        n_exact = e.count()
        n_hit = g.join(e, ["query_id", "doc_id"]).count() if n_exact else 0
    if n_exact == 0:
        return 1.0
    return round(n_hit / n_exact, 4)


def mrr_at_k(got: DataFrame, qrels: DataFrame, k: int = 10) -> float:
    """Mean reciprocal rank of the first relevant doc within the top-k —
    the reference's IR-metric harness analogue (scripts/run_experiments.py:
    242-284, via ir_measures).  ``qrels``: (query_id, doc_id) relevant pairs.
    Queries with no relevant doc retrieved contribute 0.
    """
    n_q = qrels.select("query_id").distinct().count()
    if n_q == 0:
        return 0.0
    first_hit = (
        got.filter(F.col("rank") <= k)
        .join(qrels, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.min("rank").alias("fr"))
    )
    s = first_hit.agg(F.sum(1.0 / F.col("fr"))).collect()[0][0] or 0.0
    return round(float(s) / n_q, 4)


def ndcg_at_k(got: DataFrame, qrels: DataFrame, k: int = 10) -> float:
    """nDCG@k with graded relevance — the third common ir_measures metric of
    the reference's harness (scripts/run_experiments.py:242-284) after
    Accuracy@k and MRR@k.  ``qrels``: (query_id, doc_id, rel DOUBLE).

    gain = (2^rel − 1) / log2(rank + 1); IDCG ranks each query's rels
    descending; queries with zero ideal gain contribute 0; the mean is over
    the distinct queries in ``qrels``.
    """
    from pyspark.sql import Window

    n_q = qrels.select("query_id").distinct().count()
    if n_q == 0:
        return 0.0
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(F.col("rank") + 1.0)
    dcg = (
        got.filter(F.col("rank") <= k)
        .join(qrels, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.sum(gain).alias("dcg"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    idcg = (
        qrels.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .groupBy("query_id")
        .agg(F.sum(gain).alias("idcg"))
    )
    per_q = idcg.join(dcg, "query_id", "left").select(
        F.when(
            F.col("idcg") > 0, F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg")
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg")
    )
    s = per_q.agg(F.sum("ndcg")).collect()[0][0] or 0.0
    return round(float(s) / n_q, 4)


def recall_grid(
    index,
    queries: list[tuple[str, list[str], list[float]]],
    k: int = 10,
    query_cut: int = 10,
    heap_factors: tuple[float, ...] = (1.0, 0.9, 0.8),
    two_phase: bool = False,
) -> list[dict]:
    """Accuracy@k + skip-rate for a heap_factor sweep against the exact
    brute-force ground truth — the Guidelines.md:41-70 tuning table analogue.

    Answers, ground truth and pruning counters all come from the index's
    serving replica (``batch_search``, ``bruteforce``, ``search_stats``),
    whose answers are bitwise those of the Spark formulations.

    Returns one dict per heap_factor:
      {hf, accuracy, blocks_matched, blocks_scanned, skip_rate, candidates}
    """
    rep = index.serving_replica()
    exact = rep.bruteforce(queries, k)
    rows = []
    for hf in heap_factors:
        kw = dict(k=k, query_cut=query_cut, heap_factor=hf, two_phase=two_phase)
        got = rep.batch_search(queries, **kw)
        rows.append(
            {"hf": hf, "accuracy": accuracy_at_k(got, exact, k),
             **rep.search_stats(queries, **kw)}
        )
    return rows
