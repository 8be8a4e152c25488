"""Round-6 optimization closures — each restructure pinned against the
formulation it replaced (results must be identical, not just close):

- the DataFrame-query path (search._fused_candidates, one-phase and
  two-phase) vs the serving replica's kernel;
- narrow per-row cut_terms vs the explode → groupBy → window formulation;
- topk_per_term's adaptive first-level skip (output-invariant by
  construction — asserted on data where the condition flips it off);
- single-aggregate minhash vs the stacked explode formulation.
"""

import os

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from seismic_spark import search as srch
from seismic_spark.index import IndexConfig, SeismicSparkIndex
from seismic_spark.sources.pages import synth_pages


@pytest.fixture(scope="module")
def idx(spark):
    pages = synth_pages(spark, 300, vocab_size=500, seed=7)
    corpus = pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    return SeismicSparkIndex.build(
        spark, corpus,
        IndexConfig(n_postings=50, summary_energy=0.8, blocking="geometric"),
    )


def _rows(df):
    return sorted((r.query_id, r.rank, r.doc_id, r.score) for r in df.collect())


def test_fused_tail_matches_windowed_tail(spark, idx):
    """DataFrame-path batch_search (broadcast off, as κ-NN runs it) == the
    serving replica's kernel on the same rows, exact floats, on a
    self-search batch with hf < 1 (knife-edge skips), in both phases."""
    qdf = idx.forward.select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.col("terms").alias("q_terms"),
        F.col("weights").alias("q_weights"),
    ).filter(F.size("q_terms") > 0).limit(80).persist()
    k, qc, hf = 5, 6, 0.7
    rep = idx.serving_replica()
    for two_phase in (False, True):
        fused = srch.batch_search(
            spark, idx.postings, idx.forward, qdf, k=k, query_cut=qc,
            heap_factor=hf, two_phase=two_phase, broadcast_queries=False,
        )
        want = []
        for r in qdf.collect():
            qt, qw = srch.merge_sorted_terms(r["q_terms"], r["q_weights"])
            hit = rep._search_resolved(qt, qw, k, qc, hf, two_phase)
            if hit is not None:
                want += [
                    (r["query_id"], i + 1, int(rep.doc_ids[p]), float(sc))
                    for i, (p, sc) in enumerate(zip(*hit))
                ]
        assert _rows(fused) == sorted(want)
        assert want
    qdf.unpersist()


def test_cut_terms_matches_windowed_formulation(spark, idx):
    """Narrow mapInArrow cut == explode→groupBy→window on duplicate-free
    queries (exact floats), and pinned-merge semantics on duplicates."""
    qdf = idx.forward.select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.col("terms").alias("q_terms"),
        F.col("weights").alias("q_weights"),
    ).filter(F.size("q_terms") > 2).limit(40)
    qc = 4
    new = srch.cut_terms(qdf, qc)

    ex = (
        qdf.select(
            "query_id", F.explode(F.arrays_zip("q_terms", "q_weights")).alias("z")
        )
        .select(
            "query_id",
            F.col("z.q_terms").alias("term_id"),
            F.col("z.q_weights").alias("qw"),
        )
        .groupBy("query_id", "term_id")
        .agg(F.sum("qw").alias("qw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qw").desc(), F.col("term_id").asc()
    )
    old = (
        ex.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= qc)
        .drop("_r")
    )
    key = lambda df: sorted(
        (r.query_id, r.term_id, r.qw) for r in df.collect()
    )
    assert key(new) == key(old)

    # duplicate term in one row: merged through the pinned order
    dup = spark.createDataFrame(
        [("qd", [7, 7, 7, 9], [0.3, 0.1, 0.2, 1.0])], srch.QUERIES_SCHEMA
    )
    got = {
        (r.term_id): r.qw for r in srch.cut_terms(dup, 5).collect()
    }
    t, wgt = srch.merge_sorted_terms(
        np.array([7, 7, 7, 9]), np.array([0.3, 0.1, 0.2, 1.0])
    )
    assert got[7] == wgt[0] and got[9] == wgt[1]


def test_topk_per_term_level1_skip_is_output_invariant(spark, idx):
    """max_group high enough to disable level 1 → identical pruning output."""
    from seismic_spark import postings as pst

    dtw = idx.forward.select(
        "doc_id", F.explode(F.arrays_zip("terms", "weights")).alias("z")
    ).select(
        "doc_id",
        F.col("z.terms").alias("term_id"),
        F.col("z.weights").alias("weight"),
    )
    both = pst.topk_per_term(dtw, 10, salt_buckets=8)  # level 1 active
    skip = pst.topk_per_term(dtw, 10, salt_buckets=8, max_group=1)  # skipped
    key = lambda df: sorted(
        (r.doc_id, r.term_id, r.weight, r.rank) for r in df.collect()
    )
    assert key(both) == key(skip)


def test_minhash_matches_stacked_formulation(spark):
    from seismic_spark.functions.hashing import affine_hash, hash_params, md5_int
    from seismic_spark.operators.dedup import minhash_signatures, shingles

    pages = synth_pages(spark, 60, vocab_size=300, seed=11)
    docs = pages.select(
        F.abs(F.xxhash64("url")).alias("doc_id"), "text"
    )
    new = minhash_signatures(docs, n_hashes=8)

    sh = shingles(docs, 3).withColumn("_h", md5_int(F.col("shingle")))
    cols = [
        F.struct(F.lit(i).alias("sig_idx"), affine_hash(F.col("_h"), a, b).alias("hv"))
        for i, (a, b) in enumerate(hash_params(8, 42))
    ]
    stacked = sh.select("doc_id", F.explode(F.array(*cols)).alias("s")).select(
        "doc_id", F.col("s.sig_idx").alias("sig_idx"), F.col("s.hv").alias("hv")
    )
    old = stacked.groupBy("doc_id", "sig_idx").agg(F.min("hv").alias("minhash"))
    key = lambda df: sorted(
        (r.doc_id, r.sig_idx, r.minhash) for r in df.collect()
    )
    assert key(new) == key(old)


@pytest.mark.parametrize("two_phase", [False, True])
def test_build_knn_replica_matches_join(spark, idx, monkeypatch, two_phase):
    """The map-only replica self-search path (default under the in-process
    gate, both phases) == the ungated join path — identical graphs on real
    data."""
    from seismic_spark import index as index_mod
    from seismic_spark import knn as knn_mod

    key = lambda df: sorted(
        (r.doc_id, tuple(r.neighbors)) for r in df.collect()
    )
    kw = dict(nknn=4, query_cut=6, heap_factor=0.7, two_phase=two_phase)
    g_rep = key(knn_mod.build_knn(idx, **kw))
    assert idx._replica_bc is not None  # the replica path did run
    monkeypatch.setattr(index_mod, "_LOCAL_SCORE_MAX_BYTES", 0)
    assert idx._in_process_replica() is None
    g_join = key(knn_mod.build_knn(idx, **kw))
    assert g_rep == g_join
    assert len(g_rep) > 0


def test_serving_replica_pickle_roundtrip(spark, idx):
    """Default pickling of ServingReplica (the κ-NN broadcast) preserves
    every array exactly and the query path bitwise; the replica holds no
    per-term objects, only a fixed set of flat arrays.  The query-weight
    LUT is scratch: a freshly hydrated replica has none, and a pickle never
    carries one."""
    import pickle

    from seismic_spark.serving import ServingReplica

    rep = ServingReplica.from_index(idx)
    assert rep._qw_lut is None and rep._lut_dim > 0
    # the non-array state is the vocab, the config and the LUT's size, so
    # the attribute set is the same whatever the vocabulary's size
    assert {n for n, v in vars(rep).items()
            if not isinstance(v, np.ndarray)} == {
        "vocab", "config", "_lut_dim", "_qw_lut",
    }
    rep2 = pickle.loads(pickle.dumps(rep))
    assert vars(rep).keys() == vars(rep2).keys()
    for name, v in vars(rep).items():
        v2 = getattr(rep2, name)
        if isinstance(v, np.ndarray):
            assert v.dtype == v2.dtype and np.array_equal(v, v2), name
        else:
            assert v == v2, name
    terms = list(rep.vocab)[:4]
    qs = [("a", terms, [1.0 + i for i in range(len(terms))])]
    r1 = rep.batch_search(qs, k=5, query_cut=4, heap_factor=0.8)
    assert rep._qw_lut is not None and not rep._qw_lut.any()
    rep3 = pickle.loads(pickle.dumps(rep))  # after a query: still no LUT
    assert rep3._qw_lut is None
    r2 = rep2.batch_search(qs, k=5, query_cut=4, heap_factor=0.8)
    r3 = rep3.batch_search(qs, k=5, query_cut=4, heap_factor=0.8)
    assert len(r1) and r1.equals(r2) and r1.equals(r3)


def test_resolve_queries_cached_matches_join(spark, idx):
    """Driver-side vocab-map resolution (per-instance cache) == the join
    formulation — exact floats, including duplicate tokens, unknown tokens,
    repeated query ids, and the overflow fallback."""
    terms = [r["term"] for r in idx.vocab.select("term").limit(6).collect()]
    qs = [
        ("q1", [terms[0], terms[1], terms[0]], [1.5, 2.0, 0.25]),  # dup token
        ("q2", ["zz-not-a-term", terms[2]], [9.9, 1.0]),           # unknown
        ("q3", ["zz-not-a-term"], [1.0]),                          # all-unknown
        ("q1", [terms[3]], [0.5]),                                 # repeated qid
    ]
    cache: dict = {}
    with_cache = srch.resolve_queries(spark, qs, idx.vocab, cache=cache)
    assert "vocab_map" in cache
    join_path = srch.resolve_queries(spark, qs, idx.vocab)
    assert set(with_cache) == set(join_path)
    for q in with_cache:
        assert np.array_equal(with_cache[q][0], join_path[q][0])
        assert np.array_equal(with_cache[q][1], join_path[q][1])
    # overflow gate: cap 0 forces the join path and remembers the overflow
    old = os.environ.get("SEISMIC_VOCAB_MAP_MAX_TERMS")
    try:
        cap0 = {}
        orig = srch._VOCAB_MAP_MAX_TERMS
        srch._VOCAB_MAP_MAX_TERMS = 1
        over = srch.resolve_queries(spark, qs, idx.vocab, cache=cap0)
        assert cap0.get("vocab_map_overflow") and "vocab_map" not in cap0
        for q in over:
            assert np.array_equal(over[q][0], join_path[q][0])
            assert np.array_equal(over[q][1], join_path[q][1])
    finally:
        srch._VOCAB_MAP_MAX_TERMS = orig
        if old is not None:
            os.environ["SEISMIC_VOCAB_MAP_MAX_TERMS"] = old
