"""The Spark formulation of pruned top-k (search.batch_search: fused
θ/decode operator, one exact-score pass, the two-phase filter) must be
RESULT-IDENTICAL to the serving replica — same survivors, bitwise-equal
scores, same ranks — across exact and estimate-summary configs, both
phases, and edge cases (unknown terms, k larger than the matches, empty
batches, a query whose two-phase θ skips every block).

Any semantic divergence is a bug, so scores are compared with == (not
approx)."""

import numpy as np
import pytest

from seismic_spark import search as srch
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.sources.pages import synth_pages, synth_queries
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synth_pages(spark, 300, vocab_size=600, seed=11).persist()
    return pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )


@pytest.fixture(scope="module")
def idx_exact(spark, corpus):
    return SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=10**6, summary_energy=1.0)
    )


@pytest.fixture(scope="module")
def idx_est(spark, corpus):
    return SeismicSparkIndex.build(
        spark,
        corpus,
        IndexConfig(n_postings=20, summary_energy=0.5, blocking="geometric"),
    )


def _key(rows):
    return sorted(
        (r.query_id, int(r.rank), int(r.doc_id), float(r.score)) for r in rows
    )


def _paths(spark, idx, queries, **kw):
    """(Spark rows, replica rows) for one batch on one index."""
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)
    spark_rows = _key(srch.batch_search(
        spark, idx.postings, idx.forward, qvecs, **kw
    ).collect())
    rep = idx.serving_replica().batch_search(queries, **kw)
    return spark_rows, _key(rep.itertuples(index=False))


@pytest.mark.parametrize(
    "which,hf,qc,tp",
    [
        ("exact", 1.0, 50, False),
        ("exact", 1.0, 50, True),
        ("est", 0.8, 5, False),
        ("est", 0.8, 5, True),
        ("est", 0.9, 10, True),
    ],
)
def test_fast_path_identical(spark, idx_exact, idx_est, which, hf, qc, tp):
    idx = idx_exact if which == "exact" else idx_est
    queries = synth_queries(600, n_queries=10, seed=5)
    got, rep = _paths(
        spark, idx, queries, k=10, query_cut=qc, heap_factor=hf, two_phase=tp,
    )
    assert got == rep
    assert len(got) > 0


def test_fast_path_k_exceeds_matches(spark, idx_est):
    queries = synth_queries(600, n_queries=4, seed=9)
    got, rep = _paths(
        spark, idx_est, queries, k=500, query_cut=8, heap_factor=0.8,
        two_phase=True,
    )
    assert got == rep and got


def test_two_phase_theta_above_every_block(spark, idx_est):
    """The case where phase 1's θ lies above hf·ub of every block, the
    phase-1 best blocks included, so two-phase keeps no candidate — exactly
    where the fused p1/dub filter could diverge from the replica's block
    skip.  Known behavior, kept here on purpose: two-phase answers nothing
    although one-phase finds 5 docs (the reference keeps phase-1 docs in
    its heap; ROADMAP "Carried over" has the fix)."""
    queries = [("q", ["term_3", "term_17"], [1.0, 0.5])]
    kw = dict(k=5, query_cut=5, heap_factor=0.9)
    one, rep_one = _paths(spark, idx_est, queries, two_phase=False, **kw)
    two, rep_two = _paths(spark, idx_est, queries, two_phase=True, **kw)
    assert one == rep_one and len(one) == 5
    assert two == rep_two == []


def test_fast_path_unknown_and_empty_queries(spark, idx_est):
    # unknown tokens resolve to nothing → those queries drop out entirely
    queries = [
        ("q_known", ["term_3", "term_17"], [1.0, 0.5]),
        ("q_ghost", ["zzz_not_in_vocab"], [1.0]),
    ]
    got, rep = _paths(
        spark, idx_est, queries, k=5, query_cut=5, heap_factor=0.9,
        two_phase=False,
    )
    # the known query MUST answer (synth_pages tokens are term_{j}; an
    # earlier revision used w3/w17 which never resolved, making this check
    # vacuous) and the ghost query must drop out without erroring
    assert {r[0] for r in got} == {"q_known"}
    assert got == rep
    # fully-empty resolved batches → empty frame with the search schema, in
    # both phases: no query at all, and one query with no terms
    no_terms = (np.array([], dtype=np.int64), np.array([], dtype=np.float64))
    for qvecs in ({}, {"q_empty": no_terms}):
        for two_phase in (False, True):
            empty = srch.batch_search(
                spark, idx_est.postings, idx_est.forward, qvecs, k=5,
                two_phase=two_phase,
            )
            assert empty.collect() == []
            assert [(f.name, f.dataType.simpleString())
                    for f in empty.schema.fields] == [
                ("query_id", "string"), ("rank", "int"),
                ("doc_id", "bigint"), ("score", "double"),
            ]


def test_index_wrapper_auto_fast_path_matches_inplan(spark, idx_est):
    """index.batch_search (dict path, answered by the gated index's
    replica) vs search.batch_search on Spark."""
    queries = synth_queries(600, n_queries=6, seed=3)
    via_idx = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in idx_est.batch_search(
            queries, k=10, query_cut=8, heap_factor=0.9
        ).collect()
    )
    qvecs = srch.resolve_queries(spark, queries, idx_est.vocab)
    inplan = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in srch.batch_search(
            spark, idx_est.postings, idx_est.forward, qvecs,
            k=10, query_cut=8, heap_factor=0.9,
            two_phase=True,  # idx_est cfg ⇒ wrapper default ON
        ).collect()
    )
    assert via_idx == inplan


def test_phase0_theta_matches_sorted_reference():
    """θ₀ is the max over terms of the k-th largest ``qw_t × bmax`` of the
    term's blocks (−∞ when no term has k blocks): equal to a per-segment
    sort, with ``bmax[at]`` given as a fancy index and as a slice."""
    rng = np.random.default_rng(12)
    for _ in range(400):
        k = int(rng.integers(1, 6))
        # empty segments, and three value levels so ties are everywhere
        lens = rng.integers(0, 9, size=int(rng.integers(1, 8)))
        bmax = rng.integers(1, 4, size=int(lens.sum())) * 0.25
        qw = rng.integers(1, 3, size=lens.size) * 0.5
        lb = np.repeat(qw, lens) * bmax
        starts = np.cumsum(lens) - lens
        want = max(
            [sorted(lb[s:s + n], reverse=True)[k - 1]
             for s, n in zip(starts, lens) if n >= k],
            default=-np.inf,
        )
        perm = rng.permutation(bmax.size)
        scattered = np.empty_like(bmax)
        scattered[perm] = bmax
        assert srch.phase0_theta(qw, lens, scattered, perm, k) == want
        padded = np.concatenate(([9.0], bmax, [9.0]))
        at = slice(1, 1 + bmax.size)
        assert srch.phase0_theta(qw, lens, padded, at, k) == want


def test_blocks_kept_without_bound_keeps_every_block():
    """With no bound (θ = −∞) every block is kept, heap_factor 0 included
    (0·−∞ is NaN); with a bound the skip is ``ub >= hf·θ``."""
    ub = np.array([-1.0, 0.0, 0.5, 2.0])
    for hf in (0.0, 0.7, 1.0):
        assert srch.blocks_kept(ub, hf, -np.inf).all()
        assert srch.blocks_kept(ub, hf, 1.0).tolist() == (ub >= hf).tolist()
    assert srch.blocks_kept(np.empty(0), 0.0, -np.inf).size == 0


def test_dataframe_query_repeating_a_term_matches_replica(spark, idx_est):
    """A QUERIES_SCHEMA frame repeating a term three times, unsorted: the
    Spark path merges the weights (0.3, 0.1, 0.7) once, as the replica
    does, so every bound and score is bitwise the replica's (summed in
    input order they give 1.0999999999999999, sorted 1.1)."""
    rep = idx_est.serving_replica()
    tokens = ["term_3", "term_17", "term_3", "term_3"]
    weights = [0.3, 0.5, 0.1, 0.7]
    ids = [rep.vocab[t] for t in tokens]
    qdf = spark.createDataFrame(
        [("qd", ids, weights)], srch.QUERIES_SCHEMA
    )
    kw = dict(k=10, query_cut=5, heap_factor=0.8, two_phase=False)
    got = _key(srch.batch_search(
        spark, idx_est.postings, idx_est.forward, qdf, **kw
    ).collect())
    want = _key(rep.batch_search([("qd", tokens, weights)], **kw)
                .itertuples(index=False))
    assert got == want and got
