"""Driver-θ fast path (search._driver_theta_search) must be RESULT-IDENTICAL
to the in-plan θ derivation — same survivors, bitwise-equal scores, same
ranks — across exact and estimate-summary configs, both phases, and edge
cases (unknown terms, k larger than the corpus, empty batches).

The fast path exists purely to cut per-batch job-scheduling fixed cost
(BENCH/BASELINE.md round-4 batch-size section); any semantic divergence is
a bug, so scores are compared with == (not approx)."""

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


def _both(spark, idx, queries, **kw):
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)
    fast = srch.batch_search(
        spark, idx.postings, idx.forward, qvecs, driver_theta=True, **kw
    ).collect()
    plan = srch.batch_search(
        spark, idx.postings, idx.forward, qvecs, driver_theta=False, **kw
    ).collect()
    key = lambda rows: sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in rows
    )
    return key(fast), key(plan)


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
    fast, plan = _both(
        spark, idx, queries, k=10, query_cut=qc, heap_factor=hf, two_phase=tp
    )
    assert fast == plan
    assert len(fast) > 0


def test_fast_path_k_exceeds_matches(spark, idx_est):
    queries = synth_queries(600, n_queries=4, seed=9)
    fast, plan = _both(
        spark, idx_est, queries, k=500, query_cut=8, heap_factor=0.8,
        two_phase=True,
    )
    assert fast == plan


def test_fast_path_unknown_and_empty_queries(spark, idx_est):
    # unknown tokens resolve to nothing → those queries drop out entirely
    queries = [
        ("q_known", ["term_3", "term_17"], [1.0, 0.5]),
        ("q_ghost", ["zzz_not_in_vocab"], [1.0]),
    ]
    qvecs = srch.resolve_queries(spark, queries, idx_est.vocab)
    res = srch.batch_search(
        spark, idx_est.postings, idx_est.forward, qvecs,
        k=5, query_cut=5, heap_factor=0.9, driver_theta=True,
    ).collect()
    # the known query MUST answer (synth_pages tokens are term_{j}; an
    # earlier revision used w3/w17 which never resolved, making this check
    # vacuous) and the ghost query must drop out without erroring
    assert {r.query_id for r in res} == {"q_known"}
    # fully-empty resolved batch → empty frame with the search schema
    empty = srch.batch_search(
        spark, idx_est.postings, idx_est.forward, {},
        k=5, driver_theta=True,
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "rank", "doc_id", "score",
    ]


def test_index_wrapper_auto_fast_path_matches_inplan(spark, idx_est):
    """index.batch_search (dict path, auto fast) vs explicit in-plan."""
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
            driver_theta=False,
        ).collect()
    )
    assert via_idx == inplan


def test_row_cap_fallthrough_retires_fast_path_cache(
    spark, idx_exact, monkeypatch
):
    """When the block-table row cap aborts the fast path, its persisted ubs
    must be retired immediately — even for callers that pin
    broadcast_queries/two_phase off (the in-plan tail's conditional
    retirement never runs for them)."""
    monkeypatch.setattr(srch, "_DRIVER_THETA_MAX_ROWS", 0)  # force abort
    queries = synth_queries(600, n_queries=2, seed=5)
    qvecs = srch.resolve_queries(spark, queries, idx_exact.vocab)
    registry = []
    res = srch.batch_search(
        spark, idx_exact.postings, idx_exact.forward, qvecs,
        k=5, query_cut=50, heap_factor=1.0, driver_theta=True,
        broadcast_queries=False, two_phase=False, cache_registry=registry,
    ).collect()
    assert res  # fell through to in-plan and still answered
    assert registry == []  # abandoned fast-path ubs retired, nothing leaked
    # and the fall-through answer matches a plain in-plan run
    plan = srch.batch_search(
        spark, idx_exact.postings, idx_exact.forward, qvecs,
        k=5, query_cut=50, heap_factor=1.0, driver_theta=False,
        broadcast_queries=False, two_phase=False,
    ).collect()
    key = lambda rows: sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in rows
    )
    assert key(res) == key(plan)
