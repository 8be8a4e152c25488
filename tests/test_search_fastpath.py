"""Driver-θ path (search._driver_theta_search, which two-phase dict batches
take) must be RESULT-IDENTICAL to the in-plan θ derivation and to the
serving replica — same survivors, bitwise-equal scores, same ranks —
across exact and estimate-summary configs, both phases, and edge cases
(unknown terms, k larger than the matches, empty batches).

The driver-θ path exists purely to cut the two-phase chain's job and
exchange count (BENCH/BASELINE.md "Ungated leg"); any semantic divergence
is a bug, so scores are compared with == (not approx)."""

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


def _paths(spark, monkeypatch, idx, queries, **kw):
    """(default rows — driver-θ for a two-phase batch —, in-plan rows,
    replica rows) for one batch on one index."""
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)

    def run():
        return _key(srch.batch_search(
            spark, idx.postings, idx.forward, qvecs, **kw
        ).collect())

    auto = run()
    with monkeypatch.context() as m:
        m.setattr(srch, "_DRIVER_THETA_MAX", 0)  # in-plan θ
        plan = run()
    rep = idx.serving_replica().batch_search(queries, **kw)
    return auto, plan, _key(rep.itertuples(index=False))


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
def test_fast_path_identical(spark, monkeypatch, idx_exact, idx_est, which,
                             hf, qc, tp):
    idx = idx_exact if which == "exact" else idx_est
    queries = synth_queries(600, n_queries=10, seed=5)
    auto, plan, rep = _paths(
        spark, monkeypatch, idx, queries, k=10, query_cut=qc, heap_factor=hf,
        two_phase=tp,
    )
    assert auto == plan == rep
    assert len(auto) > 0


def test_fast_path_k_exceeds_matches(spark, monkeypatch, idx_est):
    queries = synth_queries(600, n_queries=4, seed=9)
    auto, plan, rep = _paths(
        spark, monkeypatch, idx_est, queries, k=500, query_cut=8,
        heap_factor=0.8, two_phase=True,
    )
    assert auto == plan == rep and auto


def test_fast_path_unknown_and_empty_queries(spark, monkeypatch, idx_est):
    # unknown tokens resolve to nothing → those queries drop out entirely
    queries = [
        ("q_known", ["term_3", "term_17"], [1.0, 0.5]),
        ("q_ghost", ["zzz_not_in_vocab"], [1.0]),
    ]
    auto, plan, rep = _paths(
        spark, monkeypatch, idx_est, queries, k=5, query_cut=5,
        heap_factor=0.9, two_phase=False,
    )
    # the known query MUST answer (synth_pages tokens are term_{j}; an
    # earlier revision used w3/w17 which never resolved, making this check
    # vacuous) and the ghost query must drop out without erroring
    assert {r[0] for r in auto} == {"q_known"}
    assert auto == plan == rep
    # fully-empty resolved batches → empty frame with the search schema, in
    # both phases: no query at all (in-plan), and one query with no terms
    # (driver-θ's early return when two-phase)
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


def test_index_wrapper_auto_fast_path_matches_inplan(spark, monkeypatch,
                                                     idx_est):
    """index.batch_search (dict path, answered by the gated index's
    replica) vs explicit in-plan."""
    queries = synth_queries(600, n_queries=6, seed=3)
    via_idx = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in idx_est.batch_search(
            queries, k=10, query_cut=8, heap_factor=0.9
        ).collect()
    )
    qvecs = srch.resolve_queries(spark, queries, idx_est.vocab)
    monkeypatch.setattr(srch, "_DRIVER_THETA_MAX", 0)  # in-plan θ
    inplan = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in srch.batch_search(
            spark, idx_est.postings, idx_est.forward, qvecs,
            k=10, query_cut=8, heap_factor=0.9,
            two_phase=True,  # idx_est cfg ⇒ wrapper default ON
        ).collect()
    )
    assert via_idx == inplan


def test_row_cap_fallthrough_retires_fast_path_cache(
    spark, idx_exact, monkeypatch
):
    """When the block-table row cap aborts the driver-θ path, its persisted
    ubs must be retired — the registry ends up holding only the in-plan
    tail's own cache — even for a caller that pins broadcast_queries off."""
    monkeypatch.setattr(srch, "_DRIVER_THETA_MAX_ROWS", 0)  # force abort
    queries = synth_queries(600, n_queries=2, seed=5)
    qvecs = srch.resolve_queries(spark, queries, idx_exact.vocab)
    registry = []
    res = srch.batch_search(
        spark, idx_exact.postings, idx_exact.forward, qvecs,
        k=5, query_cut=50, heap_factor=1.0, two_phase=True,
        broadcast_queries=False, cache_registry=registry,
    ).collect()
    assert res  # fell through to in-plan and still answered
    assert len(registry) == 1  # abandoned driver-θ ubs retired, no leak
    # and the fall-through answer matches a plain in-plan run
    monkeypatch.setattr(srch, "_DRIVER_THETA_MAX", 0)
    plan = srch.batch_search(
        spark, idx_exact.postings, idx_exact.forward, qvecs,
        k=5, query_cut=50, heap_factor=1.0, two_phase=True,
        broadcast_queries=False,
    ).collect()
    assert _key(res) == _key(plan)
