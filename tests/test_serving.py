"""ServingReplica ≡ engine: the RAM-resident interactive tier must reproduce
the Spark formulations of `search.batch_search` BITWISE on the same index —
same survivor set, same candidates, same IEEE f64 scores, same (score desc,
doc_id asc) tie order.  A size-gated `SeismicSparkIndex` answers
`batch_search`, `bruteforce` and `build_knn` from its cached replica, so the
Spark side of each pin calls `search` directly.  Exactness is the point: the
replica exists so interactive serving can skip the Spark scheduler without
changing a single result bit (seismic_spark/serving.py; the reference's own
in-process serving, inverted_index.rs:38, pylib/mod.rs:59-291)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from seismic_spark import search as srch
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.serving import ServingReplica
from seismic_spark.sources.pages import synth_pages, synth_queries


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synth_pages(spark, 300, vocab_size=600, seed=11).persist()
    return pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )


def _rows(df_or_pdf):
    if hasattr(df_or_pdf, "toPandas"):
        df_or_pdf = df_or_pdf.toPandas()
    return sorted(
        (r.query_id, int(r.rank), int(r.doc_id), float(r.score))
        for r in df_or_pdf.itertuples(index=False)
    )


def _spark_rows(spark, idx, queries, driver_theta, k=10, query_cut=10,
                heap_factor=1.0, two_phase=None):
    """`search.batch_search` (the Spark formulations) with the index's
    default two_phase rule."""
    if two_phase is None:
        cfg = idx.config
        two_phase = (
            cfg.summary_energy < 1.0 or not cfg.quant_ceil or heap_factor < 1.0
        )
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)
    return _rows(
        srch.batch_search(
            spark, idx.postings, idx.forward, qvecs, k=k, query_cut=query_cut,
            heap_factor=heap_factor, two_phase=two_phase,
            driver_theta=driver_theta,
        )
    )


@pytest.mark.parametrize(
    "cfg,hf,qc,tp",
    [
        # approximate geometric blocks, hf<1, two-phase (its default-on zone)
        (IndexConfig(n_postings=20, summary_energy=0.5, blocking="geometric"),
         0.8, 5, None),
        # kmeans blocking + energy truncation
        (IndexConfig(n_postings=40, summary_energy=0.6, blocking="kmeans",
                     centroid_fraction=0.2, min_cluster_size=2), 0.8, 8, None),
        # exact unpruned path (θ skips nothing it shouldn't)
        (IndexConfig(n_postings=10**6, summary_energy=1.0), 1.0, 50, False),
        # quantized value storage
        (IndexConfig(n_postings=60, summary_energy=0.6, value_type="fixedu8"),
         0.9, 10, None),
        # the benchmark's serving config (kmeans, energy 0.5, nearest-
        # quantized summaries)
        (IndexConfig(n_postings=1000, pruning="fixed", blocking="kmeans",
                     centroid_fraction=0.1, min_cluster_size=2,
                     kmeans_doc_cut=15, summary_energy=0.5, quant_ceil=False),
         0.9, 10, None),
        # salted terms: blocks_per_row=2 splits most lists into several
        # postings rows, so one term spans several (term_id, salt) rows
        (IndexConfig(n_postings=40, summary_energy=0.6, blocking="geometric",
                     block_b0=2, block_cap=4, blocks_per_row=2), 0.8, 8, None),
    ],
)
def test_replica_bitwise_identical_to_engine(spark, corpus, cfg, hf, qc, tp):
    queries = synth_queries(600, n_queries=10, seed=3)
    idx = SeismicSparkIndex.build(spark, corpus, cfg)
    got = _rows(
        idx.serving_replica().batch_search(
            queries, k=10, query_cut=qc, heap_factor=hf, two_phase=tp
        )
    )
    assert got  # the pin compares real answers
    for driver_theta in (True, False):
        engine = _spark_rows(spark, idx, queries, driver_theta, query_cut=qc,
                             heap_factor=hf, two_phase=tp)
        assert got == engine  # exact float equality, not approx
    # the gated index answers from that replica, through Spark and back
    assert _rows(
        idx.batch_search(queries, k=10, query_cut=qc, heap_factor=hf,
                         two_phase=tp)
    ) == got


def test_replica_bruteforce_bitwise_identical_to_crossjoin(spark, corpus):
    """Gated `bruteforce` (the replica's full scan) == the crossJoin
    formulation of `search.bruteforce_search`, exact floats — including an
    unknown-token and an empty query, and k above the positive-score count
    for a one-term query."""
    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=25, summary_energy=0.6)
    )
    rare = idx.vocab.orderBy("df", "term").first()["term"]
    queries = synth_queries(600, n_queries=8, seed=21) + [
        ("q_unknown", ["zz-not-a-token"], [1.0]),
        ("q_empty", [], []),
        ("q_rare", [rare], [1.0]),
    ]
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)
    want = _rows(srch.bruteforce_search(spark, idx.forward, qvecs, k=50))
    got = _rows(idx.bruteforce(queries, k=50))
    assert got == want and got
    assert got == _rows(idx.serving_replica().bruteforce(queries, k=50))


def test_replica_from_saved_index(spark, corpus, tmp_path):
    cfg = IndexConfig(n_postings=30, summary_energy=0.7, blocking="geometric")
    queries = synth_queries(600, n_queries=6, seed=9)
    idx = SeismicSparkIndex.build(spark, corpus, cfg)
    idx.save(str(tmp_path / "idx"))
    loaded = SeismicSparkIndex.load(spark, str(tmp_path / "idx"))
    got = _rows(
        loaded.serving_replica().batch_search(queries, k=10, heap_factor=0.8)
    )
    assert got
    for driver_theta in (True, False):
        assert got == _spark_rows(
            spark, loaded, queries, driver_theta, heap_factor=0.8
        )


def test_replica_budget_gate(spark, corpus):
    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=20, summary_energy=0.8)
    )
    with pytest.raises(MemoryError, match="space_usage"):
        idx.serving_replica(max_bytes=1)


def test_replica_unknown_and_empty_queries(spark, corpus):
    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=20, summary_energy=0.8)
    )
    rep = idx.serving_replica()
    out = rep.batch_search(
        [("q_unknown", ["zz-not-a-token"], [1.0]), ("q_empty", [], [])], k=5
    )
    assert len(out) == 0
    assert list(out.columns) == ["query_id", "rank", "doc_id", "score"]


def test_replica_search_text_matches_engine(spark, corpus):
    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=25, summary_energy=0.6)
    )
    rep = idx.serving_replica()
    sample_text = corpus.select("text").first()["text"]
    snippet = " ".join(sample_text.split(" ")[:8])
    toks = [t for t in snippet.lower().split(" ") if t]
    uniq = sorted(set(toks))
    query = [("q0", uniq, [float(toks.count(t)) for t in uniq])]
    engine = _spark_rows(spark, idx, query, None, k=5, heap_factor=0.9)
    got = _rows(rep.search_text("q0", snippet, k=5, heap_factor=0.9))
    assert got == engine and got
    assert _rows(idx.search_text("q0", snippet, k=5, heap_factor=0.9)) == got


def test_replica_scores_are_true_dot_products(spark, corpus):
    """Spot-check a replica score against an independent recomputation."""
    cfg = IndexConfig(n_postings=10**6, summary_energy=1.0)
    idx = SeismicSparkIndex.build(spark, corpus, cfg)
    rep = idx.serving_replica()
    queries = synth_queries(600, n_queries=2, seed=5)
    out = rep.batch_search(queries, k=3, query_cut=50, heap_factor=1.0)
    fwd = {
        int(r["doc_id"]): (list(r["terms"]), list(r["weights"]))
        for r in idx.forward.collect()
    }
    for r in out.itertuples(index=False):
        qid, doc = r.query_id, int(r.doc_id)
        terms, weights = next(
            (t, w) for (q, t, w) in queries if q == qid
        )
        qmap = {rep.vocab[t]: w for t, w in zip(terms, weights) if t in rep.vocab}
        dts, dws = fwd[doc]
        expected = sum(qmap.get(t, 0.0) * w for t, w in zip(dts, dws))
        assert np.isclose(r.score, expected, rtol=1e-9)


def test_replica_repeated_query_id_merges_like_engine(spark, corpus):
    """A batch repeating a query_id is ONE merged query in the engine
    (search.resolve_queries keys on qid) — the replica must merge the
    repeated tuples too, not answer each independently."""
    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=25, summary_energy=0.6)
    )
    rep = idx.serving_replica()
    base = synth_queries(600, n_queries=1, seed=7)[0]
    _, terms, weights = base
    half = len(terms) // 2 or 1
    # same qid split across two tuples with disjoint token halves
    queries = [
        ("qrep", terms[:half], weights[:half]),
        ("qrep", terms[half:], weights[half:]),
    ]
    engine = _spark_rows(spark, idx, queries, None, k=5, heap_factor=0.9)
    got = _rows(rep.batch_search(queries, k=5, query_cut=10, heap_factor=0.9))
    assert got == engine
    # exactly one rank sequence for the merged query, no duplicate ranks
    ranks = [r[1] for r in got if r[0] == "qrep"]
    assert ranks == sorted(set(ranks))


def test_restart_to_serving_launches_no_spark_job(spark, corpus, tmp_path):
    """`load` → `serving_replica()` of a saved snapshot runs no Spark job:
    tables are planned from their footer schemas and vocab, postings and
    forward are read straight from the files.  The replica still holds the
    vocab a Spark collect gives and answers bitwise like the replica of
    the in-session index."""
    cfg = IndexConfig(n_postings=30, summary_energy=0.6, blocking="kmeans")
    queries = synth_queries(600, n_queries=8, seed=13)
    idx = SeismicSparkIndex.build(spark, corpus, cfg)
    path = str(tmp_path / "idx")
    idx.save(path)

    sc = spark.sparkContext
    group = "test-restart-to-serving"
    sc.setJobGroup(group, "load + hydrate")
    try:
        rep = SeismicSparkIndex.load(spark, path).serving_replica()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    collected = {
        r["term"]: int(r["term_id"])
        for r in idx.vocab.select("term", "term_id").collect()
    }
    assert rep.vocab == collected
    live = idx.serving_replica()
    for q in queries:
        assert _rows(rep.batch_search([q], k=10, heap_factor=0.9)) == _rows(
            live.batch_search([q], k=10, heap_factor=0.9)
        )


def test_replica_falls_back_and_logs_when_snapshot_read_fails(
    spark, corpus, tmp_path, caplog
):
    """A failed direct snapshot read falls back to the Spark read with a
    warning that names the table — never silently, never an error."""
    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=25, summary_energy=0.6)
    )
    path = str(tmp_path / "idx")
    idx.save(path)
    loaded = SeismicSparkIndex.load(spark, path)
    loaded.storage_paths["vocab"] = str(tmp_path / "missing")
    with caplog.at_level("WARNING", logger="seismic_spark.serving"):
        rep = loaded.serving_replica()
    assert any("vocab" in r.getMessage() for r in caplog.records)
    assert rep.vocab == idx.serving_replica().vocab


def test_gated_calls_share_one_cached_replica(spark, corpus, monkeypatch):
    """`serving_replica()` hydrates once per index and returns the same
    object (re-checking the budget); gated `batch_search` then `bruteforce`
    answer from it without a second hydration."""
    calls = []
    orig = ServingReplica.from_index

    def counting(idx, max_bytes=4 << 30):
        calls.append(idx)
        return orig(idx, max_bytes=max_bytes)

    monkeypatch.setattr(ServingReplica, "from_index", counting)
    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=25, summary_energy=0.6)
    )
    queries = synth_queries(600, n_queries=3, seed=17)
    assert idx.batch_search(queries, k=5, heap_factor=0.9).count() > 0
    assert idx.bruteforce(queries, k=5).count() > 0
    rep = idx.serving_replica()
    assert rep is idx.serving_replica()
    assert len(calls) == 1
    with pytest.raises(MemoryError, match="space_usage"):
        idx.serving_replica(max_bytes=1)  # cached, budget still enforced


def test_gated_paths_fall_back_to_spark_when_hydration_fails(
    spark, corpus, monkeypatch, caplog
):
    """A replica that cannot be hydrated (MemoryError) never fails a gated
    call: `batch_search`, `bruteforce` and `build_knn` each log a warning
    and return the Spark path's answer."""
    from seismic_spark import index as index_mod
    from seismic_spark import knn as knn_mod

    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=25, summary_energy=0.6)
    )
    queries = synth_queries(600, n_queries=4, seed=19)
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)
    want_batch = _spark_rows(spark, idx, queries, None, k=5, heap_factor=0.9)
    want_brute = _rows(srch.bruteforce_search(spark, idx.forward, qvecs, k=5))
    graph = lambda df: sorted(
        (r.doc_id, tuple(r.neighbors)) for r in df.collect()
    )
    with monkeypatch.context() as m:
        m.setattr(index_mod, "_LOCAL_SCORE_MAX_BYTES", 0)  # ungated: Spark
        want_knn = graph(knn_mod.build_knn(idx, nknn=3, heap_factor=0.7))

    def no_memory(idx, max_bytes=4 << 30):
        raise MemoryError("injected")

    monkeypatch.setattr(ServingReplica, "from_index", no_memory)
    calls = [
        lambda: _rows(idx.batch_search(queries, k=5, heap_factor=0.9)),
        lambda: _rows(idx.bruteforce(queries, k=5)),
        lambda: graph(knn_mod.build_knn(idx, nknn=3, heap_factor=0.7)),
    ]
    for call, want in zip(calls, (want_batch, want_brute, want_knn)):
        caplog.clear()
        with caplog.at_level("WARNING", logger="seismic_spark.index"):
            assert call() == want and want
        assert any("injected" in r.getMessage() for r in caplog.records)
    assert idx._replica is None and idx._replica_bc is None


def test_build_knn_reuses_one_replica_broadcast(spark, corpus, monkeypatch):
    """Two gated `build_knn` calls on one index ship its replica in ONE
    broadcast; `unpersist_serving()` releases it."""
    from pyspark import SparkContext

    from seismic_spark import knn as knn_mod

    made = []
    orig = SparkContext.broadcast

    def counting(self, value):
        made.append(value)
        return orig(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    idx = SeismicSparkIndex.build(
        spark, corpus, IndexConfig(n_postings=25, summary_energy=0.6)
    )
    first = knn_mod.build_knn(idx, nknn=3, heap_factor=0.7).collect()
    second = knn_mod.build_knn(idx, nknn=3, heap_factor=0.7).collect()
    assert sorted(first) == sorted(second) and first
    assert sum(isinstance(v, ServingReplica) for v in made) == 1
    assert idx._replica_bc is not None
    idx.unpersist_serving()
    assert idx._replica_bc is None
