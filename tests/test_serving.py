"""ServingReplica ≡ engine: the RAM-resident interactive tier must reproduce
the Spark formulations of `search.batch_search` BITWISE on the same index —
same survivor set, same candidates, same IEEE f64 scores, same (score desc,
doc_id asc) tie order.  A size-gated `SeismicSparkIndex` answers
`batch_search`, `bruteforce` and `build_knn` from its cached replica, so the
Spark side of each pin calls `search` directly.  Exactness is the point: the
replica exists so interactive serving can skip the Spark scheduler without
changing a single result bit (seismic_spark/serving.py; the reference's own
in-process serving, inverted_index.rs:38, pylib/mod.rs:59-291)."""

import os
import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from seismic_spark import search as srch
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.serving import ServingReplica, _first_max
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


def _spark_rows(spark, idx, queries, k=10, query_cut=10, heap_factor=1.0,
                two_phase=None):
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
def test_replica_bitwise_identical_to_engine(spark, corpus, cfg,
                                             hf, qc, tp):
    queries = synth_queries(600, n_queries=10, seed=3)
    idx = SeismicSparkIndex.build(spark, corpus, cfg)
    got = _rows(
        idx.serving_replica().batch_search(
            queries, k=10, query_cut=qc, heap_factor=hf, two_phase=tp
        )
    )
    assert got  # the pin compares real answers
    engine = _spark_rows(spark, idx, queries, query_cut=qc, heap_factor=hf,
                         two_phase=tp)
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


# (config, heap_factor, query_cut): the benchmark's serving config and the
# salted config of test_replica_bitwise_identical_to_engine
_KERNEL_CFGS = {
    "serving": (IndexConfig(n_postings=1000, pruning="fixed",
                            blocking="kmeans", centroid_fraction=0.1,
                            min_cluster_size=2, kmeans_doc_cut=15,
                            summary_energy=0.5, quant_ceil=False), 0.9, 10),
    "salted": (IndexConfig(n_postings=40, summary_energy=0.6,
                           blocking="geometric", block_b0=2, block_cap=4,
                           blocks_per_row=2), 0.8, 8),
}


@pytest.fixture(scope="module")
def kernel_indexes(spark, corpus):
    return {
        name: SeismicSparkIndex.build(spark, corpus, cfg)
        for name, (cfg, _, _) in _KERNEL_CFGS.items()
    }


@pytest.mark.parametrize("two_phase", [True, False])
@pytest.mark.parametrize("name", sorted(_KERNEL_CFGS))
def test_replica_scores_each_doc_once_per_query(kernel_indexes, name,
                                                two_phase):
    """The kernel exact-scores a doc at most once per query, like the
    reference's `visited` set: two-phase reuses the phase-1 floats for the
    final candidates phase 1 already scored."""
    _, hf, qc = _KERNEL_CFGS[name]
    queries = synth_queries(600, n_queries=30, seed=3)
    rep = ServingReplica.from_index(kernel_indexes[name])
    cands = rep.search_stats(queries, k=10, query_cut=qc, heap_factor=hf,
                             two_phase=two_phase)["candidates"]
    calls = []
    score = rep._score_docs

    def recording(qt, qw, pos):
        calls.append(pos.copy())
        return score(qt, qw, pos)

    rep._score_docs = recording
    scored = first = 0
    for q in queries:
        calls.clear()
        rep.search(*q, k=10, query_cut=qc, heap_factor=hf,
                   two_phase=two_phase)
        pos = np.concatenate(calls) if calls else np.empty(0, np.int64)
        assert np.unique(pos).size == pos.size, q[0]
        scored += pos.size
        first += calls[0].size if calls else 0
    if two_phase:
        # phase 1 (the first call) overlapped the final candidates
        assert scored < first + cands
    else:
        assert scored == cands > 0


def test_replica_lut_off_matches_lut(kernel_indexes):
    """With the dense query-weight LUT off (an id space over
    `_LUT_MAX_DIM`), the searchsorted `_gather_qw` fallback feeds the same
    in-place products: answers equal the LUT path's bitwise, in both
    phases and in bruteforce."""
    idx = kernel_indexes["serving"]
    queries = synth_queries(600, n_queries=20, seed=3)
    lut_rep = idx.serving_replica()
    rep = ServingReplica.from_index(idx)
    rep._lut_dim = 0
    for tp in (True, False):
        got = _rows(rep.batch_search(queries, k=10, heap_factor=0.9,
                                     two_phase=tp))
        assert got
        assert got == _rows(lut_rep.batch_search(queries, k=10,
                                                 heap_factor=0.9,
                                                 two_phase=tp))
    got = _rows(rep.bruteforce(queries, k=10))
    assert got and got == _rows(lut_rep.bruteforce(queries, k=10))
    assert rep._qw_lut is None and lut_rep._qw_lut is not None


def test_replica_frame_contract(spark, kernel_indexes):
    """`search`, `batch_search` and `bruteforce` return one frame layout:
    columns (query_id, rank, doc_id, score) as object/int32/int64/float64
    over a RangeIndex — for a hit, an unknown-token query, an empty query
    and a multi-query batch.  A one-query `search` equals `batch_search`
    of that query exactly.  Each frame, assembled from its blocks, equals
    the public `pd.DataFrame` constructor's frame of its columns, works
    with the usual pandas and Spark operations, and owns its arrays: a
    write to it leaves the replica's `doc_ids` as they were."""
    rep = kernel_indexes["serving"].serving_replica()
    queries = synth_queries(600, n_queries=4, seed=3)
    unknown = ("q_unknown", ["zz-not-a-token"], [1.0])
    empty = ("q_empty", [], [])
    hit = rep.search(*queries[0], k=10, heap_factor=0.9)
    batch = rep.batch_search(queries + [unknown, empty], k=10,
                             heap_factor=0.9)
    brute = rep.bruteforce(queries + [unknown, empty], k=10)
    misses = [rep.search(*unknown), rep.search(*empty),
              rep.batch_search([unknown, empty]), rep.bruteforce([empty])]
    assert len(hit) and all(len(f) == 0 for f in misses)
    assert batch["query_id"].nunique() > 1 and brute["query_id"].nunique() > 1
    for frame in [hit, batch, brute, rep.bruteforce([queries[0]])] + misses:
        assert list(frame.columns) == ["query_id", "rank", "doc_id", "score"]
        assert [str(t) for t in frame.dtypes] == [
            "object", "int32", "int64", "float64"
        ]
        assert isinstance(frame.index, pd.RangeIndex)
        assert frame.index.equals(pd.RangeIndex(len(frame)))
    pd.testing.assert_frame_equal(
        hit, rep.batch_search(queries[:1], k=10, heap_factor=0.9),
        check_exact=True,
    )

    doc_ids = rep.doc_ids.copy()
    for frame in [hit, batch, brute] + misses:
        public = pd.DataFrame({c: frame[c].to_numpy() for c in frame.columns})
        pd.testing.assert_frame_equal(frame, public, check_exact=True)
        pd.testing.assert_frame_equal(
            frame.sort_values(["score", "doc_id"]),
            public.sort_values(["score", "doc_id"]), check_exact=True,
        )
        pd.testing.assert_frame_equal(
            frame.groupby("query_id").agg({"score": "max", "rank": "count"}),
            public.groupby("query_id").agg({"score": "max", "rank": "count"}),
            check_exact=True,
        )
        both = pd.concat([frame, public], ignore_index=True)
        assert len(both) == 2 * len(frame)
        pd.testing.assert_frame_equal(both.iloc[len(frame):]
                                      .reset_index(drop=True), public,
                                      check_exact=True)
        pd.testing.assert_frame_equal(
            pickle.loads(pickle.dumps(frame)), public,
            check_exact=True,
        )
        if len(frame):
            sdf = spark.createDataFrame(frame)
            assert sdf.dtypes == [("query_id", "string"), ("rank", "int"),
                                  ("doc_id", "bigint"), ("score", "double")]
            assert _rows(sdf) == _rows(frame)
        frame["extra"] = frame["rank"] * 2
        assert list(frame.columns) == ["query_id", "rank", "doc_id", "score",
                                       "extra"]
        frame.loc[:, "doc_id"] = -1
        frame["doc_id"] = frame["doc_id"] - 1
        assert (frame["doc_id"] == -2).all()
        assert list(public.columns) == ["query_id", "rank", "doc_id", "score"]
    assert np.array_equal(rep.doc_ids, doc_ids)


def test_first_max_matches_per_segment_argmax():
    """The kernel's best-UB block per term (one segment max, then the
    first position equal to it) is the per-segment `np.argmax`: with
    forced ties and empty segments the first maximum wins, i.e. the lowest
    (salt, block)."""
    rng = np.random.default_rng(7)
    cases = [np.zeros(3, dtype=np.int64)] + [
        rng.integers(0, 6, size=rng.integers(1, 12)) for _ in range(300)
    ]
    for lens in cases:
        starts = np.cumsum(lens) - lens
        # three distinct values over up to 60 elements: ties everywhere
        x = rng.integers(0, 3, size=int(lens.sum())) * 0.1
        want = [int(s) + int(np.argmax(x[s:s + n]))
                for s, n in zip(starts, lens) if n]
        assert _first_max(x, starts, lens).tolist() == want
    # the Spark operator's layout: several queries' (query, term) segments
    # tiled into one array, answered by one call
    layouts = [rng.integers(0, 6, size=rng.integers(1, 6)) for _ in range(40)]
    lens = np.concatenate(layouts)
    starts = np.cumsum(lens) - lens
    x = rng.integers(0, 3, size=int(lens.sum())) * 0.1
    got = _first_max(x, starts, lens)
    assert got.tolist() == [int(s) + int(np.argmax(x[s:s + n]))
                            for s, n in zip(starts, lens) if n]
    per_query, base = [], 0
    for q in layouts:
        n = int(q.sum())
        per_query += (base + _first_max(x[base:base + n],
                                        np.cumsum(q) - q, q)).tolist()
        base += n
    assert got.tolist() == per_query


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
    assert got == _spark_rows(spark, loaded, queries, heap_factor=0.8)


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
    engine = _spark_rows(spark, idx, query, k=5, heap_factor=0.9)
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
    engine = _spark_rows(spark, idx, queries, k=5, heap_factor=0.9)
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


@pytest.fixture(scope="module")
def snapshots(spark, corpus, tmp_path_factory):
    """An in-session fixedu8 index (its values sit on the packed grid, so
    a packed snapshot is lossless) and its snapshots saved plain, packed
    and term-bucketed."""
    idx = SeismicSparkIndex.build(
        spark, corpus,
        IndexConfig(n_postings=30, summary_energy=0.6, value_type="fixedu8"),
    )
    root = tmp_path_factory.mktemp("snapshots")
    paths = {}
    for name, kw in (("plain", {}), ("packed", {"packed_values": True}),
                     ("term_buckets", {"partitions_by_term_hash": 4})):
        paths[name] = str(root / name)
        idx.save(paths[name], **kw)
    return idx, paths


def _frame(pdf):
    return pdf.sort_values(["query_id", "rank"]).reset_index(drop=True)


@pytest.mark.parametrize("name", ["plain", "packed", "term_buckets"])
def test_load_plans_each_table_on_first_spark_use(spark, snapshots, name,
                                                  monkeypatch):
    """`load` → `serving_replica()` → `search` plans no DataFrame over the
    index tables and runs no Spark job (a packed forward is decoded from
    its files too), and neither do a replica-gated `batch_search` and
    `bruteforce`.  With the gate off, the next `batch_search` plans each
    table it uses exactly once.  Every answer is bitwise the in-session
    index's."""
    from seismic_spark import index as index_mod

    idx, paths = snapshots
    planned = []
    read = index_mod._read_parquet

    def counting(session, path):
        planned.append(os.path.basename(path))
        return read(session, path)

    monkeypatch.setattr(index_mod, "_read_parquet", counting)
    queries = synth_queries(600, n_queries=6, seed=23)
    live = idx.serving_replica()

    sc = spark.sparkContext
    group = f"test-lazy-load-{name}"
    sc.setJobGroup(group, "load + hydrate + search")
    try:
        loaded = SeismicSparkIndex.load(spark, paths[name])
        rep = loaded.serving_replica()
        answers = [rep.search(*q, k=10, heap_factor=0.9) for q in queries]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for q, got in zip(queries, answers):
        pd.testing.assert_frame_equal(
            got, live.search(*q, k=10, heap_factor=0.9), check_exact=True
        )
    want = _frame(live.batch_search(queries, k=10, heap_factor=0.9))
    assert len(want)
    gated = loaded.batch_search(queries, k=10, heap_factor=0.9).toPandas()
    brute = loaded.bruteforce(queries, k=10).toPandas()
    assert planned == []
    pd.testing.assert_frame_equal(_frame(gated), want, check_exact=True)
    pd.testing.assert_frame_equal(
        _frame(brute), _frame(live.bruteforce(queries, k=10)), check_exact=True
    )

    monkeypatch.setattr(index_mod, "_LOCAL_SCORE_MAX_BYTES", 0)
    for _ in range(2):
        got = loaded.batch_search(queries, k=10, heap_factor=0.9).toPandas()
        assert sorted(planned) == ["forward", "postings", "vocab"]
        pd.testing.assert_frame_equal(_frame(got), want, check_exact=True)


def test_load_raises_on_a_missing_table(spark, snapshots, tmp_path):
    """A snapshot missing a table its meta.json implies fails in `load`,
    not at the table's first use."""
    import shutil

    path = str(tmp_path / "idx")
    shutil.copytree(snapshots[1]["plain"], path)
    shutil.rmtree(os.path.join(path, "postings"))
    with pytest.raises(FileNotFoundError, match="postings"):
        SeismicSparkIndex.load(spark, path)


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
    want_batch = _spark_rows(spark, idx, queries, k=5, heap_factor=0.9)
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


def test_get_spark_leaves_allocator_environment_alone(spark, monkeypatch):
    """`get_spark` sets no glibc allocator policy: the driver's environment,
    which the JVM and the Python workers inherit, keeps no `MALLOC_*`
    threshold it did not already have."""
    from seismic_spark.session import get_spark

    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        monkeypatch.delenv(var, raising=False)
    # the fixture's own arguments, so the reused session keeps its configs
    assert get_spark("seismic-spark-tests", cores=8, shuffle_partitions=8) is spark
    assert "MALLOC_MMAP_THRESHOLD_" not in os.environ
    assert "MALLOC_TRIM_THRESHOLD_" not in os.environ
