"""End-to-end: build a tiny index, search, compare against brute force.

Mirrors the reference's inverted_index.rs tests (716-807): tiny corpus,
exact expected results, empty vectors never retrieved — plus the
heap_factor=1.0 exactness contract (Accuracy@10 = 1.0 vs exact BM25).
"""

import pytest
from pyspark.sql import functions as F

from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.sources.pages import synth_pages, synth_queries


@pytest.fixture(scope="module")
def tiny_index(spark):
    docs = spark.createDataFrame(
        [
            (0, "apple banana cherry apple"),
            (1, "banana date"),
            (2, ""),  # empty vector — must never be retrieved
            (3, "cherry cherry cherry elderberry"),
            (4, "apple date elderberry fig"),
            (5, "   "),  # whitespace only — also empty
        ],
        "doc_id BIGINT, text STRING",
    )
    return SeismicSparkIndex.build(
        spark, docs, IndexConfig(n_postings=100, blocking="fixed", block_size=2)
    )


def test_tiny_build_stats(tiny_index):
    assert tiny_index.n_docs == 6
    assert tiny_index.dim == 6  # apple banana cherry date elderberry fig
    assert tiny_index.nnz() == 11


def test_tiny_search_matches_bruteforce(tiny_index):
    queries = [("q0", ["apple", "cherry"], [1.0, 2.0]), ("q1", ["date"], [1.0])]
    got = tiny_index.batch_search(queries, k=3, query_cut=10, heap_factor=1.0)
    exp = tiny_index.bruteforce(queries, k=3)
    g = [(r.query_id, r.rank, r.doc_id) for r in got.collect()]
    e = [(r.query_id, r.rank, r.doc_id) for r in exp.collect()]
    assert sorted(g) == sorted(e)
    scores = {(r.query_id, r.doc_id): r.score for r in got.collect()}
    escores = {(r.query_id, r.doc_id): r.score for r in exp.collect()}
    for key, s in scores.items():
        assert abs(s - escores[key]) < 1e-12


def test_empty_vectors_never_retrieved(tiny_index):
    queries = [("q0", ["apple", "banana", "cherry", "date", "elderberry", "fig"],
                [1.0] * 6)]
    got = tiny_index.batch_search(queries, k=6, heap_factor=1.0).collect()
    assert {r.doc_id for r in got} == {0, 1, 3, 4}


def test_unknown_and_empty_queries(tiny_index):
    queries = [("q_unknown", ["zzz", "yyy"], [1.0, 1.0]), ("q_empty", [], [])]
    got = tiny_index.batch_search(queries, k=3).collect()
    assert got == []


def test_duplicate_query_terms_merge_by_sum(tiny_index):
    """A repeated token in a query must not crash the batch; it merges by
    summing weights (dot-product-identical: q·d with a repeated component
    contributes (w1+w2)·dv)."""
    dup = [("qd", ["apple", "apple", "cherry"], [1.0, 0.5, 2.0])]
    merged = [("qm", ["apple", "cherry"], [1.5, 2.0])]
    got = {
        (r.rank, r.doc_id, round(r.score, 10))
        for r in tiny_index.batch_search(dup, k=3, heap_factor=1.0).collect()
    }
    exp = {
        (r.rank, r.doc_id, round(r.score, 10))
        for r in tiny_index.batch_search(merged, k=3, heap_factor=1.0).collect()
    }
    assert got == exp and got


@pytest.fixture(scope="module")
def pages_index(spark):
    pages = synth_pages(spark, 300, vocab_size=500, seed=42).persist()
    docs = pages.select(
        F.xxhash64("url").alias("_h"), "url", "text"
    ).withColumn("doc_id", F.abs(F.col("_h"))).drop("_h")
    idx = SeismicSparkIndex.build(spark, docs, IndexConfig(n_postings=1000))
    return idx


def test_pages_exact_accuracy_at_10(spark, pages_index):
    """heap_factor=1.0 + unpruned index ⇒ Accuracy@10 = 1.0 vs exact BM25."""
    queries = [q for q in synth_queries(500, n_queries=15, seed=42)]
    got = pages_index.batch_search(queries, k=10, query_cut=50, heap_factor=1.0)
    exp = pages_index.bruteforce(queries, k=10)
    g = {(r.query_id, r.doc_id) for r in got.collect()}
    e = {(r.query_id, r.doc_id) for r in exp.collect()}
    assert g == e


def test_pages_deterministic_generation(spark):
    a = synth_pages(spark, 50, vocab_size=200, seed=42, partitions=2).collect()
    b = synth_pages(spark, 50, vocab_size=200, seed=42, partitions=7).collect()
    ka = sorted((r.url, r.text, r.lang, bytes(r.html)) for r in a)
    kb = sorted((r.url, r.text, r.lang, bytes(r.html)) for r in b)
    assert ka == kb


def test_convert_value_type_q13(spark, tiny_index):
    """Q13: converting an index to f16 storage re-encodes weights without
    re-tokenizing, and search over the converted index equals a from-scratch
    f16 build's search."""
    import numpy as np

    conv = tiny_index.convert("f16")
    w = conv.forward.select(F.explode("weights").alias("w")).collect()
    for r in w:  # every stored weight sits on the f16 grid
        assert np.float64(np.float16(r.w)) == r.w
    queries = [("q0", ["apple", "cherry"], [1.0, 2.0])]
    got = {(r.query_id, r.rank, r.doc_id)
           for r in conv.batch_search(queries, k=3, heap_factor=1.0).collect()}
    assert got  # and exactness still holds vs the converted forward
    exp = {(r.query_id, r.rank, r.doc_id)
           for r in conv.bruteforce(queries, k=3).collect()}
    assert got == exp


def test_dotvbyte_packed_save_load(spark, tmp_path):
    """DotVByte-analogue packed forward storage (pylib/dotvbyte.rs:24-40):
    save(packed_values=True) → load → identical search results when the
    index was built with value_type='fixedu8' (values already on the u8
    grid), and the packed forward snapshot is smaller on disk."""
    import os

    pages = synth_pages(spark, 300, vocab_size=500, seed=11)
    docs = pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    cfg = IndexConfig(n_postings=100, value_type="fixedu8")
    idx = SeismicSparkIndex.build(spark, docs, cfg)
    queries = synth_queries(500, n_queries=8, seed=3)

    plain, packed = str(tmp_path / "plain"), str(tmp_path / "packed")
    idx.save(plain)
    idx.save(packed, packed_values=True)

    def dir_bytes(p):
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    assert dir_bytes(os.path.join(packed, "forward")) < dir_bytes(
        os.path.join(plain, "forward")
    )

    loaded = SeismicSparkIndex.load(spark, packed)
    want = {
        (r.query_id, r.rank, r.doc_id, round(r.score, 6))
        for r in idx.batch_search(queries, k=10, heap_factor=1.0).collect()
    }
    got = {
        (r.query_id, r.rank, r.doc_id, round(r.score, 6))
        for r in loaded.batch_search(queries, k=10, heap_factor=1.0).collect()
    }
    assert got == want and got


def test_term_bucket_partition_pruning(spark, tmp_path):
    """save(partitions_by_term_hash=N) writes a real term_bucket partition
    column; a query's bucket filter must (a) read strictly fewer files than a
    full scan — counted via input_file_name over the pruned scan — and
    (b) return identical results to the unpartitioned index."""
    import os

    pages = synth_pages(spark, 300, vocab_size=400, seed=5)
    docs = pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    idx = SeismicSparkIndex.build(
        spark, docs, IndexConfig(n_postings=100, blocking="fixed", block_size=8)
    )
    path = str(tmp_path / "bucketed")
    idx.save(path, partitions_by_term_hash=16)
    loaded = SeismicSparkIndex.load(spark, path)
    assert loaded.term_buckets == 16

    queries = synth_queries(400, n_queries=3, seed=9)
    from seismic_spark import search as srch

    qvecs = srch.resolve_queries(spark, queries, loaded.vocab)
    pruned = loaded._postings_for(qvecs)
    files_pruned = (
        pruned.select(F.input_file_name().alias("f")).distinct().count()
    )
    files_total = (
        loaded.postings.select(F.input_file_name().alias("f")).distinct().count()
    )
    n_buckets_hit = len(
        {int(t) % 16 for ts, _ in qvecs.values() for t in ts}
    )
    assert n_buckets_hit < 16  # the probe is meaningful
    assert files_pruned < files_total
    # and the plan prunes at the partition level, not a post-scan filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan

    want = {
        (r.query_id, r.rank, r.doc_id, round(r.score, 6))
        for r in idx.batch_search(queries, k=10, heap_factor=1.0).collect()
    }
    got = {
        (r.query_id, r.rank, r.doc_id, round(r.score, 6))
        for r in loaded.batch_search(queries, k=10, heap_factor=1.0).collect()
    }
    assert got == want and got


@pytest.mark.parametrize(
    "save_kw",
    [{}, {"packed_values": True}, {"partitions_by_term_hash": 4}],
    ids=["plain", "packed", "term_buckets"],
)
def test_load_footer_schema_matches_inferred(spark, tmp_path, save_kw):
    """load() plans each table from the schema Spark wrote into its parquet
    footer instead of an inference job.  The footer's top-level
    nullability differs from the inferred schema (``terms`` is
    non-nullable there), so pin that the planned DataFrame's schema is
    exactly what inference gives.  A term-bucketed postings table has no
    footer at its root and falls back to inference."""
    import os

    from seismic_spark.index import _footer_schema, _read_parquet

    pages = synth_pages(spark, 120, vocab_size=300, seed=4)
    docs = pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    idx = SeismicSparkIndex.build(
        spark, docs, IndexConfig(n_postings=40, value_type="fixedu8")
    )
    path = str(tmp_path / "idx")
    idx.save(path, **save_kw)
    loaded = SeismicSparkIndex.load(spark, path)
    for table in ("forward", "vocab", "postings"):
        tdir = os.path.join(path, table)
        inferred = spark.read.parquet(tdir).schema
        partitioned = table == "postings" and "partitions_by_term_hash" in save_kw
        assert (_footer_schema(tdir) is None) == partitioned
        assert _read_parquet(spark, tdir).schema == inferred
        if not (table == "forward" and "packed_values" in save_kw):
            assert getattr(loaded, table).schema == inferred
