"""Resume-from-checkpoint: killed builds redo only unfinished stages and the
resumed index equals a from-scratch build (north rule)."""

import json
import os
import shutil

import pandas as pd
import pytest

from seismic_spark.checkpoint import CheckpointedBuild
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(
        [(i, f"term_{i % 7} term_{i % 3} alpha beta term_{i % 11}") for i in range(60)],
        "doc_id BIGINT, text STRING",
    )


def _postings_snapshot(idx):
    rows = idx.postings.select("term_id", "salt", "n_docs", "blocks").collect()
    return sorted((r.term_id, r.salt, r.n_docs, list(r.blocks)) for r in rows)


def test_resume_skips_completed_stages(spark, docs_df, tmp_path):
    path = str(tmp_path / "ckpt")
    cfg = IndexConfig(n_postings=100, blocking="fixed", block_size=4)

    full = CheckpointedBuild(spark, path, resume=True).build(docs_df, cfg)
    want = _postings_snapshot(full)
    lineage1 = json.load(open(os.path.join(path, "lineage.json")))
    assert set(lineage1) == {"tokens", "vocab", "weights", "forward", "postings"}
    assert all(s["status"] == "complete" for s in lineage1.values())
    assert all(s["rows"] > 0 and s["files"] for s in lineage1.values())

    # simulate a crash after stage 2: postings snapshot lost
    shutil.rmtree(os.path.join(path, "postings"))
    vocab_mtime = os.path.getmtime(os.path.join(path, "vocab", "_SUCCESS"))

    resumed = CheckpointedBuild(spark, path, resume=True).build(docs_df, cfg)
    assert _postings_snapshot(resumed) == want
    # completed stages were NOT rebuilt
    assert os.path.getmtime(os.path.join(path, "vocab", "_SUCCESS")) == vocab_mtime
    lineage2 = json.load(open(os.path.join(path, "lineage.json")))
    assert lineage2["vocab"].get("resumed") is True
    assert lineage2["forward"].get("resumed") is True


def test_config_change_invalidates_stages(spark, docs_df, tmp_path):
    path = str(tmp_path / "ckpt2")
    CheckpointedBuild(spark, path).build(docs_df, IndexConfig(n_postings=100))
    v1 = os.path.getmtime(os.path.join(path, "postings", "_SUCCESS"))
    CheckpointedBuild(spark, path).build(docs_df, IndexConfig(n_postings=5))
    v2 = os.path.getmtime(os.path.join(path, "postings", "_SUCCESS"))
    assert v2 > v1  # rebuilt under the new fingerprint


def test_data_change_invalidates_stages(spark, docs_df, tmp_path):
    """Same row count, different content → fingerprint must differ and every
    stage must rebuild (ADVICE r1: content signature in the fingerprint)."""
    path = str(tmp_path / "ckpt3")
    cfg = IndexConfig(n_postings=100)
    CheckpointedBuild(spark, path).build(docs_df, cfg)
    v1 = os.path.getmtime(os.path.join(path, "postings", "_SUCCESS"))

    from pyspark.sql import functions as F

    changed = docs_df.withColumn(
        "text", F.concat(F.col("text"), F.lit(" gamma"))
    )
    idx = CheckpointedBuild(spark, path).build(changed, cfg)
    v2 = os.path.getmtime(os.path.join(path, "postings", "_SUCCESS"))
    assert v2 > v1  # rebuilt, not silently reused
    # and the rebuilt index reflects the new corpus
    assert idx.vocab.filter(F.col("term") == "gamma").count() == 1


def test_checkpointed_f16_build_matches_direct(spark, docs_df, tmp_path):
    """value_type='f16' must round-trip weights in the staged build exactly
    like the direct build path (ADVICE r1: CheckpointedBuild ignored f16)."""
    from seismic_spark.index import SeismicSparkIndex

    cfg = IndexConfig(n_postings=100, value_type="f16")
    staged = CheckpointedBuild(spark, str(tmp_path / "ckpt4")).build(docs_df, cfg)
    direct = SeismicSparkIndex.build(spark, docs_df, cfg)
    s = {(r.doc_id, tuple(r.terms), tuple(r.weights))
         for r in staged.forward.collect()}
    d = {(r.doc_id, tuple(r.terms), tuple(r.weights))
         for r in direct.forward.collect()}
    assert s == d  # bitwise-equal f16-rounded weights


def test_batched_indexing_matches_unbatched(spark, docs_df, tmp_path):
    """`batched_indexing` (pylib/mod.rs:327-384 analogue): term-range waves
    with per-wave lineage; for fixed pruning the union of waves is EXACTLY
    the unbatched postings table, and a killed build resumes at wave
    granularity."""
    cfg = IndexConfig(n_postings=100, blocking="fixed", block_size=4)
    plain = CheckpointedBuild(spark, str(tmp_path / "plain")).build(docs_df, cfg)
    bpath = str(tmp_path / "batched")
    batched = CheckpointedBuild(spark, bpath).build(
        docs_df, cfg, batched_indexing=3
    )
    assert _postings_snapshot(batched) == _postings_snapshot(plain)
    lineage = json.load(open(os.path.join(bpath, "lineage.json")))
    waves = [k for k in lineage if k.startswith("postings_wave_")]
    assert len(waves) == 3

    # crash one wave; resume rebuilds only it
    shutil.rmtree(os.path.join(bpath, "postings", "wave=1"))
    w0 = os.path.getmtime(os.path.join(bpath, "postings", "wave=0", "_SUCCESS"))
    resumed = CheckpointedBuild(spark, bpath, resume=True).build(
        docs_df, cfg, batched_indexing=3
    )
    assert _postings_snapshot(resumed) == _postings_snapshot(plain)
    assert os.path.getmtime(
        os.path.join(bpath, "postings", "wave=0", "_SUCCESS")
    ) == w0
    lineage2 = json.load(open(os.path.join(bpath, "lineage.json")))
    assert lineage2["postings_wave_0"].get("resumed") is True


def test_batched_global_pruning_matches_unbatched(spark, docs_df, tmp_path):
    """pruning='global' batched waves share ONE full-corpus threshold
    (ADVICE r2: per-wave budgets deviated from the unbatched semantics), so
    the union of waves equals the unbatched postings table exactly — gap
    blobs included."""
    cfg = IndexConfig(
        n_postings=3, pruning="global", max_fraction=1.5,
        blocking="fixed", block_size=4,
    )
    plain = CheckpointedBuild(spark, str(tmp_path / "gplain")).build(docs_df, cfg)
    batched = CheckpointedBuild(spark, str(tmp_path / "gbatched")).build(
        docs_df, cfg, batched_indexing=3
    )

    def full_snapshot(idx):
        rows = idx.postings.collect()
        return sorted(
            (
                r.term_id, r.salt, r.n_docs, tuple(r.blocks),
                tuple(r.block_lens), tuple(bytes(g) for g in r.doc_gaps),
                tuple(r.block_max),
            )
            for r in rows
        )

    assert full_snapshot(batched) == full_snapshot(plain)


def test_reloaded_checkpoint_hydrates_with_no_spark_job(spark, docs_df,
                                                        tmp_path):
    """A checkpointed snapshot carries its byte accounting in meta.json, as
    a saved one does, so `load` → `serving_replica()` of it runs no Spark
    job (the size check reads meta.json, not two aggregate scans) and the
    replica answers exactly as the in-session index's."""
    path = str(tmp_path / "ckpt_serve")
    idx = CheckpointedBuild(spark, path).build(
        docs_df, IndexConfig(n_postings=100, blocking="fixed", block_size=4)
    )
    with open(os.path.join(path, "meta.json")) as f:
        assert json.load(f)["space_usage"] == idx.space_usage()

    sc = spark.sparkContext
    group = "test-checkpoint-restart-to-serving"
    sc.setJobGroup(group, "load + hydrate")
    try:
        rep = SeismicSparkIndex.load(spark, path).serving_replica()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    queries = [("q0", ["term_1", "alpha"], [1.0, 0.5]),
               ("q1", ["term_4", "term_2", "beta"], [0.7, 1.2, 0.3])]
    want = idx.serving_replica().batch_search(queries, k=5, heap_factor=0.9)
    assert want["query_id"].nunique() == 2
    pd.testing.assert_frame_equal(
        rep.batch_search(queries, k=5, heap_factor=0.9), want,
        check_exact=True,
    )
