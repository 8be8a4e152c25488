"""Incremental index ingest via Structured Streaming (S4 analogue).

The reference ingests incrementally with ``add_document`` (growable dataset,
inverted_index_wrapper.rs:680-719).  The Spark-native analogue: new pages
arrive as files in a directory; ``foreachBatch`` tokenizes/weights them and
appends **delta posting rows** to the index table.  Posting rows are additive
by construction — search already merges multiple (term_id, salt) rows per
term — so a delta batch is just new rows with a batch-unique salt offset.
Restart-safety comes from the streaming checkpoint (exactly-once foreachBatch
per epoch).

Documented approximation (vs a full rebuild): delta docs are BM25-weighted
with the stats (df/avgdl/N) of the base corpus snapshot — identical to the
reference's behavior of resolving against the existing token map.  The decay
is bounded by :func:`compact`: it folds base tokens + every streamed delta's
tokens into ONE re-trued rebuild (fresh df/avgdl/N, grown vocab, re-pruned
postings) whose output is exactly a from-scratch build over the union corpus
(test_streaming_ingest pins the equality) — the batch analogue of the
reference folding ``add_document`` increments into one structure
(inverted_index_wrapper.rs:680-719).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seismic_spark import forward as fwd
from seismic_spark import postings as pst
from seismic_spark import textprep
from seismic_spark import vocab as voc
from seismic_spark.postings import IndexConfig

DELTA_SALT_STRIDE = 1 << 16


def build_delta_postings(
    spark: SparkSession,
    new_docs: DataFrame,
    vocab: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: IndexConfig,
    batch_id: int,
    id_col: str = "doc_id",
    tokens: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(delta_forward, delta_postings) for a batch of new docs.

    Unknown terms are dropped (vocab is the base snapshot's; the reference
    drops unmapped tokens the same way for queries and grows the map for
    docs — growth happens at compaction here).  ``tokens`` lets the caller
    pass pre-tokenized docs (the ingest loop tokenizes once and shares the
    result with its tokens_delta write).
    """
    toks = (
        tokens
        if tokens is not None
        else textprep.tokenize(new_docs.select(id_col, "text"))
    )
    tf_df = textprep.term_frequencies(toks, id_col)
    dtw = textprep.bm25_weights(tf_df, vocab, n_docs, avgdl, id_col).persist()
    delta_forward = fwd.build_forward(dtw, id_col)
    n_terms = vocab.count()
    delta_postings = pst.build_postings(dtw, delta_forward, cfg, n_terms, id_col)
    # batch-unique salt so delta rows can't collide with base or other deltas
    delta_postings = delta_postings.withColumn(
        "salt", (F.col("salt") + (batch_id + 1) * DELTA_SALT_STRIDE).cast("int")
    )
    return delta_forward, delta_postings


def start_ingest(
    spark: SparkSession,
    pages_dir: str,
    index_path: str,
    cfg: IndexConfig | None = None,
    available_now: bool = True,
):
    """Stream pages parquet files from ``pages_dir`` into index deltas.

    ``available_now=True`` drains what's there and stops (testable,
    batch-incremental); ``False`` keeps a long-running micro-batch stream.
    """
    import json

    cfg = cfg or IndexConfig()
    with open(os.path.join(index_path, "meta.json")) as f:
        meta = json.load(f)
    vocab = spark.read.parquet(os.path.join(index_path, "vocab")).persist()

    pages_schema = (
        "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
    )
    stream = spark.readStream.schema(pages_schema).parquet(pages_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("url", "text").withColumn(
            "doc_id", F.abs(F.xxhash64("url"))
        )
        # drop already-indexed doc ids: re-ingesting an existing URL must not
        # create duplicate forward rows (they would double-count in scoring)
        # or duplicate docs across a term's blocks (θ assumes distinct docs).
        existing = spark.read.parquet(os.path.join(index_path, "forward")).select(
            "doc_id"
        )
        # localCheckpoint truncates the lineage: the anti-join must be
        # evaluated against the PRE-append forward snapshot, not re-executed
        # lazily after the forward append below (which would see the new
        # docs and drop them from the postings delta).
        docs = docs.join(existing, "doc_id", "left_anti").localCheckpoint(eager=True)
        # tokenize ONCE per batch; persisted so the tokens_delta write and the
        # delta-postings build share it instead of re-running the UDF
        toks = textprep.tokenize(docs.select("doc_id", "text")).select(
            "doc_id", "tokens", "dl"
        ).persist()
        # tokens_delta is written BEFORE the forward append: a crash between
        # the two re-runs the batch, the anti-join drops docs only if their
        # forward rows landed — so tokens for indexed docs can never be lost
        # (compact() depends on them; it dedups tokens_delta on doc_id, which
        # absorbs the opposite crash order's duplicate delta rows)
        toks.write.mode("append").parquet(os.path.join(index_path, "tokens_delta"))
        d_fwd, d_post = build_delta_postings(
            spark, docs, vocab, meta["n_docs"], meta["avgdl"], cfg, batch_id,
            tokens=toks,
        )
        d_fwd.write.mode("append").parquet(os.path.join(index_path, "forward"))
        d_post.write.mode("append").parquet(os.path.join(index_path, "postings"))
        toks.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(index_path, "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact(
    spark: SparkSession, index_path: str, cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
):
    """Fold streamed deltas into a re-trued index (the reference's
    fold-into-one-structure, inverted_index_wrapper.rs:680-719, at rebuild
    granularity): base ``tokens`` snapshot ∪ ``tokens_delta`` rows → fresh
    N/avgdl/df, a GROWN vocab (delta-only terms become searchable), re-pruned
    postings, and exact BM25 weights — byte-identical to a from-scratch
    CheckpointedBuild over the union corpus (test_streaming_ingest pins it).

    Requires the CheckpointedBuild layout (a ``tokens`` stage snapshot);
    an index persisted with plain ``save()`` has no token material to re-true
    from and raises.  Crash-safe by idempotence, not atomicity: the delta is
    anti-joined on doc_id before the union, stage dirs are written to
    ``_compact_tmp`` and swapped last via rename-aside (each live stage is
    moved to ``<stage>_old`` until its replacement is in place, and rolled
    back on restart — the base snapshots are never deleted before their
    replacement lands), and ``tokens_delta`` is dropped only after every
    swap — re-running a killed compact converges.  (On a cluster
    the swap is one Iceberg REPLACE TABLE transaction.)

    Returns the compacted :class:`SeismicSparkIndex`.
    """
    from seismic_spark.index import SeismicSparkIndex

    # recover from a compact() killed mid-swap: the swap below renames each
    # live stage aside (`<stage>_old`) before moving its replacement in, so
    # a crash leaves either (dst missing, _old intact) — roll back — or
    # (dst swapped, _old stale) — discard the leftover.  The base snapshots
    # are therefore never destroyed before their replacement is in place.
    for stage in ("tokens", "vocab", "weights", "forward", "postings"):
        dst = os.path.join(index_path, stage)
        old = dst + "_old"
        if os.path.exists(old):
            if os.path.exists(dst):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, dst)

    tokens_dir = os.path.join(index_path, "tokens")
    if not os.path.exists(tokens_dir):
        raise ValueError(
            "compact() needs the CheckpointedBuild layout (a `tokens` stage "
            f"snapshot) under {index_path}; indexes persisted with save() "
            "keep no token material to re-true weights from"
        )
    with open(os.path.join(index_path, "meta.json")) as f:
        meta = json.load(f)
    cfg = cfg or IndexConfig(**meta["config"])

    t0 = time.time()
    tokens = spark.read.parquet(tokens_dir).select(id_col, "tokens", "dl")
    delta_dir = os.path.join(index_path, "tokens_delta")
    if os.path.exists(delta_dir):
        delta = spark.read.parquet(delta_dir).select(id_col, "tokens", "dl")
        # a crash between the ingest loop's tokens_delta write and its forward
        # append can leave duplicate delta rows for one doc (same content) —
        # dedup before folding so df/tf never count a doc twice
        delta = delta.dropDuplicates([id_col])
        # idempotence under re-runs: drop deltas already folded into base
        delta = delta.join(tokens.select(id_col), id_col, "left_anti")
        tokens = tokens.unionByName(delta)

    tmp = os.path.join(index_path, "_compact_tmp")
    shutil.rmtree(tmp, ignore_errors=True)

    def snap(stage: str, df: DataFrame) -> DataFrame:
        df.write.mode("overwrite").parquet(os.path.join(tmp, stage))
        return spark.read.parquet(os.path.join(tmp, stage))

    # identical stage pipeline to CheckpointedBuild.build (checkpoint.py) —
    # compaction == from-scratch is a determinism property of these stages
    tokens = snap("tokens", tokens)
    n_docs, avgdl = textprep.corpus_stats(tokens)
    vocab = snap("vocab", voc.build_vocab(tokens, id_col))
    n_terms = vocab.count()
    dtw = textprep.bm25_weights(
        textprep.term_frequencies(tokens, id_col), vocab, n_docs, avgdl, id_col
    )
    dtw = snap("weights", textprep.value_round_trip_col(dtw, cfg.value_type))
    forward = snap("forward", fwd.build_forward(dtw, id_col))
    postings = snap("postings", pst.build_postings(dtw, forward, cfg, n_terms,
                                                   id_col, n_docs=n_docs))
    # the byte accounting rides in meta.json, as save() writes it, so the
    # load() below sizes its replica without the two aggregate scans
    usage = SeismicSparkIndex(
        spark, vocab, forward, postings, n_docs, avgdl, cfg
    ).space_usage()

    for stage in ("tokens", "vocab", "weights", "forward", "postings"):
        dst = os.path.join(index_path, stage)
        old = dst + "_old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dst):
            os.rename(dst, old)  # aside, not deleted — see recovery above
        os.rename(os.path.join(tmp, stage), dst)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(delta_dir, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    # drop any cached relations over the swapped paths (e.g. the vocab the
    # ingest stream persisted) — otherwise load() below would be served the
    # PRE-compaction data from the CacheManager
    spark.catalog.refreshByPath(index_path)
    with open(os.path.join(index_path, "meta.json"), "w") as f:
        json.dump({"n_docs": n_docs, "avgdl": avgdl, "config": asdict(cfg),
                   "space_usage": usage}, f)
    # pre-compaction lineage fingerprints no longer describe the snapshots —
    # replace them so a resumed CheckpointedBuild can't silently reuse stale
    # stages against the original (smaller) corpus
    with open(os.path.join(index_path, "lineage.json"), "w") as f:
        json.dump(
            {
                "compaction": {
                    "status": "complete",
                    "n_docs": n_docs,
                    "duration_sec": round(time.time() - t0, 2),
                    "finished_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                }
            },
            f,
            indent=1,
        )
    return SeismicSparkIndex.load(spark, index_path)
