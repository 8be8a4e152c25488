"""Resumable index builds: per-stage snapshots + per-partition lineage + metrics.

North-rule requirement: index builds resume from checkpoints with
per-partition lineage and build metrics.  Each build stage (vocab, forward,
postings) is written as a Parquet snapshot directory (the Iceberg-snapshot
analogue — swap the writer for `writeTo(...).createOrReplace()` when an
Iceberg catalog is configured); a stage whose snapshot already exists with a
matching config fingerprint is skipped on resume, so a killed build redoes
only unfinished stages.

Artifacts under `<path>/`:
  vocab/ forward/ postings/    stage snapshots (parquet, _SUCCESS-marked)
  lineage.json                 per stage: status, rows, per-file row counts,
                               wall time, config fingerprint
  metrics.json                 build metrics (docs/sec, nnz, timings)
  meta.json                    n_docs / avgdl / config (for load())
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seismic_spark import forward as fwd
from seismic_spark import postings as pst
from seismic_spark import textprep
from seismic_spark import vocab as voc
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig


def _fingerprint(cfg: IndexConfig, extra: dict) -> str:
    payload = json.dumps({"cfg": asdict(cfg), **extra}, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class CheckpointedBuild:
    """Build a SeismicSparkIndex with stage-level resume."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        resume: bool = True,
        lineage_detail: str = "full",  # "full" = per-file row counts (one
        # extra count job per stage); "light" = status/fingerprint/time only
    ) -> None:
        self.spark = spark
        self.path = path
        self.resume = resume
        self.lineage_detail = lineage_detail
        self.lineage: dict[str, dict] = {}
        self.metrics: dict[str, float] = {}
        os.makedirs(path, exist_ok=True)
        lineage_file = os.path.join(path, "lineage.json")
        if resume and os.path.exists(lineage_file):
            with open(lineage_file) as f:
                self.lineage = json.load(f)

    # ------------------------------------------------------------ stages ----

    def _dir(self, stage: str) -> str:
        return os.path.join(self.path, stage)

    def _complete(self, stage: str, fp: str) -> bool:
        rec = self.lineage.get(stage)
        return (
            rec is not None
            and rec.get("status") == "complete"
            and rec.get("fingerprint") == fp
            and os.path.exists(os.path.join(self._dir(stage), "_SUCCESS"))
        )

    def _run_stage(self, stage: str, fp: str, df_fn) -> DataFrame:
        """Write-or-reuse one stage snapshot; record lineage + metrics."""
        if self._complete(stage, fp):
            self.lineage[stage]["resumed"] = True
            return self.spark.read.parquet(self._dir(stage))
        t0 = time.time()
        df = df_fn()
        df.write.mode("overwrite").parquet(self._dir(stage))
        out = self.spark.read.parquet(self._dir(stage))
        rec = {
            "status": "complete",
            "fingerprint": fp,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if self.lineage_detail == "full":
            # per-partition (file-level) lineage of the snapshot
            per_file = {
                os.path.basename(r["f"]): r["n"]
                for r in out.groupBy(F.input_file_name().alias("f"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            rec["rows"] = int(sum(per_file.values()))
            rec["files"] = per_file
        dur = round(time.time() - t0, 2)
        rec["duration_sec"] = dur
        self.lineage[stage] = rec
        self.metrics[f"{stage}_sec"] = dur
        self._flush()
        return out

    def _flush(self) -> None:
        with open(os.path.join(self.path, "lineage.json"), "w") as f:
            json.dump(self.lineage, f, indent=1)
        with open(os.path.join(self.path, "metrics.json"), "w") as f:
            json.dump(self.metrics, f, indent=1)

    # ------------------------------------------------------------- build ----

    def _run_postings_batched(
        self,
        dtw: DataFrame,
        forward: DataFrame,
        cfg: IndexConfig,
        n_terms: int,
        id_col: str,
        n_batches: int,
        base_fp: str,
        n_docs: int,
    ) -> DataFrame:
        """`batched_indexing` analogue (pylib/mod.rs:327-384): build postings
        in term-range waves, each written + lineage-tracked independently, so
        the peak shuffle working set is 1/n_batches of the corpus and a
        killed build resumes at wave granularity.

        Wave w covers terms with ``term_id % n_batches == w``.  For
        ``pruning='fixed'`` (per-term top-n) the union of waves is EXACTLY
        the unbatched output; for ``pruning='global'`` the threshold is
        computed ONCE on the full entry set (one extra bounded-collect pass,
        postings.global_threshold_cut) and applied per wave — so the union
        is also exactly the unbatched output (test_checkpoint pins this).
        """
        out_root = self._dir("postings")
        os.makedirs(out_root, exist_ok=True)
        # the global threshold is a deterministic function of (cfg, data),
        # both already captured by base_fp — so waves fingerprint on base_fp
        # alone and the (count + iterative approxQuantile) cut computation is
        # deferred until some wave actually needs building: resuming a
        # FINISHED build is a pure metadata no-op, no full-corpus passes
        global_cut = None
        cut_computed = cfg.pruning != "global"
        for w in range(n_batches):
            stage = f"postings_wave_{w}"
            fp = _fingerprint(
                cfg,
                {"base": base_fp, "wave": w, "of": n_batches},
            )
            wave_dir = os.path.join(out_root, f"wave={w}")
            rec = self.lineage.get(stage)
            if (
                self.resume
                and rec is not None
                and rec.get("status") == "complete"
                and rec.get("fingerprint") == fp
                and os.path.exists(os.path.join(wave_dir, "_SUCCESS"))
            ):
                self.lineage[stage]["resumed"] = True
                continue
            t0 = time.time()
            if not cut_computed:
                global_cut = pst.global_threshold_cut(
                    dtw, n_terms * cfg.n_postings
                )
                cut_computed = True
            wave_dtw = dtw.filter(F.pmod(F.col("term_id"), F.lit(n_batches)) == w)
            pst.build_postings(
                wave_dtw, forward, cfg, n_terms, id_col, global_cut=global_cut,
                n_docs=n_docs,
            ).write.mode("overwrite").parquet(wave_dir)
            self.lineage[stage] = {
                "status": "complete",
                "fingerprint": fp,
                "duration_sec": round(time.time() - t0, 2),
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self.metrics[f"{stage}_sec"] = self.lineage[stage]["duration_sec"]
            self._flush()
        return self.spark.read.parquet(os.path.join(out_root, "wave=*"))

    def build(
        self,
        docs: DataFrame,
        cfg: IndexConfig | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        batched_indexing: int | None = None,
    ) -> SeismicSparkIndex:
        """Fully storage-based staged build: every intermediate is a snapshot
        read back from storage, never a cached lineage — so task scheduling
        is locality-free (a non-local task re-reads a parquet split instead
        of recomputing upstream Python), stages are individually resumable,
        and the dataflow is identical on one machine and a 1000-executor
        cluster reading object storage."""
        cfg = cfg or IndexConfig()
        t_start = time.time()
        # one scan: row count + an order-insensitive content signature, so
        # resuming against a MODIFIED corpus with the same row count can't
        # silently reuse stale snapshots (fingerprint = f(cfg, data)).
        # Computed even when resume=False: THIS build's lineage must carry
        # the real signature or a later resume=True run over the identical
        # corpus could never reuse the snapshots it just wrote.
        sig_row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.col(id_col), F.col(text_col))).alias("sig"),
        ).collect()[0]
        n_docs, sig = int(sig_row["n"]), int(sig_row["sig"] or 0)
        self.metrics["fingerprint_sec"] = round(time.time() - t_start, 2)
        base_fp = _fingerprint(cfg, {"n_docs": n_docs, "content_sig": sig})

        tokens = self._run_stage(
            "tokens",
            base_fp,
            lambda: textprep.tokenize(docs.select(id_col, text_col), text_col).select(
                id_col, "tokens", "dl"
            ),
        )
        t0 = time.time()
        _, avgdl = textprep.corpus_stats(tokens)
        self.metrics["corpus_stats_sec"] = round(time.time() - t0, 2)

        vocab = self._run_stage(
            "vocab", base_fp, lambda: voc.build_vocab(tokens, id_col)
        )
        t0 = time.time()
        n_terms = vocab.count()
        self.metrics["vocab_count_sec"] = round(time.time() - t0, 2)

        def _weights() -> DataFrame:
            dtw = textprep.bm25_weights(
                textprep.term_frequencies(tokens, id_col), vocab, n_docs, avgdl, id_col
            )
            # same value-storage round-trip as the direct build path
            # (index.py) — a checkpointed build must not diverge from it
            return textprep.value_round_trip_col(dtw, cfg.value_type)

        dtw = self._run_stage("weights", base_fp, _weights)
        forward = self._run_stage(
            "forward", base_fp, lambda: fwd.build_forward(dtw, id_col)
        )
        if batched_indexing and batched_indexing > 1:
            postings = self._run_postings_batched(
                dtw, forward, cfg, n_terms, id_col, batched_indexing, base_fp,
                n_docs,
            )
        else:
            postings = self._run_stage(
                "postings",
                base_fp,
                lambda: pst.build_postings(dtw, forward, cfg, n_terms, id_col,
                                           n_docs=n_docs),
            )

        self.metrics["total_sec"] = round(time.time() - t_start, 2)
        self.metrics["n_docs"] = n_docs
        self.metrics["docs_per_sec"] = round(n_docs / self.metrics["total_sec"], 1)
        idx = SeismicSparkIndex(
            self.spark, vocab, forward, postings, n_docs, avgdl, cfg
        )
        # the byte accounting rides in meta.json, as save() writes it, so a
        # reload sizes its replica without the two aggregate scans
        with open(os.path.join(self.path, "meta.json"), "w") as f:
            json.dump({"n_docs": n_docs, "avgdl": avgdl, "config": asdict(cfg),
                       "space_usage": idx.space_usage()}, f)
        self._flush()
        # the stage snapshots ARE plain parquet scans of these dirs —
        # replica hydration can read them directly with Arrow (r6)
        idx.storage_paths["vocab"] = self._dir("vocab")
        idx.storage_paths["forward"] = self._dir("forward")
        idx.storage_paths["postings"] = self._dir("postings")
        return idx
