"""SeismicSparkIndex — the engine façade (build / search / save / load).

Python-API parity with the reference's ``SeismicIndex`` (pylib/mod.rs:327-655):
``build`` takes a DataFrame of documents (or raw pages) instead of a JSONL
path; ``search``/``batch_search`` take query term/weight arrays and return a
DataFrame; ``save``/``load`` persist the index tables as Parquet directories
(the Iceberg-snapshot analogue of `.index.seismic`, SURVEY.md §1.5 — swap the
writer format for "iceberg" on a cluster with the runtime catalog).
"""

from __future__ import annotations

import json
import logging
import os
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seismic_spark import forward as fwd
from seismic_spark import postings as pst
from seismic_spark import search as srch
from seismic_spark import textprep, vocab as voc
from seismic_spark.postings import IndexConfig


_log = logging.getLogger(__name__)

# In-process gate: an index whose forward table fits this byte budget
# (est. n_docs·avgdl·16 B) answers batch_search, bruteforce and build_knn
# from its one cached ServingReplica — the reference's own in-process
# architecture (inverted_index.rs:38), applied when one process holds the
# corpus.  Above the cap nothing is hydrated and the Spark formulations run
# unchanged, so the gate is scale-safe.  avgdl counts TOKENS, so for
# tokenized corpora the estimate overshoots true forward bytes ~5–10×.
_LOCAL_SCORE_MAX_BYTES = int(
    os.environ.get("SEISMIC_LOCAL_SCORE_MAX_BYTES", str(384 << 20))
)

_RESULTS_SCHEMA = "query_id STRING, rank INT, doc_id BIGINT, score DOUBLE"

# key under which Spark's parquet writer stores the DataFrame schema (JSON)
# in every data file's footer
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str):
    """The schema Spark wrote into the footer of a data file directly under
    ``path``, or None when there is none: a directory-partitioned table
    (its files sit in ``col=value/`` subdirectories, and the partition
    column is not in the footer) or a file from another writer."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    try:
        part = next(
            f for f in sorted(os.listdir(path))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    except (OSError, StopIteration):
        return None
    raw = (pq.read_metadata(os.path.join(path, part)).metadata or {}).get(
        _SPARK_SCHEMA_KEY
    )
    return StructType.fromJson(json.loads(raw)) if raw else None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` planned from the footer schema when
    there is one: schema inference is a Spark job per table (footer reads
    on the executors), the footer read here is one local file."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _check_missing_tokens(dropped_pairs, missing_tokens: str) -> None:
    """Shared-vocab build guard: count document (doc, token) pairs whose
    token is absent from the supplied vocab, then warn or raise.

    The reference PANICS here (inverted_index_wrapper.rs process_data
    indexes ``token_to_id_mapping[&t]``); dropping is our deliberate
    relaxation, so it must never be silent by default.
    """
    n_dropped = dropped_pairs.count()
    if n_dropped == 0:
        return
    msg = (
        f"{n_dropped} (doc, token) pairs reference tokens absent from the "
        "supplied vocab and were dropped from the index; the reference "
        "panics on unknown document tokens at build time "
        "(missing_tokens='error' restores that, 'ignore' silences this)"
    )
    if missing_tokens == "error":
        raise ValueError(msg)
    import warnings

    warnings.warn(msg, stacklevel=3)


class SeismicSparkIndex:
    """Distributed Seismic-style index over (vocab, forward, postings) tables."""

    def __init__(
        self,
        spark: SparkSession,
        vocab: DataFrame,
        forward: DataFrame,
        postings: DataFrame,
        n_docs: int,
        avgdl: float,
        config: IndexConfig,
        term_buckets: int = 0,
    ) -> None:
        self.spark = spark
        self.vocab = vocab
        self.forward = forward
        self.postings = postings
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.config = config
        # >0 when the postings snapshot is directory-partitioned by
        # term_bucket = term_id % term_buckets (save/load) — search prunes
        self.term_buckets = term_buckets
        # external-string-id ↔ internal-BIGINT-id map (vector builds, P6)
        self.docmap: DataFrame | None = None
        # (doc_id, content) ride-along — the reference's document_content
        # store (inverted_index_wrapper.rs:93-107, load_content=True default)
        self.content: DataFrame | None = None
        # per-INSTANCE ubs cache lifecycle (search.retire_caches): a new
        # search on this index retires this index's previous ubs cache only,
        # so interleaved searches on two indexes never thrash each other
        self._ubs_caches: list[DataFrame] = []
        # per-INSTANCE vocab cache (search.resolve_queries): the driver-side
        # {term: term_id} map, collected once for the queries Spark answers
        self._vocab_cache: dict = {}
        # the in-process replica (serving_replica) and its κ-NN broadcast
        # (knn.build_knn), each made at most once per instance; tables are
        # immutable, so neither invalidates (convert() returns a new index)
        self._replica = None
        self._replica_bc = None
        # space_usage() result cache: the index tables are immutable, so the
        # byte accounting is too — load() pre-populates it from meta.json so
        # replica hydration skips the full-table pre-scan (r6, VERDICT #5)
        self._usage_cache: dict[str, int] | None = None
        # parquet locations of UNTRANSFORMED table snapshots (set by load()
        # and CheckpointedBuild): replica hydration reads these directly
        # with multithreaded Arrow instead of collecting through the Spark
        # driver socket (r6, VERDICT #5 — "hydrate from the snapshot files").
        # Only populated for tables whose DataFrame is a plain scan of the
        # files (never for a packed forward, which load() unpacks in-plan).
        self.storage_paths: dict[str, str] = {}

    # ------------------------------------------------------------- build ----

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        config: IndexConfig | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        cache: bool = True,
        with_postings: bool = True,
        vocab: DataFrame | None = None,
        missing_tokens: str = "warn",
    ) -> "SeismicSparkIndex":
        """Tokenize → BM25-weight → vocab/forward/postings tables.

        ``docs`` needs (id_col, text_col); use
        :func:`seismic_spark.textprep.with_extracted_text` first for raw
        pages with only ``html``.

        ``vocab``: an existing (term, df, term_id) table from another index
        — the ``input_token_to_id_map`` build parameter (pylib/mod.rs:333-384,
        inverted_index_wrapper.rs:398-422): separately built indexes share
        term ids, enabling cross-index query routing / federated shards.
        df counts stay those of the vocab's source corpus — exactly the
        reference, which reuses the supplied map's ids verbatim (idf is
        clamped at 0 when that df exceeds THIS corpus's n_docs, see
        textprep.bm25_weights).  Document tokens absent from the supplied
        vocab are handled per ``missing_tokens`` — NOTE this is a deliberate
        relaxation of the reference, which PANICS at build time on an
        unknown document token (``token_to_id_mapping[&t]`` HashMap index in
        inverted_index_wrapper.rs process_data; only QUERY resolution drops
        silently there, P3):

        - "warn" (default): drop them, but warn with the dropped
          (doc, token)-pair count so shard builds can't silently lose text;
        - "error": raise — the reference's panic semantics;
        - "ignore": silent drop (P3-style).
        """
        if missing_tokens not in ("warn", "error", "ignore"):
            raise ValueError(f"unknown missing_tokens {missing_tokens!r}")
        cfg = config or IndexConfig()
        # under-split inputs (one parquet file at bench scale) would run the
        # tokenize/stats map work in a single task (guide §2.5/§6); build
        # output is partitioning-independent by design (integer count
        # aggregates, per-row weight formulas, pinned window orders), so
        # redistributing is result-neutral
        from seismic_spark.session import ensure_min_parallelism

        docs = ensure_min_parallelism(docs.select(id_col, text_col), id_col)
        toks = textprep.tokenize(docs.select(id_col, text_col), text_col)
        toks = toks.persist()
        n_docs, avgdl = textprep.corpus_stats(toks)
        supplied_vocab = vocab is not None
        if vocab is None:
            vocab = voc.build_vocab(toks, id_col).persist()
        # n_terms only parameterizes GlobalThreshold's budget — defer the
        # count() action (a full vocab pass) unless that pruning mode runs
        n_terms = vocab.count() if cfg.pruning == "global" else 0
        tf_df = textprep.term_frequencies(toks, id_col)
        if supplied_vocab and missing_tokens != "ignore":
            _check_missing_tokens(
                tf_df.join(vocab.select("term"), "term", "left_anti"),
                missing_tokens,
            )
        dtw = textprep.bm25_weights(tf_df, vocab, n_docs, avgdl, id_col)
        if cfg.value_type not in ("f64", None):
            scale_max = None
            if cfg.value_type in ("fixedu8", "fixedu16"):
                scale_max = float(
                    dtw.agg(F.max("weight")).collect()[0][0] or 0.0
                )
            dtw = textprep.value_round_trip_col(dtw, cfg.value_type, scale_max)
        # persist: consumed twice (forward build + pruning windows)
        dtw = dtw.persist()
        forward = fwd.build_forward(dtw, id_col).persist()
        if with_postings:
            postings = pst.build_postings(
                dtw, forward, cfg, n_terms, id_col, n_docs=n_docs
            )
            if cache:
                postings = postings.persist()
        else:  # vocab/forward-only (enough for brute-force oracle runs)
            postings = None
        return cls(spark, vocab, forward, postings, n_docs, avgdl, cfg)

    @classmethod
    def build_from_vectors(
        cls,
        spark: SparkSession,
        vectors: DataFrame,
        config: IndexConfig | None = None,
        cache: bool = True,
        with_postings: bool = True,
        id_scheme: str = "dense",
        load_content: bool = True,
        vocab: DataFrame | None = None,
        missing_tokens: str = "warn",
    ) -> "SeismicSparkIndex":
        """Build from pre-weighted sparse vectors — the reference's PRIMARY
        entry point (``from_json``/``from_tar``/``read_seismic_format``
        consume ready (id, tokens, values) rows and never tokenize,
        inverted_index_wrapper.rs:424-480).  Pairs with the §2.1 readers:
        ``sources.vectors.read_jsonl_vectors`` / ``read_tar_jsonl`` (S1/S2,
        token strings) and ``read_seismic_bin`` (S3, ready component ids).

        ``vectors``: (doc_id, terms, weights[, content]).

        - terms ARRAY<STRING>: vocab ids are assigned in sorted-token order
          (the converter's portability rule,
          convert_json_to_inner_format.py:109-111), P2-resolved by join.
        - terms ARRAY<INT/BIGINT>: ids pass through untouched (the identity
          vocab; df counts still computed for introspection).
        - doc_id STRING: mapped to internal BIGINT ids per ``id_scheme``;
          the external↔internal mapping is kept on ``self.docmap`` for
          result remapping (P6) and persisted by :meth:`save`.

        ``id_scheme`` (string external ids only):
        - "dense" (default): ids 0..n-1 assigned in sorted-external-id order
          (vocab.assign_ordered_ids) — collision-free BY CONSTRUCTION at any
          corpus size, matching the reference's own dense internal ids
          (json_utils.rs:10-41 normalizes external ids; postings store the
          dense row number).  One extra build-time shuffle join.
        - "hash64": abs(xxhash64(ext_id)) — join-free, but a 63-bit space
          expects ≈ n²/2^64 colliding pairs by the birthday bound: ~5×10^4
          silently merged doc pairs at the 10^12-doc design point.  Only for
          small corpora / backward compatibility.

        ``load_content=True`` (the reference's default, pylib/mod.rs:327-384)
        keeps a (doc_id, content) ride-along table when ``vectors`` carries a
        ``content`` column (S1/S2 readers emit one) — served by
        :meth:`get_doc_text` like the reference's ``get_doc_text``
        (inverted_index_wrapper.rs:288-293).

        ``vocab``: an existing (term, df, term_id) table — the
        ``input_token_to_id_map`` parameter (inverted_index_wrapper.rs:
        398-422): reuse another index's term ids.  Document tokens absent
        from the supplied vocab follow ``missing_tokens``
        ("warn"/"error"/"ignore", see :meth:`build` — the reference panics
        at build on unknown document tokens; dropping is our deliberate,
        non-silent-by-default relaxation).

        Weights are stored as given (no BM25 re-weighting — these vectors
        are already weighted, e.g. SPLADE impact scores); ``value_type``
        round-trips apply as in :meth:`build`.
        """
        from pyspark.sql.types import ArrayType, StringType

        if missing_tokens not in ("warn", "error", "ignore"):
            # validate unconditionally (build() does too) — a typo must not
            # silently behave like the default on the branches that never
            # consult the value (int terms / no supplied vocab)
            raise ValueError(f"unknown missing_tokens {missing_tokens!r}")
        cfg = config or IndexConfig()
        # under-split inputs (e.g. one JSONL-derived file) would run the
        # whole resolve/weight map chain in a single task (guide §2.5/§6);
        # same result-neutrality argument as build() — aggregates and
        # per-row transforms are partitioning-independent, pinned window
        # orders cover the rest
        from seismic_spark.session import ensure_min_parallelism

        vectors = ensure_min_parallelism(vectors, "doc_id")
        docmap = None
        if isinstance(vectors.schema["doc_id"].dataType, StringType):
            if id_scheme == "dense":
                docmap = voc.assign_ordered_ids(
                    vectors.select(F.col("doc_id").alias("ext_id")).distinct(),
                    "ext_id",
                    id_col="doc_id",
                    id_type="bigint",
                ).persist()
                vectors = (
                    vectors.withColumnRenamed("doc_id", "ext_id")
                    .join(docmap, "ext_id")
                    .drop("ext_id")
                )
            elif id_scheme == "hash64":
                docmap = (
                    vectors.select(F.col("doc_id").alias("ext_id"))
                    .distinct()
                    .withColumn("doc_id", F.abs(F.xxhash64("ext_id")))
                )
                vectors = vectors.withColumn(
                    "doc_id", F.abs(F.xxhash64("doc_id"))
                )
            else:
                raise ValueError(f"unknown id_scheme {id_scheme!r}")

        content = None
        if load_content and "content" in vectors.columns:
            content = vectors.select("doc_id", "content").persist()

        exploded = vectors.select(
            "doc_id", F.explode(F.arrays_zip("terms", "weights")).alias("z")
        ).select(
            "doc_id",
            F.col("z.terms").alias("_t"),
            F.col("z.weights").cast("double").alias("weight"),
        )
        terms_type = vectors.schema["terms"].dataType
        assert isinstance(terms_type, ArrayType)
        if isinstance(terms_type.elementType, StringType):
            if vocab is None:
                vocab = voc.build_vocab(
                    vectors.select("doc_id", F.col("terms").alias("tokens"))
                ).persist()
            elif missing_tokens != "ignore":
                _check_missing_tokens(
                    exploded.join(
                        vocab.select(F.col("term").alias("_t")), "_t", "left_anti"
                    ),
                    missing_tokens,
                )
            dtw = exploded.join(
                vocab.select(F.col("term").alias("_t"), "term_id"), "_t"
            ).select("doc_id", "term_id", "weight")
        else:
            if vocab is None:
                vocab = (
                    exploded.groupBy(F.col("_t").cast("int").alias("term_id"))
                    .agg(F.count(F.lit(1)).alias("df"))
                    .select(
                        F.col("term_id").cast("string").alias("term"), "df", "term_id"
                    )
                    .persist()
                )
            # integer component ids ARE term ids — pass through untouched
            # regardless of a supplied vocab (inverted_index_wrapper.rs'
            # binary path never re-maps component ids)
            dtw = exploded.select(
                "doc_id", F.col("_t").cast("int").alias("term_id"), "weight"
            )
        n_terms = vocab.count() if cfg.pruning == "global" else 0
        row = vectors.agg(
            F.count(F.lit(1)).alias("n"), F.avg(F.size("terms")).alias("a")
        ).collect()[0]
        n_docs, avgdl = int(row["n"]), row["a"] or 0.0
        if cfg.value_type not in ("f64", None):
            scale_max = None
            if cfg.value_type in ("fixedu8", "fixedu16"):
                scale_max = float(dtw.agg(F.max("weight")).collect()[0][0] or 0.0)
            dtw = textprep.value_round_trip_col(dtw, cfg.value_type, scale_max)
        dtw = dtw.persist()
        forward = fwd.build_forward(dtw).persist()
        if with_postings:
            postings = pst.build_postings(dtw, forward, cfg, n_terms, n_docs=n_docs)
            if cache:
                postings = postings.persist()
        else:
            postings = None
        idx = cls(spark, vocab, forward, postings, n_docs, float(avgdl), cfg)
        idx.docmap = docmap
        idx.content = content
        return idx

    def remap_results(self, results: DataFrame) -> DataFrame:
        """P6 analogue (remap_results/remap_doc_ids,
        inverted_index_wrapper.rs:56-71): translate internal BIGINT doc ids
        back to the external string ids of a vector-built index.  Plain join
        on doc_id — the docmap is CORPUS-sized (one row per document), so it
        must never be broadcast; AQE broadcasts the results side instead
        when it is small (top-k of an interactive batch), and κ-NN-scale
        result sets get a shuffle join.  No-op when the index was built from
        BIGINT ids."""
        docmap = getattr(self, "docmap", None)
        if docmap is None:
            return results
        return (
            results.join(docmap, "doc_id")
            .drop("doc_id")
            .withColumnRenamed("ext_id", "doc_id")
            .select(*results.columns)
        )

    def get_doc_text(self, doc_id) -> str | None:
        """Content lookup (P7 / ``get_doc_text``,
        inverted_index_wrapper.rs:288-293): the stored ``content`` of one
        document, or None when absent.  Accepts an internal BIGINT id or —
        on a docmap-carrying index — the external string id.  Interactive
        single-row lookup (driver collect of a key-filtered scan); for bulk
        joins use ``self.content`` directly."""
        content = getattr(self, "content", None)
        if content is None:
            return None
        if isinstance(doc_id, str) and getattr(self, "docmap", None) is not None:
            rows = (
                self.docmap.filter(F.col("ext_id") == doc_id)
                .join(content, "doc_id")
                .select("content")
                .take(1)
            )
        else:
            rows = (
                content.filter(F.col("doc_id") == int(doc_id))
                .select("content")
                .take(1)
            )
        return rows[0]["content"] if rows else None

    def get(self, doc_id) -> tuple[list[int], list[float]] | None:
        """Vector accessor parity with the reference's ``get(id)``
        (pylib/mod.rs:59-291 / SeismicDataset::get): the stored sparse
        vector of one document as ``(term_ids, weights)``, term ids
        ascending, or None for an unknown id.  Accepts an internal BIGINT
        id or — on a docmap-carrying index — the external string id.
        Interactive single-row lookup (key-filtered forward scan); for bulk
        access join ``self.forward`` directly."""
        if isinstance(doc_id, str) and getattr(self, "docmap", None) is not None:
            rows = (
                self.docmap.filter(F.col("ext_id") == doc_id)
                .join(self.forward, "doc_id")
                .select("terms", "weights")
                .take(1)
            )
        else:
            rows = (
                self.forward.filter(F.col("doc_id") == int(doc_id))
                .select("terms", "weights")
                .take(1)
            )
        if not rows:
            return None
        return list(rows[0]["terms"]), [float(w) for w in rows[0]["weights"]]

    # ------------------------------------------------------------ search ----

    def batch_search(
        self,
        queries: list[tuple[str, list[str], list[float]]],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
        n_knn: int = 0,
    ) -> DataFrame:
        """(query_id, rank, doc_id, score) for a batch of term-weighted
        queries; unknown terms silently dropped (P3).  ``two_phase`` enables
        the first_sorted-style θ tightening (search.py); the default (None)
        mirrors the reference's ``sorted=True`` default (pylib/mod.rs:490-533):
        ON whenever it can pay — when summaries are estimates
        (summary_energy < 1, or nearest-quantized summaries via
        quant_ceil=False) or the search itself is approximate (hf < 1) —
        OFF on the exact path, where phase-0 θ already skips everything
        skippable and phase 1 would only add a pass.

        ``n_knn > 0`` refines results with each hit's stored κ-NN neighbors
        (Q7) — the reference takes ``n_knn`` on every search
        (pylib/mod.rs:490-533); requires :meth:`build_knn` (or a loaded knn
        table on ``self.knn``) first.

        A size-gated index answers from its cached replica (see
        :meth:`_in_process_replica`), bit-identical to the Spark paths; the
        replica is not safe for concurrent calls."""
        if n_knn > 0 and getattr(self, "knn", None) is None:
            raise ValueError("n_knn > 0 requires build_knn() first")
        if two_phase is None:
            two_phase = (
                self.config.summary_energy < 1.0
                or not self.config.quant_ceil
                or heap_factor < 1.0
            )
        rep = self._in_process_replica()
        if rep is None or n_knn > 0:
            qvecs = srch.resolve_queries(
                self.spark, queries, self.vocab, cache=self._vocab_cache
            )
        if rep is not None:
            base = self.spark.createDataFrame(
                rep.batch_search(queries, k, query_cut, heap_factor, two_phase),
                _RESULTS_SCHEMA,
            )
        else:
            base = srch.batch_search(
                self.spark,
                self._postings_for(qvecs),
                self.forward,
                qvecs,
                k=k,
                query_cut=query_cut,
                heap_factor=heap_factor,
                two_phase=two_phase,
                cache_registry=self._ubs_caches,
            )
        if n_knn <= 0:
            return base
        from seismic_spark import knn as knn_mod

        return knn_mod.refine(
            base, self.knn, self.forward, qvecs, k=k, n_knn=n_knn
        )

    def serving_replica(self, max_bytes: int = 4 << 30):
        """This index's RAM-resident
        :class:`~seismic_spark.serving.ServingReplica` — the reference's own
        serving architecture (inverted_index.rs:38, pylib/mod.rs:59-291: the
        index lives in one process's memory and every query is answered
        in-process).

        Hydrated once per index instance and cached: later calls re-check
        `space_usage()` against ``max_bytes`` and return the same object,
        the one size-gated `batch_search`, `bruteforce` and `build_knn`
        answer from.  Its answers are bit-identical to the Spark
        formulations (tests/test_serving.py).  Raises ``MemoryError`` when
        `space_usage()` exceeds ``max_bytes`` — shard the corpus at build
        time for indexes beyond one host (doc-disjoint top-k merges
        exactly)."""
        from seismic_spark.serving import ServingReplica, check_budget

        if self._replica is None:
            self._replica = ServingReplica.from_index(self, max_bytes=max_bytes)
        else:
            check_budget(self, max_bytes)
        return self._replica

    def _in_process_replica(self):
        """THE in-process-versus-Spark decision behind `batch_search`,
        `bruteforce` and `build_knn`: the cached replica when the index is
        under ``_LOCAL_SCORE_MAX_BYTES``, else None ("use Spark").  A
        hydration that raises ``MemoryError`` is logged and answered by
        Spark instead."""
        est = int(self.n_docs * max(float(self.avgdl), 1.0) * 16)
        if self.postings is None or not 0 < est <= _LOCAL_SCORE_MAX_BYTES:
            return None
        try:
            return self.serving_replica()
        except MemoryError as exc:
            _log.warning(
                "in-process replica unavailable (%s); answering with Spark", exc
            )
            return None

    def unpersist_serving(self) -> None:
        """Release the index's cached frames and its κ-NN replica
        broadcast."""
        for df in (self.forward, self.postings, self.vocab):
            df.unpersist()
        if self._replica_bc is not None:
            # unpersist, not destroy: a lazy κ-NN frame may still read it
            self._replica_bc.unpersist(blocking=False)
            self._replica_bc = None

    def _postings_for(self, qvecs) -> DataFrame:
        """Partition-pruned postings scan: for a bucket-partitioned snapshot
        (save(partitions_by_term_hash=N)), restrict to the query terms'
        ``term_bucket`` values — Parquet partition pruning then drops every
        other bucket's files at planning time (the Iceberg bucket-transform
        read path)."""
        if not self.term_buckets:
            return self.postings
        buckets = sorted(
            {int(t) % self.term_buckets for ts, _ in qvecs.values() for t in ts}
        )
        if not buckets:
            return self.postings
        return self.postings.filter(F.col("term_bucket").isin(buckets))

    def search(
        self,
        query_id: str,
        terms: list[str],
        weights: list[float],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
        n_knn: int = 0,
    ) -> DataFrame:
        return self.batch_search(
            [(query_id, terms, weights)], k, query_cut, heap_factor, two_phase,
            n_knn,
        )

    def search_text(
        self, query_id: str, text: str, k: int = 10, query_cut: int = 10,
        heap_factor: float = 1.0, two_phase: bool | None = None, n_knn: int = 0,
    ) -> DataFrame:
        """Free-text query: tokenize and weight terms by query-side idf·tf."""
        toks = [t for t in text.lower().split(" ") if t]
        from collections import Counter

        c = Counter(toks)
        return self.batch_search(
            [(query_id, list(c), [float(v) for v in c.values()])], k, query_cut,
            heap_factor, two_phase, n_knn,
        )

    def bruteforce(
        self, queries: list[tuple[str, list[str], list[float]]], k: int = 10
    ) -> DataFrame:
        """Exact full-scan ground truth (Q10)."""
        rep = self._in_process_replica()
        if rep is not None:
            return self.spark.createDataFrame(
                rep.bruteforce(queries, k), _RESULTS_SCHEMA
            )
        qvecs = srch.resolve_queries(
            self.spark, queries, self.vocab, cache=self._vocab_cache
        )
        return srch.bruteforce_search(self.spark, self.forward, qvecs, k)

    # --------------------------------------------------------------- knn ----

    def build_knn(self, nknn: int = 10, **kw) -> DataFrame:
        """Q8: κ-NN graph via batch self-search; cached on the instance."""
        from seismic_spark import knn as knn_mod

        self.knn = knn_mod.build_knn(self, nknn=nknn, **kw).persist()
        return self.knn

    def batch_search_knn(
        self,
        queries: list[tuple[str, list[str], list[float]]],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        n_knn: int = 5,
    ) -> DataFrame:
        """Q7: dynamically-pruned search + κ-NN neighbor refinement —
        :meth:`batch_search` with ``n_knn`` and ``two_phase=False``."""
        return self.batch_search(
            queries, k, query_cut, heap_factor, two_phase=False, n_knn=n_knn
        )

    # -------------------------------------------------------- conversion ----

    def convert(self, value_type: str, cache: bool = True) -> "SeismicSparkIndex":
        """Q13 analogue (`convert_dataset_from`, inverted_index.rs:237-284):
        re-encode the index in another value storage type WITHOUT re-running
        tokenize/vocab/BM25 — the forward table is exploded back to
        (doc, term, weight) rows, weights are round-tripped through the new
        type, and forward+postings are rebuilt from there (the CREATE TABLE
        AS SELECT re-encode pattern, SURVEY §2.6 Q13).

        Note the round-trip applies to the CURRENT stored weights, exactly
        like the reference's dataset conversion (it converts stored values,
        not the original f32 source).
        """
        from seismic_spark import forward as fwd_mod
        from seismic_spark import textprep
        from dataclasses import replace

        dtw = self.forward.select(
            "doc_id",
            F.explode(F.arrays_zip("terms", "weights")).alias("z"),
        ).select(
            "doc_id",
            F.col("z.terms").alias("term_id"),
            F.col("z.weights").alias("weight"),
        )
        scale_max = None
        if value_type in ("fixedu8", "fixedu16"):
            scale_max = float(dtw.agg(F.max("weight")).collect()[0][0] or 0.0)
        dtw = textprep.value_round_trip_col(dtw, value_type, scale_max).persist()
        cfg = replace(self.config, value_type=value_type)
        n_terms = self.vocab.count() if cfg.pruning == "global" else 0
        forward = fwd_mod.build_forward(dtw).persist()
        postings = pst.build_postings(
            dtw, forward, cfg, n_terms, n_docs=self.n_docs
        )
        if cache:
            postings = postings.persist()
        return SeismicSparkIndex(
            self.spark, self.vocab, forward, postings,
            self.n_docs, self.avgdl, cfg,
        )

    # ----------------------------------------------------- introspection ----

    @property
    def dim(self) -> int:
        """Number of dimensions = id of the largest component + 1
        (inverted_index.rs:400-403) — NOT the distinct-term count: the
        S3/integer-term identity-vocab path passes component ids through
        non-contiguously, so max+1 is the reference's definition.  For
        dense string-token vocabs the two coincide."""
        row = self.vocab.agg(F.max("term_id").alias("m")).collect()[0]
        return int(row["m"]) + 1 if row["m"] is not None else 0

    def nnz(self) -> int:
        return fwd.forward_nnz(self.forward)

    def get_doc_ids_in_postings(self, term_id: int) -> DataFrame:
        """Q11 analogue: decoded doc ids of one posting list."""
        from seismic_spark.search import _decode_docs

        rows = self.postings.filter(F.col("term_id") == term_id).select(
            F.lit("_").alias("query_id"), F.explode("doc_gaps").alias("gaps")
        )
        return _decode_docs(rows).select("doc_id")

    def space_usage(self) -> dict[str, int]:
        """Q12 analogue: bytes per index component, mirroring the reference's
        full breakdown (inverted_index.rs:103-149, quantized_summary.rs:163-273):
        forward index, packed postings (doc-id gaps + f16 weights), block
        offsets, and quantized summaries (ids + codes + affine params).

        The result is cached on the instance (the tables are immutable):
        repeated budget checks — e.g. replica hydration after an explicit
        call, or a loaded snapshot whose save() persisted the breakdown —
        cost zero Spark jobs after the first."""
        if self._usage_cache is not None:
            return dict(self._usage_cache)

        def _blob_bytes(col: str):
            return F.sum(
                F.aggregate(
                    F.transform(col, F.octet_length), F.lit(0), lambda a, b: a + b
                )
            )

        prow = self.postings.agg(
            _blob_bytes("doc_gaps").alias("gaps"),
            _blob_bytes("weights_f16").alias("weights"),
            _blob_bytes("summary_codes").alias("codes"),
            # block_offsets analogue: blocks + block_lens int32 arrays
            F.sum(4 * (F.size("blocks") + F.size("block_lens"))).alias("offsets"),
            # summary component ids (int32) + per-summary affine params (2×f32)
            F.sum(
                F.aggregate(
                    F.transform("summary_terms", F.size),
                    F.lit(0),
                    lambda a, b: a + b,
                )
                * 4
                + 8 * F.size("summary_min")
            ).alias("summary_meta"),
        ).collect()[0]
        frow = self.forward.agg(
            # terms int32 + weights f64 per stored component
            F.sum(F.size("terms") * 12 + 8).alias("fwd")
        ).collect()[0]
        out = {k: int(prow[k] or 0) for k in
               ("gaps", "weights", "codes", "offsets", "summary_meta")}
        out["forward"] = int(frow["fwd"] or 0)
        out["summaries"] = out["codes"] + out["summary_meta"]
        out["postings_packed"] = out["gaps"] + out["weights"]
        out["total"] = (
            out["forward"] + out["postings_packed"] + out["offsets"] + out["summaries"]
        )
        self._usage_cache = dict(out)
        return out

    # -------------------------------------------------------- save / load ---

    def save(
        self,
        path: str,
        partitions_by_term_hash: int = 0,
        packed_values: bool = False,
    ) -> None:
        """Persist index tables (S6).  ``postings`` is repartitioned by
        hash(term_id) so a query's broadcast-join scan prunes files.

        ``partitions_by_term_hash=N`` writes postings with a REAL partition
        column ``term_bucket = term_id % N`` (directory-partitioned Parquet —
        the Iceberg bucket-transform analogue): a query's bucket filter then
        prunes every non-matching file at planning time, so a 6-term query
        against a 10^12-entry index reads ≤ 6 buckets' files (search applies
        the filter automatically, see _postings_for; test_end_to_end counts
        the files actually read).

        ``packed_values=True`` stores the forward index DotVByte-style
        (pylib/dotvbyte.rs:24-40 analogue): per doc, component ids as
        delta-gap varint BINARY and values as fixed-u8 codes on the corpus
        max-weight grid — smaller on disk, transparently unpacked by
        :meth:`load`, identical search results when the index was built with
        ``value_type='fixedu8'`` (its values already sit on the grid; other
        value types lose precision to the grid exactly like the reference's
        transparent FixedU8 conversion).
        """
        import numpy as np
        import pandas as pd

        from seismic_spark import codec

        p = self.postings
        meta = {"n_docs": self.n_docs, "avgdl": self.avgdl, "config": asdict(self.config)}
        # persist the byte accounting so load()→serving_replica() skips the
        # full-table space pre-scan (r6: hydration was paying an extra pass
        # over postings+forward just to check the budget)
        meta["space_usage"] = self.space_usage()
        if partitions_by_term_hash:
            meta["term_buckets"] = int(partitions_by_term_hash)
            p = p.withColumn(
                "term_bucket",
                F.pmod(F.col("term_id"), F.lit(int(partitions_by_term_hash))),
            )
            p.write.mode("overwrite").partitionBy("term_bucket").parquet(
                os.path.join(path, "postings")
            )
        else:
            p.write.mode("overwrite").parquet(os.path.join(path, "postings"))
        if packed_values:
            scale = float(
                self.forward.agg(
                    F.max(F.array_max("weights")).alias("m")
                ).collect()[0]["m"]
                or 0.0
            )
            meta["packed_scale"] = scale

            def pack(it):
                # one vectorized multi-row encode per Arrow batch
                # (codec.delta_encode_multi slices are byte-identical to
                # per-row dotvbyte_pack; a per-row loop pays numpy call
                # overhead once per DOC — tens of seconds at 1M docs)
                delta = scale / 255 if scale > 0.0 else 0.0
                for pdf in it:
                    if pdf.empty:
                        continue
                    terms = pdf["terms"].to_numpy()
                    weights = pdf["weights"].to_numpy()
                    counts = np.fromiter(
                        (len(t) for t in terms), np.int64, count=len(terms)
                    )
                    flat_t = (
                        np.concatenate([np.asarray(t, np.uint64) for t in terms])
                        if len(terms)
                        else np.empty(0, np.uint64)
                    )
                    tbuf, tlens = codec.delta_encode_multi(flat_t, counts)
                    tends = np.cumsum(tlens)
                    tstarts = tends - tlens
                    flat_w = (
                        np.concatenate(
                            [np.asarray(w, np.float64) for w in weights]
                        )
                        if len(weights)
                        else np.empty(0, np.float64)
                    )
                    codes = (
                        np.clip(np.floor(flat_w / delta + 0.5), 0, 255)
                        if delta > 0.0
                        else np.zeros(flat_w.size)
                    ).astype(np.uint8)
                    cbuf = codes.tobytes()
                    wends = np.cumsum(counts)
                    wstarts = wends - counts
                    yield pd.DataFrame(
                        {
                            "doc_id": pdf["doc_id"].to_numpy(),
                            "t_packed": [
                                tbuf[s:e]
                                for s, e in zip(tstarts.tolist(), tends.tolist())
                            ],
                            "w_codes": [
                                cbuf[s:e]
                                for s, e in zip(wstarts.tolist(), wends.tolist())
                            ],
                        }
                    )

            self.forward.select("doc_id", "terms", "weights").mapInPandas(
                pack, "doc_id BIGINT, t_packed BINARY, w_codes BINARY"
            ).write.mode("overwrite").parquet(os.path.join(path, "forward"))
        else:
            self.forward.write.mode("overwrite").parquet(
                os.path.join(path, "forward")
            )
        self.vocab.write.mode("overwrite").parquet(os.path.join(path, "vocab"))
        # external-id map + content ride-along: without these a vector-built
        # index would lose its string ids / document text across save/load
        # (the reference serializes both into .index.seismic)
        if getattr(self, "docmap", None) is not None:
            meta["has_docmap"] = True
            self.docmap.write.mode("overwrite").parquet(
                os.path.join(path, "docmap")
            )
        if getattr(self, "content", None) is not None:
            meta["has_content"] = True
            self.content.write.mode("overwrite").parquet(
                os.path.join(path, "content")
            )
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SeismicSparkIndex":
        """S7 analogue.  A ``packed_values`` forward snapshot is unpacked
        lazily (one vectorized decode per Arrow batch) back to the standard
        (doc_id, terms, weights) schema — search code is storage-agnostic.
        Tables are planned from their footer schemas, so loading launches
        no Spark job (except for a ``partitions_by_term_hash`` postings
        table, whose schema is inferred)."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        forward = _read_parquet(spark, os.path.join(path, "forward"))
        if "packed_scale" in meta:
            import numpy as np
            import pandas as pd

            from seismic_spark import codec

            scale = float(meta["packed_scale"])

            delta = scale / 255 if scale > 0.0 else 0.0

            def unpack(it):
                # one continuation-bit pass per Arrow batch (the decode twin
                # of save's delta_encode_multi packer; a per-row
                # dotvbyte_unpack loop would pay numpy call overhead per doc
                # on EVERY forward scan — exact_score runs one per search)
                for pdf in it:
                    if pdf.empty:
                        continue
                    ids, counts = codec.delta_decode_multi(
                        [bytes(b) for b in pdf["t_packed"]]
                    )
                    w_codes = np.frombuffer(
                        b"".join(bytes(b) for b in pdf["w_codes"]),
                        dtype=np.uint8,
                    )
                    bounds = np.cumsum(counts)[:-1]
                    yield pd.DataFrame(
                        {
                            "doc_id": pdf["doc_id"].to_numpy(),
                            "terms": np.split(ids.astype(np.int64), bounds),
                            "weights": np.split(
                                w_codes.astype(np.float64) * delta, bounds
                            ),
                        }
                    )

            forward = forward.mapInPandas(
                unpack, "doc_id BIGINT, terms ARRAY<INT>, weights ARRAY<DOUBLE>"
            )
        idx = cls(
            spark,
            _read_parquet(spark, os.path.join(path, "vocab")),
            forward,
            _read_parquet(spark, os.path.join(path, "postings")),
            meta["n_docs"],
            meta["avgdl"],
            IndexConfig(**meta["config"]),
            term_buckets=int(meta.get("term_buckets", 0)),
        )
        if meta.get("has_docmap"):
            idx.docmap = _read_parquet(spark, os.path.join(path, "docmap"))
        if meta.get("has_content"):
            idx.content = _read_parquet(spark, os.path.join(path, "content"))
        if "space_usage" in meta:
            # snapshot carries its own byte accounting — replica hydration's
            # budget gate then costs zero Spark jobs (r6, VERDICT #5)
            idx._usage_cache = {
                k: int(v) for k, v in meta["space_usage"].items()
            }
        idx.storage_paths["vocab"] = os.path.join(path, "vocab")
        idx.storage_paths["postings"] = os.path.join(path, "postings")
        if "packed_scale" not in meta:  # packed forward is unpacked in-plan
            idx.storage_paths["forward"] = os.path.join(path, "forward")
        return idx
