"""The benchmark workloads, driven through the engine's public entry points.

Both workloads query one serving-config index over a fixed generated
corpus.  The index is built once per checkout, through
``with_extracted_text`` -> ``SeismicSparkIndex.build`` -> ``save``, by the
first run that needs it, and kept under ``.perfbench_cache/`` keyed by a
hash of the engine's sources; every later run starts the way a serving
process does, from the saved snapshot.  The seed picks the queries.

Every run goes through the same phases, because the benchmark reports every
end-to-end metric on every workload:

* setup  - ``get_spark`` with the session warmup it ships with, query
           generation (and, in a checkout's first run, the index build),
           then ``load`` + ``serving_replica()`` + a first answer: process
           start to serving, as a restarted serving process sees it.
                                                                -> setup_s
* serve  - closed loop, one client, one ``ServingReplica.search`` per query
           over 1500-2000 queries, a fixed number of passes per workload (more
           if they took less than ``--seconds``), each query's latency
           scaled to a fixed host speed by a reference kernel timed beside
           it; percentiles over the queries of each query's median pass.
                                             -> serve_p50_ms, serve_p99_ms
* batch  - interactive Spark batches of 10 queries through
           ``SeismicSparkIndex.batch_search``, collected and checked against
           the replica; timed as a diagnostic only (see the README).
* recall - replica top-10 against ``bruteforce`` top-10 on a fixed probe of
           200 queries of the workload's shape.                 -> recall_at_10

plus ``index_bytes_per_doc`` (snapshot bytes / docs) and ``peak_rss_mb``
(peak resident memory of the serving process: replica, driver collects).

The traced run adds the layers no untraced run can afford on a 4-core host:
the build decomposed into its public functions (each materialised in its own
span), ``save``, the bulk Spark path and the kappa-NN graph.

Output checks count failed operations against operations attempted: every
Spark batch equals the replica's answer bitwise, and every extracted page
equals its generated text byte for byte.  The traced run also checks that the
decomposed build gives the cached index's postings and that the reopened
shard answers exactly as the in-session index does.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np

import gen
from spans import JOB_FIELDS, Tracer

K, QUERY_CUT, HEAP_FACTOR = 10, 10, 0.9
BATCH = 10
WARM_BATCHES = 1  # untimed: the first collects the index's vocab map
PROBE_SEED = 0  # the recall probe's queries are the same on every run
CORPUS_SEED, CORPUS_PAGES = 0, 2000
BULK = 410  # just above the engine's 409-query compact-tail gate
KNN = {"nknn": 5, "query_cut": 10, "heap_factor": 0.6}

# queries: how queries are drawn; serve: distinct queries in the serve
# loop; passes: serve passes over them, sized so both workloads spend about
# the same time serving; batches: checked interactive Spark batches after
# the warm one; recall: probe queries checked against bruteforce
WORKLOADS = {
    # head-heavy keyword queries: long head-term lists, where block
    # pruning skips the most
    "query": {"queries": "zipf", "serve": 2000, "passes": 3, "batches": 1,
              "recall": 200},
    # a document's own top terms as the query (the kappa-NN self-query
    # shape): tail terms with short lists, little to prune
    # (1500 of the 2000 pages, so the seed picks which pages ask)
    "docvec": {"queries": "docvec", "serve": 1500, "passes": 6,
               "batches": 1, "recall": 200},
}

# the traced run's read phases, run once untraced and once traced: per-layer
# metrics have no bound, so they take fewer repetitions
TRACED = {"passes": 1, "batches": 1}

# The host's speed swings by a third within seconds and by a fifth between
# runs minutes apart, and a served query's latency swings with it.  A fixed
# kernel owned by the benchmark (``reference``) runs after every served
# query; a query's latency is divided by the kernel's median time over the
# REF_WINDOW queries either side and multiplied by REF_S, the kernel's time
# on the 4-core host at its usual speed.  Serve latencies so read in ms at a
# fixed host speed, and the raw ones are per-layer metrics.
REF_S = 8e-5
REF_WINDOW = 25
_REF_RNG = np.random.default_rng(20240)
_REF_ARR = _REF_RNG.random(2000)
_REF_IDX = _REF_RNG.integers(0, 2000, 500)
_REF_MAP = {i: 3 * i for i in range(400)}


def reference() -> float:
    """Interpreter and small-array numpy work, as a query has, on a 20 KB
    working set of its own: it times the core, not the engine's data."""
    s = 0
    for i in range(400):
        s += _REF_MAP[i] & 7
    top = np.argpartition(_REF_ARR, -10)[-10:]
    return s + float(_REF_ARR[_REF_IDX].sum() + _REF_ARR[top].sum())


def host_normalised(lat: np.ndarray, ref: np.ndarray) -> np.ndarray:
    """Each latency scaled by REF_S over the median reference time of its
    neighbours in the same pass."""
    local = np.array([
        np.median(ref[max(0, i - REF_WINDOW):i + REF_WINDOW + 1])
        for i in range(len(ref))
    ])
    return lat * (REF_S / local)


# the self-test's smoke runs
TINY = {"pages": 60, "serve": 50, "passes": 2, "batches": 1, "recall": 20}

# layer spans that launch Spark jobs: each also reports the JOB_FIELDS
JOB_SPANS = {
    "session.start", "index.load", "serving.hydrate", "search.batch",
    "search.bruteforce", "textprep.extract", "textprep.tokenize",
    "textprep.bm25", "vocab.build", "forward.build", "postings.build",
    "index.save", "search.bulk", "knn.build",
}
# the replica's query loop, which launches no Spark job
OTHER_SPANS = {"serving.search"}
LAYER_COUNTS = [
    "textprep.pairs", "vocab.terms", "forward.nnz", "postings.rows",
    "postings.kept_ratio", "index.bytes", "serving.query_p50_ms",
    "serving.query_p99_ms", "serving.reference_ms", "serving.replica_mb",
    "trace.overhead_ratio",
]


def per_layer_names() -> list[str]:
    spans = sorted(JOB_SPANS | OTHER_SPANS)
    names = [f"{s}.{k}" for s in spans for k in ("s", "self_s")]
    names += [f"{s}.{k}" for s in sorted(JOB_SPANS) for k in JOB_FIELDS]
    return names + LAYER_COUNTS


def serving_config():
    """The estimate-summary serving config (kmeans blocks, energy 0.5)."""
    from seismic_spark.postings import IndexConfig

    return IndexConfig(
        n_postings=1000, pruning="fixed", blocking="kmeans",
        centroid_fraction=0.1, min_cluster_size=2, kmeans_doc_cut=15,
        summary_energy=0.5, quant_ceil=False,
    )


class Checks:
    """Operations attempted and failed, by check name."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}

    def add(self, name: str, attempted: int, failed: int) -> None:
        self.attempted[name] = self.attempted.get(name, 0) + attempted
        self.failed[name] = self.failed.get(name, 0) + failed


def same_results(a, b) -> bool:
    """Bitwise equality of two (query_id, rank, doc_id, score) frames."""
    cols = ["query_id", "rank", "doc_id", "score"]
    a = a[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    return len(a) == len(b) and bool(
        (a["query_id"].astype(str).to_numpy() == b["query_id"].astype(str).to_numpy()).all()
        and (a["rank"].to_numpy(np.int64) == b["rank"].to_numpy(np.int64)).all()
        and (a["doc_id"].to_numpy(np.int64) == b["doc_id"].to_numpy(np.int64)).all()
        and (a["score"].to_numpy(np.float64).view(np.int64)
             == b["score"].to_numpy(np.float64).view(np.int64)).all()
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def postings_checksum(postings) -> tuple[int, str]:
    """(row count, order-independent hash sum) of a postings table."""
    from pyspark.sql import functions as F

    row = postings.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*postings.columns).cast("decimal(38,0)")),
    ).collect()[0]
    return int(row[0]), str(row[1])


def replica_nbytes(rep) -> int:
    """Bytes held in the replica's numpy arrays."""
    total = 0
    for v in vars(rep).values():
        if isinstance(v, np.ndarray):
            total += v.nbytes
        elif isinstance(v, dict):
            for tp in v.values():
                if hasattr(tp, "__dataclass_fields__"):
                    total += sum(
                        getattr(tp, f).nbytes for f in tp.__dataclass_fields__
                    )
    return total


def traced_build(tr: Tracer, spark, pages, cfg):
    """``SeismicSparkIndex.build`` decomposed into the public functions it
    calls, materialising after each so every layer gets its own span.

    Returns the index and the layer counts.  The self-test pins its postings
    to those of ``SeismicSparkIndex.build`` on the same pages.
    """
    from pyspark.sql import functions as F

    from seismic_spark import forward as fwd
    from seismic_spark import postings as pst
    from seismic_spark import textprep, vocab as voc
    from seismic_spark.index import SeismicSparkIndex
    from seismic_spark.session import ensure_min_parallelism

    counts = {}
    with tr.span("textprep.extract"):
        docs = textprep.with_extracted_text(pages).select("doc_id", "text").persist()
        docs.count()
    with tr.span("textprep.tokenize"):
        docs = ensure_min_parallelism(docs, "doc_id")
        toks = textprep.tokenize(docs, "text").persist()
        n_docs, avgdl = textprep.corpus_stats(toks)
    with tr.span("vocab.build"):
        vocab = voc.build_vocab(toks, "doc_id").persist()
        counts["vocab.terms"] = vocab.count()
    with tr.span("textprep.bm25"):
        tf_df = textprep.term_frequencies(toks, "doc_id")
        dtw = textprep.bm25_weights(tf_df, vocab, n_docs, avgdl, "doc_id").persist()
        counts["textprep.pairs"] = dtw.count()
    with tr.span("forward.build"):
        forward = fwd.build_forward(dtw, "doc_id").persist()
        counts["forward.nnz"] = fwd.forward_nnz(forward)
    with tr.span("postings.build"):
        postings = pst.build_postings(
            dtw, forward, cfg, 0, "doc_id", n_docs=n_docs
        ).persist()
        row = postings.agg(F.count(F.lit(1)), F.sum("n_docs")).collect()[0]
        counts["postings.rows"] = int(row[0])
        counts["postings.kept_ratio"] = int(row[1]) / max(counts["forward.nnz"], 1)
    idx = SeismicSparkIndex(spark, vocab, forward, postings, n_docs, avgdl, cfg)
    return idx, counts


# ------------------------------------------------------------ the index --


def cache_key(pages: int) -> str:
    """Hash of everything the cached index depends on."""
    h = hashlib.sha256(repr((pages, CORPUS_SEED, serving_config())).encode())
    files = [os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")]
    for d, _, fs in sorted(os.walk(os.path.join(os.getcwd(), "seismic_spark"))):
        files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".py")]
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_index(spark, tr: Tracer, pages: int) -> tuple[str, dict]:
    """Directory holding ``pages.parquet`` and the saved ``shard0``; built
    through the public API by the first run of a checkout."""
    import pyarrow.parquet as pq

    from seismic_spark import textprep
    from seismic_spark.index import SeismicSparkIndex

    path = os.path.join(os.getcwd(), ".perfbench_cache", cache_key(pages))
    meta = os.path.join(path, "build.json")
    if os.path.isfile(meta):
        with open(meta) as f:
            return path, json.load(f)
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    try:
        t0 = time.time()
        pq.write_table(gen.Corpus(CORPUS_SEED).pages(0, pages),
                       os.path.join(tmp, "pages.parquet"))
        with tr.span("bench.prebuild"):
            docs = textprep.with_extracted_text(
                spark.read.parquet(os.path.join(tmp, "pages.parquet"))
            )
            idx = SeismicSparkIndex.build(spark, docs, serving_config())
            idx.save(os.path.join(tmp, "shard0"))
        info = {"build_s": time.time() - t0, "pages": pages}
        with open(os.path.join(tmp, "build.json"), "w") as f:
            json.dump(info, f)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path, info


# ------------------------------------------------------------------ run --


def make_queries(kind: str, seed: int, n: int, pages) -> list:
    if kind == "zipf":
        return gen.Corpus(CORPUS_SEED).queries(n, seed)
    return gen.docvec_queries(pages, seed, n)


def run(name: str, seed: int, seconds: float, trace: bool, work: str,
        t_process: float, sizes: dict | None = None):
    """One run.  Returns (checks, end-to-end metrics, tracer, layer counts,
    diagnostics); the tracer holds spans, and the layer counts are filled
    only when ``trace`` is set."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from seismic_spark import textprep
    from seismic_spark.index import SeismicSparkIndex
    from seismic_spark.session import get_spark

    p = dict(WORKLOADS[name], pages=CORPUS_PAGES)
    if trace:
        p.update(TRACED)
    p.update(sizes or {})
    cfg = serving_config()
    tr = Tracer(trace)
    checks = Checks()
    m: dict[str, float] = {}
    layer: dict[str, float] = {}
    diag: dict = {}

    with tr.span("bench.setup"):
        with tr.span("session.start"):
            spark = get_spark("perfbench")
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tr.sc = sc
    try:
        with tr.span("bench.setup"):
            cache, info = ensure_index(spark, tr, p["pages"])
            diag["index_build_s"] = info["build_s"]
            pages_path = os.path.join(cache, "pages.parquet")
            shard = os.path.join(cache, "shard0")
            page_tbl = pq.read_table(pages_path, columns=["doc_id", "text"])
            n_q = max(p["serve"], BATCH * (p["batches"] + WARM_BATCHES))
            queries = make_queries(p["queries"], seed, n_q, page_tbl)
            # recall is measured on one fixed probe set, so it is exact and
            # repeats on every run of the same code
            probe = make_queries(p["queries"], PROBE_SEED, p["recall"], page_tbl)
            # restart-to-serving: open the saved shard, answer one query
            with tr.span("index.load"):
                ridx = SeismicSparkIndex.load(spark, shard)
            with tr.span("serving.hydrate"):
                rep = ridx.serving_replica()
            rep.search(*queries[0], k=K, query_cut=QUERY_CUT,
                       heap_factor=HEAP_FACTOR)
        m["setup_s"] = time.time() - t_process
        m["index_bytes_per_doc"] = dir_bytes(shard) / p["pages"]

        # ---- serve, batch, recall --------------------------------------
        def read_phases(tracer: Tracer, out: dict) -> list:
            serve_q = queries[: p["serve"]]
            lat: list[list[float]] = []
            ref: list[list[float]] = []

            def serve_pass() -> list:
                one, kernel, answers = [], [], []
                with tracer.span("serving.search"):
                    for q in serve_q:
                        a = time.perf_counter()
                        answers.append(rep.search(*q, k=K, query_cut=QUERY_CUT,
                                                  heap_factor=HEAP_FACTOR))
                        b = time.perf_counter()
                        reference()
                        one.append(b - a)
                        kernel.append(time.perf_counter() - b)
                lat.append(one)
                ref.append(kernel)
                return answers

            # serve passes are spread evenly between the Spark batches and a
            # query's latency is its median pass over its host-normalised
            # latencies.  The first batch of an index instance also collects
            # its vocab map, once per process: checked, not timed.
            batch_s = []
            slots = p["batches"] + WARM_BATCHES
            for b in range(slots):
                for _ in range(p["passes"] * (b + 1) // slots
                               - p["passes"] * b // slots):
                    answers = serve_pass()
                qs = queries[b * BATCH:(b + 1) * BATCH]
                a = time.perf_counter()
                with tracer.span("search.batch"):
                    got = ridx.batch_search(
                        qs, k=K, query_cut=QUERY_CUT, heap_factor=HEAP_FACTOR
                    ).toPandas()
                if b >= WARM_BATCHES:
                    batch_s.append(time.perf_counter() - a)
                want = rep.batch_search(
                    qs, k=K, query_cut=QUERY_CUT, heap_factor=HEAP_FACTOR
                )
                checks.add("batch_equals_replica", 1, int(not same_results(got, want)))
            while sum(map(sum, lat)) + sum(batch_s) < seconds:
                serve_pass()
            raw = np.median(np.array(lat), axis=0)
            per_query = np.median([host_normalised(np.array(x), np.array(r))
                                   for x, r in zip(lat, ref)], axis=0)
            out["serve_p50_ms"] = float(np.percentile(per_query, 50)) * 1e3
            out["serve_p99_ms"] = float(np.percentile(per_query, 99)) * 1e3
            out["raw_p50_ms"] = float(np.percentile(raw, 50)) * 1e3
            out["raw_p99_ms"] = float(np.percentile(raw, 99)) * 1e3
            diag["serve_samples"] = len(lat) * len(serve_q)
            diag["pass_p50_ms"] = [float(np.median(x)) * 1e3 for x in lat]
            diag["reference_ms"] = float(np.median(ref)) * 1e3
            diag["pass_reference_ms"] = [float(np.median(x)) * 1e3 for x in ref]
            diag["raw_serve_p50_ms"] = out["raw_p50_ms"]
            diag["raw_serve_p99_ms"] = out["raw_p99_ms"]
            diag["serve_s"] = float(np.sum(lat))
            diag["batch_s"] = batch_s
            out["timed_s"] = diag["serve_s"] + sum(batch_s)

            a = time.perf_counter()
            with tracer.span("search.bruteforce"):
                exact = ridx.bruteforce(probe, k=K).toPandas()
            diag["bruteforce_s"] = time.perf_counter() - a
            approx = rep.batch_search(probe, k=K, query_cut=QUERY_CUT,
                                      heap_factor=HEAP_FACTOR)
            ex = exact.groupby("query_id")["doc_id"].apply(set).to_dict()
            ap = approx.groupby("query_id")["doc_id"].apply(set).to_dict()
            hit = sum(len(ex[q] & ap.get(q, set())) for q in ex)
            out["recall_at_10"] = hit / max(sum(len(v) for v in ex.values()), 1)
            return answers

        if trace:
            # untraced, then traced: the same timed work (serve passes and
            # timed batches, both warm), so the ratio is what spans cost
            untraced: dict[str, float] = {}
            with tr.span("bench.untraced"):
                read_phases(Tracer(False), untraced)
            with tr.span("bench.read"):
                answers = read_phases(tr, m)
            layer["trace.overhead_ratio"] = m["timed_s"] / untraced["timed_s"]
            layer["serving.query_p50_ms"] = m["raw_p50_ms"]
            layer["serving.query_p99_ms"] = m["raw_p99_ms"]
            layer["serving.reference_ms"] = diag["reference_ms"]
        else:
            answers = read_phases(tr, m)
        for k in ("timed_s", "raw_p50_ms", "raw_p99_ms"):
            del m[k]

        # ---- output checks ---------------------------------------------
        with tr.span("bench.check"):
            pages = spark.read.parquet(pages_path)
            ext = textprep.with_extracted_text(
                pages.withColumnRenamed("text", "gen_text")
            )
            row = ext.agg(
                F.count(F.lit(1)),
                F.sum((F.col("text") != F.col("gen_text")).cast("int")),
            ).collect()[0]
            checks.add("extract_identical", p["pages"],
                       int(row[1] or 0) + abs(p["pages"] - int(row[0])))

        if trace:
            traced_layers(tr, spark, cfg, pages, ridx, rep, queries, answers,
                          work, layer, checks)
            tr.status_counts()
        # the serving process's own peak; the JVM's swings by a fifth
        # between identical runs with its garbage collector's heap sizing,
        # so it is a diagnostic, not part of the metric
        m["peak_rss_mb"] = vm_hwm_mb()
        diag["jvm_peak_rss_mb"] = vm_hwm_mb(sc._gateway.proc.pid)
    finally:
        spark.stop()
        # the JVM exits when its stdin closes; wait so no process outlives us
        jvm = sc._gateway.proc
        jvm.stdin.close()
        jvm.wait(timeout=120)
    return checks, m, tr, layer, diag


def traced_layers(tr, spark, cfg, pages, ridx, rep, queries, answers, work,
                  layer, checks) -> None:
    """The layers only the traced run measures: the decomposed build and
    save, the bulk Spark path and the kappa-NN graph."""
    with tr.span("bench.build"):
        idx, counts = traced_build(tr, spark, pages, cfg)
        layer.update(counts)
        shard = os.path.join(work, "shard0")
        with tr.span("index.save"):
            idx.save(shard)
    layer["index.bytes"] = dir_bytes(shard)
    layer["serving.replica_mb"] = replica_nbytes(rep) / 1e6
    checks.add("traced_build_postings", 1, int(
        postings_checksum(idx.postings) != postings_checksum(ridx.postings)))
    live = idx.serving_replica()
    bad = sum(
        not same_results(got, live.search(*q, k=K, query_cut=QUERY_CUT,
                                          heap_factor=HEAP_FACTOR))
        for q, got in zip(queries, answers)
    )
    checks.add("reopen_equals_in_session", len(answers), bad)

    bulk = (queries * (BULK // len(queries) + 1))[:BULK]
    bulk = [(f"b{i}", t, w) for i, (_, t, w) in enumerate(bulk)]
    with tr.span("search.bulk"):
        got = ridx.batch_search(
            bulk, k=K, query_cut=QUERY_CUT, heap_factor=HEAP_FACTOR
        ).toPandas()
    sample = {f"b{i}" for i in range(0, BULK, 41)}
    want = rep.batch_search([q for q in bulk if q[0] in sample], k=K,
                            query_cut=QUERY_CUT, heap_factor=HEAP_FACTOR)
    checks.add("bulk_equals_replica", 1, int(
        not same_results(got[got["query_id"].isin(sample)], want)))
    with tr.span("knn.build"):
        ridx.build_knn(**KNN).count()
    ridx.knn.unpersist()
