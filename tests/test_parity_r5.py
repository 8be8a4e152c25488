"""Round-5 parity/hardening closures (VERDICT.md r4 items 3/4/6/7 and the
ADVICE.md round-4 findings):

- shared-vocab builds no longer drop unknown document tokens silently
  (the reference PANICS at build, inverted_index_wrapper.rs process_data;
  our drop is a deliberate relaxation that now warns/errors);
- BM25 idf clamped at 0 on the shared-vocab text path (supplied df can
  exceed this corpus's n_docs — negative weights would break the pruning
  bounds' non-negativity assumption);
- duplicate-term queries merge deterministically ONCE (term asc, weight
  asc) before path selection, so the fast-path/in-plan bitwise identity
  holds for them too;
- driver-θ fast path aborts to the in-plan derivation above a hard
  block-table row cap (collected via limit(cap+1) — bounded transfer);
- direct batch_search callers with cache_registry=None fall back to a
  module-level registry (previous ubs caches retired per call);
- LV/u32 component ids: read_seismic_bin(high_ids="bigint") +
  compact_term_ids remap (pylib/mod.rs:1159-1166, index_traits.rs:14);
- get(id) vector accessor (pylib/mod.rs:59-291);
- multimodal decode seam takes an injected decoder; the import-guarded
  PIL path is explicit opt-in (the default is ALWAYS the deterministic
  fake the oracle contract pins).
"""

import json
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from seismic_spark import search as srch
from seismic_spark.index import IndexConfig, SeismicSparkIndex
from seismic_spark.operators import multimodal as mm
from seismic_spark.sources import vectors as srcv
from seismic_spark.sources.pages import synth_pages, synth_queries

DOCS_A = [
    ("a1", {"apple": 1.5, "zebra": 0.25, "mango": 3.0}),
    ("a2", {"apple": 2.0, "kiwi": 1.0}),
]
DOCS_B = [
    ("b1", {"apple": 1.0, "novel": 2.0}),  # "novel" absent from A's vocab
    ("b2", {"kiwi": 0.5}),
]


def _vectors_df(spark, docs):
    rows = [
        (d, sorted(v.keys()), [float(v[t]) for t in sorted(v)]) for d, v in docs
    ]
    return spark.createDataFrame(
        rows, "doc_id STRING, terms ARRAY<STRING>, weights ARRAY<FLOAT>"
    )


# --------------------------------------------- shared-vocab missing tokens --


def test_shared_vocab_missing_tokens_warns(spark):
    idx_a = SeismicSparkIndex.build_from_vectors(spark, _vectors_df(spark, DOCS_A))
    with pytest.warns(UserWarning, match="absent from the supplied vocab"):
        idx_b = SeismicSparkIndex.build_from_vectors(
            spark, _vectors_df(spark, DOCS_B), vocab=idx_a.vocab
        )
    # the novel token is dropped; surviving terms share A's ids
    a_ids = {r["term"]: r["term_id"] for r in idx_a.vocab.collect()}
    b_terms = {
        t for r in idx_b.forward.collect() for t in r["terms"]
    }
    assert b_terms <= set(a_ids.values())


def test_shared_vocab_missing_tokens_error_and_ignore(spark, recwarn):
    idx_a = SeismicSparkIndex.build_from_vectors(spark, _vectors_df(spark, DOCS_A))
    with pytest.raises(ValueError, match="reference panics"):
        SeismicSparkIndex.build_from_vectors(
            spark, _vectors_df(spark, DOCS_B), vocab=idx_a.vocab,
            missing_tokens="error",
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning would fail
        SeismicSparkIndex.build_from_vectors(
            spark, _vectors_df(spark, DOCS_B), vocab=idx_a.vocab,
            missing_tokens="ignore",
        )


def test_shared_vocab_text_build_warns_and_clamps_idf(spark):
    """Text-path build(vocab=...): unknown tokens warn; a supplied df larger
    than this corpus's n_docs must clamp idf at 0, never store negatives."""
    docs_b = spark.createDataFrame(
        [("u1", "apple apple kiwi"), ("u2", "kiwi novel")],
        "doc_id STRING, text STRING",
    )
    # hand-made vocab whose df values dwarf corpus B's 2 docs
    vocab = spark.createDataFrame(
        [("apple", 1000, 0), ("kiwi", 5000, 1)],
        "term STRING, df BIGINT, term_id INT",
    )
    with pytest.warns(UserWarning, match="absent from the supplied vocab"):
        idx = SeismicSparkIndex.build(spark, docs_b, vocab=vocab)
    ws = [w for r in idx.forward.collect() for w in r["weights"]]
    assert ws and all(w >= 0.0 for w in ws)


# ------------------------------------------------- duplicate-term queries --


@pytest.fixture(scope="module")
def small_idx(spark):
    pages = synth_pages(spark, 200, vocab_size=400, seed=21)
    corpus = pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    return SeismicSparkIndex.build(
        spark, corpus,
        IndexConfig(n_postings=20, summary_energy=0.5, blocking="geometric"),
    )


def test_duplicate_term_query_bitwise_identity(spark, small_idx,
                                              monkeypatch):
    """A query repeating a term 3+ times merges ONCE (pinned order) before
    path selection — driver-θ, in-plan and serving-replica scores compare
    with ==."""
    tok_of = {
        r["term_id"]: r["term"] for r in small_idx.vocab.limit(4).collect()
    }
    t0, t1 = sorted(tok_of)[:2]
    tok0, tok1 = tok_of[t0], tok_of[t1]
    qvecs = {
        "qdup": (
            np.array([t0, t1, t0, t0], dtype=np.int64),
            np.array([0.3, 1.0, 0.1, 0.2], dtype=np.float64),
        )
    }
    kw = dict(k=10, query_cut=5, heap_factor=0.8, two_phase=True)
    key = lambda rows: sorted(
        (r.query_id, int(r.rank), int(r.doc_id), float(r.score)) for r in rows
    )
    fast = key(srch.batch_search(
        spark, small_idx.postings, small_idx.forward, qvecs, **kw
    ).collect())
    monkeypatch.setattr(srch, "_DRIVER_THETA_MAX", 0)  # in-plan θ
    plan = key(srch.batch_search(
        spark, small_idx.postings, small_idx.forward, qvecs, **kw
    ).collect())
    rep = small_idx.serving_replica().batch_search(
        [("qdup", [tok0, tok1, tok0, tok0], [0.3, 1.0, 0.1, 0.2])], **kw
    )
    assert fast == plan == key(rep.itertuples(index=False))
    assert len(fast) > 0


def test_merge_dup_qvecs_deterministic_order():
    """Merged weight = sum in (term asc, weight asc) order regardless of the
    caller's array order."""
    w_perms = [
        np.array([0.3, 0.1, 0.2], dtype=np.float64),
        np.array([0.2, 0.3, 0.1], dtype=np.float64),
        np.array([0.1, 0.2, 0.3], dtype=np.float64),
    ]
    outs = [
        srch._merge_dup_qvecs({"q": (np.array([7, 7, 7]), w)})["q"][1][0]
        for w in w_perms
    ]
    # identical merged float for every permutation (the pinned weight-asc
    # order feeds one reduceat — deterministic, association unspecified)
    assert outs[0] == outs[1] == outs[2]
    assert outs[0] == pytest.approx(0.6)


# ------------------------------------------------------ fast-path row cap --


def test_fast_path_row_cap_falls_back(spark, small_idx, monkeypatch):
    queries = synth_queries(400, n_queries=4, seed=3)
    qvecs = srch.resolve_queries(spark, queries, small_idx.vocab)
    kw = dict(k=10, query_cut=8, heap_factor=0.8, two_phase=True)
    with monkeypatch.context() as m:
        m.setattr(srch, "_DRIVER_THETA_MAX", 0)  # in-plan θ
        ref = srch.batch_search(
            spark, small_idx.postings, small_idx.forward, qvecs, **kw
        ).collect()
    monkeypatch.setattr(srch, "_DRIVER_THETA_MAX_ROWS", 2)
    # the driver-θ path itself must signal abort ...
    qdf = srch.queries_df_from_qvecs(spark, qvecs)
    registry = []
    assert (
        srch._driver_theta_search(
            spark, small_idx.postings, small_idx.forward, qvecs, qdf,
            10, 8, 0.8, registry,
        )
        is None
    )
    srch.retire_caches(registry)
    # ... and batch_search must transparently serve the in-plan result
    got = srch.batch_search(
        spark, small_idx.postings, small_idx.forward, qvecs, **kw
    ).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.doc_id, r.score) for r in rows)
    assert key(got) == key(ref)


# -------------------------------------------------- default cache registry --


def test_default_cache_registry_retires(spark, small_idx):
    queries = synth_queries(400, n_queries=2, seed=5)
    qvecs = srch.resolve_queries(spark, queries, small_idx.vocab)
    srch.retire_caches(srch._DEFAULT_CACHE_REGISTRY)
    for _ in range(3):
        srch.batch_search(
            spark, small_idx.postings, small_idx.forward, qvecs,
            k=5, query_cut=5, cache_registry=None,
        ).collect()
        # each call retires the previous call's ubs cache: never >1 live
        assert len(srch._DEFAULT_CACHE_REGISTRY) <= 1


# ------------------------------------------------------------- LV / u32 ----


@pytest.fixture()
def high_id_bin(tmp_path):
    terms = [
        np.array([5, 2**31, 2**32 - 1], dtype=np.int64),
        np.array([2**31 + 7], dtype=np.int64),
        np.array([5, 2**31 + 7], dtype=np.int64),
    ]
    weights = [
        np.array([1.5, 2.0, 0.5], dtype=np.float32),
        np.array([4.0], dtype=np.float32),
        np.array([0.25, 1.0], dtype=np.float32),
    ]
    p = tmp_path / "lv"
    p.mkdir()
    (p / "part-00000.bin").write_bytes(srcv.encode_seismic_bin(terms, weights))
    return str(p), terms, weights


def test_read_seismic_bin_high_ids_refuses_by_default(spark, high_id_bin):
    path, _, _ = high_id_bin
    with pytest.raises(Exception, match="2\\^31"):
        srcv.read_seismic_bin(spark, path).collect()


def test_u32_remap_round_trip(spark, high_id_bin):
    """S3 round-trip with component ids >= 2^31: bigint read + monotone
    compaction preserves (old_id, weight) pairs exactly and yields a
    searchable int32-term index."""
    path, terms, weights = high_id_bin
    vecs = srcv.read_seismic_bin(spark, path, high_ids="bigint")
    assert dict(vecs.dtypes)["terms"] == "array<bigint>"
    remapped, id_map = srcv.compact_term_ids(vecs)
    assert dict(remapped.dtypes)["terms"] == "array<int>"
    # monotone dense map over the 4 distinct old ids, ascending
    m = {r["old_id"]: r["term_id"] for r in id_map.collect()}
    olds = sorted(m)
    assert [m[o] for o in olds] == list(range(len(olds)))
    # exact (doc, old_id, weight) reconstruction through the map
    inv = {v: k for k, v in m.items()}
    got = {
        (r["doc_id"], inv[t], w)
        for r in remapped.collect()
        for t, w in zip(r["terms"], r["weights"])
    }
    want = {
        (i, int(t), float(w))
        for i, (ts, ws) in enumerate(zip(terms, weights))
        for t, w in zip(ts, ws)
    }
    assert got == want
    # the remapped corpus builds and searches
    idx = SeismicSparkIndex.build_from_vectors(
        spark, remapped, IndexConfig(n_postings=10**6)
    )
    res = srch.batch_search(
        spark, idx.postings, idx.forward,
        {"q": (np.array([m[2**31 + 7]]), np.array([1.0]))}, k=3,
    ).collect()
    assert [r["doc_id"] for r in sorted(res, key=lambda r: r["rank"])] == [1, 2]


def test_compact_term_ids_extra_columns_ride_along(spark):
    """Wide ride-along columns (content) survive compaction with correct
    per-doc pairing — and never travel through the explode (they are joined
    back on doc_id after re-assembly)."""
    vecs = spark.createDataFrame(
        [
            (0, [2**31 + 9, 5], [1.0, 2.0], "doc zero"),
            (1, [2**31 + 9], [3.0], "doc one"),
            (2, [], [], "doc empty"),
        ],
        "doc_id BIGINT, terms ARRAY<BIGINT>, weights ARRAY<FLOAT>, "
        "content STRING",
    )
    remapped, id_map = srcv.compact_term_ids(vecs)
    m = {r["old_id"]: r["term_id"] for r in id_map.collect()}
    assert m == {5: 0, 2**31 + 9: 1}
    rows = {r["doc_id"]: r for r in remapped.collect()}
    assert rows[0]["content"] == "doc zero"
    assert rows[1]["content"] == "doc one"
    assert list(rows[0]["terms"]) == [0, 1]  # monotone: 5 -> 0, high -> 1
    assert list(rows[0]["weights"]) == [2.0, 1.0]  # weights follow their term
    assert list(rows[1]["terms"]) == [1] and list(rows[1]["weights"]) == [3.0]
    # empty-vector doc survives with empty arrays, not a dropped row
    assert list(rows[2]["terms"]) == [] and list(rows[2]["weights"]) == []
    assert rows[2]["content"] == "doc empty"


# ------------------------------------------------------------ get(id) ------


def test_get_accessor(spark, tmp_path):
    p = tmp_path / "v.jsonl"
    p.write_text(
        "\n".join(
            json.dumps({"id": d, "vector": v, "content": f"text {d}"})
            for d, v in DOCS_A
        )
        + "\n"
    )
    idx = SeismicSparkIndex.build_from_vectors(
        spark, srcv.read_jsonl_vectors(spark, str(p))
    )
    tid = {r["term"]: r["term_id"] for r in idx.vocab.collect()}
    terms, ws = idx.get("a2")
    assert terms == sorted([tid["apple"], tid["kiwi"]])
    assert set(ws) == {2.0, 1.0}
    # internal id works too, unknown returns None
    internal = idx.docmap.filter(F.col("ext_id") == "a2").collect()[0]["doc_id"]
    assert idx.get(internal) == (terms, ws)
    assert idx.get(10**9) is None


# ----------------------------------------------------- multimodal decoder --


def test_decode_binary_column_injected_decoder(spark):
    df = spark.createDataFrame(
        [(0, bytearray(b"abcd")), (1, bytearray(b"xy"))],
        "doc_id BIGINT, payload BINARY",
    )
    got = {
        r["doc_id"]: (r["width"], r["height"], r["mean_byte"])
        for r in mm.decode_binary_column(
            df, decoder=lambda b: (len(b), 2 * len(b), float(b[0]))
        ).collect()
    }
    assert got == {0: (4, 8, float(ord("a"))), 1: (2, 4, float(ord("x")))}


def test_decode_binary_column_pil_path(spark):
    PIL = pytest.importorskip("PIL")  # noqa: F841 — container has no PIL;
    # runs wherever Pillow exists, proving the guarded real-decoder path
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (7, 3), color=100).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(0, bytearray(buf.getvalue()))], "doc_id BIGINT, payload BINARY"
    )
    assert mm.real_decoder_available()
    r = mm.decode_binary_column(df, decoder=mm.pil_decode_image).collect()[0]
    assert (r["width"], r["height"]) == (7, 3)
    assert r["mean_byte"] == pytest.approx(100.0)


# -------------------------------------------------- HTML extractor seam --


def test_with_extracted_text_injected_extractor(spark):
    """The Arrow extraction seam accepts a swapped-in batch extractor
    (production hook for a compiled HTML parser) while the default regex
    path stays byte-identical to _extract_text_py."""
    from seismic_spark import textprep

    pages = spark.createDataFrame(
        [("u0", bytearray(b"<p>hello <b>world</b></p>")),
         ("u1", bytearray(b"<script>junk()</script>text")),
         ("u2", None)],
        "url STRING, html BINARY",
    )
    default = {
        r["url"]: r["text"]
        for r in textprep.with_extracted_text(pages).collect()
    }
    assert default == {"u0": "hello world", "u1": "text", "u2": ""}

    def upper_extractor(html):
        return html.map(
            lambda b: "" if b is None else bytes(b).decode().upper()
        )

    injected = {
        r["url"]: r["text"]
        for r in textprep.with_extracted_text(
            pages, extractor=upper_extractor
        ).collect()
    }
    assert injected["u0"] == "<P>HELLO <B>WORLD</B></P>"
    assert injected["u2"] == ""


# ---------------------------------------------------- scan-prune IN cap --


def test_scan_prune_in_cap(spark, small_idx, monkeypatch):
    """The in-plan scan-prune IN engages only under _SCAN_PRUNE_MAX_IDS.

    Round-5 event-log measurement (BENCH/BASELINE.md serial-fraction
    section): a ~30k-literal IN cost a 14.5 s driver-only Catalyst gap per
    batch plus serialized-plan bloat in every task, and lost even at ~4.4k
    ids — so the default cap is 2048 and the predicate must vanish (with
    identical results) above it.
    """
    queries = synth_queries(400, n_queries=6, seed=11)
    qvecs = srch.resolve_queries(spark, queries, small_idx.vocab)

    def plan_of(**kw):
        df = srch.batch_search(
            spark, small_idx.postings, small_idx.forward, qvecs,
            k=5, query_cut=5, heap_factor=0.8, **kw,
        )
        return df, df._jdf.queryExecution().optimizedPlan().toString()

    # Catalyst rewrites >10-literal In to InSet (OptimizeIn).  Anchor the
    # assertion to the term_id predicate (r5 ADVICE): an unrelated In/InSet
    # elsewhere in the plan must not flip the cap=0 check below.
    import re

    def _term_pred_present(plan: str) -> bool:
        return re.search(r"term_id#\d+L? (INSET|IN \()", plan) is not None

    df_in, plan_in = plan_of()
    assert _term_pred_present(plan_in)

    monkeypatch.setattr(srch, "_SCAN_PRUNE_MAX_IDS", 0)
    df_no, plan_no = plan_of()
    assert not _term_pred_present(plan_no)

    key = lambda rows: sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in rows
    )
    # result-neutral: the cut-terms join already restricts the scan
    assert key(df_in.collect()) == key(df_no.collect())
