"""Batch top-k search with Seismic-style dynamic pruning, Spark-first.

Reference semantics (inverted_index.rs:153-234, posting_list.rs:115-215):
scan only the posting lists of the top-``query_cut`` query terms; skip blocks
whose summary-estimated dot product is below ``heap_factor × θ`` (θ = current
k-th best score); exactly re-score survivors against full doc vectors.

Distributed re-design (deterministic — SURVEY.md §7.3): the reference's θ
evolves inside one thread; a naive port would need a driver round-trip to
share it.  Instead θ is derived **inside the plan**, so the whole batch is
ONE Spark job:

  Phase-0 bound (always on): for a query term t with weight qw_t, every doc
  in a block b of t's posting list scores at least qw_t × (its own stored
  weight); the block's best doc scores ≥ qw_t × bmax_b.  Blocks of one list
  hold DISTINCT docs, so the k-th largest qw_t·bmax over t's blocks is
  witnessed by k distinct docs → it lower-bounds the final k-th best score.
  θ_q = max over matched terms of that per-term k-th largest.

  Phase-1 tightening (``two_phase=True`` — the first_sorted analogue,
  posting_list.rs:149-185): exactly score the single best-ub block of every
  matched list (a bounded candidate set), take the per-query k-th best exact
  score θ', and use θ_q ← max(θ_q, θ').  Like the reference's evolving heap
  after the first sorted list, this tightens θ before the main scan — still
  one logical plan, no driver action.

  Blocks with ``summary_ub < heap_factor × θ_q`` are skipped; survivors are
  decoded, deduped across lists (the reference's `visited` set), exactly
  re-scored against full doc vectors, and top-k'ed per query.

With upper-bound summaries (summary_energy=1.0, quant_ceil) and
heap_factor=1.0 this is EXACT w.r.t. scanning the cut-term posting lists.

QUERIES ARE A DATAFRAME, not a driver-side dict: (query_id, q_terms, q_weights)
rows travel through the plan as Arrow array columns, so the same code path
serves 6 interactive queries (arrays broadcast) and 10^9 self-join queries
for κ-NN graph construction (shuffle join on query_id) — no per-task pickled
closures, no driver memory proportional to the query set.

Physical plan: `postings ⋈ cut_terms` is a term_id join that touches only
matching term rows (broadcast for small batches, shuffle on the postings
partition key otherwise); candidate→forward is a shuffle join on doc_id
(bucket-able at scale); top-k is window row_number — never a driver loop.

Float parity with the numpy oracle (oracle.py): every upper bound and every
exact score is a `codec.segment_sums` (np.add.reduceat) over identically
ordered f64 contribution arrays, which is a position-independent pure
function of the segment — engine and oracle floats are bitwise equal, so
knife-edge skip decisions (ub vs hf·θ) can never diverge between them.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from seismic_spark import codec

QVec = tuple[np.ndarray, np.ndarray]  # (term_ids sorted asc int64, weights f64)

QUERIES_SCHEMA = "query_id STRING, q_terms ARRAY<INT>, q_weights ARRAY<DOUBLE>"

_KEY_SHIFT = np.int64(1) << np.int64(32)  # (row, term) → sortable combined key
# driver-side vocab map gate for resolve_queries (strings + ids; ~60 MB at
# the 1M default) — over it, token resolution stays a per-batch join
_VOCAB_MAP_MAX_TERMS = int(os.environ.get("SEISMIC_VOCAB_MAP_MAX_TERMS", str(1 << 20)))


# ------------------------------------------------------ query resolution ----


def resolve_queries(
    spark: SparkSession,
    queries: list[tuple[str, list[str], list[float]]],
    vocab: DataFrame,
    cache: dict | None = None,
) -> dict[str, QVec]:
    """Token → term_id resolution; unknown tokens silently dropped, result
    sorted by term id (P3, inverted_index_wrapper.rs:75-91).

    ``cache`` (r6 pass 3): a caller-scoped dict (SeismicSparkIndex passes
    its per-instance cache) holding a driver-side ``{term: term_id}`` map of
    the immutable vocab table, collected ONCE per index instance when the
    vocab fits ``_VOCAB_MAP_MAX_TERMS`` — every later batch resolves with
    dict lookups instead of a per-batch join job (measured 0.43 s of fixed
    job cost per interactive batch at sf0.1).  Result-identical by
    construction: ``term`` is unique in vocab, the join keeps exactly the
    tokens the dict lookup keeps, and both paths merge duplicates through
    the same pinned :func:`merge_sorted_terms` (order-independent).  Over
    the cap (or ``SEISMIC_LOCAL_RESOLVE=0``) the join path runs unchanged.
    """
    rows = [
        (qid, t, float(w))
        for qid, terms, weights in queries
        for t, w in zip(terms, weights)
    ]
    if not rows:
        return {}
    by_q: dict[str, list[tuple[int, float]]] = {}
    vmap = None
    if cache is not None and os.environ.get("SEISMIC_LOCAL_RESOLVE", "1") == "1":
        vmap = cache.get("vocab_map")
        if vmap is None and not cache.get("vocab_map_overflow"):
            capped = (
                vocab.select("term", "term_id")
                .limit(_VOCAB_MAP_MAX_TERMS + 1)
                .collect()
            )
            if len(capped) > _VOCAB_MAP_MAX_TERMS:
                cache["vocab_map_overflow"] = True
            else:
                vmap = {r["term"]: int(r["term_id"]) for r in capped}
                cache["vocab_map"] = vmap
    if vmap is not None:
        for qid, t, w in rows:
            tid = vmap.get(t)
            if tid is not None:
                by_q.setdefault(qid, []).append((tid, w))
    else:
        qdf = spark.createDataFrame(
            rows, "query_id STRING, term STRING, qw DOUBLE"
        )
        resolved = (
            vocab.join(F.broadcast(qdf), "term")
            .select("query_id", "term_id", "qw")
            .collect()
        )
        for r in resolved:
            by_q.setdefault(r["query_id"], []).append((r["term_id"], r["qw"]))
    out: dict[str, QVec] = {}
    for qid, pairs in by_q.items():
        # repeated tokens (or distinct tokens resolving to one term id) merge
        # by summing weights — routed through THE pinned merge so the float
        # is independent of .collect() row order (merge_sorted_terms contract)
        out[qid] = merge_sorted_terms(
            np.asarray([p[0] for p in pairs], dtype=np.int64),
            np.asarray([p[1] for p in pairs], dtype=np.float64),
        )
    return out


def queries_df_from_qvecs(spark: SparkSession, qvecs: dict[str, QVec]) -> DataFrame:
    """Driver-side resolved queries → the canonical queries DataFrame."""
    rows = [
        (qid, [int(x) for x in t], [float(x) for x in w])
        for qid, (t, w) in qvecs.items()
    ]
    return spark.createDataFrame(rows, QUERIES_SCHEMA)


def _as_queries_df(spark: SparkSession, queries) -> tuple[DataFrame, bool]:
    """Accept a dict-of-qvecs (small, driver-side) or a queries DataFrame.

    Returns (queries_df, is_small) — is_small drives broadcast decisions.
    """
    if isinstance(queries, DataFrame):
        return queries, False
    return queries_df_from_qvecs(spark, queries), True


def cut_terms(queries_df: DataFrame, query_cut: int) -> DataFrame:
    """Top-``query_cut`` terms per query by (weight desc, term_id asc) —
    inverted_index.rs:187-190's k_largest_by.  Returns (query_id, term_id, qw).

    r6: a NARROW per-row selection (mapInArrow over the query arrays) —
    the cut is a pure function of one row, so the old explode → groupBy →
    window formulation paid two exchanges plus a window sort for nothing
    (guide §2.4); worse, AQE coalesced its tiny shuffle to ONE partition at
    bench scale, serializing everything downstream of it in the same stage
    (event-log measured: a 5.9 s single-task stage in the κ-NN chain).
    Zero-copy Arrow flattening; duplicate term ids within a row merge
    through the pinned (term asc, weight asc) reduceat order
    (merge_sorted_terms' contract), value-identical to the old groupBy-sum
    for the duplicate-free rows every engine path produces.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def gen(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in it:
            n = rb.num_rows
            if n == 0:
                continue
            qt = rb.column(rb.schema.get_field_index("q_terms"))
            qw = rb.column(rb.schema.get_field_index("q_weights"))
            lens = pc.list_value_length(qt).to_numpy().astype(np.int64)
            t_flat = qt.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            w_flat = qw.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            row_rep = np.repeat(np.arange(n, dtype=np.int64), lens)
            key = row_rep * _KEY_SHIFT + t_flat
            # merge duplicate (row, term): (term asc, weight asc) reduceat —
            # THE pinned merge order (see merge_sorted_terms)
            order = np.lexsort((w_flat, key))
            k_s, w_s = key[order], w_flat[order]
            if k_s.size > 1 and np.any(np.diff(k_s) == 0):
                starts = np.flatnonzero(
                    np.concatenate(([True], np.diff(k_s) != 0))
                )
                w_s = np.add.reduceat(w_s, starts)
                k_s = k_s[starts]
            row_m = k_s // _KEY_SHIFT
            t_m = k_s - row_m * _KEY_SHIFT
            # top-query_cut per row by (weight desc, term asc)
            sel = np.lexsort((t_m, -w_s, row_m))
            rr = row_m[sel]
            rstarts = np.flatnonzero(
                np.concatenate(([True], rr[1:] != rr[:-1]))
            )
            seg_lens = np.diff(np.concatenate((rstarts, [rr.size])))
            rank = np.arange(rr.size, dtype=np.int64) - np.repeat(
                rstarts, seg_lens
            )
            keep = sel[rank < query_cut]
            idx = pa.array(row_m[keep])
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(rb.column(rb.schema.get_field_index("query_id")), idx),
                    pa.array(t_m[keep].astype(np.int32)),
                    pa.array(w_s[keep]),
                ],
                ["query_id", "term_id", "qw"],
            )

    return queries_df.select("query_id", "q_terms", "q_weights").mapInArrow(
        gen, "query_id STRING, term_id INT, qw DOUBLE"
    )


# ------------------------------------------------- flattened batch utils ----


def _repair_qkey(
    qkey: np.ndarray, qw_all: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """In-place-order repair of a flattened query-key array
    (``row·2^32 + term_id``, sorted asc when every row's q_terms is) + a
    duplicate merge.  A user-supplied queries DataFrame (QUERIES_SCHEMA)
    with UNSORTED q_terms is repaired here (stable argsort, weights permuted
    identically); duplicate term ids within one row are MERGED by summing
    their weights (reduceat in original-order-within-group) — for a dot
    product ``q·d`` a repeated component contributes ``(w1+w2)·dv``, so the
    merge is score-identical to the caller's intent and never aborts the
    batch."""
    if qkey.size > 1:
        d = np.diff(qkey)
        if not np.all(d > 0):
            order = np.argsort(qkey, kind="stable")
            qkey, qw_all = qkey[order], qw_all[order]
            dup = np.diff(qkey) == 0
            if np.any(dup):
                starts = np.flatnonzero(
                    np.concatenate(([True], ~dup))
                )
                qw_all = np.add.reduceat(qw_all, starts)
                qkey = qkey[starts]
    return qkey, qw_all


def _gather_qw(
    qkey: np.ndarray, qw_all: np.ndarray, row_of: np.ndarray, terms: np.ndarray
) -> np.ndarray:
    """Per-element query weight (0.0 when the term isn't in that row's query)."""
    skey = row_of * _KEY_SHIFT + terms
    idx = np.searchsorted(qkey, skey)
    idx_c = np.minimum(idx, max(qkey.size - 1, 0))
    hit = qkey[idx_c] == skey if qkey.size else np.zeros(skey.size, dtype=bool)
    return np.where(hit, qw_all[idx_c] if qw_all.size else 0.0, 0.0)


# -------------------------------------------------------------- scoring -----


def exact_score(
    cands: DataFrame,
    forward: DataFrame,
    queries,
    id_col: str = "doc_id",
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """Exact dot product of full query vector vs full doc vectors.

    cands(query_id, doc_id) ⋈ forward ⋈ queries → one vectorized CSR pass
    per Arrow batch (combined-key searchsorted + per-doc segment sums — Q5
    analogue).  Returns (query_id, doc_id, score DOUBLE).  Scores are
    bitwise-reproducible across partitionings (segment_sums is a pure
    function of the doc's own contribution array).
    """
    qdf, small = _as_queries_df(cands.sparkSession, queries)
    if broadcast_queries is None:
        broadcast_queries = small
    qj = F.broadcast(qdf) if broadcast_queries else qdf
    joined = (
        cands.join(forward, id_col)
        .join(qj, "query_id")
        .select("query_id", id_col, "terms", "weights", "q_terms", "q_weights")
    )

    import pyarrow as pa
    import pyarrow.compute as pc

    def score_batches(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # r6: Arrow-native flat buffers (guide §4.2) — the candidate-pair
        # volume is rows × full vectors (κ-NN: 2.2×10^7 pairs at sf0.1), and
        # the old pandas path paid a per-row np.asarray on four nested
        # columns; flatten()/list_value_length are O(1) buffer views.  The
        # scoring floats are the SAME flat f64 arrays in the same order, so
        # every score is bitwise unchanged.
        for rb in it:
            n = rb.num_rows
            if n == 0:
                continue
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            qlens = pc.list_value_length(cols["q_terms"]).to_numpy().astype(np.int64)
            qt_all = cols["q_terms"].flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            qw_all = cols["q_weights"].flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            qrow = np.repeat(np.arange(n, dtype=np.int64), qlens)
            qkey = qrow * _KEY_SHIFT + qt_all
            qkey, qw_all = _repair_qkey(qkey, qw_all)

            lens = pc.list_value_length(cols["terms"]).to_numpy().astype(np.int64)
            t_all = cols["terms"].flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            w_all = cols["weights"].flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            row_rep = np.repeat(np.arange(n, dtype=np.int64), lens)
            qw_elem = _gather_qw(qkey, qw_all, row_rep, t_all)
            contrib = qw_elem * w_all
            starts = np.cumsum(lens) - lens
            scores = codec.segment_sums(contrib, starts, lens)
            yield pa.RecordBatch.from_arrays(
                [
                    cols["query_id"],
                    pc.cast(cols[id_col], pa.int64()),
                    pa.array(scores),
                ],
                ["query_id", "doc_id", "score"],
            )

    return joined.mapInArrow(
        score_batches, "query_id STRING, doc_id BIGINT, score DOUBLE"
    )


def topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k, ties broken by doc_id asc (pinned total order,
    SURVEY.md §7.3) — (query_id, rank, doc_id, score)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


# ------------------------------------------------------ block UB scan -------


def _block_ubs(postings_matched: DataFrame) -> DataFrame:
    """Per (query, posting-row, block): summary upper-bound dot (Q2), the
    block-max lower bound, and the block's encoded doc ids.

    Fully vectorized per Arrow batch: all blocks of all rows are flattened
    into concatenated summary-element arrays; one searchsorted resolves every
    (element, query) weight; per-block UBs are segment sums.  No per-row or
    per-block Python math.
    """
    out_schema = (
        "query_id STRING, term_id INT, salt INT, block INT, ub DOUBLE, "
        "lb DOUBLE, gaps BINARY"
    )
    import pyarrow as pa
    import pyarrow.compute as pc

    def scan(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # r6: Arrow-native flat buffers (guide §4.2) — the old pandas path
        # paid a per-CELL np.asarray over doubly-nested summary columns
        # (summary lists per block per row); flatten()/list_value_length are
        # O(1) buffer views and the gap blobs pass through as one untouched
        # Arrow binary column.  All float math is unchanged dtype-for-dtype,
        # so every ub/lb is bitwise identical to the pandas formulation.
        for rb in it:
            nrow = rb.num_rows
            if nrow == 0:
                continue
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            qlens = pc.list_value_length(cols["q_terms"]).to_numpy().astype(np.int64)
            qt_all = cols["q_terms"].flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            qw_all = cols["q_weights"].flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            qrow = np.repeat(np.arange(nrow, dtype=np.int64), qlens)
            qkey, qw_all = _repair_qkey(qrow * _KEY_SHIFT + qt_all, qw_all)

            # ---- block level -------------------------------------------
            nb = pc.list_value_length(cols["blocks"]).to_numpy().astype(np.int64)
            row_of_block = np.repeat(np.arange(nrow, dtype=np.int64), nb)
            blocks_flat = cols["blocks"].flatten()
            bmax_all = (
                cols["block_max"].flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
            )
            qw_row = cols["qw"].to_numpy(zero_copy_only=False)
            lb = qw_row[row_of_block] * bmax_all

            # ---- summary-element level ----------------------------------
            st_inner = cols["summary_terms"].flatten()  # list<int> per block
            slen = pc.list_value_length(st_inner).to_numpy().astype(np.int64)
            st_all = st_inner.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            codes_bin = cols["summary_codes"].flatten()  # binary per block
            codes_all, _ = codec.binary_flat(codes_bin)
            mins_all = (
                cols["summary_min"].flatten().to_numpy(zero_copy_only=False)
            )  # float32, same values the pandas path saw
            quants_all = (
                cols["summary_quant"].flatten().to_numpy(zero_copy_only=False)
            )
            # dequantize (identical f32 arithmetic to codec.dequantize_u8)
            vals = (
                np.repeat(mins_all, slen)
                + codes_all.astype(np.float32) * np.repeat(quants_all, slen)
            ).astype(np.float32)
            row_of_elem = np.repeat(row_of_block, slen)
            qw_elem = _gather_qw(qkey, qw_all, row_of_elem, st_all)
            contrib = qw_elem * vals.astype(np.float64)
            elem_starts = np.cumsum(slen) - slen
            ub = codec.segment_sums(contrib, elem_starts, slen)

            idx = pa.array(row_of_block)
            arrays = [
                pc.take(cols["query_id"], idx),
                pc.take(cols["term_id"], idx),
                pc.take(cols["salt"], idx),
                blocks_flat,
                pa.array(ub),
                pa.array(lb),
                cols["doc_gaps"].flatten(),
            ]
            names = [
                "query_id", "term_id", "salt", "block", "ub", "lb", "gaps",
            ]
            yield pa.RecordBatch.from_arrays(arrays, names)

    cols_df = postings_matched.select(
        "query_id", "term_id", "salt", "qw", "q_terms", "q_weights",
        "blocks", "block_max", "doc_gaps",
        "summary_terms", "summary_codes", "summary_min", "summary_quant",
    )
    return cols_df.mapInArrow(scan, out_schema)


def _fused_candidates(ubs: DataFrame, k: int, heap_factor: float) -> DataFrame:
    """θ derivation + skip filter + gap decode + cross-list dedup in ONE
    streamed operator — the two_phase=False tail of the in-plan path.

    Replaces the window-based `_theta_survivors` → `_decode_docs` →
    `.distinct()` chain (3 exchanges, two of them sorting the gap-blob-laden
    ubs rows) with a single repartition("query_id") — guide §2.4 (remove
    shuffles outright) + §2.3 (don't move heavy payloads through exchanges
    they don't need): the gap blobs cross exactly one exchange, and the θ
    aggregation/filter/decode/dedup all happen in one vectorized pass over
    each query's co-located block rows.

    Value-parity with the windowed derivation (and the driver fast path):
    θ_q = max over matched terms of the k-th largest per-(query, term) lb —
    the k-th largest VALUE is tie-order independent, so np.lexsort + segment
    ranks select exactly the lb the `wt` window's row_number()==k row held;
    the skip predicate ``ub >= heap_factor × θ`` is the same IEEE-f64
    comparison, so the surviving block set — and every downstream score — is
    bitwise identical (test_parity_r4/r5 pin this against the fast path).

    Queries with NO term reaching k blocks keep all their blocks (the
    windowed path's `theta IS NULL` arm).  Dedup is per query group, which
    equals the old global `.distinct()` because one query's rows are fully
    co-located.
    """
    hf = float(heap_factor)

    def process(pdf: pd.DataFrame) -> pd.DataFrame | None:
        qids = pdf["query_id"].to_numpy()
        g_starts = np.flatnonzero(np.concatenate(([True], qids[1:] != qids[:-1])))
        g_lens = np.diff(np.concatenate((g_starts, [len(pdf)])))
        q_of = np.repeat(np.arange(g_starts.size, dtype=np.int64), g_lens)
        term = pdf["term_id"].to_numpy(dtype=np.int64)
        ub = pdf["ub"].to_numpy(dtype=np.float64)
        lb = pdf["lb"].to_numpy(dtype=np.float64)

        # per-(query, term) k-th largest lb, maxed per query (θ phase 0)
        order = np.lexsort((-lb, term, q_of))
        qo, to, lbo = q_of[order], term[order], lb[order]
        seg = np.concatenate(
            ([True], (qo[1:] != qo[:-1]) | (to[1:] != to[:-1]))
        )
        seg_starts = np.flatnonzero(seg)
        seg_lens = np.diff(np.concatenate((seg_starts, [lbo.size])))
        rank = np.arange(lbo.size, dtype=np.int64) - np.repeat(
            seg_starts, seg_lens
        )
        kth = rank == k - 1
        theta = np.full(g_starts.size, -np.inf)
        kq, kv = qo[kth], lbo[kth]
        if kq.size:
            gs = np.flatnonzero(np.concatenate(([True], kq[1:] != kq[:-1])))
            theta[kq[gs]] = np.maximum.reduceat(kv, gs)

        keep = np.ones(len(pdf), dtype=bool)
        hasrow = theta[q_of] > -np.inf
        keep[hasrow] = ub[hasrow] >= hf * theta[q_of][hasrow]

        gaps_col = pdf["gaps"].to_numpy()
        kept_idx = np.flatnonzero(keep)
        if kept_idx.size == 0:
            return None
        ids, counts = codec.delta_decode_multi(
            [bytes(gaps_col[i]) for i in kept_idx]
        )
        qrep = np.repeat(q_of[kept_idx], counts)
        ids = ids.astype(np.int64)
        order2 = np.lexsort((ids, qrep))
        qs_, ds_ = qrep[order2], ids[order2]
        mask = np.concatenate(
            ([True], (qs_[1:] != qs_[:-1]) | (ds_[1:] != ds_[:-1]))
        )
        return pd.DataFrame(
            {"query_id": qids[g_starts][qs_[mask]], "doc_id": ds_[mask]}
        )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in it:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            qids = pdf["query_id"].to_numpy()
            cut = int(np.flatnonzero(qids == qids[-1])[0])
            complete, rest = pdf.iloc[:cut], pdf.iloc[cut:]
            carry = rest.reset_index(drop=True) if len(rest) else None
            if len(complete):
                out = process(complete)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = process(carry)
            if out is not None:
                yield out

    parted = (
        ubs.select("query_id", "term_id", "ub", "lb", "gaps")
        .repartition("query_id")
        .sortWithinPartitions("query_id")
    )
    return parted.mapInPandas(gen, "query_id STRING, doc_id BIGINT")


def _decode_docs(block_rows: DataFrame) -> DataFrame:
    """(query_id, gaps) → distinct (query_id, doc_id) candidates (the
    reference's cross-list `visited` dedup, posting_list.rs:206-214).

    One vectorized continuation-bit pass decodes ALL gap buffers of an Arrow
    batch (codec.delta_decode_multi) — no per-row Python on the query path.
    """

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            ids, counts = codec.delta_decode_multi(
                [bytes(b) for b in pdf["gaps"]]
            )
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["query_id"].to_numpy(), counts),
                    "doc_id": ids.astype(np.int64),
                }
            )

    return (
        block_rows.select("query_id", "gaps")
        .mapInPandas(decode, "query_id STRING, doc_id BIGINT")
        .distinct()
    )


# ---------------------------------------------------------- batch search ----

# Interactive batches up to this size take the driver-θ fast path (override
# with $SEISMIC_DRIVER_THETA_MAX; 0 disables).  Bound: the driver holds one
# narrow row per matched block — batch × query_cut × blocks-per-list rows of
# six scalars — plus the surviving-keys literal it ships back.
_DRIVER_THETA_MAX = int(os.environ.get("SEISMIC_DRIVER_THETA_MAX", "1024"))

# Hard row cap on the narrow block table the fast path collects: the gate
# above bounds batch × query_cut, but blocks-per-list is data-dependent (a
# head-term-heavy batch on a many-block index can multiply it arbitrarily).
# The collect is issued as limit(cap+1); hitting the cap aborts to the
# in-plan θ derivation (result-identical), so driver memory is bounded by
# construction: cap rows × 6 scalars ≈ 50 MB at the default.
_DRIVER_THETA_MAX_ROWS = int(
    os.environ.get("SEISMIC_DRIVER_THETA_MAX_ROWS", "1000000")
)

# In-plan dict batches push the union of all query term ids into the postings
# scan as an IN predicate (result-neutral pruning).  Above this many ids the
# literal list itself bloats Catalyst optimization / Parquet predicate
# conversion more than the scan pruning saves, so skip it (the cut-terms
# join already restricts the scan output).  The cost is NOT marginal: at the
# batch-10000 design point (~30k ids, 1M docs) the literal IN cost an
# event-log-measured 14.5 s driver-only planning gap plus serialized-plan
# bloat in every task — removing it took the 4-core leg from ~46 s to ~27 s
# and the 1-core leg from ~134 s to ~96 s, and even at batch 1000 (~4.4k
# ids) an interleaved A/B read 13.5-16.1 s with vs 11.2-12.1 s without
# (BENCH/BASELINE.md round-5 serial-fraction section).  At-scale row-group
# pruning belongs to the term-bucket partitioned snapshot path
# (SeismicSparkIndex._postings_for: <= n_buckets literals), so the generic
# id-literal list only stays where it is provably cheap.
_SCAN_PRUNE_MAX_IDS = int(os.environ.get("SEISMIC_SCAN_PRUNE_MAX_IDS", "2048"))

# Fallback ubs-cache lifecycle for direct batch_search callers that pass no
# registry: previous caches are retired here on the next call, so a
# long-lived session never accumulates dead persisted RDDs.
# SeismicSparkIndex passes its per-instance registry instead, keeping
# interleaved searches on different indexes from thrashing each other.
_DEFAULT_CACHE_REGISTRY: list[DataFrame] = []


def merge_sorted_terms(t, w) -> QVec:
    """THE pinned duplicate-term merge — single source of truth for the
    fast-path / in-plan / serving-replica bitwise-identity contract.

    (term asc, weight asc) lexsort, then one reduceat per duplicate group:
    the summation order is a pure function of the (term, weight) multiset,
    so the merged float is reproducible regardless of input order.  Every
    caller that merges duplicate query terms MUST route through here
    (_merge_dup_qvecs, _cut_qvecs, serving.ServingReplica._resolve) — a
    divergent copy silently breaks the documented bitwise guarantees.
    """
    t = np.asarray(t, dtype=np.int64)
    w = np.asarray(w, dtype=np.float64)
    order = np.lexsort((w, t))
    t, w = t[order], w[order]
    if t.size > 1 and np.any(np.diff(t) == 0):
        starts = np.flatnonzero(np.concatenate(([True], np.diff(t) != 0)))
        w = np.add.reduceat(w, starts)
        t = t[starts]
    return t, w


def _merge_dup_qvecs(qvecs: dict[str, QVec]) -> dict[str, QVec]:
    """Deterministically merge duplicate term ids within each query vector.

    Dict batches are normalized ONCE here, before path selection, so the
    driver-θ fast path and the in-plan derivation both see duplicate-free,
    term-sorted queries — which is what makes their documented bitwise
    identity hold even for queries that repeat a term: any float summation
    the two paths would otherwise do independently (Python insertion-order
    vs Spark aggregation-order) happens exactly once, over a pinned element
    order (term id asc, then weight asc within a duplicate group) — the
    reduceat's association is numpy's but the inputs are a pure function of
    the multiset, so the merged float is reproducible.
    """
    return {qid: merge_sorted_terms(t, w) for qid, (t, w) in qvecs.items()}


def _cut_qvecs(qvecs: dict[str, QVec], query_cut: int) -> list[tuple]:
    """Driver-side cut_terms over resolved query vectors: top-``query_cut``
    terms per query by (weight desc, term_id asc), duplicate ids merged by
    weight sum — value-identical to the window in :func:`cut_terms`, zero
    Spark jobs."""
    rows: list[tuple] = []
    for qid, (t, w) in qvecs.items():
        t = np.asarray(t, dtype=np.int64)
        w = np.asarray(w, dtype=np.float64)
        if t.size == 0:
            continue
        if np.unique(t).size != t.size:
            t, w = merge_sorted_terms(t, w)
        order = np.lexsort((t, -w))[:query_cut]
        rows.extend(
            (qid, int(t[i]), float(w[i])) for i in order.tolist()
        )
    return rows


def _compact_rescore(
    block_rows: DataFrame, forward: DataFrame, qdf: DataFrame, k: int
) -> DataFrame:
    """Low-latency rescore tail for SMALL surviving-block sets: decode and
    dedup candidates in ONE task (replacing _decode_docs' `.distinct()`
    shuffle with an in-partition np.unique), then broadcast the candidate
    ids into the forward join — the forward scan stays parallel, but the
    only exchange left in the chain is the final tiny top-k window.

    Callers gate on block count (``_COMPACT_TAIL_MAX_BLOCKS``): candidates
    are broadcast, so this path is for interactive batches where the
    distributed tail's 5–6 AQE stage jobs are pure scheduling overhead
    (measured ~2 s per chain at 1M docs regardless of data size).
    """

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one coalesced partition → a partition-wide dedup is a full dedup
        frames = []
        for pdf in it:
            if pdf.empty:
                continue
            ids, counts = codec.delta_decode_multi(
                [bytes(b) for b in pdf["gaps"]]
            )
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.repeat(pdf["query_id"].to_numpy(), counts),
                        "doc_id": ids.astype(np.int64),
                    }
                )
            )
        if frames:
            yield pd.concat(frames, ignore_index=True).drop_duplicates()

    cands = (
        block_rows.select("query_id", "gaps")
        .coalesce(1)
        .mapInPandas(decode, "query_id STRING, doc_id BIGINT")
        .hint("broadcast")
    )
    scored = exact_score(cands, forward, qdf, broadcast_queries=True)
    return topk(scored, k)


# Compact-tail gate: blocks hold at most a few hundred docs, so ≤4096
# surviving blocks keeps the broadcast candidate set ≲ 1M (query, doc)
# pairs ≈ tens of MB — comfortably under executor broadcast budgets.
_COMPACT_TAIL_MAX_BLOCKS = 4096


def _theta0_from_narrow(narrow: pd.DataFrame, k: int) -> dict[str, float]:
    """Phase-0 θ per query from a collected block table: per (query, term)
    k-th largest block-max lower bound, maxed over the query's matched terms
    — the same f64 values the in-plan window aggregates select."""
    neg_inf = float("-inf")
    theta: dict[str, float] = {}
    for (qid, _tid), grp in narrow.groupby(["query_id", "term_id"], sort=False):
        lb = grp["lb"].to_numpy(dtype=np.float64)
        if lb.size >= k:
            kth = float(np.partition(lb, lb.size - k)[lb.size - k])
            if kth > theta.get(qid, neg_inf):
                theta[qid] = kth
    return theta


def _driver_theta_search(
    spark: SparkSession,
    postings: DataFrame,
    forward: DataFrame,
    qvecs: dict[str, QVec],
    qdf: DataFrame,
    k: int,
    query_cut: int,
    heap_factor: float,
    two_phase: bool,
    cache_registry: list[DataFrame] | None,
) -> DataFrame:
    """Interactive-batch fast path: θ evolves ON THE DRIVER, like the
    reference's in-process heap (inverted_index.rs:153-234), instead of
    inside the plan.

    Motivation (measured, BENCH/BASELINE.md round-4 batch-size section): the
    in-plan θ derivation is one logical plan but AQE materializes its every
    tiny shuffle/broadcast stage as a separate job — 17–24 jobs per batch,
    ~6 s of scheduling fixed cost at any corpus size, which dominates
    batches under ~1000 queries.  For a driver-side dict the narrow block
    table (query_id, term_id, salt, block, ub, lb — no gap blobs) is a few
    hundred rows per query at most, so the θ aggregation that costs several
    window/aggregate stages in-plan is a microsecond numpy pass locally:

      job 1   materialize + cache the block-UB scan, collect narrow columns
      (job 2) two_phase only: exact-score the best-ub block per matched
              list, collect the per-query k-th best (phase-1 tightening,
              posting_list.rs:149-185)
      job 3   filter the CACHED ubs frame to the surviving block keys
              (broadcast literal), decode, exact re-score, top-k — the gap
              blobs never leave the executors

    Float parity with the in-plan path is exact: θ is selected by
    comparisons over the same f64 values the plan would aggregate (k-th
    largest lb, k-th best phase-1 score), and the skip predicate
    ``ub >= heap_factor × θ`` is evaluated in IEEE f64 either way, so the
    survivor set — and therefore every downstream score — is bitwise
    identical (tested: test_search_fastpath.py).

    DataFrame-scale query sets (κ-NN graph: millions of queries) keep the
    in-plan windowed derivation — collecting their block table would be a
    driver bottleneck, which is exactly why the in-plan variant exists.

    Returns None when the narrow block table exceeds
    ``_DRIVER_THETA_MAX_ROWS`` (collected via limit(cap+1), so the transfer
    itself is bounded) — the caller then falls back to the in-plan path.
    """
    cut_rows = _cut_qvecs(qvecs, query_cut)
    empty = spark.createDataFrame(
        [], "query_id STRING, rank INT, doc_id BIGINT, score DOUBLE"
    )
    if not cut_rows:
        return empty
    cterms = spark.createDataFrame(
        cut_rows, "query_id STRING, term_id INT, qw DOUBLE"
    )
    # Result-neutral scan pruning: the join keeps only these term_ids anyway,
    # but an explicit IN predicate reaches the postings SCAN — Parquet
    # row-group stats skip non-matching groups (postings files are
    # term-sorted, postings.py stream builder) and InMemoryTableScan skips
    # cached batches.  Measured ~0.2-0.3 s off the UB scan at 1M docs
    # locally; the real payoff is bucket-partitioned snapshots at scale,
    # where it stacks with _postings_for's file-level bucket pruning.
    term_ids = sorted({int(r[1]) for r in cut_rows})
    if len(term_ids) <= _SCAN_PRUNE_MAX_IDS:
        # same cap as the in-plan path: above it the literal list costs
        # Catalyst more than the scan pruning saves (measured, see
        # _SCAN_PRUNE_MAX_IDS) — the auto-gate keeps auto-engaged batches
        # under it, but an explicit driver_theta=True caller may not be
        postings = postings.filter(F.col("term_id").isin(term_ids))
    matched = (
        postings
        .join(F.broadcast(cterms), "term_id")
        .join(F.broadcast(qdf), "query_id")
    )
    if cache_registry is not None:
        retire_caches(cache_registry)
    # gaps ride along in the ubs frame: persist it so the rescore tail
    # filters the cached frame instead of re-running the scan
    ubs = _block_ubs(matched).persist()
    if cache_registry is not None:
        cache_registry.append(ubs)

    # Collect with a hard row cap: the auto-gate bounds batch × query_cut,
    # but blocks-per-list is data-dependent, so a head-term-heavy batch on a
    # many-block index could otherwise collect an unexpectedly wide table.
    # limit(cap+1) bounds the transfer itself; hitting the cap returns None
    # and the caller falls back to the in-plan θ derivation.
    narrow = (
        ubs.select("query_id", "term_id", "salt", "block", "ub", "lb")
        .limit(_DRIVER_THETA_MAX_ROWS + 1)
        .toPandas()
    )
    if len(narrow) > _DRIVER_THETA_MAX_ROWS:
        return None
    if narrow.empty:
        return empty

    neg_inf = float("-inf")
    # phase 0: per (query, term) k-th largest block-max lower bound, maxed
    # over the query's matched terms (same value as the wt window + rank-k
    # filter — the k-th largest VALUE is order-independent)
    theta = _theta0_from_narrow(narrow, k)

    if two_phase:
        best = (
            narrow.sort_values(
                ["query_id", "term_id", "ub", "salt", "block"],
                ascending=[True, True, False, True, True],
                kind="stable",
            )
            .groupby(["query_id", "term_id"], sort=False)
            .head(1)[["query_id", "term_id", "salt", "block"]]
        )
        best_df = spark.createDataFrame(
            best, "query_id STRING, term_id INT, salt INT, block INT"
        )
        best_blocks = ubs.join(
            F.broadcast(best_df), ["query_id", "term_id", "salt", "block"]
        )
        if len(best) <= _COMPACT_TAIL_MAX_BLOCKS:
            p1_topk = _compact_rescore(best_blocks, forward, qdf, k)
        else:
            p1_topk = topk(
                exact_score(
                    _decode_docs(best_blocks), forward, qdf,
                    broadcast_queries=True,
                ),
                k,
            )
        for r in (
            p1_topk
            .filter(F.col("rank") == k)
            .select("query_id", "score")
            .collect()
        ):
            if r["score"] > theta.get(r["query_id"], neg_inf):
                theta[r["query_id"]] = r["score"]

    if theta:
        th = narrow["query_id"].map(theta).to_numpy(dtype=np.float64)
        has = ~np.isnan(th)
        keep = np.ones(len(narrow), dtype=bool)
        # identical IEEE f64 predicate to the in-plan filter
        keep[has] = narrow["ub"].to_numpy(dtype=np.float64)[has] >= (
            heap_factor * th[has]
        )
    else:
        keep = np.ones(len(narrow), dtype=bool)

    if keep.all():
        survivors = ubs
    else:
        keys = narrow.loc[keep, ["query_id", "term_id", "salt", "block"]]
        survivors = ubs.join(
            F.broadcast(
                spark.createDataFrame(
                    keys, "query_id STRING, term_id INT, salt INT, block INT"
                )
            ),
            ["query_id", "term_id", "salt", "block"],
        )
    if int(keep.sum()) <= _COMPACT_TAIL_MAX_BLOCKS:
        return _compact_rescore(survivors, forward, qdf, k)
    cands = _decode_docs(survivors)
    scored = exact_score(cands, forward, qdf, broadcast_queries=True)
    return topk(scored, k)


def retire_caches(cache_registry: list[DataFrame]) -> None:
    """Unpersist every DataFrame in a caller-scoped cache registry.

    ubs frames persisted by previous batch_search calls are retired at the
    caller's next call so a long-lived session issuing many searches never
    accumulates dead cached RDDs in executor storage memory.  A result
    DataFrame collected AFTER the retirement recomputes its subtree —
    correct, just un-cached.
    """
    while cache_registry:
        df = cache_registry.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


def batch_search(
    spark: SparkSession,
    postings: DataFrame,
    forward: DataFrame,
    queries,
    k: int = 10,
    query_cut: int = 10,
    heap_factor: float = 1.0,
    two_phase: bool = False,
    broadcast_queries: bool | None = None,
    cache_registry: list[DataFrame] | None = None,
    driver_theta: bool | None = None,
) -> DataFrame:
    """Dynamically-pruned batch top-k (Q1/Q9 analogue), single logical plan.

    ``queries`` is a dict {query_id: (term_ids, weights)} (interactive path,
    broadcast) or a DataFrame with QUERIES_SCHEMA (bulk path, e.g. every doc
    as a query for κ-NN).  ``q_terms`` SHOULD be sorted ascending per row
    with distinct ids; unsorted rows are repaired batch-side and duplicate
    ids merged by weight sum (see _repair_qkey).  Returns (query_id, rank,
    doc_id, score); no driver-side loops or mid-plan actions.

    ``cache_registry``: caller-scoped lifecycle for the persisted ubs frame
    (SeismicSparkIndex passes a per-instance list, so interleaved searches on
    DIFFERENT indexes never thrash each other's cache).  Previous entries are
    retired, the new cache appended.  With None a module-level default
    registry is used, so direct callers in a long session still have each
    call retire the previous call's cache instead of accumulating persisted
    RDDs until LRU/disk pressure.

    ``driver_theta``: derive θ on the driver instead of in-plan (see
    :func:`_driver_theta_search` — result-identical, ~3 jobs instead of
    17–24).  Default (None) auto-enables for driver-side dict batches of at
    most ``$SEISMIC_DRIVER_THETA_MAX`` (1024) queries; DataFrame query sets
    always use the in-plan derivation.
    """
    if not isinstance(queries, DataFrame):
        # normalize duplicate term ids ONCE, deterministically, before path
        # selection — both θ paths then see identical duplicate-free floats
        # (the documented fast-path/in-plan bitwise identity)
        queries = _merge_dup_qvecs(queries)
    if cache_registry is None:
        cache_registry = _DEFAULT_CACHE_REGISTRY
    qdf, small = _as_queries_df(spark, queries)
    if broadcast_queries is None:
        broadcast_queries = small
    if driver_theta is None:
        # Auto-engage only where the compact rescore tail can engage too:
        # phase-1 decodes one block per matched list, and the batch has at
        # most len(queries) × query_cut lists.  Above the compact-tail bound
        # the fast path degenerates to the same distributed chains as the
        # in-plan derivation PLUS serial job barriers — measured SLOWER at
        # batch 1000 × cut 10 in a same-window interleaved ABAB (1M docs,
        # BENCH/BASELINE.md), while batch ≤ ~400 wins every rep.
        driver_theta = (
            small
            and 0 < len(queries) <= _DRIVER_THETA_MAX
            and len(queries) * query_cut <= _COMPACT_TAIL_MAX_BLOCKS
        )
    if driver_theta and small:
        res = _driver_theta_search(
            spark, postings, forward, queries, qdf, k, query_cut,
            heap_factor, two_phase, cache_registry,
        )
        if res is not None:
            return res
        # Block-table row cap hit — fall through to the in-plan derivation.
        # Retire the fast path's abandoned persisted ubs NOW: the in-plan
        # tail only retires when broadcast_queries/two_phase is set, so a
        # caller pinning both off would otherwise leak the cache until a
        # later fast-path call happened to retire it.
        retire_caches(cache_registry)
    qdf = qdf.filter(F.size("q_terms") > 0)
    if small:
        # Dict batches routed in-plan still know their term union on the
        # driver; an IN predicate on the SUPERSET of all query terms is
        # result-neutral (the cut-terms join restricts further) and reaches
        # the postings scan for row-group / cached-batch / bucket-file
        # pruning, same as the fast path's filter.  Above the cap the
        # literal list costs Catalyst more than the pruning saves — skip.
        all_ids = sorted({int(t) for ts, _ in queries.values() for t in ts})
        if all_ids and len(all_ids) <= _SCAN_PRUNE_MAX_IDS:
            postings = postings.filter(F.col("term_id").isin(all_ids))
    cterms = cut_terms(qdf, query_cut)
    qj = F.broadcast(cterms) if broadcast_queries else cterms
    matched = postings.join(qj, "term_id")
    qvec_j = F.broadcast(qdf) if broadcast_queries else qdf
    matched = matched.join(qvec_j, "query_id")
    ubs = _block_ubs(matched)
    if not two_phase:
        # Fused tail (r6): θ + skip filter + decode + dedup in one streamed
        # operator over query-co-located block rows — one exchange instead
        # of the wt/wq windows + distinct (guide §2.4), no persist needed
        # (single consumer), gap blobs cross exactly one shuffle.  Result
        # bitwise-identical (see _fused_candidates).
        if cache_registry is not None:
            retire_caches(cache_registry)
        cands = _fused_candidates(ubs, k, heap_factor)
        scored = exact_score(
            cands, forward, qdf, broadcast_queries=broadcast_queries
        )
        return topk(scored, k)
    if broadcast_queries or two_phase:
        # small query batches: cache the block scan — θ is an aggregate of
        # ubs, and without the cache Catalyst executes the whole
        # postings-join→block-scan subtree once per consumer
        if cache_registry is not None:
            retire_caches(cache_registry)
        ubs = ubs.persist()
        if cache_registry is not None:
            cache_registry.append(ubs)

    survivors = _theta_survivors(
        ubs, forward, qdf, k, heap_factor, two_phase, broadcast_queries
    )
    cands = _decode_docs(survivors)
    scored = exact_score(cands, forward, qdf, broadcast_queries=broadcast_queries)
    return topk(scored, k)


def _theta_survivors(
    ubs: DataFrame,
    forward: DataFrame,
    qdf: DataFrame,
    k: int,
    heap_factor: float,
    two_phase: bool,
    broadcast_queries: bool,
) -> DataFrame:
    """θ derivation + skip filter over the ubs frame.

    θ_q (phase 0) = max over matched terms of the k-th largest per-term
    block-max lower bound.  Two physical strategies, same value:

    - broadcast (small) query batches: ubs is persisted by the caller, θ is
      a narrow aggregate of the cache joined back as a per-query broadcast —
      no shuffle of the gap blobs.
    - DataFrame-scale query sets (κ-NN: the ubs frame is too big to cache):
      WINDOW functions over the ubs frame itself (rank within (query, term),
      then a per-query max of the rank-k values) — one pass, no self-join,
      so the postings-join→block-scan subtree is never executed twice.

    two_phase adds the first_sorted-style tightening: exact-score the
    best-ub block per matched list; the per-query k-th best exact score is
    broadcast back and maxed into θ.
    """
    wt = Window.partitionBy("query_id", "term_id").orderBy(F.col("lb").desc())
    if broadcast_queries:
        theta0 = (
            ubs.select("query_id", "term_id", "lb")
            .withColumn("_r", F.row_number().over(wt))
            .filter(F.col("_r") == k)
            .groupBy("query_id")
            .agg(F.max("lb").alias("theta"))
        )
        ubs = ubs.join(F.broadcast(theta0), "query_id", "left")
    else:
        wq = Window.partitionBy("query_id")
        ubs = ubs.withColumn("_r", F.row_number().over(wt)).withColumn(
            "theta",
            F.max(F.when(F.col("_r") == k, F.col("lb"))).over(wq),
        )

    if two_phase:
        wb = Window.partitionBy("query_id", "term_id").orderBy(
            F.col("ub").desc(), F.col("salt").asc(), F.col("block").asc()
        )
        best = (
            ubs.select("query_id", "term_id", "salt", "block", "ub", "gaps")
            .withColumn("_rb", F.row_number().over(wb))
            .filter(F.col("_rb") == 1)
        )
        p1 = exact_score(
            _decode_docs(best), forward, qdf, broadcast_queries=broadcast_queries
        )
        wqs = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        theta2 = (
            p1.withColumn("_r", F.row_number().over(wqs))
            .filter(F.col("_r") == k)
            .groupBy("query_id")
            .agg(F.max("score").alias("theta2"))
        )
        # θ2 is one row per query — always broadcast (stats are unknown to
        # AQE because it hangs off a Python UDF output)
        ubs = ubs.join(F.broadcast(theta2), "query_id", "left").withColumn(
            "theta",
            F.greatest(
                F.coalesce("theta", F.lit(float("-inf"))),
                F.coalesce("theta2", F.lit(float("-inf"))),
            ),
        ).withColumn(
            "theta",
            F.when(F.col("theta") == float("-inf"), F.lit(None)).otherwise(
                F.col("theta")
            ),
        )

    return ubs.filter(
        F.col("theta").isNull() | (F.col("ub") >= F.lit(heap_factor) * F.col("theta"))
    )


def search_stats(
    spark: SparkSession,
    postings: DataFrame,
    forward: DataFrame,
    queries,
    k: int = 10,
    query_cut: int = 10,
    heap_factor: float = 1.0,
    two_phase: bool = False,
) -> dict[str, float]:
    """Skip-rate instrumentation for a query batch: how many matched blocks
    the dynamic pruning skipped, and how many candidate docs survived.

    Mirrors batch_search's candidate selection exactly (same θ derivation);
    used by the accuracy/efficiency harness — the analogue of the
    reference's per-run reporting (scripts/run_experiments.py:287-309).
    """
    qdf, _ = _as_queries_df(spark, queries)
    qdf = qdf.filter(F.size("q_terms") > 0)
    cterms = cut_terms(qdf, query_cut)
    matched = postings.join(F.broadcast(cterms), "term_id").join(
        F.broadcast(qdf), "query_id"
    )
    ubs = _block_ubs(matched).persist()
    survivors = _theta_survivors(
        ubs, forward, qdf, k, heap_factor, two_phase, broadcast_queries=True
    ).persist()
    matched_n = ubs.count()
    scanned = survivors.count()
    n_cands = _decode_docs(survivors).count()
    survivors.unpersist()
    ubs.unpersist()
    return {
        "blocks_matched": matched_n,
        "blocks_scanned": scanned,
        "blocks_skipped": matched_n - scanned,
        "skip_rate": round(1.0 - scanned / matched_n, 4) if matched_n else 0.0,
        "candidates": int(n_cands),
    }


def bruteforce_search(
    spark: SparkSession,
    forward: DataFrame,
    queries,
    k: int = 10,
) -> DataFrame:
    """Exact full-scan top-k (Q10 analogue / ground-truth oracle)."""
    qdf, small = _as_queries_df(spark, queries)
    qdf = qdf.filter(F.size("q_terms") > 0)
    cands = qdf.select("query_id").crossJoin(forward.select("doc_id"))
    scored = exact_score(cands, forward, qdf, broadcast_queries=small).filter(
        F.col("score") > 0
    )
    return topk(scored, k)
