"""Batch top-k search with Seismic-style dynamic pruning, Spark-first.

Reference semantics (inverted_index.rs:153-234, posting_list.rs:115-215):
scan only the posting lists of the top-``query_cut`` query terms; skip blocks
whose summary-estimated dot product is below ``heap_factor × θ`` (θ = current
k-th best score); exactly re-score survivors against full doc vectors.

Distributed re-design (deterministic — SURVEY.md §7.3): the reference's θ
evolves inside one thread; a naive port would need a driver round-trip to
share it.  Instead θ is derived **inside the plan**, so the whole batch is
ONE Spark job:

  The pruning rules exist once, in this module, and both placements call
  them — the serving replica (serving.py) with its one query, the fused
  operator once per query group: the phase-0 bound θ_q from the matched
  terms' block maxima (:func:`phase0_theta`, always on), the skip
  ``summary_ub >= heap_factor × θ_q`` (:func:`blocks_kept`), and each
  list's best block (:func:`_first_max`).  Survivors are decoded, deduped
  across lists (the reference's `visited` set), exactly re-scored against
  full doc vectors, and top-k'ed per query.

  Phase-1 tightening (``two_phase=True`` — the first_sorted analogue,
  posting_list.rs:149-185): θ₂ = the k-th best exact score among the docs
  of every matched list's best block, and θ_q ← max(θ_q, θ₂).  Because
  the tighter θ only removes blocks from the phase-0 kept set, the same
  pass decodes the phase-0 survivors plus the best blocks, tags each
  (query, doc) with the largest ub of its decoded blocks (``dub``) and
  whether it lies in a best block (``p1``), and the ONE exact-score pass
  serves both: θ₂ is read off the scored p1 rows per query, and a doc
  survives iff ``dub >= heap_factor × θ_q`` — still one logical plan, no
  driver action, no second scan.

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

from collections import Counter
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from seismic_spark import codec

QVec = tuple[np.ndarray, np.ndarray]  # (term_ids sorted asc int64, weights f64)

QUERIES_SCHEMA = "query_id STRING, q_terms ARRAY<INT>, q_weights ARRAY<DOUBLE>"

_KEY_SHIFT = np.int64(1) << np.int64(32)  # (row, term) → sortable combined key
# driver-side vocab map gate for resolve_queries (strings + ids; ~60 MB at
# 1M terms) — over it, token resolution stays a per-batch join
_VOCAB_MAP_MAX_TERMS = 1 << 20


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
    the cap, or with no ``cache``, the join path runs unchanged.
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
    if cache is not None:
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
    through :func:`merge_sorted_terms` (:func:`_query_keys`),
    value-identical to the old groupBy-sum for the duplicate-free rows
    every engine path produces.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def gen(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in it:
            n = rb.num_rows
            if n == 0:
                continue
            k_s, w_s = _query_keys(
                rb.column(rb.schema.get_field_index("q_terms")),
                rb.column(rb.schema.get_field_index("q_weights")),
            )
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


def _query_keys(q_terms, q_weights) -> tuple[np.ndarray, np.ndarray]:
    """A batch's Arrow ``q_terms``/``q_weights`` list columns as sorted
    ``row·2^32 + term_id`` keys and their weights.  Unsorted or repeated
    q_terms (a user-supplied QUERIES_SCHEMA frame) go through
    :func:`merge_sorted_terms`: a repeated component contributes
    ``(w1+w2)·dv`` to ``q·d``, summed as every other placement sums it."""
    import pyarrow.compute as pc

    lens = pc.list_value_length(q_terms).to_numpy().astype(np.int64)
    terms = q_terms.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    weights = (
        q_weights.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    )
    keys = np.repeat(np.arange(lens.size, dtype=np.int64), lens) * _KEY_SHIFT
    keys += terms
    if keys.size > 1 and not np.all(np.diff(keys) > 0):
        return merge_sorted_terms(keys, weights)
    return keys, weights


def _gather_qw(
    keys: np.ndarray, weights: np.ndarray, probe: np.ndarray
) -> np.ndarray:
    """Per-probe query weight, 0.0 where no key matches (``keys`` sorted,
    unique): term ids for the replica's one query, ``row·2^32 + term``
    keys for a Spark batch (:func:`_query_keys`)."""
    idx = np.minimum(np.searchsorted(keys, probe), max(keys.size - 1, 0))
    hit = keys[idx] == probe if keys.size else np.zeros(probe.size, dtype=bool)
    return np.where(hit, weights[idx] if weights.size else 0.0, 0.0)


# ------------------------------------------------------- pruning rules ------
# Seismic's pruning rules (inverted_index.rs:153-234, posting_list.rs:115-215),
# written once for both placements: ServingReplica._search_resolved calls
# them with its one query, _fused_candidates once per query group.  Each
# matched term's blocks are one segment, in (salt asc, block asc) order, and
# the segments of a query tile its block arrays.


def phase0_theta(
    qw: np.ndarray, lens: np.ndarray, bmax: np.ndarray, at, k: int
) -> float:
    """One query's phase-0 bound θ₀.  Matched term t (cut weight
    ``qw[t]``) owns ``lens[t]`` consecutive blocks of ``bmax[at]``, the
    widened f32 block maxima.  The best doc of block b scores at least
    qw_t × bmax_b and one list's blocks hold distinct docs, so the k-th
    largest such product lower-bounds the k-th best score.  θ₀ is its max
    over the terms, −∞ when no term has k blocks (``bmax`` is then not
    read).  The Spark operator passes :func:`_block_ubs`'s ``lb`` products
    as ``bmax``, with weights 1.0."""
    theta = -np.inf
    nl = lens.tolist()
    if max(nl, default=0) >= k:
        lb = np.repeat(qw, lens) * bmax[at]
        o = 0
        for n in nl:
            if n >= k:
                kth = float(np.partition(lb[o:o + n], n - k)[n - k])
                if kth > theta:
                    theta = kth
            o += n
    return theta


def blocks_kept(ub: np.ndarray, heap_factor: float, theta: float) -> np.ndarray:
    """The block skip: a block is scanned iff its summary upper bound
    ``ub >= heap_factor × θ``.  With no bound yet (θ = −∞) every block is
    kept, heap_factor 0 included (0·−∞ is NaN, which no ub passes)."""
    if theta == -np.inf:
        return np.ones(ub.size, dtype=bool)
    return ub >= heap_factor * theta


def _first_max(x: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Index into ``x`` of the first maximum of each non-empty segment
    [starts_i, starts_i+lens_i) — np.argmax's tie order, from one segment
    max.  The segments must tile ``x`` in order (starts = cumsum - lens).
    Over block UBs: each term's best block, ties to the lowest (salt, block)."""
    nz = lens > 0
    starts = starts[nz]
    at = (x == np.maximum.reduceat(x, starts).repeat(lens[nz])).nonzero()[0]
    return at[at.searchsorted(starts)]


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
    analogue).  Returns (query_id, doc_id, score DOUBLE), followed by any
    other columns of ``cands``, passed through.  Scores are
    bitwise-reproducible across partitionings (segment_sums is a pure
    function of the doc's own contribution array).
    """
    qdf, small = _as_queries_df(cands.sparkSession, queries)
    if broadcast_queries is None:
        broadcast_queries = small
    qj = F.broadcast(qdf) if broadcast_queries else qdf
    extra = [f for f in cands.schema.fields if f.name not in ("query_id", id_col)]
    joined = (
        cands.join(forward, id_col)
        .join(qj, "query_id")
        .select("query_id", id_col, "terms", "weights", "q_terms", "q_weights",
                *[f.name for f in extra])
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
            qkey, qw_all = _query_keys(cols["q_terms"], cols["q_weights"])

            lens = pc.list_value_length(cols["terms"]).to_numpy().astype(np.int64)
            t_all = cols["terms"].flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            w_all = cols["weights"].flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            row_rep = np.repeat(np.arange(n, dtype=np.int64), lens)
            qw_elem = _gather_qw(qkey, qw_all, row_rep * _KEY_SHIFT + t_all)
            contrib = qw_elem * w_all
            starts = np.cumsum(lens) - lens
            scores = codec.segment_sums(contrib, starts, lens)
            yield pa.RecordBatch.from_arrays(
                [
                    cols["query_id"],
                    pc.cast(cols[id_col], pa.int64()),
                    pa.array(scores),
                    *[cols[f.name] for f in extra],
                ],
                ["query_id", "doc_id", "score", *[f.name for f in extra]],
            )

    schema = StructType([
        StructField("query_id", StringType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
        *extra,
    ])
    return joined.mapInArrow(score_batches, schema)


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
            qkey, qw_all = _query_keys(cols["q_terms"], cols["q_weights"])

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
            elem_key = np.repeat(row_of_block, slen) * _KEY_SHIFT + st_all
            qw_elem = _gather_qw(qkey, qw_all, elem_key)
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


def _fused_candidates(
    ubs: DataFrame, k: int, heap_factor: float, two_phase: bool
) -> DataFrame:
    """θ derivation + skip filter + gap decode + cross-list dedup in ONE
    streamed operator over query-co-located block rows.

    One repartition("query_id") is the only exchange the gap blobs cross
    (guide §2.4 + §2.3); the θ aggregation, filter, decode and dedup all
    happen in one vectorized pass over each query's rows.  Each batch's
    rows are sorted by (query, term, salt, block), the replica's block
    order, in numpy (a four-key Spark sort cost ~20% of a 400-query
    pruned batch), and each query group goes through the pruning rules
    above (:func:`phase0_theta`, :func:`blocks_kept`).  Dedup is per query
    group, which is a full dedup because one query's rows are fully
    co-located.

    ``two_phase`` also decodes each (query, term)'s best block
    (:func:`_first_max`) and emits, per (query, doc), ``theta0``, ``dub``
    (the largest ub of the doc's decoded blocks) and ``p1`` (whether one of
    them is a best block), for :func:`_phase1_filter` after the exact-score
    pass.
    """
    hf = float(heap_factor)

    def process(pdf: pd.DataFrame) -> pd.DataFrame | None:
        n = len(pdf)
        qids = pdf["query_id"].to_numpy()
        new_q = np.concatenate(([True], qids[1:] != qids[:-1]))
        g_starts = np.flatnonzero(new_q)
        g_lens = np.diff(np.append(g_starts, n))
        q_of = np.repeat(np.arange(g_starts.size, dtype=np.int64), g_lens)
        # rows by (query, term, salt, block): the query groups stay where
        # they are, and each (query, term) becomes one segment
        order = np.lexsort((
            pdf["block"].to_numpy(), pdf["salt"].to_numpy(),
            pdf["term_id"].to_numpy(), q_of,
        ))
        term = pdf["term_id"].to_numpy(dtype=np.int64)[order]
        ub = pdf["ub"].to_numpy(dtype=np.float64)[order]
        seg = np.flatnonzero(
            new_q | np.concatenate(([True], term[1:] != term[:-1]))
        )
        seg_lens = np.diff(np.append(seg, n))
        g_seg = np.searchsorted(seg, g_starts)
        lb = pdf["lb"].to_numpy(dtype=np.float64)[order]
        # _block_ubs already multiplied the cut weights in (one lb column
        # keeps the exchanged rows narrower than qw + bmax), so each term
        # weighs 1.0 here, which leaves every product bitwise as it is
        one = np.ones(seg.size)

        theta = np.empty(g_starts.size)
        keep = np.empty(n, dtype=bool)
        for g, (s0, s1, r0, r1) in enumerate(zip(
            g_seg.tolist(), np.append(g_seg[1:], seg.size).tolist(),
            g_starts.tolist(), np.append(g_starts[1:], n).tolist(),
        )):
            theta[g] = phase0_theta(one[s0:s1], seg_lens[s0:s1], lb,
                                    slice(r0, r1), k)
            keep[r0:r1] = blocks_kept(ub[r0:r1], hf, theta[g])
        if two_phase:
            best = np.zeros(n, dtype=bool)
            best[_first_max(ub, seg, seg_lens)] = True
            keep |= best

        gaps_col = pdf["gaps"].to_numpy()[order]
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
        starts = np.flatnonzero(np.concatenate(
            ([True], (qs_[1:] != qs_[:-1]) | (ds_[1:] != ds_[:-1]))
        ))
        out = {"query_id": qids[g_starts][qs_[starts]], "doc_id": ds_[starts]}
        if two_phase:
            out["theta0"] = theta[qs_[starts]]
            out["dub"] = np.maximum.reduceat(
                np.repeat(ub[kept_idx], counts)[order2], starts
            )
            out["p1"] = np.logical_or.reduceat(
                np.repeat(best[kept_idx], counts)[order2], starts
            )
        return pd.DataFrame(out)

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
        ubs.select("query_id", "term_id", "salt", "block", "ub", "lb", "gaps")
        .repartition("query_id")
        .sortWithinPartitions("query_id")
    )
    schema = "query_id STRING, doc_id BIGINT"
    if two_phase:
        schema += ", theta0 DOUBLE, dub DOUBLE, p1 BOOLEAN"
    return parted.mapInPandas(gen, schema)


def _phase1_filter(scored: DataFrame, k: int, heap_factor: float) -> DataFrame:
    """Two-phase survivor filter over exactly scored (query, doc) rows that
    carry ``theta0``/``dub``/``p1`` (:func:`_fused_candidates`).

    θ₂ = the k-th best score among the query's ``p1`` rows (when it has at
    least k), θ = max(θ₀, θ₂), and a doc survives iff θ = −∞ or
    ``dub >= heap_factor × θ``.  That is exactly the block skip at θ: since
    θ ≥ θ₀ and hf ≥ 0, every block with ``ub >= hf·θ`` was decoded, so a doc
    lies in such a block iff the largest ub of its decoded blocks passes.
    The windows share :func:`topk`'s partitioning and order, so no exchange
    is added.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    n_p1 = F.sum(F.col("p1").cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    theta2 = F.max(F.when(F.col("p1") & (F.col("_n") == k), F.col("score"))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    neg_inf = F.lit(float("-inf"))
    theta = F.greatest(F.col("theta0"), F.coalesce(theta2, neg_inf))
    return (
        scored.withColumn("_n", n_p1)
        .withColumn("_theta", theta)
        .filter(
            (F.col("_theta") == neg_inf)
            | (F.col("dub") >= F.lit(float(heap_factor)) * F.col("_theta"))
        )
    )


def _decode_docs(block_rows: DataFrame) -> DataFrame:
    """(query_id, gaps) → distinct (query_id, doc_id) — every doc id of the
    gap buffers (index.get_doc_ids_in_postings).

    One vectorized continuation-bit pass decodes ALL gap buffers of an Arrow
    batch (codec.delta_decode_multi) — no per-row Python.
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

# Dict batches push the union of all query term ids into the postings scan
# as an IN predicate (result-neutral pruning).  Above this many ids the
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
_SCAN_PRUNE_MAX_IDS = 2048


def merge_sorted_terms(t, w) -> QVec:
    """THE pinned duplicate-term merge — single source of truth for the
    Spark / serving-replica bitwise-identity contract.

    (term asc, weight asc) lexsort, then one reduceat per duplicate group:
    the summation order is a pure function of the (term, weight) multiset,
    so the merged float is reproducible regardless of input order.  Every
    caller that merges duplicate query terms MUST route through here
    (_merge_dup_qvecs, resolve_queries, _query_keys — hence cut_terms,
    _block_ubs and exact_score — and serving.ServingReplica._resolve) — a
    divergent copy silently breaks the documented bitwise guarantees.
    Terms may be ``row·2^32 + term_id`` keys (:func:`_query_keys`).

    Python sequences with no repeated term are sorted as pairs in Python:
    with distinct terms, (term asc) is the whole pinned order and there is
    nothing to sum, so the arrays are the lexsort's without its round-trip.
    """
    if isinstance(t, (list, tuple)) and t and len(set(t)) == len(t):
        t, w = zip(*sorted(zip(t, w)))
        return np.array(t, dtype=np.int64), np.array(w, dtype=np.float64)
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

    Dict batches are normalized ONCE here, so the Spark path and the serving
    replica both see duplicate-free, term-sorted queries — which is what
    makes their documented bitwise identity hold even for queries that
    repeat a term: any float summation the paths would otherwise do
    independently (Python insertion-order vs Spark aggregation-order)
    happens exactly once, over a pinned element order (term id asc, then
    weight asc within a duplicate group) — the reduceat's association is
    numpy's but the inputs are a pure function of the multiset, so the
    merged float is reproducible.
    """
    return {qid: merge_sorted_terms(t, w) for qid, (t, w) in qvecs.items()}


def resolve_two_phase(
    config, heap_factor: float, two_phase: bool | None
) -> bool:
    """``two_phase``, or when None the default rule that
    ``SeismicSparkIndex.batch_search`` documents: on when summaries are
    estimates (summary_energy < 1, or quant_ceil off) or heap_factor < 1."""
    if two_phase is not None:
        return two_phase
    return (config.summary_energy < 1.0 or not config.quant_ceil
            or heap_factor < 1.0)


def text_query(text: str) -> tuple[list[str], list[float]]:
    """Free text → (tokens, weights): lowercased, split on spaces, each
    distinct token weighted by its count, in first-occurrence order."""
    counts = Counter(t for t in text.lower().split(" ") if t)
    return list(counts), [float(v) for v in counts.values()]


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
) -> DataFrame:
    """Dynamically-pruned batch top-k (Q1/Q9 analogue), single logical plan.

    ``queries`` is a dict {query_id: (term_ids, weights)} (interactive path,
    broadcast) or a DataFrame with QUERIES_SCHEMA (bulk path, e.g. every doc
    as a query for κ-NN).  ``q_terms`` SHOULD be sorted ascending per row
    with distinct ids; unsorted rows are repaired batch-side and duplicate
    ids merged by weight sum (see _query_keys).  Returns (query_id, rank,
    doc_id, score); no driver-side loops or mid-plan actions.

    Both phases and both query shapes run one formulation: block-UB scan →
    :func:`_fused_candidates` → :func:`exact_score` → (two-phase only)
    :func:`_phase1_filter` → :func:`topk`.  Each block-UB row is consumed
    once, so nothing is persisted.  Results are bitwise those of
    ``ServingReplica.batch_search`` (tests/test_serving.py).
    """
    if not isinstance(queries, DataFrame):
        # normalize duplicate term ids ONCE, deterministically — the Spark
        # path and the serving replica then see identical duplicate-free
        # floats (their bitwise identity)
        queries = _merge_dup_qvecs(queries)
    qdf, small = _as_queries_df(spark, queries)
    if broadcast_queries is None:
        broadcast_queries = small
    qdf = qdf.filter(F.size("q_terms") > 0)
    if small:
        # Dict batches know their term union on the driver; an IN predicate
        # on the SUPERSET of all query terms is result-neutral (the cut-terms
        # join restricts further) and reaches the postings scan for
        # row-group / cached-batch / bucket-file pruning.  Above the cap the
        # literal list costs Catalyst more than the pruning saves — skip.
        all_ids = sorted({int(t) for ts, _ in queries.values() for t in ts})
        if all_ids and len(all_ids) <= _SCAN_PRUNE_MAX_IDS:
            postings = postings.filter(F.col("term_id").isin(all_ids))
    cterms = cut_terms(qdf, query_cut)
    qj = F.broadcast(cterms) if broadcast_queries else cterms
    matched = postings.join(qj, "term_id")
    qvec_j = F.broadcast(qdf) if broadcast_queries else qdf
    matched = matched.join(qvec_j, "query_id")
    cands = _fused_candidates(_block_ubs(matched), k, heap_factor, two_phase)
    scored = exact_score(cands, forward, qdf, broadcast_queries=broadcast_queries)
    if two_phase:
        scored = _phase1_filter(scored, k, heap_factor)
    return topk(scored, k)


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
