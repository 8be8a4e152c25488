"""RAM-resident serving replica of a Spark-built index (interactive tier).

The reference engine serves every query from an index held entirely in one
process's memory (inverted_index.rs:38 — the `InvertedIndex` struct IS the
serving state; pylib/mod.rs:59-291 exposes it as an in-process object).  The
distributed engine matches its *throughput* at index-scale batches (327 QPS
at batch 10 000, BENCH/BASELINE.md), but an interactive batch pays a
measured ~4 s Spark floor — two real scan jobs that no plan surgery removes
(the round-4/5 serving experiments: deferred gaps, compact snapshots,
InMemoryRelation caching, forward-side pruning — all measured, all rejected).

This module closes that gap the way the reference itself does: hydrate the
STORED index into driver (or any single process') memory once, then serve
interactive batches with pure numpy — **bit-identical results** to
`batch_search` on the same index, at per-query latencies the Spark scheduler
cannot reach.  The float parity is not best-effort: every upper bound and
every exact score is a `codec.segment_sums` (np.add.reduceat) over the same
f64 contribution arrays the executors build (search.py `_block_ubs` /
`exact_score`), θ is selected by comparisons over the same values the
driver-θ fast path collects, and the skip predicate `ub >= heap_factor·θ`
is the same IEEE f64 comparison — so the survivor set, candidate set, and
every score agree bitwise (pinned by tests/test_serving.py at exact AND
approximate configs, including post-save/load hydration).

The replica holds the index as a fixed set of flat numpy arrays, the
reference's own array-resident layout: term → postings-row → block ranges
over element arrays left in snapshot order (the layout is documented on
`ServingReplica`).  No per-term Python object exists, so hydration has no
loop over terms and default pickling ships the arrays as they are.

Deployment shape at scale (the 100 TB story): one replica per serving host,
hydrated from the shared index tables on storage — the same snapshot the
cluster built; Spark remains the build/refresh tier and the bulk-query tier
(κ-NN graphs, index-scale batches), while interactive traffic goes to
replicas.  A corpus too large for one host is doc-sharded at BUILD time
(build one index per doc shard; top-k over doc-disjoint shards merges
exactly by (score desc, doc_id asc) — the standard search-tier layout), so
the replica's memory bound composes horizontally.  `from_index` enforces an
explicit byte budget against the index's own space accounting (Q12) so a
hydration that would not fit fails loudly instead of paging.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd

from seismic_spark import codec
from seismic_spark import search as srch

__all__ = ["ServingReplica"]

_log = logging.getLogger(__name__)


def _gather_qw(qt: np.ndarray, qw: np.ndarray, terms: np.ndarray) -> np.ndarray:
    """Per-element query weight, 0.0 at misses — single-query twin of
    search._gather_qw (same searchsorted/clip/where construction)."""
    if terms.size == 0:
        return np.empty(0, dtype=np.float64)
    idx = np.searchsorted(qt, terms)
    idx_c = np.minimum(idx, max(qt.size - 1, 0))
    hit = (qt[idx_c] == terms) if qt.size else np.zeros(terms.size, dtype=bool)
    return np.where(hit, qw[idx_c] if qw.size else 0.0, 0.0)


def _flat_slices(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Indices selecting CSR slices [starts_i, starts_i+lens_i) flattened."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    offsets = np.cumsum(lens) - lens
    return np.arange(total, dtype=np.int64) + np.repeat(starts - offsets, lens)


def _list_flat(col) -> tuple:
    """Arrow list column → (flat child Array, lens int64[n]).  `flatten()`
    adjusts for any slice offset, `list_value_length` gives per-row lengths
    without touching Python objects."""
    import pyarrow.compute as pc

    arr = col.combine_chunks()
    lens = pc.list_value_length(arr).to_numpy().astype(np.int64)
    return arr.flatten(), lens


def _read_snapshot(idx, table: str, columns: list[str]):
    """``columns`` of index table ``table`` as one Arrow table.

    Reads the UNTRANSFORMED parquet snapshot directly with multithreaded
    Arrow when the index has one (``idx.storage_paths``, set by
    load()/CheckpointedBuild), bypassing the single-threaded Spark driver
    collect (r6, VERDICT #5) and launching no Spark job.  Without a
    snapshot, or when the direct read fails (logged), collects the
    DataFrame with ``toArrow()``.  Value-safe by construction: these are
    the very files the DataFrame scans, and the hydration groups rows by
    sorted term / (term_id, salt) / doc_id keys itself, so file/row order
    cannot matter."""
    path = (getattr(idx, "storage_paths", None) or {}).get(table)
    if path:
        try:
            import pyarrow.dataset as pads

            return pads.dataset(
                path, format="parquet", partitioning="hive"
            ).to_table(columns=columns)
        except Exception as exc:
            _log.warning(
                "direct read of the %s snapshot at %s failed (%r); hydrating "
                "it through Spark instead", table, path, exc, exc_info=True,
            )
    return getattr(idx, table).select(*columns).toArrow()


def check_budget(idx, max_bytes: int) -> None:
    """Raise ``MemoryError`` when the index's own space accounting (Q12,
    `space_usage()`) exceeds ``max_bytes`` — hydration is an explicit
    capacity decision, exactly like deploying the reference's RAM-resident
    index to a host."""
    total = idx.space_usage()["total"]
    if total > max_bytes:
        raise MemoryError(
            f"index reports {total} bytes (space_usage), over the replica "
            f"budget max_bytes={max_bytes}; shard the corpus at build time "
            "or raise the budget"
        )


class ServingReplica:
    """In-memory twin of a `SeismicSparkIndex` for interactive serving.

    Construct via :meth:`from_index` (or `SeismicSparkIndex.serving_replica`).
    `batch_search` takes the same `(query_id, tokens, weights)` triples the
    index's `batch_search` takes and returns a pandas DataFrame with the
    same columns `(query_id, rank, doc_id, score)` and bit-identical values.

    The postings are a fixed set of flat arrays, whatever the vocabulary —
    the reference's layout: `posting_lists` is an array indexed by term id
    (inverted_index.rs:38-52), and each list finds its blocks through a
    `block_offsets` array (posting_list.rs:26-73).  Postings rows are taken
    in (term_id, salt) order, so a salted term's rows are consecutive:

    - ``terms`` int64[T] — the term ids that have postings, ascending;
      term ``i``'s rows are ``term_rows[i]:term_rows[i+1]``.
    - ``row_blocks`` int64[R+1] — row ``r``'s blocks are
      ``row_blocks[r]:row_blocks[r+1]`` of the per-block arrays, so each
      term's blocks are ONE segment in (salt asc, block asc) order, the
      engine's window order.  ``row_s_start``/``row_s_stop`` int64[R] — row
      ``r``'s summary elements in ``s_terms``/``s_vals``.
    - per block: ``bmax`` f64 (the stored f32, widened exactly),
      ``s_lens``, ``m_starts`` (absolute, into ``m_pos``) and ``m_lens``.
    - per element, in snapshot order (hydration never permutes them):
      ``s_terms`` int64 summary component ids, ``s_vals`` f64 dequantized
      (f32 math) summary values, and ``m_pos`` int32 member docs as
      POSITIONS into the sorted ``doc_ids`` / forward CSR.  Positions are a
      monotone bijection of the doc ids, so every order/dedup/tie property
      of the id formulation holds, and the query path indexes the forward
      CSR directly instead of a per-candidate searchsorted over the corpus
      id array (~0.2 ms/query at 1M docs).

    Default pickling ships these arrays as they are (the κ-NN broadcast,
    knn._replica_self_search).
    """

    # Dense query-weight LUT gate: one f64 slot per component id (32 MB at
    # the 4M default).  Larger id spaces fall back to the searchsorted
    # gather — value-identical either way.
    _LUT_MAX_DIM = 1 << 22

    def __init__(
        self,
        vocab: dict[str, int],
        config,
        *,
        terms: np.ndarray,
        term_rows: np.ndarray,
        row_blocks: np.ndarray,
        row_s_start: np.ndarray,
        row_s_stop: np.ndarray,
        bmax: np.ndarray,
        s_lens: np.ndarray,
        m_starts: np.ndarray,
        m_lens: np.ndarray,
        s_terms: np.ndarray,
        s_vals: np.ndarray,
        m_pos: np.ndarray,
        doc_ids: np.ndarray,
        fwd_starts: np.ndarray,
        fwd_lens: np.ndarray,
        fwd_terms: np.ndarray,
        fwd_weights: np.ndarray,
    ) -> None:
        self.vocab = vocab
        self.config = config
        self.terms = terms
        self.term_rows = term_rows
        self.row_blocks = row_blocks
        self.row_s_start = row_s_start
        self.row_s_stop = row_s_stop
        self.bmax = bmax
        self.s_lens = s_lens
        self.m_starts = m_starts
        self.m_lens = m_lens
        self.s_terms = s_terms
        self.s_vals = s_vals
        self.m_pos = m_pos
        self.doc_ids = doc_ids  # sorted asc int64
        # forward CSR: per doc (start, len) into fwd_terms/fwd_weights,
        # aligned with doc_ids' sorted order; the FLAT arrays stay in
        # storage order (r6 — sorting a million nested rows in Arrow cost
        # more than this indirection, and _score_docs gathers by explicit
        # slices anyway, so only the per-row offsets need the sort)
        self.fwd_starts = fwd_starts
        self.fwd_lens = fwd_lens
        self.fwd_terms = fwd_terms
        self.fwd_weights = fwd_weights
        # per-query dense weight table (r6, VERDICT #4): batch_search
        # scatters the CURRENT query's ~10 weights into it before the UB /
        # rescore gathers and zeroes them after, so every per-element
        # query-weight lookup is ONE fancy-index gather instead of a
        # 4-pass searchsorted/clip/eq/where — the same value (stored
        # weight at hits, 0.0 at misses), so floats are unchanged.  All
        # gathered id spaces (summary terms, forward terms ⊆ corpus
        # components; query ids ⊆ vocab ids) are covered by dim.
        dim = int(fwd_terms.max()) + 1 if fwd_terms.size else 0
        if vocab:
            dim = max(dim, max(vocab.values()) + 1)
        self._qw_lut = (
            np.zeros(dim, dtype=np.float64)
            if 0 < dim <= self._LUT_MAX_DIM
            else None
        )

    # ------------------------------------------------------- hydration ----

    @classmethod
    def from_index(cls, idx, max_bytes: int = 4 << 30) -> "ServingReplica":
        """Hydrate from a built or loaded `SeismicSparkIndex`.

        Three bounded reads (vocab, postings, forward) via Arrow, straight
        from the snapshot files when the index has them (a loaded index
        hydrates without a Spark job); gaps are varint-decoded and summaries
        dequantized ONCE here, so the query path touches only ready numpy
        arrays.  Raises ``MemoryError`` over ``max_bytes`` (`check_budget`).
        """
        check_budget(idx, max_bytes)
        vtbl = _read_snapshot(idx, "vocab", ["term", "term_id"])
        vocab = dict(
            zip(vtbl.column("term").to_pylist(),
                vtbl.column("term_id").to_pylist())
        )

        # ---- postings: one Arrow transfer, everything flat ---------------
        # The whole table lands as Arrow columns (values + offsets); gaps
        # are varint-decoded in ONE delta_decode_concat pass over every
        # block of every row, and summaries dequantized in one flat f32
        # pass — identical arithmetic to the executor scan (_block_ubs),
        # so hydration speed never trades against float identity.
        import pyarrow.compute as pc

        p_cols = [
            "term_id", "salt", "doc_gaps", "block_max",
            "summary_terms", "summary_codes", "summary_min", "summary_quant",
        ]
        tbl = _read_snapshot(idx, "postings", p_cols)
        term_id = tbl.column("term_id").combine_chunks().to_numpy().astype(np.int64)
        salt = tbl.column("salt").combine_chunks().to_numpy().astype(np.int64)

        bmax_child, nb = _list_flat(tbl.column("block_max"))
        # stored FloatType column — f32→f64 widening is exact, the same
        # widening the executor scan does
        bmax_g = bmax_child.to_numpy().astype(np.float64)

        gaps_child, _ = _list_flat(tbl.column("doc_gaps"))
        m_ids, m_lens_g = codec.delta_decode_concat(
            *codec.binary_flat(gaps_child)
        )
        m_lens_g = m_lens_g.astype(np.int64, copy=False)

        st_outer, _ = _list_flat(tbl.column("summary_terms"))
        s_lens_g = pc.list_value_length(st_outer).to_numpy().astype(np.int64)
        s_terms = st_outer.flatten().to_numpy().astype(np.int64)
        codes_child, _ = _list_flat(tbl.column("summary_codes"))
        codes_concat, codes_lens = codec.binary_flat(codes_child)
        if not np.array_equal(codes_lens, s_lens_g):  # one code byte per element
            raise AssertionError("summary codes misaligned with summary terms")
        mins_flat = _list_flat(tbl.column("summary_min"))[0].to_numpy().astype(
            np.float32, copy=False
        )
        quants_flat = _list_flat(tbl.column("summary_quant"))[0].to_numpy().astype(
            np.float32, copy=False
        )
        # identical f32 dequantization to the scan / the oracle
        s_vals = (
            np.repeat(mins_flat, s_lens_g)
            + codes_concat.astype(np.float32) * np.repeat(quants_flat, s_lens_g)
        ).astype(np.float32, copy=False).astype(np.float64)

        # ---- forward: flat values in storage order + sorted row offsets --
        # hydrated before the member ids are mapped to forward POSITIONS.
        # Only the per-row (start, len) offsets are permuted into doc-id
        # order; the element arrays are left as flattened (no nested-column
        # sort, no element permutation — _score_docs gathers by slice).
        ftbl = _read_snapshot(idx, "forward", ["doc_id", "terms", "weights"])
        doc_ids_raw = (
            ftbl.column("doc_id").combine_chunks().to_numpy().astype(np.int64)
        )
        ft_child, flens = _list_flat(ftbl.column("terms"))
        fw_child, _ = _list_flat(ftbl.column("weights"))
        fwd_terms = ft_child.to_numpy().astype(np.int64)
        fwd_weights = fw_child.to_numpy().astype(np.float64)
        forder = np.argsort(doc_ids_raw, kind="stable")
        starts_raw = np.cumsum(flens) - flens
        doc_ids_sorted = doc_ids_raw[forder]
        # ids → positions, once; postings member ids always exist in
        # forward, so the mapping is total (ids < 2^63: free reinterpret)
        m_pos = np.searchsorted(doc_ids_sorted, m_ids.view(np.int64)).astype(
            np.int32
        )

        # ---- row- and block-level index arrays ---------------------------
        # Only these are sorted: permuting the element arrays cost 25-65 s
        # on the 1M-doc hydrate (r5/r6), so summaries and members stay in
        # snapshot order and each row keeps its element ranges there.
        order = np.lexsort((salt, term_id))  # rows by (term_id, salt)
        t_sorted = term_id[order]
        first = np.flatnonzero(np.diff(t_sorted, prepend=t_sorted[:1] - 1))
        nb_sorted = nb[order]
        row_b0 = np.cumsum(nb) - nb  # each row's first block, storage order
        bperm = _flat_slices(row_b0[order], nb_sorted)  # blocks, sorted rows
        s_cum = np.concatenate(([0], np.cumsum(s_lens_g)))
        m_cum = np.concatenate(([0], np.cumsum(m_lens_g)))
        return cls(
            vocab, idx.config,
            terms=t_sorted[first],
            term_rows=np.append(first, t_sorted.size),
            row_blocks=np.concatenate(([0], np.cumsum(nb_sorted))),
            row_s_start=s_cum[row_b0][order],
            row_s_stop=s_cum[row_b0 + nb][order],
            bmax=bmax_g[bperm],
            s_lens=s_lens_g[bperm],
            m_starts=m_cum[:-1][bperm],
            m_lens=m_lens_g[bperm],
            s_terms=s_terms,
            s_vals=s_vals,
            m_pos=m_pos,
            doc_ids=doc_ids_sorted,
            fwd_starts=starts_raw[forder],
            fwd_lens=flens[forder],
            fwd_terms=fwd_terms,
            fwd_weights=fwd_weights,
        )

    # ------------------------------------------------------ query path ----

    def _resolve(self, terms: list[str], weights: list[float]):
        """Token→id resolution with the engine's semantics: unknown tokens
        silently dropped (P3), duplicates merged by weight sum over a pinned
        (term asc, weight asc) element order (search.merge_sorted_terms), ids
        sorted ascending."""
        pairs = [
            (self.vocab[t], float(w))
            for t, w in zip(terms, weights)
            if t in self.vocab
        ]
        if not pairs:
            return None
        # single source of truth for the pinned merge — see
        # search.merge_sorted_terms' bitwise-identity contract
        return srch.merge_sorted_terms(
            [p[0] for p in pairs], [p[1] for p in pairs]
        )

    def _score_docs(
        self, qt: np.ndarray, qw: np.ndarray, pos: np.ndarray
    ) -> np.ndarray:
        """Exact dot of the FULL query vector vs each doc's forward row —
        the per-row math of search.exact_score (gather + segment_sums), so
        each doc's float is bitwise the executor's.  ``pos`` is forward
        POSITIONS (see ``m_pos``) — a direct index, no per-call
        searchsorted over the corpus id array.  When the weight LUT is
        active, batch_search has already scattered THIS query's weights
        into it (same value as the searchsorted gather)."""
        starts = self.fwd_starts[pos]
        lens = self.fwd_lens[pos]
        flat = _flat_slices(starts, lens)
        if self._qw_lut is not None:
            qw_elem = self._qw_lut[self.fwd_terms[flat]]
        else:
            qw_elem = _gather_qw(qt, qw, self.fwd_terms[flat])
        contrib = qw_elem * self.fwd_weights[flat]
        offsets = np.cumsum(lens) - lens
        return codec.segment_sums(contrib, offsets, lens)

    def _search_resolved(
        self,
        qt: np.ndarray,
        qw: np.ndarray,
        k: int,
        query_cut: int,
        heap_factor: float,
        two_phase: bool,
    ) -> tuple[np.ndarray, np.ndarray] | None:
        """One resolved query (term ids asc, merged weights) → (top-k
        forward POSITIONS, scores) or None when nothing matches — the exact
        per-query body `batch_search` always ran (pure refactor, r6 pass 3,
        so the executor-side κ-NN map can reuse it on already-resolved
        rows); `self.doc_ids[pos]` maps positions back to doc ids."""
        if self.terms.size == 0:
            return None
        # cut_terms: top-query_cut by (weight desc, term_id asc), then the
        # cut terms that have postings (ti: their index into self.terms)
        cut = np.lexsort((qt, -qw))[:query_cut]
        ct, cw = qt[cut], qw[cut]
        ti = np.minimum(np.searchsorted(self.terms, ct), self.terms.size - 1)
        hit = self.terms[ti] == ct
        if not hit.any():
            return None
        ti, cw = ti[hit], cw[hit]
        if self._qw_lut is not None:
            # scatter this query's weights (zeroed again at every exit)
            self._qw_lut[qt] = qw

        # every matched term's blocks (one segment each) and rows
        rows0, rows1 = self.term_rows[ti], self.term_rows[ti + 1]
        b0 = self.row_blocks[rows0]
        nbt = self.row_blocks[rows1] - b0
        blk = _flat_slices(b0, nbt)
        rows = _flat_slices(rows0, rows1 - rows0)
        # (offset in `blk`, block count) of each matched term's segment
        segs = list(zip((np.cumsum(nbt) - nbt).tolist(), nbt.tolist()))

        # per-block summary UBs: the summary elements are gathered by
        # concatenating each row's slice (a fancy-index gather over them
        # measured 0.34 ms/query), then ONE gather + segment-sums call over
        # every matched block.  segment_sums is a pure function of each
        # segment, so every ub float is bitwise the per-term formulation's.
        spans = list(zip(self.row_s_start[rows].tolist(),
                         self.row_s_stop[rows].tolist()))
        st_cat = np.concatenate([self.s_terms[a:b] for a, b in spans])
        sv_cat = np.concatenate([self.s_vals[a:b] for a, b in spans])
        lens_cat = self.s_lens[blk]
        if self._qw_lut is not None:
            qw_st = self._qw_lut[st_cat]
        else:
            qw_st = _gather_qw(qt, qw, st_cat)
        ub = codec.segment_sums(
            qw_st * sv_cat, np.cumsum(lens_cat) - lens_cat, lens_cat
        )

        # phase 0: per term, the k-th largest block-max lower bound
        theta = -np.inf
        lb = np.repeat(cw, nbt) * self.bmax[blk]
        for o, n in segs:
            if n >= k:
                kth = float(np.partition(lb[o:o + n], n - k)[n - k])
                if kth > theta:
                    theta = kth

        if two_phase:
            # phase 1: best-UB block per matched term (first argmax =
            # lowest (salt, block), matching the engine's tie order),
            # exact-score the union, k-th best tightens θ
            p1_parts = []
            for o, n in segs:
                if n == 0:
                    continue
                bi = blk[o + int(np.argmax(ub[o:o + n]))]
                s = self.m_starts[bi]
                p1_parts.append(self.m_pos[s:s + self.m_lens[bi]])
            if p1_parts:
                p1_docs = np.unique(np.concatenate(p1_parts))
                scores = self._score_docs(qt, qw, p1_docs)
                if scores.size >= k:
                    kth = float(
                        np.partition(scores, scores.size - k)[scores.size - k]
                    )
                    if kth > theta:
                        theta = kth

        keep = (
            ub >= heap_factor * theta
            if theta != -np.inf
            else np.ones(ub.size, dtype=bool)
        )
        if not keep.any():
            if self._qw_lut is not None:
                self._qw_lut[qt] = 0.0
            return None
        # positions are a monotone bijection of the doc ids, so the
        # unique/dedup set and the (score desc, doc asc) tie order are
        # exactly the id formulation's; only the k winners map back
        kept = blk[keep]
        cands = np.unique(
            self.m_pos[_flat_slices(self.m_starts[kept], self.m_lens[kept])]
        )
        scores = self._score_docs(qt, qw, cands)
        top = np.lexsort((cands, -scores))[:k]
        if self._qw_lut is not None:
            self._qw_lut[qt] = 0.0
        return cands[top], scores[top]

    def batch_search(
        self,
        queries: list[tuple[str, list[str], list[float]]],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
    ) -> pd.DataFrame:
        """(query_id, rank, doc_id, score) — bit-identical to the Spark
        formulations of `search.batch_search` on the hydrated index (same θ
        derivation as search._driver_theta_search, same skip predicate,
        same rescore floats, same (score desc, doc_id asc) tie order).
        Size-gated `SeismicSparkIndex.batch_search` answers through here."""
        if two_phase is None:
            # same default rule as SeismicSparkIndex.batch_search
            two_phase = (
                self.config.summary_energy < 1.0
                or not self.config.quant_ceil
                or heap_factor < 1.0
            )
        hits = []
        for qid, qt, qw in self._resolved_queries(queries):
            hit = self._search_resolved(qt, qw, k, query_cut, heap_factor,
                                        two_phase)
            if hit is not None:
                hits.append((qid, *hit))
        return self._results_frame(hits)

    def bruteforce(
        self, queries: list[tuple[str, list[str], list[float]]], k: int = 10
    ) -> pd.DataFrame:
        """Exact full-scan top-k (Q10) — bit-identical to
        `search.bruteforce_search` on the hydrated index: every doc is
        scored by `_score_docs` (the per-row math of `exact_score`),
        ``score > 0`` is kept and the top k taken by (score desc, doc_id
        asc).  Temporaries are per query (one corpus-nnz pass each)."""
        all_pos = np.arange(self.doc_ids.size, dtype=np.int64)
        hits = []
        for qid, qt, qw in self._resolved_queries(queries):
            if self._qw_lut is not None:
                self._qw_lut[qt] = qw
            try:
                scores = self._score_docs(qt, qw, all_pos)
            finally:
                if self._qw_lut is not None:
                    self._qw_lut[qt] = 0.0
            pos = np.flatnonzero(scores > 0.0)
            if pos.size:
                top = pos[np.lexsort((pos, -scores[pos]))[:k]]
                hits.append((qid, top, scores[top]))
        return self._results_frame(hits)

    def _resolved_queries(self, queries):
        """(query_id, term ids, weights) per query with a known token.  The
        engine keys resolution on query_id (search.resolve_queries `by_q`),
        so a batch repeating a qid is ONE merged query there — repeated-qid
        tuples are concatenated before resolving to match."""
        merged: dict[str, tuple[list[str], list[float]]] = {}
        for qid, terms, weights in queries:
            acc = merged.setdefault(qid, ([], []))
            acc[0].extend(terms)
            acc[1].extend(weights)
        for qid, (terms, weights) in merged.items():
            resolved = self._resolve(terms, weights)
            if resolved is not None:
                yield (qid, *resolved)

    def _results_frame(self, hits: list) -> pd.DataFrame:
        """(query_id, top-k positions, scores) per query → the engine's
        (query_id, rank, doc_id, score) frame."""
        if not hits:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype=str),
                    "rank": pd.Series([], dtype=np.int32),
                    "doc_id": pd.Series([], dtype=np.int64),
                    "score": pd.Series([], dtype=np.float64),
                }
            )
        return pd.DataFrame(
            {
                "query_id": [q for q, pos, _ in hits for _ in range(pos.size)],
                "rank": np.concatenate(
                    [np.arange(1, pos.size + 1, dtype=np.int32)
                     for _, pos, _ in hits]
                ),
                "doc_id": self.doc_ids[
                    np.concatenate([pos for _, pos, _ in hits])
                ],
                "score": np.concatenate([sc for _, _, sc in hits]),
            }
        )

    def search(
        self,
        query_id: str,
        terms: list[str],
        weights: list[float],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
    ) -> pd.DataFrame:
        return self.batch_search(
            [(query_id, terms, weights)], k, query_cut, heap_factor, two_phase
        )

    def search_text(
        self,
        query_id: str,
        text: str,
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
    ) -> pd.DataFrame:
        """Free-text query, same query-side weighting as the index's
        search_text (token counts; resolution drops unknowns)."""
        toks = [t for t in text.lower().split(" ") if t]
        from collections import Counter

        c = Counter(toks)
        return self.batch_search(
            [(query_id, list(c), [float(v) for v in c.values()])],
            k, query_cut, heap_factor, two_phase,
        )
