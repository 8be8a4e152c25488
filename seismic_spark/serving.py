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
from dataclasses import dataclass

import numpy as np
import pandas as pd

from seismic_spark import codec
from seismic_spark import search as srch

__all__ = ["ServingReplica", "TermPostings"]

_log = logging.getLogger(__name__)


@dataclass
class TermPostings:
    """One term's posting blocks, flattened across salts in (salt asc,
    block asc) order — the same total order the engine's windows use."""

    salts: np.ndarray  # int32[nb]
    blocks: np.ndarray  # int32[nb]
    bmax: np.ndarray  # f64[nb]  (stored f32 column, widened exactly)
    s_terms: np.ndarray  # int64[sum s_lens]  summary component ids
    s_vals: np.ndarray  # f64[sum s_lens]    dequantized (f32 math) values
    s_starts: np.ndarray  # int64[nb]
    s_lens: np.ndarray  # int64[nb]
    # member docs as POSITIONS into the replica's sorted doc_ids / forward
    # CSR (asc within block — positions are a monotone bijection of the doc
    # ids, so every order/dedup/tie property of the id formulation is
    # preserved).  Hydration remaps ids→positions once (r6: the query path
    # paid a per-candidate searchsorted over the corpus-sized id array on
    # EVERY score pass — ~0.2 ms/query at 1M docs — now a direct index);
    # int32 also halves this largest replica array.
    m_pos: np.ndarray  # int32[sum m_lens]
    m_starts: np.ndarray  # int64[nb]
    m_lens: np.ndarray  # int64[nb]


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


def _binary_flat(bin_arr) -> tuple[np.ndarray, np.ndarray]:
    """Arrow Binary/LargeBinary array → (concatenated uint8 view, per-value
    byte lengths) with no per-value Python objects and no data copy."""
    import pyarrow as pa

    off_dtype = np.int64 if pa.types.is_large_binary(bin_arr.type) else np.int32
    voffs = np.frombuffer(bin_arr.buffers()[1], dtype=off_dtype)[
        bin_arr.offset : bin_arr.offset + len(bin_arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(bin_arr.buffers()[2], dtype=np.uint8)
    return data[voffs[0] : voffs[-1]], np.diff(voffs)


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
    """

    # Dense query-weight LUT gate: one f64 slot per component id (32 MB at
    # the 4M default).  Larger id spaces fall back to the searchsorted
    # gather — value-identical either way.
    _LUT_MAX_DIM = 1 << 22

    def __init__(
        self,
        vocab: dict[str, int],
        postings: dict[int, TermPostings],
        doc_ids: np.ndarray,
        fwd_starts: np.ndarray,
        fwd_lens: np.ndarray,
        fwd_terms: np.ndarray,
        fwd_weights: np.ndarray,
        config,
    ) -> None:
        self.vocab = vocab
        self.postings = postings
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
        self.config = config
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

    # -------------------------------------------------- pickle support ----
    # A replica is broadcast to executors for the map-only κ-NN path (r6
    # pass 3, knn.build_knn).  Pickling the per-term dict naively copies
    # ~10 small arrays per term (hundreds of thousands of tiny objects);
    # instead the state concatenates each field across terms in sorted-term
    # order (a handful of large arrays — memcpy-speed pickle) and rebuilds
    # the per-term TermPostings as zero-copy SLICES on unpickle.  Every
    # per-term array holds exactly the same values after the round trip
    # (pinned by test_serving_pickle_roundtrip).

    def __getstate__(self) -> dict:
        terms = np.fromiter(self.postings.keys(), dtype=np.int64)
        terms.sort()
        fields: dict[str, list[np.ndarray]] = {
            f: [] for f in (
                "salts", "blocks", "bmax", "s_terms", "s_vals", "s_starts",
                "s_lens", "m_pos", "m_starts", "m_lens",
            )
        }
        nb = np.empty(terms.size, dtype=np.int64)
        ns = np.empty(terms.size, dtype=np.int64)
        nm = np.empty(terms.size, dtype=np.int64)
        for i, t in enumerate(terms):
            tp = self.postings[int(t)]
            nb[i], ns[i], nm[i] = tp.salts.size, tp.s_terms.size, tp.m_pos.size
            for f in fields:
                fields[f].append(getattr(tp, f))
        packed = {
            f: (np.concatenate(v) if v else np.empty(0))
            for f, v in fields.items()
        }
        return {
            "vocab": self.vocab,
            "doc_ids": self.doc_ids,
            "fwd_starts": self.fwd_starts,
            "fwd_lens": self.fwd_lens,
            "fwd_terms": self.fwd_terms,
            "fwd_weights": self.fwd_weights,
            "config": self.config,
            "p_terms": terms,
            "p_nb": nb,
            "p_ns": ns,
            "p_nm": nm,
            "p_fields": packed,
        }

    def __setstate__(self, st: dict) -> None:
        terms, nb, ns, nm = st["p_terms"], st["p_nb"], st["p_ns"], st["p_nm"]
        pf = st["p_fields"]
        b0 = np.cumsum(nb) - nb
        s0 = np.cumsum(ns) - ns
        m0 = np.cumsum(nm) - nm
        postings: dict[int, TermPostings] = {}
        for i, t in enumerate(terms):
            b, s, m = int(b0[i]), int(s0[i]), int(m0[i])
            be, se, me = b + int(nb[i]), s + int(ns[i]), m + int(nm[i])
            postings[int(t)] = TermPostings(
                pf["salts"][b:be], pf["blocks"][b:be], pf["bmax"][b:be],
                pf["s_terms"][s:se], pf["s_vals"][s:se],
                pf["s_starts"][b:be], pf["s_lens"][b:be],
                pf["m_pos"][m:me], pf["m_starts"][b:be], pf["m_lens"][b:be],
            )
        self.__init__(
            st["vocab"], postings, st["doc_ids"], st["fwd_starts"],
            st["fwd_lens"], st["fwd_terms"], st["fwd_weights"], st["config"],
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
        # block of every term, and summaries dequantized in one flat f32
        # pass — identical arithmetic to the executor scan (_block_ubs),
        # so hydration speed never trades against float identity.
        import pyarrow.compute as pc

        p_cols = [
            "term_id", "salt", "blocks", "doc_gaps", "block_max",
            "summary_terms", "summary_codes", "summary_min", "summary_quant",
        ]
        tbl = _read_snapshot(idx, "postings", p_cols)
        # r6 regroup strategy: flatten the table ONCE in storage order and
        # build each term's arrays as SLICES of the flats.  (term_id, salt)
        # rows are unique and a term is one row unless blocks_per_row
        # salting split it (lists of thousands of blocks — rare), so the
        # per-term arrays are zero-copy views in the common case; the salted
        # case concatenates its few rows in (salt asc) order.  This replaces
        # both earlier formulations measured on the 1M hydrate: the r5
        # element-permutation passes (arange+repeat+gather over ~10^8 ids,
        # ~65 s) and a whole-table Arrow sort_by (nested-column take,
        # ~25 s).  Every per-term array holds exactly the same values in the
        # same (salt asc, block asc) order as before.
        term_id = tbl.column("term_id").combine_chunks().to_numpy().astype(np.int64)
        salt = tbl.column("salt").combine_chunks().to_numpy().astype(np.int32)

        blocks_child, nb = _list_flat(tbl.column("blocks"))
        blocks_g = blocks_child.to_numpy().astype(np.int32, copy=False)
        bmax_child, _ = _list_flat(tbl.column("block_max"))
        # stored FloatType column — f32→f64 widening is exact, the same
        # widening the executor scan does
        bmax_g = bmax_child.to_numpy().astype(np.float64)

        gaps_child, _ = _list_flat(tbl.column("doc_gaps"))
        gaps_concat, gaps_lens = _binary_flat(gaps_child)
        m_flat, m_lens = codec.delta_decode_concat(gaps_concat, gaps_lens)
        m_ids_g = m_flat.view(np.int64)  # ids < 2^63 — free reinterpret
        m_lens_g = m_lens.astype(np.int64, copy=False)

        st_outer, _ = _list_flat(tbl.column("summary_terms"))
        s_lens_g = pc.list_value_length(st_outer).to_numpy().astype(np.int64)
        s_terms_g = st_outer.flatten().to_numpy().astype(np.int64)
        codes_child, _ = _list_flat(tbl.column("summary_codes"))
        codes_concat, codes_lens = _binary_flat(codes_child)
        if not np.array_equal(codes_lens, s_lens_g):  # one code byte per element
            raise AssertionError("summary codes misaligned with summary terms")
        mins_flat = _list_flat(tbl.column("summary_min"))[0].to_numpy().astype(
            np.float32, copy=False
        )
        quants_flat = _list_flat(tbl.column("summary_quant"))[0].to_numpy().astype(
            np.float32, copy=False
        )
        # identical f32 dequantization to the scan / the oracle
        s_vals_g = (
            np.repeat(mins_flat, s_lens_g)
            + codes_concat.astype(np.float32) * np.repeat(quants_flat, s_lens_g)
        ).astype(np.float32, copy=False).astype(np.float64)

        # ---- forward: flat values in storage order + sorted row offsets --
        # hydrated BEFORE the postings regroup so member doc ids can be
        # remapped to forward POSITIONS in one vectorized pass (see
        # TermPostings.m_pos).  Only the per-row (start, len) offsets are
        # permuted into doc-id order; the element arrays are left as
        # flattened (no nested-column sort, no element permutation —
        # _score_docs gathers by slice).
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

        # ids → positions, once (the query path previously re-derived these
        # positions with a searchsorted over the corpus-sized id array on
        # every score pass); postings member ids always exist in forward,
        # so the mapping is total
        m_pos_g = np.searchsorted(doc_ids_sorted, m_ids_g).astype(np.int32)

        # ---- per-row block/element ranges in storage order ---------------
        nrows = term_id.size
        row_b0 = np.cumsum(nb) - nb  # first block index of each row
        s_cum = np.concatenate(([0], np.cumsum(s_lens_g)))
        m_cum = np.concatenate(([0], np.cumsum(m_lens_g)))
        s_row0 = s_cum[row_b0]  # first summary element of each row
        m_row0 = m_cum[row_b0]
        s_starts_all = s_cum[:-1] - np.repeat(s_row0, nb)  # per-block, row-rel
        m_starts_all = m_cum[:-1] - np.repeat(m_row0, nb)
        row_b1 = row_b0 + nb
        s_row1 = s_cum[row_b1]
        m_row1 = m_cum[row_b1]

        order = np.lexsort((salt, term_id))  # row-level only (nrows entries)
        t_sorted = term_id[order]
        grp = np.flatnonzero(
            np.concatenate(([True], t_sorted[1:] != t_sorted[:-1]))
        )
        grp_bounds = np.concatenate((grp, [nrows]))

        def _row_views(r: int):
            b0, b1 = int(row_b0[r]), int(row_b1[r])
            return (
                np.full(b1 - b0, salt[r], dtype=np.int32),
                blocks_g[b0:b1], bmax_g[b0:b1],
                s_terms_g[s_row0[r]:s_row1[r]], s_vals_g[s_row0[r]:s_row1[r]],
                s_starts_all[b0:b1], s_lens_g[b0:b1],
                m_pos_g[m_row0[r]:m_row1[r]],
                m_starts_all[b0:b1], m_lens_g[b0:b1],
            )

        postings: dict[int, TermPostings] = {}
        for gi in range(grp.size):
            a, b = int(grp_bounds[gi]), int(grp_bounds[gi + 1])
            rows = order[a:b]
            if rows.size == 1:
                parts = _row_views(int(rows[0]))
            else:
                # salted term: concatenate its rows in (salt asc) order;
                # block-relative starts re-offset by the preceding rows'
                # element counts so the concatenated CSR stays consistent
                per_row = [_row_views(int(r)) for r in rows]
                s_off = np.cumsum(
                    [0] + [p[3].size for p in per_row[:-1]]
                )
                m_off = np.cumsum(
                    [0] + [p[7].size for p in per_row[:-1]]
                )
                parts = (
                    np.concatenate([p[0] for p in per_row]),
                    np.concatenate([p[1] for p in per_row]),
                    np.concatenate([p[2] for p in per_row]),
                    np.concatenate([p[3] for p in per_row]),
                    np.concatenate([p[4] for p in per_row]),
                    np.concatenate(
                        [p[5] + o for p, o in zip(per_row, s_off)]
                    ),
                    np.concatenate([p[6] for p in per_row]),
                    np.concatenate([p[7] for p in per_row]),
                    np.concatenate(
                        [p[8] + o for p, o in zip(per_row, m_off)]
                    ),
                    np.concatenate([p[9] for p in per_row]),
                )
            postings[int(t_sorted[a])] = TermPostings(*parts)

        return cls(
            vocab, postings, doc_ids_sorted, starts_raw[forder],
            flens[forder], fwd_terms, fwd_weights, idx.config,
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
        POSITIONS (see TermPostings.m_pos) — a direct index, no per-call
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
        # cut_terms: top-query_cut by (weight desc, term_id asc)
        cut_order = np.lexsort((qt, -qw))[:query_cut]
        matched = [
            (int(qt[i]), float(qw[i]), self.postings[int(qt[i])])
            for i in cut_order
            if int(qt[i]) in self.postings
        ]
        if not matched:
            return None
        if self._qw_lut is not None:
            # scatter this query's weights (zeroed again at every exit)
            self._qw_lut[qt] = qw

        # per-block summary UBs + block-max lbs — ONE concatenated
        # gather + segment-sums call across every matched term (r6,
        # VERDICT #4: the per-term loop was Python-call-bound at ~10
        # terms/query).  Per-block segments are unchanged by the
        # concatenation and segment_sums is a pure function of each
        # segment, so every ub float is bitwise identical to the
        # per-term formulation.
        theta = -np.inf
        if len(matched) == 1:
            tp0 = matched[0][2]
            st_cat, sv_cat = tp0.s_terms, tp0.s_vals
            starts_cat, lens_cat = tp0.s_starts, tp0.s_lens
        else:
            st_cat = np.concatenate([tp.s_terms for _, _, tp in matched])
            sv_cat = np.concatenate([tp.s_vals for _, _, tp in matched])
            lens_cat = np.concatenate([tp.s_lens for _, _, tp in matched])
            starts_cat = np.cumsum(lens_cat) - lens_cat
        if self._qw_lut is not None:
            qw_st = self._qw_lut[st_cat]
        else:
            qw_st = _gather_qw(qt, qw, st_cat)
        ub_cat = codec.segment_sums(
            qw_st * sv_cat, starts_cat, lens_cat
        )
        ubs_per_term: list[np.ndarray] = []
        off = 0
        for _tid, qw_t, tp in matched:
            nb = tp.bmax.size
            ubs_per_term.append(ub_cat[off:off + nb])
            off += nb
            lb = qw_t * tp.bmax
            if lb.size >= k:
                kth = float(np.partition(lb, lb.size - k)[lb.size - k])
                if kth > theta:
                    theta = kth

        if two_phase:
            # phase 1: best-UB block per matched list (first argmax =
            # lowest (salt, block), matching the engine's tie order),
            # exact-score the union, k-th best tightens θ
            p1_parts = []
            for (_tid, _qw_t, tp), ub in zip(matched, ubs_per_term):
                if ub.size == 0:
                    continue
                bi = int(np.argmax(ub))
                s, n = tp.m_starts[bi], tp.m_lens[bi]
                p1_parts.append(tp.m_pos[s:s + n])
            if p1_parts:
                p1_docs = np.unique(np.concatenate(p1_parts))
                scores = self._score_docs(qt, qw, p1_docs)
                if scores.size >= k:
                    kth = float(
                        np.partition(scores, scores.size - k)[scores.size - k]
                    )
                    if kth > theta:
                        theta = kth

        cand_parts = []
        for (_tid, _qw_t, tp), ub in zip(matched, ubs_per_term):
            keep = (
                ub >= heap_factor * theta
                if theta != -np.inf
                else np.ones(ub.size, dtype=bool)
            )
            if not keep.any():
                continue
            flat = _flat_slices(tp.m_starts[keep], tp.m_lens[keep])
            cand_parts.append(tp.m_pos[flat])
        if not cand_parts:
            if self._qw_lut is not None:
                self._qw_lut[qt] = 0.0
            return None
        # positions are a monotone bijection of the doc ids, so the
        # unique/dedup set and the (score desc, doc asc) tie order are
        # exactly the id formulation's; only the k winners map back
        cands = np.unique(np.concatenate(cand_parts))
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
