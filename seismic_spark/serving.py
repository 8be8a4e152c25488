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
`exact_score`), and the pruning rules — θ₀, the skip, the best block — are
search.py's own functions, which the Spark operator calls too.  So the
survivor set, candidate set, and every score agree bitwise (pinned by
tests/test_serving.py at exact AND approximate configs, including
post-save/load hydration).

The replica holds the index as a fixed set of flat numpy arrays, the
reference's own array-resident layout: term → postings-row → block ranges
over element arrays left in snapshot order (the layout is documented on
`ServingReplica`).  No per-term Python object exists, so hydration has no
loop over terms and pickling ships the arrays as they are.

Block upper bounds come from the query's own summary entries when the
matched lists are long, as the reference scores summaries component by
component (`QuantizedSummary::distances`, quantized_summary.rs:64-160).
On first use the replica inverts the summaries into a component index
keyed by (postings row, component), and a query probes it only with
(matched row, query term) pairs.  A block whose summary holds m ≤ 2 query
components gets exactly the float the dense `segment_sums` gives: every
skipped product is ±0, and adding ±0 is exact, so the sum is ±0, a or a + b
in any association (and −0.0 == 0.0 in every comparison a bound feeds).
Blocks with m ≥ 3, and queries whose rows hold few elements per probe,
take the dense scan (`ServingReplica._summary_ubs`).

Around that arithmetic, a one-query `search` pays a fixed cost: resolving
its tokens and building its pandas frame, which was about a third of a
short query's time.  A query with no repeated term is sorted as (id,
weight) pairs in Python (`search.merge_sorted_terms`), with no numpy
round-trip.  A query with at most `query_cut` terms skips the cut sort, as
no float depends on the cut terms' order.  The phase-1 docs and the
candidates are deduplicated by sorting the fresh gathers in place.  The
result frame is assembled from its four column blocks, as pyarrow's
`to_pandas` does, instead of by the `pd.DataFrame` constructor
(`ServingReplica._results_frame`).

Deployment shape at scale (the 100 TB story): one replica per serving host,
hydrated from the shared index tables on storage — the same snapshot the
cluster built; Spark remains the build/refresh tier and the bulk-query tier
(κ-NN graphs, index-scale batches), while interactive traffic goes to
replicas.  A corpus too large for one host is doc-sharded at BUILD time
(build one index per doc shard; top-k over doc-disjoint shards merges
exactly by (score desc, doc_id asc) — the standard search-tier layout), so
the replica's memory bound composes horizontally.  `from_index` enforces an
explicit byte budget on the replica's own size, predicted from the index's
space accounting (Q12, `ServingReplica.predicted_nbytes`), so a hydration
that would not fit fails loudly instead of paging.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pandas.core.internals import BlockManager, make_block

from seismic_spark import codec
from seismic_spark import search as srch
from seismic_spark.search import (
    _first_max, _gather_qw, blocks_kept, phase0_theta,
)

__all__ = ["ServingReplica"]

_log = logging.getLogger(__name__)

# ServingReplica's component index before `_hit_index` builds it
_NO_HIT_INDEX = {
    "_hit_keys": np.empty(0, dtype=np.int64),
    "_hit_blocks": np.empty(0, dtype=np.int32),
    "_hit_vals": np.empty(0, dtype=np.float32),
    "_block_s_start": np.empty(0, dtype=np.int64),
}
# summary elements `_hit_index` sorts per step (whole rows, so a row
# longer than this is one step): its temporaries stay a few MB, whatever
# the size of the index it builds
_HIT_INDEX_STEP = 1 << 18
# the result frame's columns; `_results_frame` gives each frame a view, so
# no two frames share one Index object (its name is mutable)
_FRAME_COLUMNS = pd.Index(["query_id", "rank", "doc_id", "score"])


def _flat_slices(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Indices selecting CSR slices [starts_i, starts_i+lens_i) flattened."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    offsets = np.cumsum(lens) - lens
    return np.arange(total, dtype=np.int64) + np.repeat(starts - offsets, lens)


def _unique_fresh(a: np.ndarray) -> np.ndarray:
    """``np.unique(a)`` of an array no one else holds, sorted in place: the
    values that differ from their left neighbour."""
    a.sort()
    first = np.empty(a.size, dtype=bool)
    first[:1] = True
    np.not_equal(a[1:], a[:-1], out=first[1:])
    return a[first]


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

    Reads the parquet snapshot directly with multithreaded Arrow when the
    index has one (``idx.storage_paths``, set by load()/CheckpointedBuild),
    bypassing the single-threaded Spark driver collect (r6, VERDICT #5)
    and launching no Spark job; a packed forward snapshot is decoded here
    (``idx.packed_scale``).  Without a snapshot, or when the direct read
    fails (logged), collects the DataFrame with ``toArrow()``.
    Value-safe by construction: these are the very files the DataFrame
    scans, and the hydration groups rows by sorted term / (term_id, salt)
    / doc_id keys itself, so file/row order cannot matter."""
    path = (getattr(idx, "storage_paths", None) or {}).get(table)
    if path:
        try:
            import pyarrow as pa
            import pyarrow.dataset as pads

            ds = pads.dataset(path, format="parquet", partitioning="hive")
            scale = getattr(idx, "packed_scale", None)
            if table == "forward" and scale is not None:
                tbl = ds.to_table(
                    columns=["doc_id", "t_packed", "w_codes"]
                ).combine_chunks()  # one chunk per column, even when empty
                packed = pa.RecordBatch.from_arrays(
                    [c.chunk(0) for c in tbl.columns], tbl.column_names
                )
                return pa.Table.from_batches(
                    [codec.unpack_forward(packed, scale)]
                ).select(columns)
            return ds.to_table(columns=columns)
        except Exception as exc:
            _log.warning(
                "direct read of the %s snapshot at %s failed (%r); hydrating "
                "it through Spark instead", table, path, exc, exc_info=True,
            )
    return getattr(idx, table).select(*columns).toArrow()


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

    The summaries' component index, built by :meth:`_hit_index` on the
    first query that takes the hit route (:meth:`_summary_ubs`), and empty
    until then:

    - per summary element, sorted by (row, component): ``_hit_keys`` int64
      ``row << 32 | component``, ``_hit_blocks`` int32 its block and
      ``_hit_vals`` f32 its value — 16 B per element, about 36 MB on
      the benchmark shard's 2.3M elements;
    - per block: ``_block_s_start`` int64, its first element in
      ``s_terms``/``s_vals``, for the blocks summed densely.

    A block with m ≤ 2 hits sums to the dense route's float, since every
    product it skips is ±0 (see the module docstring).

    Pickling (the κ-NN broadcast, knn._replica_self_search) ships the
    arrays above as they are and leaves out the query-weight LUT and the
    component index, so a receiver builds its own.
    """

    @staticmethod
    def predicted_nbytes(usage: dict[str, int], n_docs: int) -> int:
        """Bytes of the arrays above, the component index included, from an
        index's `space_usage()` breakdown ``usage`` — no scan, as the
        reference sizes its structures (inverted_index.rs:103-149).  Its
        byte counts are element counts: blocks B = offsets/8, summary
        elements S = codes, members M = weights/2 and forward elements
        F = (forward − 8·n_docs)/12.  Hydration builds 32·B + 16·S + 4·M +
        24·n_docs + 16·F bytes, the component index adds 16·S + 8·B, and
        the row and term arrays take at most 40·B + 16 (terms ≤ rows ≤
        blocks).  The query-weight LUT (≤ 32 MB) is not counted."""
        b, s, m = usage["offsets"] // 8, usage["codes"], usage["weights"] // 2
        f = (usage["forward"] - 8 * n_docs) // 12
        return 80 * b + 32 * s + 4 * m + 24 * n_docs + 16 * f + 16

    # Dense query-weight LUT gate: one f64 slot per component id (32 MB at
    # the 4M default).  Larger id spaces fall back to the searchsorted
    # gather — value-identical either way.
    _LUT_MAX_DIM = 1 << 22
    # Block-UB route (`_summary_ubs`): the component index answers a query
    # whose matched rows hold at least this many summary elements per
    # (row, query term) probe, the dense scan any other.  The floats are
    # the same either way; 0 forces the hit route and inf the dense one.
    _HITS_MIN_PER_PROBE = 200

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
        # per-query dense weight table (r6, VERDICT #4): _search_resolved
        # and bruteforce scatter the CURRENT query's ~10 weights into it
        # before the UB / rescore gathers and zero them after, so every
        # per-element query-weight lookup is ONE fancy-index gather instead
        # of a 4-pass searchsorted/clip/eq/where — the same value (stored
        # weight at hits, 0.0 at misses), so floats are unchanged.  All
        # gathered id spaces (summary terms, forward terms ⊆ corpus
        # components; query ids ⊆ vocab ids) are covered by dim.  `_lut()`
        # allocates it on the first query, so a freshly hydrated replica
        # carries none.
        dim = int(fwd_terms.max()) + 1 if fwd_terms.size else 0
        if vocab:
            dim = max(dim, max(vocab.values()) + 1)
        self._lut_dim = dim if dim <= self._LUT_MAX_DIM else 0
        self._qw_lut = None
        # the summaries' component index (`_hit_index`), built by the first
        # query that takes the hit route
        self.__dict__.update(_NO_HIT_INDEX)

    def __getstate__(self) -> dict:
        # the LUT is all zeros between queries, and the component index is
        # rebuilt from the arrays: a pickle (the κ-NN broadcast) leaves both
        # out, and the receiver makes its own on first use
        return {**self.__dict__, "_qw_lut": None, **_NO_HIT_INDEX}

    def _lut(self) -> np.ndarray | None:
        """The dense query-weight LUT (allocated here on first use), or
        None when the id space is over ``_LUT_MAX_DIM``."""
        if self._qw_lut is None and self._lut_dim:
            self._qw_lut = np.zeros(self._lut_dim, dtype=np.float64)
        return self._qw_lut

    # ------------------------------------------------------- hydration ----

    @classmethod
    def check_fits(cls, idx, max_bytes: int) -> None:
        """Raise ``MemoryError`` when ``idx``'s replica, as
        :meth:`predicted_nbytes` sizes it, is over ``max_bytes``."""
        need = cls.predicted_nbytes(idx.space_usage(), idx.n_docs)
        if need > max_bytes:
            raise MemoryError(
                f"replica predicted at {need} bytes from space_usage, over "
                f"the budget max_bytes={max_bytes}; shard the corpus at "
                "build time or raise the budget"
            )

    @classmethod
    def from_index(cls, idx, max_bytes: int = 4 << 30) -> "ServingReplica":
        """Hydrate from a built or loaded `SeismicSparkIndex`.

        Three bounded reads (vocab, postings, forward) via Arrow, straight
        from the snapshot files when the index has them (a loaded index
        hydrates without a Spark job); gaps are varint-decoded and summaries
        dequantized ONCE here, so the query path touches only ready numpy
        arrays.  Raises ``MemoryError`` over ``max_bytes`` (`check_fits`).
        """
        cls.check_fits(idx, max_bytes)
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
        pairs = [(i, float(w))
                 for i, w in zip(map(self.vocab.get, terms), weights)
                 if i is not None]
        if not pairs:
            return None
        # single source of truth for the pinned merge — see
        # search.merge_sorted_terms' bitwise-identity contract
        return srch.merge_sorted_terms(*zip(*pairs))

    def _score_docs(
        self, qt: np.ndarray, qw: np.ndarray, pos: np.ndarray
    ) -> np.ndarray:
        """Exact dot of the FULL query vector vs each doc's forward row —
        the per-row math of search.exact_score (gather + segment_sums), so
        each doc's float is bitwise the executor's.  ``pos`` is forward
        POSITIONS (see ``m_pos``) — a direct index, no per-call
        searchsorted over the corpus id array.  When the weight LUT is
        active, the caller has already scattered THIS query's weights
        into it (same value as the searchsorted gather)."""
        lens = self.fwd_lens[pos]
        ends = np.cumsum(lens)
        offsets = ends - lens
        # _flat_slices inlined, so the offsets serve the gather AND the sums
        flat = np.arange(int(ends[-1]) if ends.size else 0, dtype=np.int64)
        flat += np.repeat(self.fwd_starts[pos] - offsets, lens)
        if self._qw_lut is not None:
            contrib = self._qw_lut[self.fwd_terms[flat]]
        else:
            contrib = _gather_qw(qt, qw, self.fwd_terms[flat])
        # both gathers return fresh arrays: the product is formed in place
        contrib *= self.fwd_weights[flat]
        return codec.segment_sums(contrib, offsets, lens)

    def _hit_index(self) -> None:
        """Build the summaries' component index, the replica's copy of the
        per-list inverted map in Seismic's `QuantizedSummary`
        (quantized_summary.rs:14-24): one entry per summary element, sorted
        by ``row << 32 | component`` (``_hit_keys`` int64), holding its
        block (``_hit_blocks`` int32) and value (``_hit_vals``, the f32 the
        f64 ``s_vals`` widen exactly) — 16 B per element — plus each
        block's first element in ``s_terms``/``s_vals``
        (``_block_s_start``).

        Rows are sorted a step of whole rows at a time, in row order, into
        the three arrays allocated up front.  The key leads with the row,
        so the steps' sorted runs concatenate to the whole sort, and a
        stable sort within a step orders equal keys by snapshot position,
        as one stable sort of every element would."""
        n = self.row_s_stop - self.row_s_start
        first = np.concatenate(([0], np.cumsum(n)))  # row r's slots start
        keys = np.empty(first[-1], dtype=np.int64)
        blocks = np.empty(first[-1], dtype=np.int32)
        vals = np.empty(first[-1], dtype=np.float32)
        cuts = np.unique(np.append(
            first.searchsorted(np.arange(0, first[-1], _HIT_INDEX_STEP)), n.size
        )).tolist()
        for r0, r1 in zip(cuts, cuts[1:]):
            at = slice(first[r0], first[r1])
            el = _flat_slices(self.row_s_start[r0:r1], n[r0:r1])
            key = np.repeat(np.arange(r0, r1, dtype=np.int64) << 32, n[r0:r1])
            key |= self.s_terms[el]
            order = np.argsort(key, kind="stable")
            keys[at] = key[order]
            # the step's elements lie block after block, rows in order
            b0, b1 = self.row_blocks[r0], self.row_blocks[r1]
            blocks[at] = np.repeat(np.arange(b0, b1, dtype=np.int32),
                                   self.s_lens[b0:b1])[order]
            vals[at] = self.s_vals[el[order]]
        nb = np.diff(self.row_blocks)
        blk_row = np.repeat(np.arange(nb.size), nb)
        # a row's blocks hold its summary elements consecutively, in order
        cs = np.concatenate(([0], np.cumsum(self.s_lens)))
        self._hit_keys, self._hit_blocks, self._hit_vals = keys, blocks, vals
        self._block_s_start = (self.row_s_start[blk_row] + cs[:-1]
                               - cs[self.row_blocks[:-1]][blk_row])

    def _summary_ubs(
        self,
        qt: np.ndarray,
        qw: np.ndarray,
        lut: np.ndarray | None,
        rows: np.ndarray,
        blk: np.ndarray,
    ) -> np.ndarray:
        """Summary upper bound of each matched block ``blk`` (the blocks of
        postings rows ``rows``, in order): the `codec.segment_sums` of its
        elements' products (query weight of the component × value) in
        snapshot order, as the executors' `_block_ubs` forms it.

        Two routes give the same floats.  The dense route forms every
        element's product.  When the rows hold at least
        `_HITS_MIN_PER_PROBE` elements per (row, query term) probe, the hit
        route looks the probes up in the component index instead, as
        `QuantizedSummary::distances` walks only the query's components
        (quantized_summary.rs:64-160).  Every product it skips is ±0, and
        adding ±0 to a number is exact, so a block with m ≤ 2 hits sums to
        exactly ±0, a or a + b, whatever association reduceat uses; the
        UBs only feed comparisons, where −0.0 == 0.0.  Blocks with m ≥ 3
        hits are summed densely."""
        starts = self.row_s_start[rows].tolist()
        stops = self.row_s_stop[rows].tolist()
        if sum(stops) - sum(starts) < (self._HITS_MIN_PER_PROBE
                                       * rows.size * qt.size):
            # the rows' elements are gathered by concatenating each row's
            # slice (a fancy-index gather over them measured 0.34 ms/query)
            spans = list(zip(starts, stops))
            return self._dense_ubs(
                qt, qw, lut,
                np.concatenate([self.s_terms[a:b] for a, b in spans]),
                np.concatenate([self.s_vals[a:b] for a, b in spans]),
                self.s_lens[blk],
            )
        if self._block_s_start.size == 0:
            self._hit_index()
        probes = ((rows << 32)[:, None] | qt).ravel()
        lo = self._hit_keys.searchsorted(probes)
        n = self._hit_keys.searchsorted(probes, "right") - lo
        at = _flat_slices(lo, n)
        # block b of row rows[i] is at b + shift[i] in `blk`
        nb = self.row_blocks[rows + 1] - self.row_blocks[rows]
        shift = np.cumsum(nb) - nb - self.row_blocks[rows]
        pos = self._hit_blocks[at] + np.repeat(np.repeat(shift, qt.size), n)
        prod = np.repeat(np.tile(qw, rows.size), n) * self._hit_vals[at]
        # bincount adds each block's hits in order onto 0.0
        ub = np.bincount(pos, prod, minlength=blk.size)
        multi = np.flatnonzero(np.bincount(pos, minlength=blk.size) > 2)
        if multi.size:
            b = blk[multi]
            el = _flat_slices(self._block_s_start[b], self.s_lens[b])
            ub[multi] = self._dense_ubs(qt, qw, lut, self.s_terms[el],
                                        self.s_vals[el], self.s_lens[b])
        return ub

    @staticmethod
    def _dense_ubs(qt, qw, lut, s_terms, s_vals, lens) -> np.ndarray:
        """Segment sums of (query weight × value) over summary elements laid
        out block after block with ``lens`` elements each.  segment_sums
        is a pure function of each segment, so every float is bitwise the
        per-term formulation's."""
        prod = lut[s_terms] if lut is not None else _gather_qw(qt, qw, s_terms)
        prod *= s_vals
        return codec.segment_sums(prod, np.cumsum(lens) - lens, lens)

    def _search_resolved(
        self,
        qt: np.ndarray,
        qw: np.ndarray,
        k: int,
        query_cut: int,
        heap_factor: float,
        two_phase: bool,
        stats: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray] | None:
        """One resolved query (term ids asc, merged weights) → (top-k
        forward POSITIONS, scores) or None when nothing matches — the exact
        per-query body `batch_search` always ran (pure refactor, r6 pass 3,
        so the executor-side κ-NN map can reuse it on already-resolved
        rows); `self.doc_ids[pos]` maps positions back to doc ids.
        ``stats`` (int64[3]), when given, accumulates the query's matched
        blocks, kept blocks and candidates (:meth:`search_stats`)."""
        if self.terms.size == 0:
            return None
        # cut_terms: top-query_cut by (weight desc, term_id asc), then the
        # cut terms that have postings (ti: their index into self.terms).
        # No float depends on the cut terms' order (θ₀ is a max over terms,
        # a UB a per-block sum, the dedups sort), so a query with no more
        # than query_cut terms keeps them all in term order, unsorted.
        ct, cw = qt, qw
        if qt.size > query_cut:
            cut = np.lexsort((qt, -qw))[:query_cut]
            ct, cw = qt[cut], qw[cut]
        ti = np.minimum(np.searchsorted(self.terms, ct), self.terms.size - 1)
        hit = self.terms[ti] == ct
        if not hit.any():
            return None
        ti, cw = ti[hit], cw[hit]
        lut = self._lut()
        if lut is not None:
            # scatter this query's weights (zeroed again at every exit)
            lut[qt] = qw

        # every matched term's blocks (one segment each, at `offs` in `blk`)
        # and rows (no flatten when every term has one row: none is salted)
        rows0, rows1 = self.term_rows[ti], self.term_rows[ti + 1]
        b0 = self.row_blocks[rows0]
        nbt = self.row_blocks[rows1] - b0
        offs = np.cumsum(nbt) - nbt
        # _flat_slices inlined, so the offsets serve the blocks AND phases 0-1
        blk = np.arange(offs[-1] + nbt[-1], dtype=np.int64)
        blk += np.repeat(b0 - offs, nbt)
        nrows = rows1 - rows0
        rows = (rows0 if int(nrows.sum()) == nrows.size
                else _flat_slices(rows0, nrows))

        ub = self._summary_ubs(qt, qw, lut, rows, blk)
        if stats is not None:
            stats[0] += ub.size

        theta = phase0_theta(cw, nbt, self.bmax, blk, k)

        p1_docs = None
        if two_phase:
            # phase 1: best-UB block per matched term, exact-score the
            # union, k-th best tightens θ
            best = blk[_first_max(ub, offs, nbt)]
            p1 = _unique_fresh(
                self.m_pos[_flat_slices(self.m_starts[best], self.m_lens[best])]
            )
            if p1.size:
                p1_docs, p1_scores = p1, self._score_docs(qt, qw, p1)
                if p1.size >= k:
                    kth = float(
                        np.partition(p1_scores, p1.size - k)[p1.size - k]
                    )
                    if kth > theta:
                        theta = kth

        keep = blocks_kept(ub, heap_factor, theta)
        if stats is not None:
            stats[1] += int(keep.sum())
        if not keep.any():
            if lut is not None:
                lut[qt] = 0.0
            return None
        # positions are a monotone bijection of the doc ids, so the
        # unique/dedup set and the (score desc, doc asc) tie order are
        # exactly the id formulation's; only the k winners map back
        kept = blk[keep]
        cands = _unique_fresh(
            self.m_pos[_flat_slices(self.m_starts[kept], self.m_lens[kept])]
        )
        if stats is not None:
            stats[2] += cands.size
        if p1_docs is None:
            scores = self._score_docs(qt, qw, cands)
        else:
            # each doc is scored once per query (the reference's `visited`
            # set): a doc's score is a pure function of its forward row, so
            # the phase-1 floats are reused for the candidates phase 1
            # scored, found by a searchsorted (both arrays sorted, unique)
            at = np.minimum(np.searchsorted(p1_docs, cands), p1_docs.size - 1)
            scores = p1_scores[at]
            fresh = p1_docs[at] != cands
            if fresh.any():
                scores[fresh] = self._score_docs(qt, qw, cands[fresh])
        top = np.lexsort((cands, -scores))[:k]
        if lut is not None:
            lut[qt] = 0.0
        return cands[top], scores[top]

    def batch_search(
        self,
        queries: list[tuple[str, list[str], list[float]]],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
    ) -> pd.DataFrame:
        """(query_id, rank, doc_id, score) — bit-identical to
        `search.batch_search` on the hydrated index (same θ values, same
        skip predicate, same rescore floats, same (score desc, doc_id asc)
        tie order).  Size-gated `SeismicSparkIndex.batch_search` answers
        through here."""
        two_phase = srch.resolve_two_phase(self.config, heap_factor, two_phase)
        hits = []
        for qid, qt, qw in self._resolved_queries(queries):
            hit = self._search_resolved(qt, qw, k, query_cut, heap_factor,
                                        two_phase)
            if hit is not None:
                hits.append((qid, *hit))
        return self._results_frame(hits)

    def search_stats(
        self,
        queries: list[tuple[str, list[str], list[float]]],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool = False,
    ) -> dict[str, float]:
        """What the dynamic pruning of one `batch_search` call did, summed
        over its queries: matched blocks (every block of the cut terms'
        lists), scanned blocks (those the skip kept), and candidates (the
        distinct docs of the scanned blocks, exactly scored) — the counters
        of the kernel itself, the analogue of the reference's per-run
        reporting (scripts/run_experiments.py:287-309)."""
        counts = np.zeros(3, dtype=np.int64)
        for _qid, qt, qw in self._resolved_queries(queries):
            self._search_resolved(qt, qw, k, query_cut, heap_factor,
                                  two_phase, counts)
        matched, scanned, cands = (int(c) for c in counts)
        return {
            "blocks_matched": matched,
            "blocks_scanned": scanned,
            "blocks_skipped": matched - scanned,
            "skip_rate": round(1.0 - scanned / matched, 4) if matched else 0.0,
            "candidates": cands,
        }

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
        lut = self._lut()
        for qid, qt, qw in self._resolved_queries(queries):
            if lut is not None:
                lut[qt] = qw
            try:
                scores = self._score_docs(qt, qw, all_pos)
            finally:
                if lut is not None:
                    lut[qt] = 0.0
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
        (query_id, rank, doc_id, score) frame: object/int32/int64/float64
        columns over a RangeIndex.

        The frame is assembled from its four blocks, one per column, as
        pyarrow's `to_pandas` assembles one on pandas 2.x
        (pyarrow/pandas_compat.py `table_to_dataframe`): the
        `pd.DataFrame` constructor spends more on inferring and checking
        its input than a 10-row frame costs.  Every column is an array made
        for this answer, so the frame holds no array the replica keeps."""
        if len(hits) == 1:  # one served query: its arrays as they are
            qid, pos, scores = hits[0]
            qids = np.full(pos.size, qid, dtype=object)
            ranks = np.arange(1, pos.size + 1, dtype=np.int32)
        elif hits:
            sizes = [p.size for _, p, _ in hits]
            qids = np.repeat(np.array([q for q, _, _ in hits], dtype=object),
                             sizes)
            ranks = np.concatenate(
                [np.arange(1, n + 1, dtype=np.int32) for n in sizes]
            )
            pos = np.concatenate([p for _, p, _ in hits])
            scores = np.concatenate([sc for _, _, sc in hits])
        else:
            qids, ranks = np.empty(0, object), np.empty(0, np.int32)
            pos, scores = np.empty(0, np.int64), np.empty(0, np.float64)
        n = pos.size
        blocks = [
            make_block(col.reshape(1, n), placement=slice(i, i + 1))
            for i, col in enumerate((qids, ranks, self.doc_ids[pos], scores))
        ]
        mgr = BlockManager(blocks, [_FRAME_COLUMNS.view(), pd.RangeIndex(n)])
        return pd.DataFrame._from_mgr(mgr, mgr.axes)

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
        """One query — `batch_search` of ``[(query_id, terms, weights)]``,
        with no repeated-qid merge to do."""
        resolved = self._resolve(terms, weights)
        hit = None if resolved is None else self._search_resolved(
            *resolved, k, query_cut, heap_factor,
            srch.resolve_two_phase(self.config, heap_factor, two_phase),
        )
        return self._results_frame([] if hit is None else [(query_id, *hit)])

    def search_text(
        self,
        query_id: str,
        text: str,
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
    ) -> pd.DataFrame:
        """Free-text query, weighted as the index's search_text weights it
        (:func:`search.text_query`; resolution drops unknowns)."""
        return self.search(query_id, *srch.text_query(text), k, query_cut,
                           heap_factor, two_phase)
