"""The replica's two block-UB routes give the same floats.

`ServingReplica._summary_ubs` forms each matched block's summary upper
bound either densely (every summary element's product) or from the
component index (only the elements whose component is a query term, then
the dense sum for blocks with three or more of them).  The route is picked
by `ServingReplica._HITS_MIN_PER_PROBE`; these tests force each route for
every query and check that answers, `search_stats` and the UB arrays do
not depend on it, on random corpora (pinned to Spark `batch_search` too)
and on hand-built blocks with 0, 1, 2 and 3+ query components, negative
query weights and zero summary values.
"""

import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from test_placement_property import CORPORA, VOCAB, _key, _scrambled

from seismic_spark import search as srch
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.serving import _NO_HIT_INDEX, ServingReplica
from seismic_spark.sources.pages import synth_pages, synth_queries

ROUTES = {"hits": 0, "dense": float("inf"),
          "default": ServingReplica._HITS_MIN_PER_PROBE}


def _run_routes(monkeypatch, rep, queries, **kw):
    """Per route: (one `search` frame per query, `search_stats`, the UB
    array of every `_summary_ubs` call)."""
    ubs = []
    summary_ubs = ServingReplica._summary_ubs

    def recording(self, *args):
        ub = summary_ubs(self, *args)
        ubs.append(ub.copy())
        return ub

    monkeypatch.setattr(ServingReplica, "_summary_ubs", recording)
    out = {}
    for route, threshold in ROUTES.items():
        monkeypatch.setattr(ServingReplica, "_HITS_MIN_PER_PROBE", threshold)
        ubs.clear()
        frames = [rep.search(*q, **kw) for q in queries]
        out[route] = (frames, rep.search_stats(queries, **kw), list(ubs))
    monkeypatch.undo()
    return out


def _assert_routes_agree(out):
    frames, stats, ubs = out["dense"]
    for route in ("hits", "default"):
        r_frames, r_stats, r_ubs = out[route]
        assert r_stats == stats, route
        for a, b in zip(r_frames, frames, strict=True):
            pd.testing.assert_frame_equal(a, b, check_exact=True)
        assert len(r_ubs) == len(ubs)
        for a, b in zip(r_ubs, ubs):
            assert a.size == b.size and (a == b).all(), route


@pytest.fixture(scope="module")
def corpora(spark):
    out = {}
    for seed, cfg, _ in CORPORA:
        pages = synth_pages(spark, 120, vocab_size=VOCAB, seed=seed)
        corpus = pages.select("url", "text").withColumn(
            "doc_id", F.abs(F.xxhash64("url"))
        )
        out[seed] = SeismicSparkIndex.build(spark, corpus, cfg)
    return out


@pytest.mark.parametrize("seed", [c[0] for c in CORPORA],
                         ids=["geo", "salted", "exact_fixedu8"])
def test_routes_agree_on_random_corpora(spark, monkeypatch, corpora, seed):
    """Forced hit route, forced dense route and the default answer every
    query bitwise alike, with equal `search_stats` and UB arrays, in both
    phases at heap factors 0.7 and 1.0 — and equal to Spark's
    `batch_search`."""
    idx = corpora[seed]
    rep = ServingReplica.from_index(idx)
    queries = _scrambled(synth_queries(VOCAB, n_queries=10, seed=seed), seed)
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)
    for hf in (0.7, 1.0):
        for two_phase in (True, False):
            kw = dict(k=5, query_cut=6, heap_factor=hf, two_phase=two_phase)
            out = _run_routes(monkeypatch, rep, queries, **kw)
            _assert_routes_agree(out)
            assert out["hits"][1]["blocks_matched"] > 0
            got = pd.concat(out["hits"][0], ignore_index=True)
            want = srch.batch_search(spark, idx.postings, idx.forward, qvecs,
                                     **kw)
            assert _key(got.itertuples(index=False)) == _key(want.collect())


def _hand_built() -> ServingReplica:
    """Two postings rows over 7 blocks.  For the query (a, b, c) the blocks
    hold 0, 1, 2, 3, 3, 1 and 1 query components; block 5's one is a zero
    value, and row 1's elements come first in snapshot order.  Block 3
    lists its components as (a, c, b) with values (1, 2^53, 2^53): with
    weights (1, 1, −1), reduceat sums its products to 1, but added in
    component order they sum to 0 — a block the hit route must sum
    densely."""
    big = float(2**53)
    blocks = [  # (components, values, member positions), sorted block order
        ([3, 4], [0.5, 0.25], [0, 1]),
        ([0, 3, 5], [0.75, 1.5, 0.0], [1, 2]),
        ([0, 1, 4], [1.25, 0.375, 2.0], [2, 3]),
        ([0, 2, 1, 6], [1.0, big, big, 0.5], [3, 4]),
        ([0, 1, 2, 3, 4, 5, 6], [0.0, 0.5, 1.0, 0.0, 3.0, 0.125, 0.0], [4, 5]),
        ([1], [0.0], [0, 5]),
        ([2, 5], [0.125, 0.0], [1, 3]),
    ]
    snap = [5, 6, 0, 1, 2, 3, 4]  # blocks in snapshot order
    s_terms = np.concatenate([blocks[b][0] for b in snap]).astype(np.int64)
    s_vals = np.concatenate([blocks[b][1] for b in snap]).astype(np.float64)
    s_lens = np.array([len(b[0]) for b in blocks], dtype=np.int64)
    row_s_start = np.array([s_lens[5] + s_lens[6], 0], dtype=np.int64)
    m_lens = np.array([len(b[2]) for b in blocks], dtype=np.int64)
    fwd = [  # per doc position: (terms, weights)
        ([0, 3, 4], [0.5, 1.5, 0.25]), ([0, 2, 5], [0.75, 0.125, 1.0]),
        ([0, 1, 4], [1.25, 0.375, 2.0]), ([0, 1, 2], [1.0, 2.0, 0.5]),
        ([0, 1, 2, 6], [0.25, 0.5, 1.0, 0.5]), ([1, 4], [3.0, 0.5]),
    ]
    flens = np.array([len(t) for t, _ in fwd], dtype=np.int64)
    return ServingReplica(
        {t: i for i, t in enumerate("abcdefg")}, IndexConfig(),
        terms=np.array([0, 1], dtype=np.int64),
        term_rows=np.array([0, 1, 2], dtype=np.int64),
        row_blocks=np.array([0, 5, 7], dtype=np.int64),
        row_s_start=row_s_start,
        row_s_stop=row_s_start + np.array([s_lens[:5].sum(), s_lens[5:].sum()]),
        bmax=np.array([1.5, 1.0, 2.0, 2.0, 3.0, 3.0, 1.0]),
        s_lens=s_lens,
        m_starts=np.cumsum(m_lens) - m_lens,
        m_lens=m_lens,
        s_terms=s_terms,
        s_vals=s_vals,
        m_pos=np.concatenate([b[2] for b in blocks]).astype(np.int32),
        doc_ids=np.arange(6, dtype=np.int64) * 10 + 7,
        fwd_starts=np.cumsum(flens) - flens,
        fwd_lens=flens,
        fwd_terms=np.concatenate([t for t, _ in fwd]).astype(np.int64),
        fwd_weights=np.concatenate([w for _, w in fwd]).astype(np.float64),
    )


def test_routes_agree_on_hand_built_blocks(monkeypatch):
    rep = _hand_built()
    queries = [
        ("abc", ["a", "b", "c"], [1.0, 1.0, -1.0]),
        ("neg", ["c", "a", "b", "g"], [-2.5, -0.5, 0.75, 1.0]),
        ("zero", ["b", "f"], [0.0, 1.5]),
        ("a", ["a"], [2.0]),
        ("rare", ["b", "d"], [1.0, -3.0]),
    ]
    for k in (1, 3):
        for hf in (0.0, 0.9, 1.0):
            for two_phase in (True, False):
                for cut in (1, 2, 4):
                    out = _run_routes(monkeypatch, rep, queries, k=k,
                                      query_cut=cut, heap_factor=hf,
                                      two_phase=two_phase)
                    _assert_routes_agree(out)
    # the (a, b, c) query's UBs, block by block: hit counts 0, 1, 2, 3, 3
    # on row 0; block 3 is 1.0 only because it is summed densely
    out = _run_routes(monkeypatch, rep, queries[:1], k=1, query_cut=2,
                      heap_factor=1.0, two_phase=False)
    ub = out["hits"][2][0]
    assert ub[:4].tolist() == [0.0, 0.75, 1.25 + 0.375, 1.0]
    assert (0.0 + 1.0 + 2.0**53) - 2.0**53 == 0.0
    assert out["dense"][2][0].tolist() == ub.tolist()


def test_pickle_ships_no_component_index(monkeypatch):
    """A pickle (the κ-NN broadcast, knn._replica_self_search) of a replica
    whose component index is built holds the same keys and the same bytes
    as one of a fresh replica, and the unpickled copy answers identically
    on both routes."""
    rep = _hand_built()
    fresh = pickle.dumps(rep)
    queries = [("abc", ["a", "b", "c"], [1.0, 1.0, -1.0]),
               ("neg", ["c", "a", "g"], [-2.5, -0.5, 1.0])]
    want = _run_routes(monkeypatch, rep, queries, k=3, query_cut=3,
                       heap_factor=0.9, two_phase=True)
    assert rep._hit_keys.size == rep.s_terms.size  # the hit route built it
    state = rep.__getstate__()
    assert set(state) == set(vars(rep)) == {
        "vocab", "config", "terms", "term_rows", "row_blocks", "row_s_start",
        "row_s_stop", "bmax", "s_lens", "m_starts", "m_lens", "s_terms",
        "s_vals", "m_pos", "doc_ids", "fwd_starts", "fwd_lens", "fwd_terms",
        "fwd_weights", "_lut_dim", "_qw_lut", *_NO_HIT_INDEX,
    }
    assert state["_qw_lut"] is None
    assert all(state[name].size == 0 for name in _NO_HIT_INDEX)
    blob = pickle.dumps(rep)
    assert len(blob) == len(fresh)
    got = _run_routes(monkeypatch, pickle.loads(blob), queries, k=3,
                      query_cut=3, heap_factor=0.9, two_phase=True)
    for route in ROUTES:
        for a, b in zip(got[route][0], want[route][0], strict=True):
            pd.testing.assert_frame_equal(a, b, check_exact=True)
        assert got[route][1] == want[route][1]
