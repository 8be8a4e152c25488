"""Codec round-trip + quantization property tests (no Spark).

Mirrors the reference's quantized_summary property test
(quantized_summary.rs:408-598) and utils.rs:68-90 quantization semantics.
"""

import numpy as np
import pytest

from seismic_spark import codec


@pytest.mark.parametrize("seed", [42, 7, 1142])
def test_varint_roundtrip(seed):
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 2**40, size=500, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_varint_empty():
    assert codec.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0


@pytest.mark.parametrize("seed", [42, 7])
def test_delta_roundtrip(seed):
    rng = np.random.default_rng(seed)
    ids = np.unique(rng.integers(0, 2**45, size=300, dtype=np.uint64))
    assert np.array_equal(codec.delta_decode(codec.delta_encode(ids)), ids)


def test_f16_roundtrip():
    v = np.array([0.1, 1.5, 3.14159, 1000.25], dtype=np.float32)
    rt = codec.f16_decode(codec.f16_encode(v))
    assert np.array_equal(rt, v.astype(np.float16).astype(np.float32))


def test_quantize_nearest_matches_reference_semantics():
    # code = round((v-min)/quant), quant=(max-min)/255 (utils.rs:68-90)
    v = np.array([0.0, 0.5, 1.0], dtype=np.float32)
    codes, lo, quant = codec.quantize_u8(v, ceil=False)
    assert lo == 0.0 and abs(quant - 1.0 / 255) < 1e-9
    # scaled = 0.5/quant ≈ 127.49998 in f32 → nearest is 127
    assert list(codes) == [0, 127, 255]


@pytest.mark.parametrize("seed", [0, 42, 1142])
def test_quantize_ceil_upper_bounds(seed):
    """ceil-mode dequantized values must dominate the float64 inputs —
    the exactness contract for block skipping at heap_factor=1.0."""
    rng = np.random.default_rng(seed)
    for _ in range(50):
        v = rng.uniform(0, 30, size=rng.integers(1, 200)).astype(np.float64)
        codes, lo, quant = codec.quantize_u8(v, ceil=True)
        deq = codec.dequantize_u8(codes, lo, quant)
        assert (deq.astype(np.float64) >= v).all()
        # and stays tight: within ~2 quantization steps
        if quant > 0:
            assert (deq.astype(np.float64) - v).max() <= 2.5 * quant + 1e-6


def test_quantize_constant_vector_is_exact():
    v = np.full(17, 3.75, dtype=np.float32)
    codes, lo, quant = codec.quantize_u8(v, ceil=True)
    assert quant == 0.0
    assert np.array_equal(codec.dequantize_u8(codes, lo, quant), v)


def test_bf16_round_trip_properties():
    rng = np.random.default_rng(5)
    v = rng.uniform(0.01, 20.0, 10_000)
    out = codec.bf16_round_trip(v)
    # idempotent (already on the bf16 grid)
    assert np.array_equal(codec.bf16_round_trip(out), out)
    # 8-bit mantissa → relative error ≤ 2^-8
    assert np.max(np.abs(out - v) / v) <= 2.0**-8
    # exact on powers of two
    assert codec.bf16_round_trip(np.array([2.0, 0.5, 1.0]))[0] == 2.0


def test_fixed_round_trip_properties():
    rng = np.random.default_rng(6)
    v = rng.uniform(0.0, 9.0, 10_000)
    mx = float(v.max())
    for bits in (8, 16):
        out = codec.fixed_round_trip(v, bits, mx)
        delta = mx / ((1 << bits) - 1)
        assert np.max(np.abs(out - v)) <= delta / 2 + 1e-12
        assert np.array_equal(codec.fixed_round_trip(out, bits, mx), out)
        assert out.max() <= mx + 1e-12
    # degenerate scale
    assert (codec.fixed_round_trip(v, 8, 0.0) == 0).all()


@pytest.mark.parametrize("seed", [42, 7, 1142])
def test_delta_decode_multi_matches_per_buffer(seed):
    """The batched query-path decode equals per-buffer delta_decode."""
    rng = np.random.default_rng(seed)
    bufs, expect = [], []
    for _ in range(60):
        n = int(rng.integers(0, 50))
        ids = np.unique(rng.integers(0, 2**45, size=n, dtype=np.uint64))
        bufs.append(codec.delta_encode(ids))
        expect.append(ids)
    ids_all, counts = codec.delta_decode_multi(bufs)
    assert counts.sum() == sum(e.size for e in expect)
    off = 0
    for i, e in enumerate(expect):
        assert counts[i] == e.size
        assert np.array_equal(ids_all[off : off + counts[i]], e)
        off += counts[i]


def test_delta_decode_multi_edges():
    assert codec.delta_decode_multi([])[0].size == 0
    ids, counts = codec.delta_decode_multi([b"", b""])
    assert ids.size == 0 and list(counts) == [0, 0]


@pytest.mark.parametrize("seed", [0, 42])
def test_dotvbyte_pack_roundtrip(seed):
    """DotVByte pack/unpack: term ids exact, values land on the fixedu8 grid
    (pylib/dotvbyte.rs analogue — FixedU8 conversion is lossy by design,
    lossless for values already on the grid)."""
    rng = np.random.default_rng(seed)
    for _ in range(30):
        n = int(rng.integers(1, 80))
        t = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
        w = rng.uniform(0.0, 25.0, size=n)
        scale = 25.0
        tb, wb = codec.dotvbyte_pack(t, w, scale)
        t2, w2 = codec.dotvbyte_unpack(tb, wb, scale)
        assert np.array_equal(t2, t)
        assert np.array_equal(w2, codec.fixed_round_trip(w, 8, scale))
        # idempotent on grid values (lossless second trip)
        tb2, wb2 = codec.dotvbyte_pack(t2, w2, scale)
        assert wb2 == wb and tb2 == tb
    # degenerate scale
    tb, wb = codec.dotvbyte_pack(np.array([3]), np.array([1.0]), 0.0)
    t2, w2 = codec.dotvbyte_unpack(tb, wb, 0.0)
    assert list(t2) == [3] and list(w2) == [0.0]


@pytest.mark.parametrize("seed", [0, 42])
def test_unpack_forward_matches_per_row_unpack(seed):
    """The batched packed-forward decode (the Spark scan of a loaded
    packed snapshot and replica hydration from its files) gives each row
    exactly its per-row dotvbyte_unpack — empty rows and a sliced batch
    included."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    scale = 25.0
    rows = []
    for _ in range(40):
        n = int(rng.integers(0, 60))
        t = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
        rows.append(codec.dotvbyte_pack(t, rng.uniform(0.0, 25.0, n), scale))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(len(rows)), pa.int64()),
         pa.array([tb for tb, _ in rows], pa.binary()),
         pa.array([wb for _, wb in rows], pa.binary())],
        ["doc_id", "t_packed", "w_codes"],
    )
    for lo in (0, 7):
        out = codec.unpack_forward(batch.slice(lo), scale)
        assert out.column("doc_id").to_pylist() == list(range(lo, len(rows)))
        for (tb, wb), t, w in zip(rows[lo:], out.column("terms").to_pylist(),
                                  out.column("weights").to_pylist()):
            t_want, w_want = codec.dotvbyte_unpack(tb, wb, scale)
            assert t == t_want.tolist() and w == w_want.tolist()
    assert codec.unpack_forward(batch.slice(0, 0), scale).num_rows == 0


@pytest.mark.parametrize("seed", [3, 42])
def test_delta_encode_multi_matches_per_row(seed):
    """The batched build-path encode is byte-identical to per-row
    delta_encode (inverse pair of delta_decode_multi) — this is what makes
    the vectorized DotVByte forward packer (index.save packed_values) safe."""
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(80):
        n = int(rng.integers(0, 60))
        rows.append(
            np.unique(rng.integers(0, 2**45, size=n, dtype=np.uint64))
        )
    counts = np.array([r.size for r in rows], dtype=np.int64)
    flat = (
        np.concatenate(rows) if counts.sum() else np.empty(0, dtype=np.uint64)
    )
    buf, lens = codec.delta_encode_multi(flat, counts)
    ends = np.cumsum(lens)
    starts = ends - lens
    for i, r in enumerate(rows):
        assert buf[starts[i] : ends[i]] == codec.delta_encode(r)
    # round-trips through the batched decoder
    ids, cnts = codec.delta_decode_multi(
        [buf[s:e] for s, e in zip(starts, ends)]
    )
    assert np.array_equal(cnts, counts)
    assert np.array_equal(ids, flat)


def test_delta_encode_multi_edges():
    buf, lens = codec.delta_encode_multi(
        np.empty(0, dtype=np.uint64), np.zeros(3, dtype=np.int64)
    )
    assert buf == b"" and list(lens) == [0, 0, 0]
    # zero-count rows interleaved with data rows
    flat = np.array([5, 9, 1000], dtype=np.uint64)
    buf, lens = codec.delta_encode_multi(
        flat, np.array([0, 2, 0, 1, 0], dtype=np.int64)
    )
    ends = np.cumsum(lens)
    starts = ends - lens
    assert buf[starts[1] : ends[1]] == codec.delta_encode(flat[:2])
    assert buf[starts[3] : ends[3]] == codec.delta_encode(flat[2:])
    assert lens[0] == lens[2] == lens[4] == 0
