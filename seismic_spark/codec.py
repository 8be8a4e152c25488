"""Codecs shared by the Spark engine and the numpy oracle.

Pure numpy, no Spark imports — usable inside pandas UDFs and in tests.

Parity notes (vs /root/reference):
- u8 affine quantization mirrors utils.rs:68-90: per-summary ``min``,
  ``quant=(max-min)/255``, ``code=round((v-min)/quant)``.  We additionally
  provide a *ceil* variant so dequantized values upper-bound the input —
  required for exactness of block skipping at heap_factor=1.0 (the reference
  treats summaries as estimates; we keep both behaviors selectable).
- f16 round-trip mirrors the reference's default f16 value storage
  (pylib/mod.rs:27-39): weights are stored as float16 and scored as float32.
- delta-gap + varint replaces the reference's 48/16-bit packed postings
  (posting_list.rs:26-60) — per BASELINE.json north rule, posting doc-id
  lists are compressed with delta-gap + varint into BINARY columns.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- varint ----


# 7-bit group thresholds: value v needs 1 + sum(v >= 2^(7k)) bytes
_VARINT_THRESHOLDS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a 1-D array of non-negative ints to bytes.

    Fully vectorized (this sits on the build hot path): byte counts via
    threshold comparisons (exact — no float log), byte values via per-byte
    shift/mask over scattered positions.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes per value: 1 + number of 7-bit thresholds <= v  (1..10)
    nb = np.ones(v.size, dtype=np.int64)
    for t in _VARINT_THRESHOLDS:
        nb += (v >= t).astype(np.int64)
    ends = np.cumsum(nb)
    starts = ends - nb
    total = int(ends[-1])
    # for output byte j of value i: out[starts[i]+j] = (v[i] >> 7j) & 0x7f
    val_idx = np.repeat(np.arange(v.size), nb)
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, nb)
    chunks = (v[val_idx] >> (7 * pos).astype(np.uint64)) & np.uint64(0x7F)
    out = chunks.astype(np.uint8)
    cont = pos < (nb[val_idx] - 1)  # continuation bit on all but last byte
    out[cont] |= 0x80
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized — this sits on
    the query hot path: every posting-block decode goes through here)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (arr & 0x80) == 0
    ends = np.flatnonzero(is_last) + 1
    starts = np.concatenate(([0], ends[:-1]))
    lens = ends - starts
    pos = np.arange(arr.size, dtype=np.int64) - np.repeat(starts, lens)
    chunks = (arr & np.uint8(0x7F)).astype(np.uint64) << (7 * pos).astype(np.uint64)
    # per-value sum of shifted chunks; bitwise-disjoint so addition is exact
    out = np.add.reduceat(chunks, starts)
    return out.astype(np.uint64)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta-gap + varint encode a strictly-increasing id array."""
    ids = np.asarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return b""
    gaps = np.empty_like(ids)
    gaps[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    return varint_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`delta_encode`."""
    gaps = varint_decode(buf)
    if gaps.size == 0:
        return gaps
    return np.cumsum(gaps, dtype=np.uint64)


def delta_encode_multi(
    flat_ids: np.ndarray, counts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Delta-gap + varint encode MANY strictly-increasing id rows in one
    vectorized pass (inverse of :func:`delta_decode_multi`).

    ``flat_ids`` is the row-major concatenation of the rows, ``counts`` the
    per-row lengths.  Returns ``(buf, byte_lens)``: the concatenated encoded
    bytes and the encoded byte length of each row (so callers can slice
    ``buf`` back into per-row buffers).  This is the build-path forward-vector
    packer: a per-row ``delta_encode`` loop over millions of docs would pay
    numpy call overhead per row; here the gap computation, byte-count
    computation and byte scatter run once over the whole Arrow batch.
    """
    ids = np.asarray(flat_ids, dtype=np.uint64)
    counts = np.asarray(counts, dtype=np.int64)
    if ids.size == 0:
        return b"", np.zeros(counts.size, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    gaps = np.empty_like(ids)
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    gaps[0] = ids[0]
    nz = starts[counts > 0]
    gaps[nz] = ids[nz]  # each row restarts at its absolute first id
    # bytes per value (1..10), then per-row byte lengths via reduceat
    nb = np.ones(gaps.size, dtype=np.int64)
    for t in _VARINT_THRESHOLDS:
        nb += (gaps >= t).astype(np.int64)
    byte_lens = np.zeros(counts.size, dtype=np.int64)
    if nz.size:
        sums = np.add.reduceat(nb, starts[counts > 0])
        byte_lens[counts > 0] = sums
    return varint_encode(gaps), byte_lens


def delta_decode_multi(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY delta-gap varint buffers in one vectorized pass.

    Returns ``(ids, counts)``: the flat decoded doc-id array (uint64) and the
    number of ids per input buffer.  Equivalent to concatenating
    ``delta_decode(b)`` over ``bufs`` but with a single continuation-bit scan
    over the concatenation — this is the query-path block decode, where a
    per-row Python loop would be the last row-wise hotspot (VERDICT r2 #2).
    """
    nb = len(bufs)
    if nb == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    blens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=nb)
    arr = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    return delta_decode_concat(arr, blens)


def delta_decode_concat(
    arr: np.ndarray, blens: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`delta_decode_multi` over an ALREADY-CONCATENATED uint8 array
    with per-buffer byte lengths — the zero-copy entry point for columnar
    sources (Arrow binary columns), where the buffers are adjacent in one
    data buffer and a Python-level join would copy gigabytes."""
    nb = blens.size
    if nb == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(nb, dtype=np.int64)
    is_last = (arr & 0x80) == 0
    ends = np.flatnonzero(is_last) + 1
    starts = np.concatenate(([0], ends[:-1]))
    vlens = ends - starts
    pos = np.arange(arr.size, dtype=np.int64) - np.repeat(starts, vlens)
    chunks = (arr & np.uint8(0x7F)).astype(np.uint64) << (7 * pos).astype(np.uint64)
    gaps = np.add.reduceat(chunks, starts)
    # values per buffer = number of terminator bytes inside its byte span
    cum_counts = np.searchsorted(ends, np.cumsum(blens), side="right")
    counts = np.diff(np.concatenate(([0], cum_counts)))
    # per-buffer prefix sums of gaps = global cumsum minus the cumsum at the
    # end of the previous buffer (gap sequences restart per buffer)
    csum = np.cumsum(gaps, dtype=np.uint64)
    v_starts = np.concatenate(([0], cum_counts[:-1]))
    base = np.where(v_starts > 0, csum[np.maximum(v_starts, 1) - 1], np.uint64(0))
    ids = csum - np.repeat(base, counts)
    return ids, counts


def binary_flat(arr) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (flat uint8 data in element order, per-element byte length)
    view of a pyarrow Binary or LargeBinary array — a binary column is one
    contiguous data buffer plus offsets (int32, or int64 when large), so
    re-slicing replaces a per-cell ``np.frombuffer`` + concatenate.  Feeds
    :func:`delta_decode_concat` directly."""
    import pyarrow as pa

    n = len(arr)
    bufs = arr.buffers()
    if n == 0 or bufs[1] is None or bufs[2] is None:
        return np.empty(0, dtype=np.uint8), np.zeros(n, dtype=np.int64)
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(bufs[1], dtype=off_dtype)
    off = off[arr.offset : arr.offset + n + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8)[off[0] : off[-1]]
    return data, np.diff(off).astype(np.int64)


# ----------------------------------------------------------- DotVByte -------


def dotvbyte_pack(
    terms: np.ndarray, weights: np.ndarray, scale_max: float
) -> tuple[bytes, bytes]:
    """DotVByte-style packed sparse row (pylib/dotvbyte.rs:22-40): ascending
    component ids → delta-gap varint BINARY; values → fixed-point u8 codes
    (the vectorium ``DotVByteFixedU8Encoder`` analogue).  The reference's
    FixedU8 grid assumes values in [0,1); BM25 weights aren't, so the grid is
    scaled by the corpus max weight — the same documented adaptation as the
    ``fixedu8`` value type (codec.fixed_round_trip).
    """
    t = np.asarray(terms, dtype=np.uint64)
    tbuf = delta_encode(t)
    if scale_max <= 0.0:
        return tbuf, np.zeros(t.size, dtype=np.uint8).tobytes()
    delta = float(scale_max) / 255
    codes = np.clip(
        np.floor(np.asarray(weights, dtype=np.float64) / delta + 0.5), 0, 255
    ).astype(np.uint8)
    return tbuf, codes.tobytes()


def dotvbyte_unpack(
    tbuf: bytes, codes: bytes, scale_max: float
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`dotvbyte_pack`; decoded values sit exactly on the
    ``fixed_round_trip(·, 8, scale_max)`` grid, so an index built with
    ``value_type='fixedu8'`` survives the pack/unpack LOSSLESSLY."""
    t = delta_decode(tbuf).astype(np.int64)
    c = np.frombuffer(codes, dtype=np.uint8)
    delta = float(scale_max) / 255 if scale_max > 0.0 else 0.0
    return t, c.astype(np.float64) * delta


# ---------------------------------------------------------- segment sums ----


def segment_sums(x: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-segment sums of a flattened array, empty segments → 0.0.

    np.add.reduceat segment sums are position-independent pure functions of
    the segment content (verified property), so the ENGINE (flattened batch,
    many segments) and the ORACLE (one segment at a time) produce bitwise
    identical floats — required for knife-edge skip decisions (ub vs hf·θ)
    to agree between the distributed engine and the numpy oracle.
    """
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    out = np.zeros(starts.size, dtype=np.float64)
    nonempty = lens > 0
    if nonempty.any():
        out[nonempty] = np.add.reduceat(
            np.asarray(x, dtype=np.float64), starts[nonempty]
        )
    return out


# ------------------------------------------------------------------- f16 ----


def f32_floor(value: float) -> np.float32:
    """float64 → float32 rounded TOWARD -inf when the nearest-cast rounds up.

    Used for block_max storage: θ is derived as qw·block_max and must never
    exceed the witness doc's true (float64) contribution, or an exact
    boundary block could be wrongly skipped at heap_factor=1.0.  (The u8
    summary codes guard the opposite direction with ceil.)
    """
    v64 = float(value)
    v32 = np.float32(v64)
    if float(v32) > v64:
        v32 = np.nextafter(v32, np.float32(-np.inf))
    return v32


def f16_round_trip(values: np.ndarray) -> np.ndarray:
    """float32 -> float16 -> float32, bit-compatible with f16 value storage."""
    return np.asarray(values, dtype=np.float32).astype(np.float16).astype(np.float32)


def bf16_round_trip(values: np.ndarray) -> np.ndarray:
    """f64 → f32 → bfloat16 (round-to-nearest-even on the low 16 bits) → f64.

    Mirrors the reference's bf16 value storage option
    (build_inverted_index.rs:260-266, TomlInstructions.md:79).  numpy has no
    bf16 dtype, so the rounding is done on the f32 bit pattern directly —
    valid for the positive finite weights this engine stores.
    """
    v = np.asarray(values, dtype=np.float64).astype(np.float32)
    u = v.view(np.uint32)
    r = (u + np.uint32(0x7FFF) + ((u >> np.uint32(16)) & np.uint32(1))) & np.uint32(
        0xFFFF0000
    )
    return r.view(np.float32).astype(np.float64)


def fixed_round_trip(values: np.ndarray, bits: int, scale_max: float) -> np.ndarray:
    """Fixed-point Q0.{bits} value round-trip, max-scaled.

    The reference's FixedU8Q/FixedU16Q (TomlInstructions.md:100-101) assume
    values in [0, 1) — true for SPLADE, not for raw BM25 weights — so this
    engine scales the grid by the corpus-wide max weight (documented
    adaptation): Δ = scale_max / (2^bits - 1), w → round(w/Δ)·Δ, saturating
    at scale_max.  Deterministic and shared with the numpy oracle.
    """
    v = np.asarray(values, dtype=np.float64)
    levels = (1 << bits) - 1
    if scale_max <= 0.0:
        return np.zeros_like(v)
    delta = float(scale_max) / levels
    codes = np.clip(np.floor(v / delta + 0.5), 0, levels)
    return codes * delta


def f16_encode(values: np.ndarray) -> bytes:
    return np.asarray(values, dtype=np.float32).astype(np.float16).tobytes()


def f16_decode(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.float16).astype(np.float32)


# ------------------------------------------------------- u8 quantization ----


def quantize_u8(values: np.ndarray, *, ceil: bool = False) -> tuple[np.ndarray, float, float]:
    """Affine u8 quantization of a value vector.

    Returns ``(codes uint8, minimum, quant)`` with
    ``code = round_or_ceil((v - min) / quant)`` and ``quant = (max-min)/255``
    (utils.rs:68-90 semantics for ``ceil=False``).  With ``ceil=True`` the
    dequantized value always upper-bounds the input, which makes block-max
    skipping exact.
    """
    v64 = np.asarray(values, dtype=np.float64)
    if v64.size == 0:
        return np.empty(0, dtype=np.uint8), 0.0, 0.0
    if ceil:
        # f32 storage must not round any value DOWN (upper-bound contract):
        # up-convert with nextafter where the f32 cast fell below the input.
        v = v64.astype(np.float32)
        below = v.astype(np.float64) < v64
        v = np.where(below, np.nextafter(v, np.float32(np.inf)), v)
    else:
        v = v64.astype(np.float32)
    lo = np.float32(v.min())
    hi = np.float32(v.max())
    quant = np.float32((float(hi) - float(lo)) / 255.0)
    if quant <= 0.0:
        # hi == lo, or (hi-lo)/255 underflowed to an f32 zero (possible only
        # at the subnormal boundary).  All codes collapse to one value; in
        # ceil mode that value must be hi, not lo, or the underflow case
        # would dequantize BELOW the inputs and break the upper-bound
        # contract that makes block skipping exact.
        return np.zeros(v.size, dtype=np.uint8), float(hi if ceil else lo), 0.0
    scaled = (v - lo) / quant
    # nearest mode matches Rust f32::round (half away from zero), utils.rs:86
    codes = np.ceil(scaled) if ceil else np.floor(scaled + np.float32(0.5))
    codes = np.clip(codes, 0, 255).astype(np.uint8)
    if ceil:
        # guard f32 roundoff end-to-end: dequant (in the exact arithmetic the
        # scorer uses) must dominate v; bump codes, then widen quant if the
        # top code still undershoots.
        for _ in range(4):
            deq = dequantize_u8(codes, float(lo), float(quant))
            low = deq < v
            if not low.any():
                break
            bump = low & (codes < 255)
            codes = np.where(bump, codes + 1, codes).astype(np.uint8)
            if (low & (codes == 255)).any():
                quant = np.nextafter(quant, np.float32(np.inf))
    return codes, float(lo), float(quant)


def dequantize_u8(codes: np.ndarray, minimum: float, quant: float) -> np.ndarray:
    """Inverse affine map: ``min + code * quant`` (float32 math)."""
    return (
        np.float32(minimum) + np.asarray(codes, dtype=np.float32) * np.float32(quant)
    ).astype(np.float32)
