"""Elias gamma stream and the DELTA_GAMMA codec built on it — a
universal bit-level code for heavy-tailed tiny-value streams.

Parity with the reference's Elias coder (reference src/varintElias.c:88-226
gamma bit emission over a uint64 bitstream writer): a value ``m ≥ 1``
with bit length L is coded in 2L-1 bits — L-1 zeros announcing the length,
then the L bits of ``m`` (MSB first).

Where it pays in this engine: successive deltas of timestamp/turn-index
and sorted-key columns are mostly tiny with a heavy tail, where fixed
widths pay the tail's max and the plain DELTA codec's LEB128 floor is 8
bits/value, while gamma reaches 1. The cost gate keeps it honest
everywhere else.

Layout deviation (deliberate, documented): the reference interleaves each
code's unary prefix with its mantissa in one bitstream, which forces a
sequential (or pointer-doubling) scan to find code boundaries — measured
at ~2 MB/s decode in numpy, unacceptable. This codec stores the SAME
gamma code PLANAR, like our RLE's planar run streams:

    [unary_bytes: leb128]
    [unary plane: 0^(L0-1) 1 0^(L1-1) 1 ...]      sum(L) bits, byte-padded
    [mantissa tails grouped by bit length:        sum(L-1) bits total
       bitpack(tails of L=2, width 1) bitpack(tails of L=3, width 2) ...]

Identical information, same bit count (2L-1 per value + per-group byte
padding, ≤63 B/block worst case), but all bit I/O goes through the
optimized fixed-width ``bitpack`` kernels: decode is one ``unpackbits``
for the lengths (gaps between unary ones) + one ``bitpack.unpack`` per
DISTINCT length — the decoder recovers each group's membership from the
unary plane alone. Its BitWriter survives as bitpack, exactly as SURVEY
§2 planned.

``DELTA_GAMMA`` block payload: [first: 8 B LE] + planar gamma over
zigzag(delta)+1 of the successive deltas.

A wrapped delta of INT64_MIN (zigzag 2^64-1 → m overflow) is rejected
loudly; the exact sizer returns a sentinel 2^62 so the cost gate never
picks such a chunk.
"""

from __future__ import annotations

import numpy as np

from . import bitpack, blocks

_U64 = np.uint64


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> _U64(1)).view(np.int64)) ^ -(u & _U64(1)).view(np.int64)


_SMALL_BITLEN = np.array([max(i.bit_length(), 0) for i in range(256)],
                         dtype=np.int64)


def _bitlen(m: np.ndarray) -> np.ndarray:
    """Exact bit length of uint64 m ≥ 1. frexp's exponent e is either the
    true bit length b or b+1 (the f64 conversion rounds up across a power
    of two for m ≥ 2^53) — one uint64 compare settles it exactly. Byte-
    range inputs (the length-of-lengths stream is always ≤ 64) take a
    256-entry lookup instead of the float round trip."""
    if len(m) and m.max() < _U64(256):
        return _SMALL_BITLEN[m.astype(np.int64)]
    e = np.frexp(m.astype(np.float64))[1].astype(np.int64)
    shift = np.minimum(e, 64) - 1  # e==65 only for m near 2^64: bitlen 64
    over = m < (_U64(1) << shift.astype(np.uint64))
    return np.where(over, e - 1, np.minimum(e, 64))


def _length_groups(L: np.ndarray):
    """ONE stable argsort -> [(Lv, contiguous index slice)] in ascending
    length order, original order preserved within each group — the same
    groups (same bytes) the old per-unique ``m[L == Lv]`` masking built,
    but without an O(n) pass per distinct length (35 distinct lengths on
    the octave fixture made that the slowest kernel in BENCH; this is the
    leb128 width-bucket layout applied here). Bit lengths fit uint8,
    where numpy's stable sort is a radix sort — ~17× the int64 path."""
    order = np.argsort(L.astype(np.uint8), kind="stable")
    Ls = L[order]
    bounds = np.flatnonzero(np.diff(Ls)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(L)]])
    return order, [(int(Ls[s]), slice(int(s), int(e)))
                   for s, e in zip(starts, ends)]


def _pack_tails(m: np.ndarray, L: np.ndarray, parts: list) -> None:
    """Append the mantissa-tail planes (grouped by bit length, ascending)
    to ``parts``."""
    order, groups = _length_groups(L)
    ms = m[order]
    for Lv, sl in groups:
        if Lv == 1:
            continue  # the leading 1 is implied; no tail bits
        tails = ms[sl] & ((_U64(1) << _U64(Lv - 1)) - _U64(1))
        parts.append(bitpack.pack(tails, Lv - 1))


def _unpack_tails(mv: memoryview, pos: int, L: np.ndarray, count: int
                  ) -> np.ndarray:
    """Inverse of _pack_tails: rebuild the values from the grouped tail
    planes with ONE stable argsort + inverse scatter (no per-length
    full-array masking)."""
    m = np.empty(count, dtype=np.uint64)
    order, groups = _length_groups(L)
    ms = np.empty(count, dtype=np.uint64)
    for Lv, sl in groups:
        c = sl.stop - sl.start
        if Lv == 1:
            ms[sl] = 1
            continue
        nb = bitpack.packed_size(c, Lv - 1)
        tails = bitpack.unpack(
            np.frombuffer(mv[pos:pos + nb], dtype=np.uint8), Lv - 1, c)
        pos += nb
        ms[sl] = (_U64(1) << _U64(Lv - 1)) | tails.view(np.uint64)
    m[order] = ms
    return m


def encode_stream(m: np.ndarray) -> bytes:
    """uint64 values (all ≥ 1) -> planar gamma bitstream.

    The mantissa plane is grouped by bit length (ascending): within a
    group every tail has the same fixed width Lv-1, so the existing
    ``bitpack`` kernels do all bit I/O — no per-bit Python loops. The
    decoder recovers the grouping from the unary plane alone (group
    membership = which values have L == Lv, in original order)."""
    n = len(m)
    if n == 0:
        return b""
    L = _bitlen(m)
    # unary plane: a 1 at the END of each L-bit run
    u_ends = np.cumsum(L)
    u_bits = np.zeros(int(u_ends[-1]), dtype=bool)
    u_bits[u_ends - 1] = True
    unary = np.packbits(u_bits).tobytes()
    parts = [blocks.put_uvarint(len(unary)), unary]
    _pack_tails(m, L, parts)
    return b"".join(parts)


def decode_stream(buf: bytes | memoryview, count: int) -> np.ndarray:
    """planar gamma bitstream -> uint64 values (fully vectorized: one
    unpackbits for the lengths, one bitpack.unpack per distinct length)."""
    if count == 0:
        return np.empty(0, dtype=np.uint64)
    mv = memoryview(buf)
    u_nbytes, pos = blocks.take_uvarint(mv, 0)
    u_bits = np.unpackbits(np.frombuffer(mv[pos:pos + u_nbytes], dtype=np.uint8))
    ones = np.flatnonzero(u_bits)[:count]
    L = np.diff(ones, prepend=-1)  # gap between unary terminators = bitlen
    return _unpack_tails(mv, pos + u_nbytes, L, count)


_OVERFLOW = np.uint64(0xFFFFFFFFFFFFFFFF)  # zigzag(INT64_MIN): m would wrap


def _stream_size(m: np.ndarray) -> int:
    """Exact bytes of encode_stream(m)."""
    L = _bitlen(m)
    sum_l = int(L.sum())
    u_nbytes = (sum_l + 7) // 8
    total = len(blocks.put_uvarint(u_nbytes)) + u_nbytes
    counts = np.bincount(L, minlength=66)
    for Lv in range(2, 65):
        c = int(counts[Lv])
        if c:
            total += bitpack.packed_size(c, Lv - 1)
    return total


def _wrap_deltas(v: np.ndarray) -> np.ndarray:
    """Successive deltas in the uint64 wrap domain (always invertible)."""
    u = v.view(np.uint64)
    return (u[1:] - u[:-1]).view(np.int64)


def encode_delta(v: np.ndarray) -> bytes:
    """int64 values -> [first 8 B LE][planar gamma of zigzag'd deltas]."""
    v = np.ascontiguousarray(v, dtype=np.int64)
    first = v[:1].tobytes()
    if len(v) <= 1:
        return first
    zz = _zigzag(_wrap_deltas(v))
    if zz.max() == _OVERFLOW:
        raise ValueError("elias delta-gamma: a wrapped delta hit INT64_MIN")
    return first + encode_stream(zz + _U64(1))


def decode_delta(buf: bytes | memoryview, count: int) -> np.ndarray:
    if count == 0:
        return np.empty(0, dtype=np.int64)
    mv = memoryview(buf)
    first = np.frombuffer(mv[:8], dtype=np.int64)
    if count == 1:
        return first.copy()
    d = _unzigzag(decode_stream(mv[8:], count - 1) - _U64(1))
    out = np.empty(count, dtype=np.uint64)
    out[0] = first.view(np.uint64)[0]
    np.cumsum(d.view(np.uint64), out=out[1:])
    out[1:] += out[0]
    return out.view(np.int64)


def encoded_size_delta(v: np.ndarray, zzd: np.ndarray | None = None) -> int:
    """``zzd``: optional precomputed zigzag of the wrap-domain successive
    deltas (== zigzag of ``np.diff(v)``, two's-complement wrap)."""
    v = np.ascontiguousarray(v, dtype=np.int64)
    if len(v) == 0:
        return 0
    if len(v) == 1:
        return 8
    zz = zzd if zzd is not None else _zigzag(_wrap_deltas(v))
    if zz.max() == _OVERFLOW:
        return 1 << 62
    return 8 + _stream_size(zz + _U64(1))
