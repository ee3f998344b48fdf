"""FOR (frame-of-reference) + bit-pack codec for int64 arrays.

The ``turn_idx`` codec: subtract the chunk minimum, bit-pack the offsets at
the minimal width. Mirrors the reference's FOR layout
``[min][offset_width][count][offsets]`` (reference src/varintFOR.c:94-116)
with bit-granular widths like BP128 (src/varintBP128.c:102-132) instead of
byte-granular, and LEB128 headers.

Payload: ``[min: zigzag-leb128][bit_width: 1 byte][packed offsets]``.
Supports O(1) random access in principle (fixed stride per value), like
``varintFORGetAt`` (src/varintFOR.c:182-201).
"""

from __future__ import annotations

import numpy as np

from . import bitpack, blocks, leb128, zigzag


def _offsets(v: np.ndarray) -> tuple[int, np.ndarray]:
    """(min, wrapped unsigned offsets). Two's-complement wrap-around keeps
    v - min correct for the full int64 domain (range < 2**64 always)."""
    mn = int(v.min())
    offs = v.view(np.uint64) - np.int64(mn).astype(np.uint64)
    return mn, offs


def encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return b""
    mn, offs = _offsets(v)
    width = bitpack.bits_needed(int(offs.max()))
    header = leb128.encode(zigzag.encode(np.array([mn], dtype=np.int64))) + bytes([width])
    return header + bitpack.pack(offs, width)


def decode(buf: memoryview | bytes, count: int) -> np.ndarray:
    if count == 0:
        return np.empty(0, dtype=np.int64)
    mv = memoryview(buf)
    mn_zz, pos = blocks.take_uvarint(mv, 0)
    mn = int(zigzag.decode(np.array([mn_zz], dtype=np.uint64))[0])
    width = mv[pos]
    offs = bitpack.unpack(np.frombuffer(mv[pos + 1 :], dtype=np.uint8), width, count)
    return (offs + np.int64(mn).astype(np.uint64)).view(np.int64)


def encoded_size(values: np.ndarray, mn_offs=None) -> int:
    """``mn_offs``: optional precomputed ``(min, offsets)`` from
    :func:`_offsets` — the selector reuses the min it already computed."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return 0
    mn, offs = mn_offs if mn_offs is not None else _offsets(v)
    width = bitpack.bits_needed(int(offs.max()))
    zz = int(zigzag.encode(np.array([mn], dtype=np.int64))[0])
    return int(leb128.encoded_sizes(np.array([zz], dtype=np.uint64))[0]) + 1 + bitpack.packed_size(len(v), width)
