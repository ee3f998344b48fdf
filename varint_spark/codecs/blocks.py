"""Self-describing encoded block format.

Mirrors the reference's adaptive container (reference
src/varintAdaptive.h:20-21, src/varintAdaptive.c:325-327): a 1-byte codec
tag followed by codec payload, so decode needs only the block bytes.

Layout (all integers LEB128 unless noted)::

    block     := [codec_id: 1 byte][count: leb128][payload]
    sub_block := [byte_length: leb128][bytes]      # nested blocks inside payloads

Codec ids (int codecs operate on int64 logical values; string codecs on
arrays of utf-8 strings) are listed below. Ids 4 (PFOR), 7 (F64_XOR),
12 (ELIAS_GAMMA), 14 (ELIAS_DELTA) and 15 (DOD) are retired, never reuse:
on no input did one of them save 0.5% of the bytes
(``scripts/codec_census.py``). A block carrying a retired or unassigned id
fails to unpack with ``ValueError``; it never decodes to values.
"""

from __future__ import annotations

import numpy as np

from . import leb128

# --- codec ids (tag byte) --------------------------------------------------
# integer codecs
PLAIN_INT = 0   # fixed 8-byte little-endian int64
LEB128_ZZ = 1   # per-value zigzag+LEB128 varint stream (the reference-faithful path)
DELTA = 2       # first value + zigzag+LEB128 deltas   (ref src/varintDelta.c)
FOR = 3         # frame-of-reference min + bit-packed offsets (ref src/varintFOR.c)
RLE_INT = 5     # run lengths + run values              (ref src/varintRLE.c)
DICT_INT = 6    # sorted unique values + packed indices (ref src/varintDict.c)
SEG_DELTA = 8   # per-segment delta (prevValue threading, ref src/varintBP128.c:347-427)
F64_LOSSY = 9   # lossy sign/exp/mantissa split, precision modes (ref src/varintFloat.h:27-114)
BP128_DELTA = 10  # 128-value blocks, per-block width + first (ref src/varintBP128.c:167-214)
MATRIX_F32 = 11   # fixed-dim f32 matrix (embeddings): column-major f64lossy planes
#                   (ref src/varintDimension.h:30-56 pair header + src/varintFloat.h:27-114)
DELTA_GAMMA = 13  # first + gamma-coded zigzag deltas (gamma where it pays: tiny heavy-tailed deltas)
# string codecs
PLAIN_STR = 16  # LEB128 lengths + concatenated utf-8 bytes
DICT_STR = 17   # codes int-block + dictionary PLAIN_STR block
FSST_STR = 18   # LEB128 lengths + symbol-table-compressed corpus
DICT_STR_SHARED = 19  # codes int-block against a broadcast dictionary
FSST_STR_SHARED = 20  # lengths + corpus compressed with broadcast FSST tables
# wrapper
NULLABLE = 31   # [null bitmap][inner block over non-null values]

CODEC_NAMES = {
    PLAIN_INT: "plain_int",
    LEB128_ZZ: "leb128_zz",
    DELTA: "delta",
    FOR: "for",
    RLE_INT: "rle_int",
    DICT_INT: "dict_int",
    SEG_DELTA: "seg_delta",
    F64_LOSSY: "f64_lossy",
    BP128_DELTA: "bp128_delta",
    MATRIX_F32: "matrix_f32",
    DELTA_GAMMA: "delta_gamma",
    PLAIN_STR: "plain_str",
    DICT_STR: "dict_str",
    FSST_STR: "fsst_str",
    DICT_STR_SHARED: "dict_str_shared",
    FSST_STR_SHARED: "fsst_str_shared",
    NULLABLE: "nullable",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

INT_CODECS = (PLAIN_INT, LEB128_ZZ, DELTA, FOR, RLE_INT, DICT_INT, SEG_DELTA,
              F64_LOSSY, BP128_DELTA, DELTA_GAMMA)
STR_CODECS = (PLAIN_STR, DICT_STR, FSST_STR, DICT_STR_SHARED, FSST_STR_SHARED)


def put_uvarint(x: int) -> bytes:
    """Encode one unsigned int as LEB128 (header helper)."""
    return leb128.encode(np.array([x], dtype=np.uint64))


def take_uvarint(buf: memoryview | bytes, pos: int) -> tuple[int, int]:
    """Read one LEB128 uint starting at ``pos`` -> (value, new_pos)."""
    x = 0
    shift = 0
    while True:
        # int() coercion: when buf is an np.uint8 ndarray, numpy-scalar
        # arithmetic would wrap values >= 2**63 to negative int64; Python
        # ints keep the accumulation exact for any buffer type.
        b = int(buf[pos])
        pos += 1
        x |= (b & 0x7F) << shift
        if not (b & 0x80):
            return x, pos
        shift += 7
        if shift > 63:
            raise ValueError("uvarint too long")


def pack_block(codec_id: int, count: int, payload: bytes) -> bytes:
    return bytes([codec_id]) + put_uvarint(count) + payload


def unpack_block(buf: bytes | memoryview) -> tuple[int, int, memoryview]:
    """block bytes -> (codec_id, count, payload view)."""
    mv = memoryview(buf)
    codec_id = mv[0]
    if codec_id not in CODEC_NAMES:
        raise ValueError(f"unknown or retired codec id {codec_id}")
    count, pos = take_uvarint(mv, 1)
    return codec_id, count, mv[pos:]


def put_sub(payload: bytes) -> bytes:
    return put_uvarint(len(payload)) + payload


def take_sub(buf: memoryview, pos: int) -> tuple[memoryview, int]:
    n, pos = take_uvarint(buf, pos)
    return buf[pos : pos + n], pos + n
