"""Lossy float codec — IEEE-754 sign/exponent/mantissa decomposition with
precision modes and an error-bounded auto-selector.

Mirrors the reference float codec (reference src/varintFloat.h:27-114
precision modes FULL/HIGH/MEDIUM/LOW = 52/23/10/4 mantissa bits;
round-to-nearest mantissa truncation src/varintFloat.c:111-128;
special-value bitmap src/varintFloat.c:221-254; error-bound auto-selection
thresholds src/varintFloat.c:568-596). Tests mirror
reference src/varintFloatTest.c round-trip-within-bound suites.

Differences (documented, deliberate): the exponent always keeps its full
value range (the reference narrows to 8/5 exponent bits in HIGH..LOW
modes, clipping range); rounding is applied to the whole bit pattern so a
mantissa carry propagates into the exponent exactly as IEEE ulp
arithmetic does. The reference's INDEPENDENT / COMMON_EXPONENT /
DELTA_EXPONENT encoding modes (src/varintFloat.h:96-114) are SUBSUMED
rather than ported: signs and exponents are nested self-describing int
blocks run through the adaptive selector, so constant-magnitude data gets
RLE (≈0 bits — the COMMON_EXPONENT case), drifting sensor series get
delta/FOR (the DELTA_EXPONENT case), and adversarial data falls back to
bit-packing — chosen by exact cost, not by a caller-supplied mode flag.

Payload layout (after the standard [codec_id][count] block header)::

    [precision: 1]
    [special bitmap: packbits(count)]      NaN/Inf/zero/subnormal positions
    [special bit patterns: 8B LE each]     stored exact (lossless)
    [signs:      sub-block(adaptive int)]  n_normal 0/1 values
    [exponents:  sub-block(adaptive int)]  n_normal biased exponents
    [mantissas:  packbits(n_normal, mbits)] (random bits: fixed stride)

Operates on int64 *bit patterns* (the engine's f64 convention).
This codec never enters the automatic cost gate: lossless stays the
default; lossy is an explicit opt-in (EncodeOptions.f64_precision).
"""

from __future__ import annotations

import numpy as np

from . import bitpack, blocks

PRECISIONS = {"full": 52, "high": 23, "medium": 10, "low": 4}
_PRECISION_IDS = {"full": 0, "high": 1, "medium": 2, "low": 3}
_ID_PRECISIONS = {v: k for k, v in _PRECISION_IDS.items()}

_U64 = np.uint64
_EXP_MASK = _U64(0x7FF)
_MANT_MASK = _U64((1 << 52) - 1)


def max_relative_error(precision: str) -> float:
    """2^-mantissa_bits (reference varintFloatPrecisionMaxRelativeError)."""
    return 2.0 ** -PRECISIONS[precision]


def select_precision(max_rel_error: float) -> str:
    """Error-bounded auto-selection — same thresholds as the reference's
    varintFloatEncodeAuto (src/varintFloat.c:581-589)."""
    if max_rel_error < 1e-10:
        return "full"
    if max_rel_error < 5e-4:
        return "high"
    if max_rel_error < 0.03:
        return "medium"
    return "low"


def _special_mask(bits: np.ndarray) -> np.ndarray:
    """NaN/Inf (exp=0x7FF) and zero/subnormal (exp=0) are stored exact."""
    exp = (bits.view(np.uint64) >> _U64(52)) & _EXP_MASK
    return (exp == _EXP_MASK) | (exp == _U64(0))


def encode(bits: np.ndarray, precision: str = "medium") -> bytes:
    """int64 IEEE-754 bit patterns -> lossy payload."""
    mbits = PRECISIONS[precision]
    shift = 52 - mbits
    b = np.ascontiguousarray(bits, dtype=np.int64).view(np.uint64)
    n = len(b)
    special = _special_mask(b)
    normal = b[~special]
    if shift:
        # round-to-nearest on the whole pattern: a mantissa carry
        # propagates into the exponent like any IEEE ulp increment.
        # Saturate the carry at exponent 0x7FE: rounding a near-DBL_MAX
        # mantissa up must not overflow a finite input into 0x7FF
        # (Inf/NaN) — truncate those patterns instead (error is still
        # < 1 ulp at mbits, within the documented 2^-mbits bound).
        keep = ~_U64((1 << shift) - 1)
        rounded = (normal + _U64(1 << (shift - 1))) & keep
        overflow = ((rounded >> _U64(52)) & _EXP_MASK) == _EXP_MASK
        if overflow.any():
            rounded[overflow] = normal[overflow] & keep
        normal = rounded
    from ..selector import encode_int_block  # lazy: selector imports us

    sign = (normal >> _U64(63)).astype(np.int64)
    exp = ((normal >> _U64(52)) & _EXP_MASK).astype(np.int64)
    mant = ((normal & _MANT_MASK) >> _U64(shift)).astype(np.int64)
    parts = [
        bytes([_PRECISION_IDS[precision]]),
        bitpack.pack(special.astype(np.int64), 1),
        b[special].tobytes(),
        blocks.put_sub(encode_int_block(sign)),
        blocks.put_sub(encode_int_block(exp)),
        bitpack.pack(mant, mbits) if mbits else b"",
    ]
    return b"".join(parts)


def decode(buf: bytes | memoryview, count: int) -> np.ndarray:
    """Lossy payload -> int64 bit patterns of the reconstructed doubles."""
    mv = memoryview(buf)
    precision = _ID_PRECISIONS[mv[0]]
    mbits = PRECISIONS[precision]
    shift = 52 - mbits
    pos = 1
    if count == 0:
        return np.empty(0, dtype=np.int64)
    sb = bitpack.packed_size(count, 1)
    special = bitpack.unpack(np.frombuffer(mv[pos:pos + sb], dtype=np.uint8), 1, count).astype(bool)
    pos += sb
    n_special = int(special.sum())
    specials = np.frombuffer(mv[pos:pos + 8 * n_special], dtype=np.uint64)
    pos += 8 * n_special
    from ..selector import decode_int_block  # lazy: selector imports us

    n_norm = count - n_special
    sign_sub, pos = blocks.take_sub(mv, pos)
    sign = decode_int_block(sign_sub)
    exp_sub, pos = blocks.take_sub(mv, pos)
    exp = decode_int_block(exp_sub)
    if mbits:
        mant = bitpack.unpack(np.frombuffer(mv[pos:pos + bitpack.packed_size(n_norm, mbits)], dtype=np.uint8), mbits, n_norm)
    else:
        mant = np.zeros(n_norm, dtype=np.int64)
    normal = ((sign.view(np.uint64) << _U64(63))
              | (exp.view(np.uint64) << _U64(52))
              | (mant.view(np.uint64) << _U64(shift)))
    out = np.empty(count, dtype=np.uint64)
    out[special] = specials
    out[~special] = normal
    return out.view(np.int64)


# sub-block codecs with no O(1) point access: decoded once per lookup batch
_SEQUENTIAL_SUBS = (blocks.DELTA, blocks.SEG_DELTA, blocks.LEB128_ZZ,
                    blocks.DELTA_GAMMA)


def get_positions(buf: bytes | memoryview, count: int,
                  positions: np.ndarray) -> np.ndarray:
    """Bit patterns at the given positions WITHOUT decoding the planes —
    the per-entry access path (reference varintDimensionGetEntry is O(1)
    in every mode, src/varintDimension.c:131-353). Costs one O(count/8)-
    byte specials-bitmap rank scan plus O(len(positions)) point lookups:
    sign/exponent come from their adaptive sub-blocks via
    random_access.get_at, the mantissa from a fixed-stride bit slice —
    the mantissa plane (the bulk of the payload) is never unpacked."""
    from . import random_access

    mv = memoryview(buf)
    precision = _ID_PRECISIONS[mv[0]]
    mbits = PRECISIONS[precision]
    shift = 52 - mbits
    pos = 1
    sb = bitpack.packed_size(count, 1)
    special = bitpack.unpack(np.frombuffer(mv[pos:pos + sb], dtype=np.uint8),
                             1, count).astype(bool)
    pos += sb
    n_special = int(special.sum())
    specials = np.frombuffer(mv[pos:pos + 8 * n_special], dtype=np.uint64)
    pos += 8 * n_special
    sign_sub, pos = blocks.take_sub(mv, pos)
    exp_sub, pos = blocks.take_sub(mv, pos)
    mant_buf = np.frombuffer(mv[pos:], dtype=np.uint8)
    cum = np.cumsum(special)  # specials in [0..q] inclusive
    p = np.asarray(positions, dtype=np.int64)
    out = np.empty(len(p), dtype=np.uint64)
    is_spec = special[p]
    if is_spec.any():
        out[is_spec] = specials[cum[p[is_spec]] - 1]
    norm_p = p[~is_spec]
    if len(norm_p):
        ranks = norm_p - cum[norm_p]  # rank among normals

        def sub_lookup(sub):
            # sequential codecs (gamma/delta streams) decode the small
            # sub-plane ONCE for all ranks; random-access codecs answer
            # each rank in O(1)
            if sub[0] in _SEQUENTIAL_SUBS:
                from ..selector import decode_int_block
                return decode_int_block(sub)[ranks]
            return np.array([random_access.get_at(sub, int(r)) for r in ranks],
                            dtype=np.int64)

        s = sub_lookup(sign_sub).astype(np.uint64)
        e = sub_lookup(exp_sub).astype(np.uint64)
        if mbits:
            m = np.array([int(random_access._unpack_range(mant_buf, mbits,
                                                          int(r), 1)[0])
                          for r in ranks], dtype=np.uint64)
        else:
            m = np.zeros(len(ranks), dtype=np.uint64)
        out[~is_spec] = (s << _U64(63)) | (e << _U64(52)) | (m << _U64(shift))
    return out.view(np.int64)


def encoded_size(bits: np.ndarray, precision: str = "medium") -> int:
    """Exact (the nested sign/exponent blocks are built to be sized, like
    segdelta — this codec never enters the analytic cost-gate sweep)."""
    return len(encode(bits, precision))


def encode_block(bits: np.ndarray, precision: str = "medium") -> bytes:
    """Self-describing block (codec id F64_LOSSY)."""
    return blocks.pack_block(blocks.F64_LOSSY, len(bits), encode(bits, precision))


def encode_block_auto(bits: np.ndarray, max_rel_error: float) -> bytes:
    """EncodeAuto analog: pick the cheapest precision whose max relative
    error stays under ``max_rel_error``."""
    return encode_block(bits, select_precision(max_rel_error))
