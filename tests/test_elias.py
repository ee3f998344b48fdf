"""Elias gamma stream and DELTA_GAMMA codec tests — mirrors the
reference's boundary suites (reference src/varintElias.c:465-486,647-677:
powers of two and ±1 neighbors incl. 127/128/129 and 65535/65536/65537)."""

from __future__ import annotations

import numpy as np
import pytest

from varint_spark.codecs import blocks, elias

I64_MIN = np.iinfo(np.int64).min


def _rt(v):
    """Gamma stream round trip over zigzag(v)+1, with its exact size."""
    m = elias._zigzag(np.asarray(v, dtype=np.int64)) + np.uint64(1)
    e = elias.encode_stream(m)
    assert len(e) == (elias._stream_size(m) if len(m) else 0)
    np.testing.assert_array_equal(elias.decode_stream(e, len(m)), m)
    return e


def _rt_delta(v):
    v = np.asarray(v, dtype=np.int64)
    e = elias.encode_delta(v)
    assert len(e) == elias.encoded_size_delta(v)
    np.testing.assert_array_equal(elias.decode_delta(e, len(v)), v)
    return e


def test_boundaries_powers_of_two():
    vals = [0, 1, -1]
    for k in range(1, 62):
        vals += [2 ** k - 1, 2 ** k, 2 ** k + 1,
                 -(2 ** k - 1), -(2 ** k), -(2 ** k + 1)]
    vals += [127, 128, 129, 65535, 65536, 65537,
             np.iinfo(np.int64).max, I64_MIN + 1]
    _rt(vals)
    _rt_delta(sorted(vals))


def test_gamma_sizes_are_bit_exact():
    # gamma(m) is 2*bitlen(m)-1 bits; planar layout = [leb unary_bytes]
    # [unary plane: sum(L) bits] [per-length bitpack tails: sum(L-1) bits]
    # zigzag: v=0 -> m=1 (L=1); v=-1 -> m=2 (L=2)
    assert len(_rt(np.zeros(8))) == 1 + 1  # leb + 8×1b unary
    assert len(_rt([-1] * 8)) == 1 + 2 + 1
    assert len(_rt([])) == 0
    # ~1 bit/value asymptotically for all-zero data
    assert len(_rt(np.zeros(65536))) == 2 + 8192  # 2-byte leb


def test_heavy_tailed_beats_fixed_width_and_roundtrips():
    rng = np.random.default_rng(11)
    v = (rng.geometric(0.5, 65536) - 1).astype(np.int64)
    e = _rt(v)
    assert len(e) < 65536  # < 1 byte/value (FOR pays the tail's max width)
    z = np.minimum(rng.zipf(1.5, 20000), 1 << 40).astype(np.int64)
    _rt(z)
    _rt_delta(np.cumsum(z))


def test_empty_single_and_tiny():
    for v in ([], [0], [5], [-3], [0, 0], [1, -1]):
        _rt(v)
        _rt_delta(v)


def test_int64_min_rejected_and_excluded():
    # a wrapped delta that lands exactly on INT64_MIN (zigzag+1 wraps) is
    # rejected loudly, and its sentinel size keeps the gate away from it
    dv = np.array([2 ** 62, 2 ** 62 - 2 ** 63], dtype=np.int64)
    with pytest.raises(ValueError):
        elias.encode_delta(dv)
    assert elias.encoded_size_delta(dv) >= 1 << 62


def test_delta_wrap_domain_invertible():
    # deltas that overflow int64 but wrap consistently must roundtrip
    rng = np.random.default_rng(4)
    v = rng.integers(-(2 ** 62), 2 ** 62, 1000).astype(np.int64) * 2
    if elias.encoded_size_delta(v) < 1 << 62:
        _rt_delta(v)


def test_selector_delta_gamma_on_heavy_tailed_sorted():
    from varint_spark.selector import decode_int_block, encode_int_block

    rng = np.random.default_rng(22)
    # sorted with heavy-tailed gaps: DELTA (LEB128, >= 8 bits/delta) and
    # BP128 (width = block max) both lose to per-delta gamma lengths
    gaps = np.where(rng.random(65536) < 0.98,
                    rng.geometric(0.5, 65536),
                    rng.integers(1 << 20, 1 << 30, 65536)).astype(np.int64)
    v = np.cumsum(gaps)
    blk = encode_int_block(v)
    cid = blocks.unpack_block(blk)[0]
    np.testing.assert_array_equal(decode_int_block(blk), v)
    # NO fixed-width/LEB128 candidate wins, and the block is the
    # per-delta-gamma bitstream plus its header
    assert cid == blocks.DELTA_GAMMA
    assert len(blk) <= elias.encoded_size_delta(v) + 16
