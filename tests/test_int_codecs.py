"""Round-trip + boundary + ratio tests for the integer codec kernels.

Mirrors the reference's per-codec suites (reference src/varintDeltaTest.c,
src/varintFORTest.c, src/varintDictTest.c,
src/varintCompare.c mass round-trip)."""

from __future__ import annotations

import numpy as np
import pytest

from varint_spark.codecs import bitpack, delta, dict_codec, foref, leb128, plain, rle, varint, zigzag

from fixtures import INT_FIXTURES, empty_and_single

INT_CODECS = {
    "plain": (plain.encode_int, plain.decode_int),
    "varint": (varint.encode, varint.decode),
    "delta": (delta.encode, delta.decode),
    "for": (foref.encode, foref.decode),
    "rle": (rle.encode, rle.decode),
    "dict": (dict_codec.encode, dict_codec.decode),
}


# ---- leb128 kernel ----------------------------------------------------------

def test_leb128_boundaries():
    vals = [0, 1]
    for k in range(1, 10):
        b = 1 << (7 * k)
        vals += [b - 1, b, b + 1]
    vals += [2**64 - 1, 2**63, 2**63 - 1]
    v = np.array(vals, dtype=np.uint64)
    buf = leb128.encode(v)
    np.testing.assert_array_equal(leb128.decode(buf, len(v)), v)
    # canonical sizes: 2^(7k) needs k+1 bytes, 2^(7k)-1 needs k
    sizes = leb128.encoded_sizes(v)
    assert sizes[0] == 1 and sizes[1] == 1
    for i, k in enumerate(range(1, 10)):
        lo, hi = sizes[2 + 3 * i], sizes[2 + 3 * i + 1]
        assert lo == k and hi == k + 1, (k, lo, hi)
    assert sizes[-3] == 10  # 2^64-1
    assert sizes[-2] == 10  # 2^63
    assert sizes[-1] == 9   # 2^63-1


def test_leb128_random_mass():
    rng = np.random.default_rng(7)
    raw = rng.integers(0, 2**63, size=200_000, dtype=np.uint64)
    nbits = rng.integers(0, 65, size=200_000)
    mask = np.where(nbits >= 64, np.uint64(2**64 - 1), (np.uint64(1) << np.minimum(nbits, 63).astype(np.uint64)) - np.uint64(1))
    v = raw & mask
    buf = leb128.encode(v)
    assert len(buf) == int(leb128.encoded_sizes(v).sum())
    np.testing.assert_array_equal(leb128.decode(buf, len(v)), v)


def test_leb128_empty():
    assert leb128.encode(np.empty(0, dtype=np.uint64)) == b""
    assert len(leb128.decode(b"")) == 0


def test_leb128_interop_stdlib():
    """Cross-check against a trivial per-value python reference encoder."""
    def py_leb(x: int) -> bytes:
        out = bytearray()
        while True:
            b = x & 0x7F
            x >>= 7
            if x:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    vals = [0, 1, 127, 128, 300, 2**32, 2**64 - 1]
    expect = b"".join(py_leb(x) for x in vals)
    got = leb128.encode(np.array(vals, dtype=np.uint64))
    assert got == expect


def test_zigzag():
    v = np.array([0, -1, 1, -2, 2, 2**62, -(2**62), 2**63 - 1, -(2**63)], dtype=np.int64)
    u = zigzag.encode(v)
    assert list(u[:5]) == [0, 1, 2, 3, 4]
    np.testing.assert_array_equal(zigzag.decode(u), v)


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 31, 32, 33, 63, 64])
def test_bitpack_roundtrip(width):
    rng = np.random.default_rng(width)
    n = 1001
    if width == 0:
        v = np.zeros(n, dtype=np.uint64)
    elif width == 64:
        v = rng.integers(0, 2**63, size=n, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    else:
        v = rng.integers(0, 2**width, size=n, dtype=np.uint64)
    buf = bitpack.pack(v, width)
    assert len(buf) == bitpack.packed_size(n, width)
    np.testing.assert_array_equal(bitpack.unpack(buf, width, n), v)


@pytest.mark.parametrize("n", [1, 127, 128, 129, 255, 256, 1000])
def test_bitpack_block_boundary_sizes(n):
    rng = np.random.default_rng(n)
    v = rng.integers(0, 2**20, size=n, dtype=np.uint64)
    np.testing.assert_array_equal(bitpack.unpack(bitpack.pack(v, 20), 20, n), v)


# ---- all codecs × all fixtures round-trip ------------------------------------

@pytest.mark.parametrize("codec", list(INT_CODECS))
@pytest.mark.parametrize("fixture", list(INT_FIXTURES))
def test_roundtrip(codec, fixture):
    enc, dec = INT_CODECS[codec]
    v = INT_FIXTURES[fixture]()
    out = dec(enc(v), len(v))
    np.testing.assert_array_equal(out, v)
    assert out.dtype == np.int64


@pytest.mark.parametrize("codec", list(INT_CODECS))
def test_empty_and_single(codec):
    enc, dec = INT_CODECS[codec]
    for v in empty_and_single():
        np.testing.assert_array_equal(dec(enc(v), len(v)), v)


# ---- compression-ratio floors (ref src/varintDeltaTest.c:143-148,
#      src/varintAdaptiveTest.c:301-306) ---------------------------------------

def test_delta_ratio_sorted_timestamps():
    # µs-resolution: deltas ≤ 60e6 → ≤4B zigzag-leb128 → ≥1.9× (ref asserts ≥2.0×
    # at second resolution, src/varintAdaptiveTest.c:301-306 — checked below)
    v = INT_FIXTURES["sorted_timestamps"]()
    assert len(delta.encode(v)) < v.nbytes / 1.9
    secs = v // 1_000_000  # second resolution: deltas 1-60 → 1 byte each → ~8×
    assert len(delta.encode(secs)) < secs.nbytes / 6


def test_for_ratio_tight_cluster():
    v = INT_FIXTURES["tight_cluster"]()
    assert len(foref.encode(v)) < 0.13 * v.nbytes  # 8-bit offsets vs 64-bit raw ≈ 8×


def test_dict_ratio_high_repetition():
    v = INT_FIXTURES["high_repetition"]()
    assert len(dict_codec.encode(v)) < 0.1 * v.nbytes


def test_rle_ratio_long_runs():
    v = INT_FIXTURES["long_runs"]()
    assert len(rle.encode(v)) < 0.05 * v.nbytes


def test_analytic_sizes_match():
    for name, fn in INT_FIXTURES.items():
        v = fn()
        assert varint.encoded_size(v) == len(varint.encode(v)), name
        assert delta.encoded_size(v) == len(delta.encode(v)), name
        if len(v):
            assert foref.encoded_size(v) == len(foref.encode(v)), name
            assert rle.encoded_size(v) == len(rle.encode(v)), name
            assert dict_codec.encoded_size(v) == len(dict_codec.encode(v)), name


def test_f64_column_selection_and_roundtrip():
    import pyarrow as pa
    from varint_spark import selector
    rng = np.random.default_rng(10)
    # smooth series: several codecs compete on the bit patterns (FOR,
    # delta, bp128) — the gate must pick something that beats raw by >20%
    vals = np.cumsum(rng.normal(0, 0.001, size=5000)) + 50.0
    blk = selector.encode_column(pa.array(vals.view(np.int64)), "f64")
    assert selector.codec_name_of(blk) in ("for", "delta", "bp128_delta")
    assert len(blk) < 0.8 * vals.nbytes
    out = selector.decode_column(blk).to_numpy(zero_copy_only=False)
    np.testing.assert_array_equal(out.astype(np.int64), vals.view(np.int64))

    # gate guarantee on sign-alternating magnitudes (two bit-pattern
    # clusters 2^63 apart): never larger than the plain or LEB128 floor
    mags = 100.0 + rng.normal(0, 1e-12, size=5000)
    alt = mags * np.where(np.arange(5000) % 2 == 0, 1.0, -1.0)
    bits = alt.view(np.int64)
    blk = selector.encode_column(pa.array(bits), "f64")
    floor = min(bits.nbytes, varint.encoded_size(bits))
    assert len(blk) <= floor + 16
    out = selector.decode_column(blk).to_numpy(zero_copy_only=False)
    np.testing.assert_array_equal(out.astype(np.int64), bits)


def test_segdelta_roundtrip_and_wins_on_segmented_ts():
    from varint_spark.codecs import segdelta, foref, delta
    rng = np.random.default_rng(11)
    # 50 conversations, monotonic µs ts inside, random bases across
    segs = rng.integers(5, 60, size=50).astype(np.int64)
    parts = []
    for L in segs:
        base = np.int64(1.7e15) + rng.integers(0, 30 * 86_400_000_000)
        parts.append(base + np.cumsum(rng.integers(1_000_000, 60_000_000, L)))
    v = np.concatenate(parts).astype(np.int64)
    buf = segdelta.encode(v, segs)
    np.testing.assert_array_equal(segdelta.decode(buf, len(v)), v)
    # beats FOR on this shape. The absolute segment starts widen the nested
    # stream and no nested codec patches them out, so plain delta can be
    # smaller here; the gate keeps whichever is smaller
    assert len(buf) < foref.encoded_size(v)
    from varint_spark.selector import encode_int_block
    blk = encode_int_block(v, segments=segs)
    assert len(blk) <= min(len(buf), delta.encoded_size(v)) + 3
    # turn_idx shape: contiguous 0..L-1 per segment → nested RLE collapses it
    tix = np.concatenate([np.arange(L, dtype=np.int64) for L in segs])
    btix = segdelta.encode(tix, segs)
    np.testing.assert_array_equal(segdelta.decode(btix, len(tix)), tix)
    assert len(btix) < 0.02 * tix.nbytes
    # edge: single segment == plain delta semantics
    one = np.array([5, 7, 6, 100], dtype=np.int64)
    b1 = segdelta.encode(one, np.array([4]))
    np.testing.assert_array_equal(segdelta.decode(b1, 4), one)


def test_segdelta_gcd_scale_detection():
    from varint_spark.codecs import segdelta
    rng = np.random.default_rng(12)
    # second-precision timestamps stored as µs: every value a 1e6 multiple
    segs = np.array([200, 300], dtype=np.int64)
    secs = np.concatenate([
        np.int64(1_700_000_000) + np.cumsum(rng.integers(1, 61, 200)),
        np.int64(1_700_999_999) + np.cumsum(rng.integers(1, 61, 300)),
    ])
    us = secs * 1_000_000
    b_us = segdelta.encode(us, segs)
    np.testing.assert_array_equal(segdelta.decode(b_us, len(us)), us)
    b_s = segdelta.encode(secs, segs)
    # scale detection: µs-stored data costs ≈ the same as second-stored
    assert len(b_us) <= len(b_s) + 16


def test_segdelta_int64_min_scale_clamp():
    """All-INT64_MIN stream: |x| overflows np.abs, gcd would be negative —
    the clamp must fall back to scale=1 and still round-trip exactly."""
    from varint_spark.codecs import segdelta
    v = np.full(16, np.iinfo(np.int64).min, dtype=np.int64)
    buf = segdelta.encode(v, np.array([16]))
    np.testing.assert_array_equal(segdelta.decode(buf, 16), v)
    # mixed segment boundaries too
    v2 = np.array([np.iinfo(np.int64).min, 0, np.iinfo(np.int64).max], dtype=np.int64)
    b2 = segdelta.encode(v2, np.array([1, 2]))
    np.testing.assert_array_equal(segdelta.decode(b2, 3), v2)


def test_take_uvarint_ndarray_buffer_huge_value():
    """take_uvarint must accumulate in Python ints: an np.uint8 buffer with
    a value >= 2**63 would otherwise wrap to negative int64."""
    from varint_spark.codecs import blocks
    for x in (2**63, 2**63 + 5, 2**64 - 1, 127, 128, 2**56):
        enc = blocks.put_uvarint(x)
        for buf in (enc, memoryview(enc), np.frombuffer(enc, dtype=np.uint8)):
            got, pos = blocks.take_uvarint(buf, 0)
            assert got == x and pos == len(enc), (x, type(buf))


def test_bp128_roundtrip_and_block_boundaries():
    """128-value block codec (ref src/varintBP128.c:167-214): sizes
    straddling block boundaries (ref test family src/varintBP128.c:1051)."""
    from varint_spark.codecs import bp128
    rng = np.random.default_rng(31)
    for n in [1, 2, 127, 128, 129, 255, 256, 257, 1024, 1000, 12345]:
        v = np.int64(1.7e15) + np.cumsum(rng.integers(0, 1000, n, dtype=np.int64))
        buf = bp128.encode(v)
        assert len(buf) == bp128.encoded_size(v), n
        np.testing.assert_array_equal(bp128.decode(buf, n), v, str(n))
    # negative deltas + extremes
    v = np.array([0, -5, 10, np.iinfo(np.int64).min, np.iinfo(np.int64).max] * 60,
                 dtype=np.int64)
    buf = bp128.encode(v)
    np.testing.assert_array_equal(bp128.decode(buf, len(v)), v)


def test_bp128_beats_delta_on_bitpackable_deltas():
    """Deltas needing ~10 bits: LEB128 pays 2 bytes each, BP128 packs
    10 bits — the codec's reason to exist: the cost gate picks it rather
    than pay LEB128's byte-granular price."""
    from varint_spark.codecs import bp128, delta
    from varint_spark.selector import codec_name_of, decode_int_block, encode_int_block
    rng = np.random.default_rng(32)
    v = np.cumsum(rng.integers(200, 1000, 50_000, dtype=np.int64))
    assert bp128.encoded_size(v) < 0.8 * delta.encoded_size(v)
    blk = encode_int_block(v)
    assert codec_name_of(blk) == "bp128_delta"
    assert len(blk) <= bp128.encoded_size(v) + 16
    np.testing.assert_array_equal(decode_int_block(blk), v)


def test_bp128_get_range_touches_only_covering_blocks():
    from varint_spark.codecs import bp128
    rng = np.random.default_rng(33)
    v = np.cumsum(rng.integers(0, 500, 10_000, dtype=np.int64))
    buf = bp128.encode(v)
    spans = [(0, 1), (127, 2), (128, 128), (9999, 1), (5000, 300), (0, 10_000)]
    spans += [(int(s), int(n)) for s, n in
              zip(rng.integers(0, 9000, 15), rng.integers(1, 700, 15))]
    for start, n in spans:
        np.testing.assert_array_equal(bp128.get_range(buf, len(v), start, n),
                                      v[start:start + n], (start, n))


def test_candidate_list_never_drops_for():
    """ADVICE r3: when the run/cardinality/sorted branches all fire, the
    candidate list must still include FOR (an earlier [:5] cap silently
    dropped it exactly then)."""
    from varint_spark import selector

    s = selector.IntStats(count=1000, min=0, max=1 << 40, is_sorted=True,
                          run_ratio=0.1, unique_ratio=0.01, avg_delta=1.0)
    cands = selector.candidate_int_codecs(s)
    assert selector.FOR in cands
    assert {selector.RLE_INT, selector.DICT_INT, selector.DELTA,
            selector.BP128_DELTA, selector.DELTA_GAMMA} <= set(cands)


def test_external_fixed_width_roundtrip_and_be_sortability():
    """External fixed-width (ref varintExternal / varintExternalBigEndian):
    roundtrip at every width, LE castability, and the BE property — for a
    fixed width, memcmp order of encoded bytes == numeric order."""
    import numpy as np

    from varint_spark.codecs import external

    rng = np.random.default_rng(29)
    for width in range(1, 9):
        hi = (1 << (8 * width)) - 1
        v = rng.integers(0, hi, 200, dtype=np.uint64) if width < 8 else \
            rng.integers(0, 1 << 62, 200, dtype=np.int64).view(np.uint64)
        v[:3] = [0, 1, hi if width < 8 else (1 << 63)]
        for be in (False, True):
            buf = external.encode(v, width, big_endian=be)
            assert len(buf) == width * len(v)
            out = external.decode(buf, width, big_endian=be)
            np.testing.assert_array_equal(out, v)
        # LE castability: width-8 LE bytes ARE the native array
        if width == 8:
            assert external.encode(v, 8) == v.tobytes()
        # BE sortability at fixed width
        be_buf = external.encode(v, width, big_endian=True)
        keys = [be_buf[i * width:(i + 1) * width] for i in range(len(v))]
        order_bytes = sorted(range(len(v)), key=lambda i: keys[i])
        order_vals = np.argsort(v, kind="stable")
        assert [int(v[i]) for i in order_bytes] == \
            [int(v[i]) for i in order_vals]
    assert external.minimal_width(np.array([0], dtype=np.uint64)) == 1
    assert external.minimal_width(np.array([255, 256], dtype=np.uint64)) == 2
    import pytest
    with pytest.raises(ValueError):
        external.encode(np.array([256], dtype=np.uint64), 1)


def test_sizers_shared_context_matches_standalone():
    """The r7 selector computes diff/offset/zigzag planes once and passes
    them to the sizers; the precomputed-arg forms must stay exactly equal
    to the standalone formulas on every regime, or the cost gate's
    exact-size contract silently drifts."""
    from varint_spark.codecs import delta, elias, foref, leb128, rle, varint, zigzag
    from varint_spark.codecs.foref import _offsets

    rng = np.random.default_rng(11)
    n = 4096
    regimes = {
        "seq": np.arange(n, dtype=np.int64) * 3 + 7,
        "noise": rng.integers(-2**62, 2**62, n),
        "outliers": np.where(rng.random(n) < 0.01,
                             rng.integers(0, 2**50, n),
                             rng.integers(0, 100, n)).astype(np.int64),
        "runs": np.repeat(rng.integers(0, 5, 64), n // 64).astype(np.int64),
        "octaves": (np.int64(1) << rng.integers(0, 62, n).astype(np.int64)),
        "negative": -rng.integers(0, 2**40, n),
        "extreme": np.where(np.arange(n) % 977 == 0, -2**63,
                            np.arange(n) % 17).astype(np.int64),
    }
    for name, v in regimes.items():
        v = np.ascontiguousarray(v, dtype=np.int64)
        with np.errstate(over="ignore"):
            deltas_p = np.diff(v, prepend=np.int64(0))
        diffs = deltas_p[1:]
        zzv = zigzag.encode(v)
        zz_sizes = leb128.encoded_sizes(zzv)
        mo = _offsets(v)
        starts = np.concatenate([[0], np.flatnonzero(diffs != 0) + 1]).astype(np.int64)
        assert varint.encoded_size(v) == varint.encoded_size(v, zz_sizes=zz_sizes), name
        assert delta.encoded_size(v) == delta.encoded_size(v, deltas=deltas_p), name
        assert delta.encode(v) == delta.encode(v, deltas=deltas_p), name
        assert foref.encoded_size(v) == foref.encoded_size(v, mn_offs=mo), name
        assert rle.encoded_size(v) == rle.encoded_size(v, starts=starts), name
        assert elias.encoded_size_delta(v) == \
            elias.encoded_size_delta(v, zzd=zigzag.encode(diffs)), name
