"""Round-trip + ratio tests for string codecs and the FSST kernel."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from varint_spark.codecs import fsst, strings
from varint_spark import selector

from fixtures import STR_FIXTURES


def _roundtrip_plain(arr):
    buf = strings.encode_plain(arr)
    out = strings.decode_plain(buf, len(arr))
    assert out.to_pylist() == list(arr)


def _roundtrip_dict(arr):
    buf = strings.encode_dict(arr)
    out = strings.decode_dict(buf, len(arr))
    assert out.to_pylist() == list(arr)


def _roundtrip_fsst(arr):
    res = strings.encode_fsst(arr)
    if res is None:
        pytest.skip("incompressible corpus — fallback path covers it")
    buf, tables = res
    out = strings.decode_fsst(buf, len(arr))
    assert out.to_pylist() == list(arr)
    # reuse path: encoding again with the returned tables round-trips too
    res2 = strings.encode_fsst(arr, reuse_tables=tables)
    if res2 is not None:
        assert strings.decode_fsst(res2[0], len(arr)).to_pylist() == list(arr)


@pytest.mark.parametrize("fixture", list(STR_FIXTURES))
@pytest.mark.parametrize("codec", ["plain", "dict", "fsst"])
def test_str_roundtrip(fixture, codec):
    arr = STR_FIXTURES[fixture]()
    {"plain": _roundtrip_plain, "dict": _roundtrip_dict, "fsst": _roundtrip_fsst}[codec](arr)


def test_str_empty_and_edge():
    for vals in ([], [""], ["", "", ""], ["a"], ["héllo", "", "wörld ✓ 例"]):
        arr = np.array(vals, dtype=object)
        _roundtrip_plain(arr)
        _roundtrip_dict(arr)


def test_fsst_kernel_roundtrip_binaryish():
    rng = np.random.default_rng(3)
    corpus = rng.integers(0, 256, size=50_000, dtype=np.uint8).astype(np.uint8)
    comp = fsst.compress(corpus)
    if comp is not None:  # random bytes usually incompressible → None is correct
        np.testing.assert_array_equal(fsst.decompress(comp), corpus)


def test_fsst_index_cache_is_read_only():
    """Every FSST call shares the cached arange: an in-place write into it
    must raise instead of corrupting later encodes, also after it grows."""
    for n in (10, len(fsst._IDX32) + 1):
        idx = fsst._idx32(n)
        with pytest.raises(ValueError):
            idx[0] = 5
        with pytest.raises(ValueError):
            idx += 1
    np.testing.assert_array_equal(fsst._idx32(10), np.arange(10))


def test_fsst_compresses_text():
    text = ("the quick brown fox jumps over the lazy dog and then " * 2000).encode()
    corpus = np.frombuffer(text, dtype=np.uint8)
    comp = fsst.compress(corpus)
    assert comp is not None and len(comp) < 0.6 * len(corpus)
    np.testing.assert_array_equal(fsst.decompress(comp), corpus)


def test_dict_ratio_roles():
    arr = STR_FIXTURES["roles"]()
    raw = sum(len(s) for s in arr)
    assert len(strings.encode_dict(arr)) < 0.1 * raw


# ---- selector behavior (ref src/varintAdaptiveTest.c:14-119) -----------------

def test_selector_int_expectations():
    import fixtures as fx
    expect = {
        "sorted_timestamps": {"delta", "bp128_delta"},
        "high_repetition": {"dict_int"},
        "tight_cluster": {"for"},
        "long_runs": {"rle_int"},
        "cluster_with_outliers": {"leb128_zz", "for"},
        "random_bitweighted": {"leb128_zz", "plain_int", "for"},
    }
    for name, allowed in expect.items():
        v = fx.INT_FIXTURES[name]()
        blk = selector.encode_int_block(v)
        got = selector.codec_name_of(blk)
        assert got in allowed, (name, got)
        np.testing.assert_array_equal(selector.decode_int_block(blk), v)


def test_selector_cost_gate_never_exceeds_varint_or_plain():
    import fixtures as fx
    from varint_spark.codecs import varint
    for name, fn in fx.INT_FIXTURES.items():
        v = fn()
        blk = selector.encode_int_block(v)
        payload_len = len(blk) - 2 - len(v).bit_length() // 7  # ~header
        assert len(blk) <= varint.encoded_size(v) + 12, name
        assert len(blk) <= 8 * len(v) + 12, name


def test_selector_str_expectations():
    roles = STR_FIXTURES["roles"]()
    blk = selector.encode_str_block(roles)
    assert selector.codec_name_of(blk) == "dict_str"
    assert selector.decode_str_block(blk).to_pylist() == list(roles)

    ids = STR_FIXTURES["high_cardinality_ids"]()
    blk = selector.encode_str_block(ids)
    out = selector.decode_str_block(blk)
    assert out.to_pylist() == list(ids)

    text = STR_FIXTURES["nl_text"]()
    blk = selector.encode_str_block(text)
    raw = sum(len(s.encode()) for s in text)
    assert len(blk) < 0.8 * raw
    assert selector.decode_str_block(blk).to_pylist() == list(text)


def test_all_null_column_roundtrip():
    for typ, kind in ((pa.int64(), "int"), (pa.large_utf8(), "str"), (pa.int64(), "f64")):
        arr = pa.array([None, None, None], type=typ)
        blk = selector.encode_column(arr, kind)
        out = selector.decode_column(blk)
        assert out.to_pylist() == [None, None, None], kind


def test_nullable_column_roundtrip():
    ints = pa.array([1, None, 3, None, 2**62, -5], type=pa.int64())
    blk = selector.encode_column(ints, "int")
    out = selector.decode_column(blk)
    assert out.to_pylist() == ints.to_pylist()

    strs = pa.array(["a", None, "", "bbb", None], type=pa.large_utf8())
    blk = selector.encode_column(strs, "str")
    out = selector.decode_column(blk)
    assert out.to_pylist() == strs.to_pylist()


def test_entropy_gate_skips_fsst_on_random_corpus(monkeypatch):
    """byte_entropy joins the stats pass (the north-star's 'entropy
    stats'): near-random corpora must not pay FSST training (the encode
    hot spot) — no symbol table can win there."""
    import numpy as np
    import pyarrow as pa

    from varint_spark import selector
    from varint_spark.codecs import strings

    rng = np.random.default_rng(31)
    calls = []
    real = strings.encode_fsst

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(strings, "encode_fsst", counting)
    # random printable ASCII, >=100 KB so the bigram estimate is trusted:
    # H1 ~6.55 and H(next|prev) ~= H1 -> nothing for a symbol table to mine
    rand = ["".join(chr(c) for c in rng.integers(33, 127, 60))
            for _ in range(2000)]
    blk = selector.encode_str_block(pa.array(rand, type=pa.large_utf8()))
    assert not calls, "FSST trained on a near-random corpus"
    assert selector.decode_str_block(blk).to_pylist() == rand
    # compressible text still goes through FSST training
    text = ["the quick brown fox jumps over the lazy dog %d" % i
            for i in range(500)]
    selector.encode_str_block(pa.array(text, type=pa.large_utf8()))
    assert calls, "FSST skipped on compressible text"


def test_dict_v0_blocks_rejected_loudly():
    """Pre-sorted-dict (v0) DICT_STR payloads — which started directly
    with the codes sub-block length instead of the sorted-dict marker —
    must raise, not silently mis-answer the bisect-based predicates.
    A v0 payload's first byte is a LEB128 sub-length that can never be
    0x01 (a sub-block is ≥ 2 bytes), so the marker check is airtight."""
    from varint_spark.codecs import blocks as blk
    from varint_spark.codecs import random_access as ra

    arr = pa.array(["b", "a", "b", "c", "a"], type=pa.large_utf8())
    v1 = strings.encode_dict(arr)
    assert v1[0] == strings.DICT_SORTED_V1
    v0 = v1[1:]  # exactly the pre-versioning layout
    with pytest.raises(ValueError, match="sorted-dict"):
        strings.decode_dict(v0, len(arr))
    v0_block = blk.pack_block(blk.DICT_STR, len(arr), v0)
    with pytest.raises(ValueError, match="sorted-dict"):
        ra.str_filter_eq(v0_block, "a")
    # the v1 block still round-trips and answers predicates
    assert strings.decode_dict(v1, len(arr)).to_pylist() == \
        ["b", "a", "b", "c", "a"]
    v1_block = blk.pack_block(blk.DICT_STR, len(arr), v1)
    assert list(ra.str_filter_eq(v1_block, "a")) == \
        [False, True, False, False, True]
