"""Random access / partial decode parity (ref varintFORGetAt,
varintRLEGetAt, varintDictFind — SURVEY §2.A.5)."""

from __future__ import annotations

import numpy as np
import pytest

from varint_spark.codecs import blocks, random_access
from varint_spark.selector import codec_name_of, decode_int_block, encode_int_block

from fixtures import INT_FIXTURES


@pytest.mark.parametrize("fixture", list(INT_FIXTURES))
def test_get_at_matches_full_decode(fixture):
    v = INT_FIXTURES[fixture]()
    blk = encode_int_block(v)
    full = decode_int_block(blk)
    rng = np.random.default_rng(1)
    for idx in rng.integers(0, len(v), size=25):
        assert random_access.get_at(blk, int(idx)) == int(full[idx]), (fixture, idx)
    # boundaries
    assert random_access.get_at(blk, 0) == int(full[0])
    assert random_access.get_at(blk, len(v) - 1) == int(full[-1])


def test_get_range_for_codec():
    from varint_spark.codecs import foref
    v = INT_FIXTURES["tight_cluster"]()
    blk = blocks.pack_block(blocks.FOR, len(v), foref.encode(v))
    assert codec_name_of(blk) == "for"
    for start, n in [(0, 10), (777, 100), (len(v) - 5, 5), (123, 0)]:
        np.testing.assert_array_equal(random_access.get_range(blk, start, n), v[start : start + n])


def test_get_at_bounds():
    v = INT_FIXTURES["tight_cluster"]()
    blk = encode_int_block(v)
    with pytest.raises(IndexError):
        random_access.get_at(blk, len(v))
    with pytest.raises(IndexError):
        random_access.get_at(blk, -1)


@pytest.mark.parametrize("cid", [4, 7, 12, 14, 15, 30])
def test_retired_or_unassigned_codec_id_raises(cid):
    """Ids 4/7/12/14/15 (PFOR, F64_XOR, ELIAS_GAMMA, ELIAS_DELTA, DOD) are
    retired and 30 was never assigned: a block carrying one, here over a
    valid FOR payload, must fail loudly at every entry point instead of
    decoding to values."""
    from varint_spark.codecs import foref
    from varint_spark.selector import decode_column

    v = np.arange(100, dtype=np.int64)
    blk = bytes([cid]) + blocks.put_uvarint(len(v)) + foref.encode(v)
    calls = [lambda: decode_column(blk), lambda: decode_int_block(blk),
             lambda: random_access.get_at(blk, 0),
             lambda: random_access.get_range(blk, 0, 10),
             lambda: random_access.filter_ge(blk, 50)]
    for call in calls:
        with pytest.raises(ValueError, match=f"unknown or retired codec id {cid}"):
            call()


def test_rle_and_dict_get_range():
    from varint_spark.codecs import dict_codec, rle
    rng = np.random.default_rng(11)
    runs = np.repeat(rng.integers(-5, 5, 300).astype(np.int64), rng.integers(1, 50, 300))
    blk_rle = blocks.pack_block(blocks.RLE_INT, len(runs), rle.encode(runs))
    vals = rng.integers(0, 30, 10_000).astype(np.int64) * 1000
    blk_dict = blocks.pack_block(blocks.DICT_INT, len(vals), dict_codec.encode(vals))
    for blk, ref in [(blk_rle, runs), (blk_dict, vals)]:
        for start, n in [(0, 1), (17, 500), (len(ref) - 3, 3), (42, 0)]:
            np.testing.assert_array_equal(random_access.get_range(blk, start, n),
                                          ref[start:start + n])


# ---- encoded-form predicate evaluation (filter_ge / take_mask) --------------


def _forced_block(mod, cid, v):
    from varint_spark.codecs import blocks as B
    return B.pack_block(cid, len(v), mod.encode(v))


def test_filter_ge_parity_all_codecs():
    from varint_spark import selector
    from varint_spark.codecs import random_access as ra

    rng = np.random.default_rng(7)
    cases = [
        rng.integers(1000, 5000, 4000, dtype=np.int64),             # FOR
        np.where(rng.random(4000) < 0.01,
                 rng.integers(0, 1 << 40, 4000, dtype=np.int64),
                 rng.integers(1000, 2000, 4000, dtype=np.int64)),   # outliers
        np.int64(1e12) + np.cumsum(rng.integers(-50, 60, 4000,
                                                dtype=np.int64)),   # BP128
        np.repeat(rng.integers(-5, 5, 100, dtype=np.int64), 40),    # RLE
        rng.choice(np.array([3, -9, 77, 1 << 33], dtype=np.int64),
                   4000),                                           # DICT
        rng.integers(-10**9, 10**9, 4000, dtype=np.int64),
    ]
    for v in cases:
        blk = selector.encode_int_block(v)
        for c in [int(v.min()) - 1, int(v.min()), int(np.median(v)),
                  int(v.max()), int(v.max()) + 1, 0, -1]:
            mask = ra.filter_ge(blk, c)
            assert np.array_equal(mask, v >= c), (selector.codec_name_of(blk), c)
            assert np.array_equal(ra.take_mask(blk, mask), v[v >= c])


def test_filter_ge_nullable_rows_are_false():
    import pyarrow as pa

    from varint_spark import selector
    from varint_spark.codecs import random_access as ra

    vals = pa.array([1, None, 5, 7, None, 2], type=pa.int64())
    blk = selector.encode_column(vals, "int")
    assert ra.filter_ge(blk, 3).tolist() == [False, False, True, True, False, False]


def test_filter_ge_never_fully_decodes(monkeypatch):
    """The VERDICT r3 #4 guarantee: for FOR/BP128/RLE/DICT the
    predicate and the masked gather run on the encoded form — the full
    block decoder is never invoked. The DELTA fallback (inherently
    sequential) proves the monkeypatch actually bites."""
    import pytest

    from varint_spark import selector
    from varint_spark.codecs import blocks as B, bp128, delta, foref
    from varint_spark.codecs import random_access as ra

    def boom(*a, **k):
        raise AssertionError("full block decode invoked")

    monkeypatch.setattr(selector, "decode_int_block", boom)

    rng = np.random.default_rng(11)
    sorted_vals = np.sort(rng.integers(0, 10**7, 4096, dtype=np.int64))
    for mod, cid in [(foref, B.FOR), (bp128, B.BP128_DELTA)]:
        blk = _forced_block(mod, cid, sorted_vals)
        c = int(np.median(sorted_vals))
        mask = ra.filter_ge(blk, c)
        assert np.array_equal(mask, sorted_vals >= c)
        assert np.array_equal(ra.take_mask(blk, mask), sorted_vals[sorted_vals >= c])

    blk = _forced_block(delta, B.DELTA, sorted_vals)
    with pytest.raises(AssertionError, match="full block decode"):
        ra.filter_ge(blk, 5)


def test_bp128_filter_unpacks_only_straddling_blocks(monkeypatch):
    """Sorted data, c at the midpoint: the per-block header bounds resolve
    almost every 128-block without touching its data bytes."""
    from varint_spark.codecs import bp128

    unpacked = []
    real = bp128._unpack_rows

    def counting(data, w, c):
        unpacked.append(1)
        return real(data, w, c)

    monkeypatch.setattr(bp128, "_unpack_rows", counting)
    v = np.arange(0, 4096 * 1000, 1000, dtype=np.int64)  # sorted, width ~11
    payload = bp128.encode(v)
    c = int(v[len(v) // 2])
    mask = bp128.filter_ge(payload, len(v), c)
    assert np.array_equal(mask, v >= c)
    n_blocks = (len(v) + 127) // 128
    assert len(unpacked) < n_blocks // 4, (len(unpacked), n_blocks)


def test_filter_le_and_between_parity():
    from varint_spark import selector
    from varint_spark.codecs import random_access as ra

    rng = np.random.default_rng(13)
    for v in [rng.integers(1000, 5000, 3000, dtype=np.int64),
              np.int64(1e12) + np.cumsum(rng.integers(-50, 60, 3000,
                                                      dtype=np.int64)),
              rng.integers(-10**9, 10**9, 3000, dtype=np.int64)]:
        blk = selector.encode_int_block(v)
        lo, hi = int(np.percentile(v, 25)), int(np.percentile(v, 75))
        assert np.array_equal(ra.filter_le(blk, hi), v <= hi)
        assert np.array_equal(ra.filter_between(blk, lo, hi),
                              (v >= lo) & (v <= hi))
        assert np.array_equal(ra.filter_between(blk, None, hi), v <= hi)
        assert np.array_equal(ra.filter_between(blk, lo, None), v >= lo)
        assert ra.filter_le(blk, np.iinfo(np.int64).max).all()


def test_filter_le_nullable_rows_stay_false():
    import pyarrow as pa

    from varint_spark import selector
    from varint_spark.codecs import random_access as ra

    vals = pa.array([1, None, 5, 7, None, 2], type=pa.int64())
    blk = selector.encode_column(vals, "int")
    # the ~ge complement must not flip null rows to True
    assert ra.filter_le(blk, 4).tolist() == [True, False, False, False, False, True]
    assert ra.filter_between(blk, 2, 6).tolist() == \
        [False, False, True, False, False, True]


def test_decode_blocks_where_rejects_non_integer_filter_col(spark):
    import pytest

    from varint_spark import transcripts
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    df = transcripts.generate_spark(spark, n_conversations=5, n_hot=0)
    blocks = encode_transcripts(df, EncodeOptions(num_buckets=2,
                                                  chunk_rows=256,
                                                  salt_span=4096))
    with pytest.raises(ValueError, match="integer/timestamp"):
        decode_blocks_where(blocks, transcripts.TRANSCRIPT_DDL, "text", 5)


def test_filter_bounds_outside_int64_domain():
    from varint_spark import selector
    from varint_spark.codecs import random_access as ra

    import pyarrow as pa

    v = np.array([-5, 0, 7, np.iinfo(np.int64).max,
                  np.iinfo(np.int64).min + 1], dtype=np.int64)
    blk = selector.encode_int_block(v)
    assert not ra.filter_ge(blk, 1 << 70).any()
    assert ra.filter_ge(blk, -(1 << 70)).all()
    assert ra.filter_le(blk, 1 << 70).all()
    assert ra.filter_between(blk, -(1 << 70), 1 << 70).all()
    # nullable: out-of-domain bounds still exclude null rows
    nblk = selector.encode_column(
        pa.array([1, None, 5], type=pa.int64()), "int")
    assert ra.filter_ge(nblk, -(1 << 70)).tolist() == [True, False, True]


def test_decode_blocks_where_empty_after_prune(spark):
    """A predicate nothing satisfies: every chunk mask empties, the result
    is zero rows with the right schema."""
    from varint_spark import transcripts
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    df = transcripts.generate_spark(spark, n_conversations=5, n_hot=0)
    blocks = encode_transcripts(df, EncodeOptions(num_buckets=2,
                                                  chunk_rows=256,
                                                  salt_span=4096))
    out = decode_blocks_where(blocks, "conv_id string, turn_idx int",
                              "turn_idx", 10**9,
                              columns=["conv_id", "turn_idx"])
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["conv_id", "turn_idx"]


def test_str_filter_eq_dict_path_never_decodes_corpus(monkeypatch):
    """DICT_STR equality must be answered from the dictionary + code
    stream alone: the string-block decoder (which would expand the
    corpus) is monkeypatched to prove it is never called; PLAIN blocks
    legitimately fall back (guard proves the patch bites)."""
    import pyarrow as pa
    import pytest

    from varint_spark import selector
    from varint_spark.codecs import random_access as ra

    vals = (["en"] * 40 + ["de"] * 30 + ["fr"] * 30) * 5
    blk = selector.encode_column(pa.array(vals, type=pa.large_utf8()), "str")
    assert "dict_str" in selector.codec_name_of(blk)

    def boom(*a, **k):
        raise AssertionError("string block decoded")

    monkeypatch.setattr(selector, "decode_str_block", boom)
    got = ra.str_filter_eq(blk, "de")
    assert got.tolist() == [v == "de" for v in vals]
    assert not ra.str_filter_eq(blk, "absent").any()  # dict-only answer
    # unique strings -> plain/fsst block -> fallback decodes
    uniq = [f"unique string value {i:05d}" for i in range(200)]
    ublk = selector.encode_column(pa.array(uniq, type=pa.large_utf8()), "str")
    with pytest.raises(AssertionError, match="string block decoded"):
        ra.str_filter_eq(ublk, uniq[0])
    monkeypatch.undo()
    assert ra.str_filter_eq(ublk, uniq[3]).tolist() == \
        [v == uniq[3] for v in uniq]


def test_decode_blocks_where_str_eq(spark):
    import pytest

    from varint_spark import transcripts
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    df = transcripts.generate_spark(spark, n_conversations=30, n_hot=0)
    blocks = encode_transcripts(df, EncodeOptions(num_buckets=4,
                                                  chunk_rows=512,
                                                  salt_span=4096))
    out = decode_blocks_where(blocks, "conv_id string, role string",
                              "role", None, columns=["conv_id", "role"],
                              eq="assistant")
    want = df.filter("role = 'assistant'").count()
    assert out.count() == want
    assert {r.role for r in out.collect()} == {"assistant"}
    with pytest.raises(ValueError, match="string column"):
        decode_blocks_where(blocks, "conv_id string, turn_idx int",
                            "turn_idx", None, columns=["conv_id", "turn_idx"],
                            eq="x")


def test_str_filter_prefix_and_in_never_decode_corpus(monkeypatch):
    """Prefix and IN-list over DICT_STR must be answered from the sorted
    dictionary (lower/upper bound) + int range-compares of the code
    stream; the corpus decoder is patched to prove it never runs. The
    fixture includes multibyte strings: Arrow's sort and Python's bisect
    must agree (UTF-8 bytewise order == code-point order)."""
    import pyarrow as pa
    import pytest

    from varint_spark import selector
    from varint_spark.codecs import random_access as ra

    base = ["en", "en-US", "enx", "e", "de", "fr", "és", "é", "zh"]
    vals = base * 40

    blk = selector.encode_column(pa.array(vals, type=pa.large_utf8()), "str")
    assert "dict_str" in selector.codec_name_of(blk)

    def boom(*a, **k):
        raise AssertionError("string block decoded")

    monkeypatch.setattr(selector, "decode_str_block", boom)
    for p in ["en", "e", "é", "", "qq", "en-US-x"]:
        got = ra.str_filter_prefix(blk, p)
        assert got.tolist() == [v.startswith(p) for v in vals], p
    for probe in [["de", "zh"], ["en", "en-US", "enx"], ["absent"], [],
                  ["é", "absent", "fr"]]:
        got = ra.str_filter_in(blk, probe)
        assert got.tolist() == [v in probe for v in vals], probe
    # corpus-structured blocks legitimately fall back (patch bites)
    uniq = [f"unique string value {i:05d}" for i in range(200)]
    ublk = selector.encode_column(pa.array(uniq, type=pa.large_utf8()), "str")
    with pytest.raises(AssertionError, match="string block decoded"):
        ra.str_filter_prefix(ublk, "unique")
    monkeypatch.undo()
    assert ra.str_filter_prefix(ublk, "unique string value 0000").sum() == 10
    assert ra.str_filter_in(ublk, [uniq[3], uniq[7]]).sum() == 2


def test_str_filter_shared_dict_encoded_form(monkeypatch):
    """DICT_STR_SHARED blocks (codes against the broadcast sorted dict)
    take the same encoded-form path when the shared tables are at hand —
    the dictionary is never stored in the block, so only the codes
    sub-block is touched."""
    import pyarrow as pa

    from varint_spark import selector
    from varint_spark.codecs import blocks, random_access as ra, strings

    vals = (["alpha"] * 5 + ["beta"] * 3 + ["gamma"] * 2) * 30
    dict_arr = pa.array(sorted(set(vals)), type=pa.large_utf8())
    digest = "0123456789abcdef"
    payload = strings.encode_dict_shared(
        pa.array(vals, type=pa.large_utf8()), digest, dict_arr,
        selector.encode_int_block)
    blk = blocks.pack_block(blocks.DICT_STR_SHARED, len(vals), payload)
    shared_col = (digest, dict_arr, None)

    def boom(*a, **k):
        raise AssertionError("string block decoded")

    monkeypatch.setattr(selector, "decode_str_block", boom)
    assert ra.str_filter_eq(blk, "beta", shared_col).tolist() == \
        [v == "beta" for v in vals]
    assert ra.str_filter_prefix(blk, "ga", shared_col).tolist() == \
        [v.startswith("ga") for v in vals]
    assert ra.str_filter_in(blk, ["alpha", "gamma"], shared_col).tolist() == \
        [v in ("alpha", "gamma") for v in vals]


def test_decode_blocks_where_str_prefix_and_in(spark):
    import pytest

    from varint_spark import transcripts
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    df = transcripts.generate_spark(spark, n_conversations=30, n_hot=0)
    blocks = encode_transcripts(df, EncodeOptions(num_buckets=4,
                                                  chunk_rows=512,
                                                  salt_span=4096))
    out = decode_blocks_where(blocks, "conv_id string, role string",
                              "role", None, columns=["conv_id", "role"],
                              prefix="assis")
    assert out.count() == df.filter("role LIKE 'assis%'").count()
    assert {r.role for r in out.collect()} == {"assistant"}

    out = decode_blocks_where(blocks, "conv_id string, role string",
                              "role", None, columns=["conv_id", "role"],
                              isin=["user", "system"])
    assert out.count() == df.filter("role IN ('user', 'system')").count()
    assert {r.role for r in out.collect()} == {"user", "system"}

    with pytest.raises(ValueError, match="at most one"):
        decode_blocks_where(blocks, "conv_id string, role string",
                            "role", None, columns=["conv_id", "role"],
                            eq="user", prefix="use")


def test_like_pattern_to_regex():
    import re

    from varint_spark.codecs.random_access import like_pattern_to_regex

    def m(pattern, s):
        return re.fullmatch(like_pattern_to_regex(pattern), s) is not None

    assert m("abc", "abc") and not m("abc", "abcd")
    assert m("a%c", "abbbc") and m("a%c", "ac") and not m("a%c", "acb")
    assert m("a_c", "abc") and not m("a_c", "abbc")
    assert m("%1%", "src1") and m("%1%", "src14") and not m("%1%", "src2")
    # escape guards the wildcard; dot and friends are literal
    assert m(r"100\%", "100%") and not m(r"100\%", "1000")
    assert m("a.c", "a.c") and not m("a.c", "abc")
    # wildcards cross newlines (SQL DOTALL semantics)
    assert m("a%c", "a\nc") and m("a_c", "a\nc")


def test_str_filter_like_never_decodes_corpus(monkeypatch):
    """General LIKE over DICT_STR is answered by matching the pattern
    against the dictionary entries only + code-stream range compares —
    the corpus decoder is patched to prove it never runs. Contains and
    suffix shapes (which no sorted-range bound can serve) included."""
    import pyarrow as pa
    import pytest
    import re

    from varint_spark import selector
    from varint_spark.codecs import random_access as ra
    from varint_spark.codecs.random_access import like_pattern_to_regex

    base = ["src1", "src10", "src14", "src2", "src21", "en-US", "é", "zh"]
    vals = base * 40
    blk = selector.encode_column(pa.array(vals, type=pa.large_utf8()), "str")
    assert "dict_str" in selector.codec_name_of(blk)

    def boom(*a, **k):
        raise AssertionError("string block decoded")

    monkeypatch.setattr(selector, "decode_str_block", boom)
    for p in ["%1%", "%4", "src_", "s%1", "_", "%", "nomatch%x", ""]:
        rx = re.compile(like_pattern_to_regex(p))
        got = ra.str_filter_like(blk, p)
        assert got.tolist() == [rx.fullmatch(v) is not None for v in vals], p
    # corpus-structured blocks legitimately fall back (patch bites)
    uniq = [f"unique string value {i:05d}" for i in range(200)]
    ublk = selector.encode_column(pa.array(uniq, type=pa.large_utf8()), "str")
    with pytest.raises(AssertionError, match="string block decoded"):
        ra.str_filter_like(ublk, "%value 0000%")
    monkeypatch.undo()
    assert ra.str_filter_like(ublk, "%value 0000%").sum() == 10
    assert ra.str_filter_like(ublk, "%00003").sum() == 1


def test_decode_blocks_where_str_like(spark):
    from varint_spark import transcripts
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    df = transcripts.generate_spark(spark, n_conversations=30, n_hot=0)
    blocks = encode_transcripts(df, EncodeOptions(num_buckets=4,
                                                  chunk_rows=512,
                                                  salt_span=4096))
    out = decode_blocks_where(blocks, "conv_id string, role string",
                              "role", None, columns=["conv_id", "role"],
                              like="%ss%")
    assert out.count() == df.filter("role LIKE '%ss%'").count()
    assert {r.role for r in out.collect()} == {"assistant"}
