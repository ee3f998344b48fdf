"""Hypothesis property tests: every self-describing block round-trips
bit-identically for arbitrary inputs (the ``encode(decode(x)) == x``
criterion from BASELINE.json, strengthened from fixed fixtures to
generated ones)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from varint_spark.codecs import leb128, segdelta
from varint_spark.selector import (
    decode_column, decode_int_block, decode_str_block, encode_column,
    encode_int_block, encode_str_block,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
U64 = st.integers(min_value=0, max_value=2**64 - 1)


@settings(max_examples=200, deadline=None)
@given(st.lists(U64, max_size=300))
def test_leb128_any_uint64(xs):
    v = np.array(xs, dtype=np.uint64)
    np.testing.assert_array_equal(leb128.decode(leb128.encode(v), len(v)), v)


@settings(max_examples=200, deadline=None)
@given(st.lists(I64, max_size=300))
def test_int_block_any_int64(xs):
    v = np.array(xs, dtype=np.int64)
    blk = encode_int_block(v)
    np.testing.assert_array_equal(decode_int_block(blk), v)
    # cost gate: never beyond plain + header slack
    assert len(blk) <= 8 * len(v) + 16


@settings(max_examples=150, deadline=None)
@given(st.lists(st.text(max_size=40), max_size=120))
def test_str_block_any_strings(xs):
    blk = encode_str_block(np.array(xs, dtype=object))
    assert decode_str_block(blk).to_pylist() == xs


@settings(max_examples=150, deadline=None)
@given(st.lists(st.lists(I64, min_size=1, max_size=30), min_size=1, max_size=20))
def test_segdelta_any_segments(seglists):
    v = np.array([x for seg in seglists for x in seg], dtype=np.int64)
    segs = np.array([len(seg) for seg in seglists], dtype=np.int64)
    buf = segdelta.encode(v, segs)
    np.testing.assert_array_equal(segdelta.decode(buf, len(v)), v)


@settings(max_examples=150, deadline=None)
@given(st.lists(I64, max_size=300), I64)
def test_filter_ge_le_between_any_block(xs, c):
    from varint_spark.codecs import random_access as ra

    v = np.array(xs, dtype=np.int64)
    blk = encode_int_block(v)
    np.testing.assert_array_equal(ra.filter_ge(blk, c), v >= c)
    np.testing.assert_array_equal(ra.filter_le(blk, c), v <= c)
    lo, hi = (c, c + 100) if c <= 2**63 - 101 else (c - 100, c)
    np.testing.assert_array_equal(ra.filter_between(blk, lo, hi),
                                  (v >= lo) & (v <= hi))
    mask = ra.filter_ge(blk, c)
    np.testing.assert_array_equal(ra.take_mask(blk, mask), v[v >= c])


@settings(max_examples=100, deadline=None)
@given(st.lists(U64, max_size=200),
       st.integers(min_value=-1000, max_value=1000))
def test_tagged_add_in_place_any(xs, delta):
    from varint_spark.codecs import tagged

    v = np.array(xs, dtype=np.uint64)
    buf = tagged.encode(v)
    try:
        out, _ = tagged.add_in_place(buf, delta)
    except OverflowError:
        lo = int(v.min()) if len(v) else 0
        hi = int(v.max()) if len(v) else 0
        assert (delta < 0 and lo < -delta) or \
            (delta > 0 and hi + delta >= 1 << 64)
        return
    expect = (v + np.uint64(delta)) if delta >= 0 else (v - np.uint64(-delta))
    np.testing.assert_array_equal(tagged.decode(out) if len(v) else
                                  np.empty(0, np.uint64), expect)
    assert out == tagged.encode(expect)  # canonical after arithmetic


@settings(max_examples=100, deadline=None)
@given(st.lists(U64, max_size=200), st.integers(min_value=1, max_value=8),
       st.booleans())
def test_external_fixed_width_any(xs, width, be):
    from varint_spark.codecs import external

    v = np.array(xs, dtype=np.uint64)
    if len(v) and width < 8 and int(v.max()) >= 1 << (8 * width):
        return  # does-not-fit is covered by the unit test
    buf = external.encode(v, width, big_endian=be)
    np.testing.assert_array_equal(
        external.decode(buf, width, big_endian=be), v)


def _like_ref(pattern: str, s: str, pi: int = 0, si: int = 0) -> bool:
    """Reference SQL-LIKE matcher (recursive, escape=backslash)."""
    if pi == len(pattern):
        return si == len(s)
    ch = pattern[pi]
    if ch == "\\" and pi + 1 < len(pattern):
        return si < len(s) and s[si] == pattern[pi + 1] \
            and _like_ref(pattern, s, pi + 2, si + 1)
    if ch == "%":
        return any(_like_ref(pattern, s, pi + 1, k)
                   for k in range(si, len(s) + 1))
    if ch == "_":
        return si < len(s) and _like_ref(pattern, s, pi + 1, si + 1)
    return si < len(s) and s[si] == ch and _like_ref(pattern, s, pi + 1, si + 1)


@given(st.text(alphabet="ab%_\\", max_size=8),
       st.text(alphabet="ab\n", max_size=8))
@settings(max_examples=300, deadline=None)
def test_like_regex_matches_reference_semantics(pattern, s):
    import re

    from varint_spark.codecs.random_access import like_pattern_to_regex

    got = re.fullmatch(like_pattern_to_regex(pattern), s) is not None
    assert got == _like_ref(pattern, s), (pattern, s)


ASCII = st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=0x7F),
                max_size=20)


@given(ASCII, ASCII)
@settings(max_examples=300, deadline=None)
def test_ascii_increment_is_tight_prefix_bound(prefix, s):
    """Every string with the prefix lies in [prefix, increment(prefix));
    no string below the increment is missed — the zone-prune bound is
    exactly the prefix set's supremum."""
    from varint_spark.engine import _ascii_increment

    hi = _ascii_increment(prefix)
    if s.startswith(prefix):
        assert s >= prefix
        if hi is not None:
            assert s < hi
    # conversely anything >= hi can't carry the prefix
    if hi is not None and s >= hi:
        assert not s.startswith(prefix)


@given(ASCII)
@settings(max_examples=200, deadline=None)
def test_zone_str_min_is_lower_bound(s):
    from varint_spark.engine import ZONE_STR_MAX, _zone_str

    mn, mx = _zone_str(s, True), _zone_str(s, False)
    if mn is not None:
        assert mn <= s and len(mn) <= ZONE_STR_MAX
    if mx is not None:
        assert mx >= s  # stored max never under-bounds


# ---- r6 sidecar/stat kernels -------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.lists(I64, max_size=400))
def test_exact_sum_matches_python_ints(vals):
    import numpy as np
    from varint_spark.engine import _exact_sum

    v = np.array(vals, dtype=np.int64)
    true = sum(int(x) for x in vals)
    got = _exact_sum(v)
    if -(1 << 63) <= true < (1 << 63):
        assert got == true
    else:
        assert got is None  # never a silently wrapped number


@settings(max_examples=100, deadline=None)
@given(st.lists(I64, min_size=1, max_size=300),
       st.lists(I64, max_size=100))
def test_bloom_no_false_negatives_property(members, probes):
    import numpy as np
    from varint_spark import bloom

    mv = np.array(members, dtype=np.int64)
    sc = bloom.build(bloom.hash_ints(mv), bits_per_value=10)
    for x in members:
        assert bloom.might_contain(sc, bloom.probe_hash(int(x), "int64"))
    # probes may be members or not: the only asserted direction is that
    # "definitely absent" is never claimed for a member (checked above)


@settings(max_examples=100, deadline=None)
@given(st.lists(I64, max_size=300), st.lists(I64, max_size=300))
def test_hll_merge_is_union_build(a, b):
    import numpy as np
    from varint_spark import bloom, hll

    av = np.array(a, dtype=np.int64)
    bv = np.array(b, dtype=np.int64)
    sa = hll.build(bloom.hash_ints(av), p=10)
    sb = hll.build(bloom.hash_ints(bv), p=10)
    union = hll.build(bloom.hash_ints(np.concatenate([av, bv])), p=10)
    assert hll.merge(sa, sb) == union == hll.merge(sb, sa)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 65535), st.integers(0, 10000)),
                min_size=1, max_size=300))
def test_pos_block_roundtrip_property(pairs):
    import pyarrow as pa
    from varint_spark.pipeline.textindex import (_encode_pos_group,
                                                 decode_pos_block)

    uniq = sorted(set(pairs))
    lows = [p[0] for p in uniq]
    ps = [p[1] for p in uniq]
    t = pa.table({"token": ["t"] * len(uniq), "shard": [0] * len(uniq),
                  "low": lows, "pos": ps})
    blob = _encode_pos_group(None, t).column("pos_block")[0].as_py()
    docs, counts, pos = decode_pos_block(blob)
    rebuilt = []
    k = 0
    for d, c in zip(docs.tolist(), counts.tolist()):
        for _ in range(c):
            rebuilt.append((d, int(pos[k])))
            k += 1
    assert rebuilt == uniq


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=2000),
       st.sets(st.integers(min_value=0, max_value=1999)))
def test_deletion_vector_mask_property(n, dels):
    """DV roundtrip + mask equivalence for arbitrary offset sets: the
    serialized bitmap reproduces the offsets, apply_dv_mask drops
    exactly them, and OR-merge of any split equals the whole."""
    import pyarrow as pa

    from varint_spark.codecs import bitmap
    from varint_spark.deletes import apply_dv_mask

    dels = sorted(d for d in dels if d < n)
    dv = bitmap.encode(np.array(dels, dtype=np.int64))
    np.testing.assert_array_equal(bitmap.decode(dv), np.array(dels))

    vals = pa.array(np.arange(n, dtype=np.int64))
    [kept] = apply_dv_mask([vals], n, dv)
    want = np.setdiff1d(np.arange(n), np.array(dels, dtype=np.int64))
    np.testing.assert_array_equal(kept.to_numpy(zero_copy_only=False), want)

    # split the offsets arbitrarily: OR of parts == whole, canonically
    half = [d for d in dels if d % 2 == 0]
    other = [d for d in dels if d % 2 == 1]
    merged = bitmap.bitmap_or(bitmap.encode(np.array(half, dtype=np.int64)),
                              bitmap.encode(np.array(other, dtype=np.int64)))
    assert merged == dv


_COLUMN_VALUES = {
    "int": st.one_of(st.none(), I64, st.integers(-300, 300)),
    "f64": st.one_of(st.none(), st.floats(width=64)),
    "str": st.one_of(st.none(), st.text(max_size=24),
                     st.sampled_from(["", "error", "warn", "info"])),
}


@settings(max_examples=120, deadline=None)
@given(st.sampled_from(sorted(_COLUMN_VALUES)).flatmap(
    lambda kind: st.tuples(st.just(kind),
                           st.lists(_COLUMN_VALUES[kind], max_size=80))))
def test_truncated_block_never_decodes(case):
    """A block cut short anywhere must raise from decode_column — never
    decode to a plausible (wrong or short) array."""
    from varint_spark.engine import _col_to_int64

    kind, xs = case
    if kind == "str":
        arr = pa.array(xs, type=pa.large_utf8())
    elif kind == "f64":  # the engine stores f64 as its int64 bit pattern
        arr = _col_to_int64(pa.array(xs, type=pa.float64()), "f64")
    else:
        arr = pa.array(xs, type=pa.int64())
    blk = encode_column(arr, kind)
    assert decode_column(blk).to_pylist() == arr.to_pylist()
    for cut in range(len(blk)):
        with pytest.raises((ValueError, IndexError)):
            decode_column(blk[:cut])
