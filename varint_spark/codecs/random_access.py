"""Random access into encoded blocks without full decode.

Parity with the reference's partial-decode surface (SURVEY §2.A.5):

* FOR — O(1) per value, fixed bit stride (``varintFORGetAt``,
  reference src/varintFOR.c:182-201)
* RLE — O(runs) cumulative-length search (``varintRLEGetAt``,
  src/varintRLE.c:226)
* DICT — O(1) index + dictionary entry
* PLAIN — O(1)

plus range (slice) decode for FOR — the building block for decoding only
the blocks/rows a predicate selects ("decode only needed blocks",
``varintFORDecodeBlock`` src/varintFOR.c:597).
"""

from __future__ import annotations

import numpy as np

from . import bitpack, blocks, delta, leb128, zigzag
from .blocks import (BP128_DELTA, DELTA, DELTA_GAMMA, DICT_INT, FOR, LEB128_ZZ,
                     PLAIN_INT, RLE_INT, SEG_DELTA)


def _unpack_range(buf: np.ndarray, width: int, start: int, n: int) -> np.ndarray:
    """Bit-exact slice of a packed array: unpack only the covering bytes."""
    if n == 0 or width == 0:
        return np.zeros(n, dtype=np.uint64)
    bit0 = start * width
    byte0 = bit0 // 8
    byte1 = (bit0 + n * width + 7) // 8
    bits = np.unpackbits(buf[byte0:byte1], bitorder="little")
    lead = bit0 - byte0 * 8
    bits = bits[lead : lead + n * width].reshape(n, width).astype(np.uint64)
    shifts = np.arange(width, dtype=np.uint64)
    return (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)


def for_get_range(payload: memoryview | bytes, count: int, start: int, n: int) -> np.ndarray:
    """FOR payload -> values[start:start+n] (O(n), touches only n*width bits)."""
    mv = memoryview(payload)
    mn_zz, pos = blocks.take_uvarint(mv, 0)
    mn = int(zigzag.decode(np.array([mn_zz], dtype=np.uint64))[0])
    width = mv[pos]
    body = np.frombuffer(mv[pos + 1 :], dtype=np.uint8)
    offs = _unpack_range(body, width, start, n)
    return (offs + np.int64(mn).astype(np.uint64)).view(np.int64)


def rle_get_range(payload: memoryview | bytes, count: int, start: int, n: int) -> np.ndarray:
    """RLE values[start:start+n] via cumulative run lengths (O(runs) header
    scan, O(n) output — no full expansion)."""
    mv = memoryview(payload)
    n_runs, pos = blocks.take_uvarint(mv, 0)
    rest = np.frombuffer(mv[pos:], dtype=np.uint8)
    term = (rest & 0x80) == 0
    ends = np.flatnonzero(term)
    len_end = int(ends[n_runs - 1]) + 1
    lengths = leb128.decode(rest[:len_end], n_runs).astype(np.int64)
    cum = np.cumsum(lengths)
    first = int(np.searchsorted(cum, start, side="right"))
    last = int(np.searchsorted(cum, start + n - 1, side="right")) if n else first
    vals = zigzag.decode(leb128.decode(rest[len_end:], n_runs))
    span = np.repeat(vals[first: last + 1], lengths[first: last + 1])
    span_start = int(cum[first - 1]) if first else 0
    return span[start - span_start: start - span_start + n].astype(np.int64)


def dict_get_range(payload: memoryview | bytes, count: int, start: int, n: int) -> np.ndarray:
    """DICT values[start:start+n]: slice the packed code stream, gather
    from the (decoded) dictionary — touches n*width bits of codes."""
    mv = memoryview(payload)
    n_uniq, pos = blocks.take_uvarint(mv, 0)
    rest = np.frombuffer(mv[pos:], dtype=np.uint8)
    term = (rest & 0x80) == 0
    ends = np.flatnonzero(term)
    dict_end = int(ends[n_uniq - 1]) + 1
    uniq = delta.decode(rest[:dict_end], n_uniq)
    width = int(rest[dict_end])
    if width == 0:
        return np.full(n, uniq[0], dtype=np.int64)
    codes = _unpack_range(rest[dict_end + 1:], width, start, n).astype(np.int64)
    return uniq[codes].astype(np.int64)


def rle_get_at(payload: memoryview | bytes, count: int, idx: int) -> int:
    """RLE payload -> value at idx via cumulative run lengths (O(runs))."""
    mv = memoryview(payload)
    n_runs, pos = blocks.take_uvarint(mv, 0)
    rest = np.frombuffer(mv[pos:], dtype=np.uint8)
    term = (rest & 0x80) == 0
    ends = np.flatnonzero(term)
    len_end = int(ends[n_runs - 1]) + 1
    lengths = leb128.decode(rest[:len_end], n_runs).astype(np.int64)
    cum = np.cumsum(lengths)
    run = int(np.searchsorted(cum, idx, side="right"))
    vals = zigzag.decode(leb128.decode(rest[len_end:], n_runs))
    return int(vals[run])


def get_at(block: bytes | memoryview, idx: int) -> int:
    """Self-describing int block -> value at position ``idx`` without full
    decode (falls back to full decode for stream codecs where random
    access is inherently sequential: DELTA / LEB128_ZZ)."""
    cid, count, payload = blocks.unpack_block(block)
    if not 0 <= idx < count:
        raise IndexError(idx)
    if cid == PLAIN_INT:
        return int(np.frombuffer(payload, dtype="<i8", count=1, offset=8 * idx)[0])
    if cid == FOR:
        return int(for_get_range(payload, count, idx, 1)[0])
    if cid == RLE_INT:
        return rle_get_at(payload, count, idx)
    if cid == DICT_INT:
        mv = memoryview(payload)
        n_uniq, pos = blocks.take_uvarint(mv, 0)
        rest = np.frombuffer(mv[pos:], dtype=np.uint8)
        term = (rest & 0x80) == 0
        ends = np.flatnonzero(term)
        dict_end = int(ends[n_uniq - 1]) + 1
        uniq = delta.decode(rest[:dict_end], n_uniq)
        width = int(rest[dict_end])
        code = int(_unpack_range(rest[dict_end + 1 :], width, idx, 1)[0]) if width else 0
        return int(uniq[code])
    if cid == BP128_DELTA:
        # O(1) per 128-value block (ref src/varintBP128.h:24)
        from . import bp128
        return int(bp128.get_range(payload, count, idx, 1)[0])
    if cid in (DELTA, SEG_DELTA, LEB128_ZZ, DELTA_GAMMA):
        # whole-chunk prefix-sum / bitstream codecs are inherently
        # sequential: full decode
        from ..selector import decode_int_block
        return int(decode_int_block(block)[idx])
    raise ValueError(f"get_at: unsupported codec {cid}")


def get_range(block: bytes | memoryview, start: int, n: int) -> np.ndarray:
    """Slice decode: O(n) for FOR/PLAIN/DICT, O(runs + n) for RLE;
    full decode only for the inherently-sequential stream codecs
    (DELTA / SEG_DELTA / LEB128_ZZ)."""
    cid, count, payload = blocks.unpack_block(block)
    if not (0 <= start and start + n <= count):
        raise IndexError((start, n, count))
    if cid == PLAIN_INT:
        return np.frombuffer(payload, dtype="<i8", count=n, offset=8 * start).astype(np.int64)
    if cid == FOR:
        return for_get_range(payload, count, start, n)
    if cid == RLE_INT:
        return rle_get_range(payload, count, start, n)
    if cid == DICT_INT:
        return dict_get_range(payload, count, start, n)
    if cid == BP128_DELTA:
        from . import bp128
        return bp128.get_range(payload, count, start, n)
    from ..selector import decode_int_block
    return decode_int_block(block)[start : start + n]


# ---- encoded-form predicate evaluation (v >= c) -----------------------------


def _packed_ge(body: np.ndarray, width: int, count: int, cp: int) -> np.ndarray:
    """``offset >= cp`` over an LSB-first packed stream, bit-sliced: an
    MSB-down greater/equal automaton over the ``width`` bit planes. The
    offsets are never reconstructed (no horner sum, no +min rebase) —
    exactly the "compare against the packed form" path a fixed-stride FOR
    body admits (reference partial-decode surface src/varintFOR.c:182-201).
    """
    if cp <= 0:
        return np.ones(count, dtype=bool)
    if width == 0 or cp >= (1 << width):
        return np.zeros(count, dtype=bool)
    bits = np.unpackbits(body[: bitpack.packed_size(count, width)],
                         bitorder="little")[: count * width].reshape(count, width)
    greater = np.zeros(count, dtype=bool)
    equal = np.ones(count, dtype=bool)
    for k in range(width - 1, -1, -1):  # loop over bit planes, not values
        b = bits[:, k].astype(bool)
        if (cp >> k) & 1:
            equal &= b
        else:
            greater |= equal & b
    return greater | equal


def for_filter_ge(payload: memoryview | bytes, count: int, c: int) -> np.ndarray:
    """FOR: rebase c by the block min, compare bit-sliced planes."""
    mv = memoryview(payload)
    mn_zz, pos = blocks.take_uvarint(mv, 0)
    mn = int(zigzag.decode(np.array([mn_zz], dtype=np.uint64))[0])
    width = mv[pos]
    body = np.frombuffer(mv[pos + 1:], dtype=np.uint8)
    return _packed_ge(body, width, count, int(c) - mn)


def filter_ge(block: bytes | memoryview, c: int) -> np.ndarray:
    """Boolean mask ``v >= c`` evaluated on the ENCODED form wherever the
    layout admits it — the within-chunk predicate-pushdown surface:

    * PLAIN — zero-copy int64 view compare (nothing to decode)
    * FOR — bit-sliced packed-offset compare (values never rebuilt)
    * BP128 — per-128-block header bounds; only straddling blocks unpack
    * RLE — compare the run VALUES (O(runs)), expand booleans
    * DICT — compare the dictionary (O(uniq)), gather through the codes
    * NULLABLE — inner mask scattered over the validity bitmap (null rows
      are False: SQL ``NULL >= c`` filters out)
    * DELTA / SEG_DELTA / LEB128_ZZ — inherently sequential: full decode
      (the documented fallback, same as get_range)

    ``c`` outside the int64 domain resolves without touching the block:
    above INT64_MAX nothing can be >= c; at or below INT64_MIN every
    non-null value is (the clamp keeps the PLAIN path's np.int64(c)
    conversion from overflowing).
    """
    c = int(c)
    cid, count, payload = blocks.unpack_block(block)
    if c > np.iinfo(np.int64).max:
        return np.zeros(count, dtype=bool)
    if c < np.iinfo(np.int64).min:
        c = int(np.iinfo(np.int64).min)  # v >= INT64_MIN is always true
    if cid == blocks.NULLABLE:
        bitmap_len = bitpack.packed_size(count, 1)
        valid = bitpack.unpack(np.frombuffer(payload[:bitmap_len], dtype=np.uint8),
                               1, count).astype(bool)
        inner = filter_ge(payload[bitmap_len:], c)
        out = np.zeros(count, dtype=bool)
        out[valid] = inner
        return out
    if cid == PLAIN_INT:
        return np.frombuffer(payload, dtype="<i8", count=count) >= np.int64(c)
    if cid == FOR:
        return for_filter_ge(payload, count, c)
    if cid == BP128_DELTA:
        from . import bp128
        return bp128.filter_ge(payload, count, c)
    if cid == RLE_INT:
        mv = memoryview(payload)
        n_runs, pos = blocks.take_uvarint(mv, 0)
        rest = np.frombuffer(mv[pos:], dtype=np.uint8)
        ends = np.flatnonzero((rest & 0x80) == 0)
        len_end = int(ends[n_runs - 1]) + 1
        lengths = leb128.decode(rest[:len_end], n_runs).astype(np.int64)
        vals = zigzag.decode(leb128.decode(rest[len_end:], n_runs))
        return np.repeat(vals >= np.int64(c), lengths)
    if cid == DICT_INT:
        mv = memoryview(payload)
        n_uniq, pos = blocks.take_uvarint(mv, 0)
        rest = np.frombuffer(mv[pos:], dtype=np.uint8)
        ends = np.flatnonzero((rest & 0x80) == 0)
        dict_end = int(ends[n_uniq - 1]) + 1
        uniq_ge = delta.decode(rest[:dict_end], n_uniq) >= np.int64(c)
        width = int(rest[dict_end])
        if width == 0:
            return np.full(count, bool(uniq_ge[0]))
        codes = _unpack_range(rest[dict_end + 1:], width, 0, count).astype(np.int64)
        return uniq_ge[codes]
    from ..selector import decode_int_block
    return decode_int_block(block) >= np.int64(c)


def take_mask(block: bytes | memoryview, mask: np.ndarray) -> np.ndarray:
    """Values at mask-selected positions, decoding only the covering
    ranges: contiguous selected runs become get_range calls (for FOR/DICT
    that touches only the runs' packed bits; range predicates over
    ordered data select few runs). Stream codecs fall back to full decode
    inside get_range, as documented there."""
    idx = np.flatnonzero(mask)
    if len(idx) == 0:
        return np.empty(0, dtype=np.int64)
    breaks = np.flatnonzero(np.diff(idx) > 1)
    starts = idx[np.concatenate([[0], breaks + 1])]
    ends = idx[np.concatenate([breaks, [len(idx) - 1]])] + 1
    return np.concatenate([get_range(block, int(s), int(e - s))
                           for s, e in zip(starts, ends)])


def filter_le(block: bytes | memoryview, c: int) -> np.ndarray:
    """``v <= c`` on the encoded form: the complement of ``v >= c+1`` over
    VALID rows (null rows stay False — SQL ``NULL <= c`` filters out)."""
    cid, count, payload = blocks.unpack_block(block)
    if cid == blocks.NULLABLE:
        bitmap_len = bitpack.packed_size(count, 1)
        valid = bitpack.unpack(np.frombuffer(payload[:bitmap_len], dtype=np.uint8),
                               1, count).astype(bool)
        out = np.zeros(count, dtype=bool)
        out[valid] = filter_le(payload[bitmap_len:], c)
        return out
    if c >= np.iinfo(np.int64).max:
        return np.ones(count, dtype=bool)
    return ~filter_ge(block, int(c) + 1)


def filter_between(block: bytes | memoryview, lo: int | None,
                   hi: int | None) -> np.ndarray:
    """``lo <= v <= hi`` on the encoded form (either bound optional; null
    rows False whenever any bound is given)."""
    cid, count, _ = blocks.unpack_block(block)
    if lo is None and hi is None:
        return np.ones(count, dtype=bool)
    mask = filter_ge(block, int(lo)) if lo is not None else None
    if hi is not None:
        m2 = filter_le(block, int(hi))
        mask = m2 if mask is None else (mask & m2)
    return mask


def _dict_codes_and_entries(cid, payload, shared_col):
    """DICT_STR / DICT_STR_SHARED payload -> (codes sub-block, sorted
    dictionary entries as a Python list).

    Both layouts store codes against a SORTED dictionary (local dicts:
    strings.encode_dict sorts; broadcast dicts: shared.py builds them
    with sorted()), so code order == string order and every string
    predicate below reduces to integer ranges over the code stream —
    the reference's sorted-dict binary-search surface (varintDictFind,
    src/varintDict.c:151-156). Corpus bytes are never touched."""
    from . import strings
    mv = memoryview(payload)
    if cid == blocks.DICT_STR:
        mv = strings.check_dict_version(mv)
        codes_blk, pos = blocks.take_sub(mv, 0)
        dict_blk, _ = blocks.take_sub(mv, pos)
        _, n_uniq, dpayload = blocks.unpack_block(dict_blk)
        return codes_blk, strings.decode_plain(dpayload, n_uniq).to_pylist()
    digest, shared_dict, _ = shared_col
    got = bytes(mv[:16]).decode("ascii")
    if got != digest:
        raise ValueError(f"shared-dict digest mismatch: block={got} tables={digest}")
    codes_blk, _ = blocks.take_sub(mv, 16)
    return codes_blk, shared_dict.to_pylist()


def _str_dict_dispatch(block, shared_col, dict_fn, fallback_pc_fn):
    """Common skeleton for encoded-form string predicates: NULLABLE
    scatter (null rows False — SQL three-valued logic filters them out),
    sorted-dict fast path for DICT_STR always and DICT_STR_SHARED when
    the broadcast tables are at hand, decode+Arrow-compute fallback for
    corpus-structured blocks (PLAIN/FSST — same documented fallback as
    the sequential int codecs)."""
    cid, count, payload = blocks.unpack_block(block)
    if cid == blocks.NULLABLE:
        bitmap_len = bitpack.packed_size(count, 1)
        valid = bitpack.unpack(np.frombuffer(payload[:bitmap_len],
                                             dtype=np.uint8), 1, count).astype(bool)
        out = np.zeros(count, dtype=bool)
        out[valid] = _str_dict_dispatch(payload[bitmap_len:], shared_col,
                                        dict_fn, fallback_pc_fn)
        return out
    if cid == blocks.DICT_STR or (cid == blocks.DICT_STR_SHARED
                                  and shared_col is not None):
        codes_blk, uniq = _dict_codes_and_entries(cid, payload, shared_col)
        return dict_fn(codes_blk, uniq, count)
    from ..selector import decode_str_block
    mask = fallback_pc_fn(decode_str_block(block, shared_col))
    if mask.null_count:
        mask = mask.fill_null(False)
    return np.asarray(mask)


def str_filter_eq(block: bytes | memoryview, value: str,
                  shared_col=None) -> np.ndarray:
    """``s == value`` evaluated on an ENCODED string block: binary-search
    the sorted dictionary for the value's code (varintDictFind,
    src/varintDict.c:151-156), then code equality against the codes
    sub-block through the int encoded-form machinery (filter_between).
    An absent value answers all-False from the dictionary alone."""
    import bisect

    def on_dict(codes_blk, uniq, count):
        i = bisect.bisect_left(uniq, value)
        if i == len(uniq) or uniq[i] != value:
            return np.zeros(count, dtype=bool)
        return filter_between(codes_blk, i, i)

    import pyarrow.compute as pc
    return _str_dict_dispatch(block, shared_col, on_dict,
                              lambda arr: pc.equal(arr, value))


def str_filter_prefix(block: bytes | memoryview, prefix: str,
                      shared_col=None) -> np.ndarray:
    """``s LIKE 'prefix%'`` on the ENCODED form: the sorted dictionary
    turns the prefix into ONE contiguous code range — lower/upper bound
    via binary search keyed on the length-``len(prefix)`` truncation
    (truncation is order-preserving over a sorted list, so the matches
    are exactly [lo, hi)) — then a single int range-compare of the code
    stream, the same filter_between shape as the int predicates.
    Non-matching chunks answer from the dictionary alone."""
    import bisect
    k = len(prefix)

    def on_dict(codes_blk, uniq, count):
        lo = bisect.bisect_left(uniq, prefix, key=lambda e: e[:k])
        hi = bisect.bisect_right(uniq, prefix, key=lambda e: e[:k])
        if hi == lo:
            return np.zeros(count, dtype=bool)
        return filter_between(codes_blk, lo, hi - 1)

    import pyarrow.compute as pc
    return _str_dict_dispatch(block, shared_col, on_dict,
                              lambda arr: pc.starts_with(arr, prefix))


def str_filter_in(block: bytes | memoryview, values,
                  shared_col=None) -> np.ndarray:
    """``s IN (values)`` on the ENCODED form: sorted multi-find — binary
    search each probe value's code, coalesce adjacent codes into
    contiguous ranges, OR one filter_between per range (an IN-list of k
    values costs at most k bit-sliced range passes over the code stream,
    usually fewer after coalescing; k is query-literal-sized). Chunks
    whose dictionary contains none of the values answer all-False
    without touching the code stream."""
    import bisect
    probes = sorted(set(values))

    def on_dict(codes_blk, uniq, count):
        codes = []
        for v in probes:
            i = bisect.bisect_left(uniq, v)
            if i < len(uniq) and uniq[i] == v:
                codes.append(i)
        return _codes_to_mask(codes_blk, codes, count)

    import pyarrow as pa
    import pyarrow.compute as pc
    return _str_dict_dispatch(
        block, shared_col, on_dict,
        lambda arr: pc.is_in(arr, value_set=pa.array(probes, type=arr.type)))


def _codes_to_mask(codes_blk, codes: list[int], count: int) -> np.ndarray:
    """OR of ``code IN (codes)`` over the codes sub-block: adjacent codes
    coalesce into contiguous ranges, one encoded-form filter_between per
    range (usually far fewer passes than len(codes))."""
    if not codes:
        return np.zeros(count, dtype=bool)
    ranges, start = [], codes[0]
    for prev, cur in zip(codes, codes[1:]):
        if cur != prev + 1:
            ranges.append((start, prev))
            start = cur
    ranges.append((start, codes[-1]))
    out = np.zeros(count, dtype=bool)
    for lo, hi in ranges:
        out |= filter_between(codes_blk, lo, hi)
    return out


def like_pattern_to_regex(pattern: str, escape: str = "\\") -> str:
    """SQL LIKE pattern -> UNANCHORED regex body. ``%`` -> ``.*``,
    ``_`` -> ``.``, ``escape`` guards the next char literally (SQL-92 /
    Spark / DuckDB default backslash); everything else is escaped.
    Wrapped ``(?s:...)`` so wildcards cross newlines, matching SQL
    semantics (Spark compiles LIKE with DOTALL).

    Anchoring is the CALLER's job, engine-appropriately: Python must use
    ``fullmatch`` (``$`` in `re` also matches before a trailing newline,
    so ``^...$`` would make ``LIKE 'abc'`` accept ``'abc\\n'`` — caught
    by the property test); RE2/Arrow must wrap ``^...$`` (true
    end-of-text there, and RE2 has no ``\\Z``)."""
    import re
    out, i = [], 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == escape and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
        i += 1
    return "(?s:" + "".join(out) + ")"


def str_filter_like(block: bytes | memoryview, pattern: str,
                    shared_col=None) -> np.ndarray:
    """General ``s LIKE pattern`` (``%``/``_`` wildcards, backslash
    escape) on the ENCODED form: the pattern is evaluated against the
    SORTED DICTIONARY ENTRIES ONLY — query-literal work proportional to
    chunk cardinality, not row count — and the matching codes collapse
    to coalesced int ranges over the code stream (same machinery as the
    IN-list multi-find). Subsumes eq/prefix/in as special cases and adds
    contains/suffix/``_`` shapes the reference's sorted-dict binary
    search cannot range-bound (varintDictFind, src/varintDict.c:151-156,
    is equality-only; the dictionary scan is the natural generalization).
    Chunks whose dictionary matches nothing never touch the code stream
    or corpus bytes."""
    import re
    rx = re.compile(like_pattern_to_regex(pattern))

    def on_dict(codes_blk, uniq, count):
        codes = [i for i, e in enumerate(uniq) if rx.fullmatch(e)]
        return _codes_to_mask(codes_blk, codes, count)

    import pyarrow.compute as pc
    return _str_dict_dispatch(
        block, shared_col, on_dict,
        lambda arr: pc.match_substring_regex(
            arr, "^" + like_pattern_to_regex(pattern) + "$"))
