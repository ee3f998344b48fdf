"""Adaptive codec selection — per-chunk stats pass + ordered decision tree.

Generalizes the reference's adaptive codec (``varintAdaptiveAnalyze`` →
``varintAdaptiveSelectEncoding`` → dispatch, reference
src/varintAdaptive.c:183-310) to both int and string columns:

* stats are computed vectorized per chunk (sampled beyond a threshold, like
  ``varintAdaptiveCountUnique`` src/varintAdaptive.c:69-125),
* an ordered decision tree nominates candidate codecs,
* a **cost gate** (reference pattern: dict returns 0 when not beneficial,
  src/varintDict.h:95-97; RLE benefit predicate src/varintRLE.c:62-65)
  actually encodes the top candidates and keeps the smallest — and always
  compares against the reference-faithful zigzag-LEB128 varint stream and
  PLAIN, so emitted size never exceeds either.

Blocks are self-describing; decode dispatches on the tag byte only.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from .codecs import blocks, bitpack, bp128, delta, dict_codec, elias, f64lossy, foref, fsst, leb128, matrix, plain, rle, segdelta, strings, varint, zigzag
from .codecs.blocks import (
    BP128_DELTA, DELTA, DELTA_GAMMA, DICT_INT, DICT_STR, DICT_STR_SHARED,
    F64_LOSSY, FOR, FSST_STR, FSST_STR_SHARED, LEB128_ZZ, NULLABLE, PLAIN_INT,
    PLAIN_STR, RLE_INT, SEG_DELTA, CODEC_NAMES,
)

SAMPLE_THRESHOLD = 10_000  # beyond this, sample every 10th value (ref :77-125)
FSST_PROBE_BYTES = 32_768  # shared-path pre-probe sample (encode_str_block)


# ---------------------------------------------------------------------------
# stats
# ---------------------------------------------------------------------------

@dataclass
class IntStats:
    """Per-chunk statistics — the engine's ``varintAdaptiveDataStats``
    (reference src/varintAdaptive.h:53-67) plus run-length ratio."""
    count: int
    min: int
    max: int
    is_sorted: bool
    unique_ratio: float
    run_ratio: float
    avg_delta: float


def analyze_ints(v: np.ndarray, diffs: np.ndarray | None = None,
                 mn: int | None = None, mx: int | None = None) -> IntStats:
    """``diffs``/``mn``/``mx``: optional precomputed ``np.diff(v)``, min and
    max — the selector computes each ONCE and shares them with the
    candidate sizers (the stats themselves are unchanged)."""
    n = len(v)
    if n == 0:
        return IntStats(0, 0, 0, True, 0.0, 0.0, 0.0)
    if mn is None or mx is None:
        mn, mx = int(v.min()), int(v.max())
    if diffs is None:
        diffs = np.diff(v)
    is_sorted = bool(n == 1 or (diffs >= 0).all())
    sample = v[::10] if n > SAMPLE_THRESHOLD else v
    unique_ratio = len(np.unique(sample)) / len(sample)
    n_runs = 1 + int(np.count_nonzero(diffs != 0))
    run_ratio = n_runs / n
    avg_delta = float(np.abs(diffs).mean()) if n > 1 else 0.0
    return IntStats(n, mn, mx, is_sorted, unique_ratio, run_ratio, avg_delta)


_INT_ENCODERS = {
    PLAIN_INT: plain.encode_int,
    LEB128_ZZ: varint.encode,
    DELTA: delta.encode,
    FOR: foref.encode,
    RLE_INT: rle.encode,
    DICT_INT: dict_codec.encode,
    BP128_DELTA: bp128.encode,
    DELTA_GAMMA: elias.encode_delta,
}
_INT_DECODERS = {
    PLAIN_INT: plain.decode_int,
    LEB128_ZZ: varint.decode,
    DELTA: delta.decode,
    FOR: foref.decode,
    RLE_INT: rle.decode,
    DICT_INT: dict_codec.decode,
    SEG_DELTA: segdelta.decode,
    F64_LOSSY: f64lossy.decode,
    BP128_DELTA: bp128.decode,
    DELTA_GAMMA: elias.decode_delta,
}


def candidate_int_codecs(s: IntStats) -> list[int]:
    """Ordered decision tree — same shape as the reference's
    (src/varintAdaptive.c:244-310), nominating candidates for the cost
    gate. Every nominee is sized (the sizers are cheap analytic passes) —
    an earlier [:5] cap could drop FOR exactly when the run, cardinality
    and sorted branches all fired, silently regressing size (ADVICE r3);
    the full list is at most 6 entries."""
    cands: list[int] = []
    if s.run_ratio < 0.5:
        cands.append(RLE_INT)
    if s.unique_ratio < 0.15:
        cands.append(DICT_INT)
    if s.is_sorted or (s.count > 1 and s.avg_delta < max(abs(s.min), 1) / 10):
        cands.append(DELTA)
        cands.append(BP128_DELTA)  # block-granular twin: wins when deltas
        #                            bit-pack below their LEB128 byte cost
        cands.append(DELTA_GAMMA)  # per-delta-length bits: wins when the
        #                            delta distribution is heavy-tailed
        #                            (fixed widths pay the max, LEB128
        #                            pays ≥ 8 bits; gamma reaches 1)
    cands.append(FOR)
    return cands


_INT_SIZERS = {
    LEB128_ZZ: varint.encoded_size,
    DELTA: delta.encoded_size,
    FOR: foref.encoded_size,
    RLE_INT: rle.encoded_size,
    DICT_INT: dict_codec.encoded_size,
    BP128_DELTA: bp128.encoded_size,
    DELTA_GAMMA: elias.encoded_size_delta,
}


def encode_int_block(values: np.ndarray, stats: IntStats | None = None,
                     segments: np.ndarray | None = None,
                     zz_sizes: np.ndarray | None = None) -> bytes:
    """int64 array -> self-describing block, cost-gated.

    The cost gate uses **exact analytic sizes** (each codec's
    ``encoded_size`` reproduces its encode arithmetic without building the
    bytes), so only the winning codec is actually encoded — the stats pass
    + size sweep is the engine's ``varintAdaptiveAnalyze``, the argmin is
    ``varintAdaptiveSelectEncoding``, with exact costs instead of the
    reference's heuristic thresholds.

    The shared intermediates (diff stream, FOR offsets, zigzag planes) are
    computed ONCE here and threaded through the stats pass and every
    sizer — previously each sizer recomputed its own copies, which at
    ~10 sizer passes per chunk dominated the int-column encode profile.
    ``zz_sizes``: optional precomputed ``leb128.encoded_sizes(zigzag(v))``
    (the engine already builds it for the varint_bytes bookkeeping)."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        return blocks.pack_block(PLAIN_INT, 0, b"")
    # shared intermediates — one pass each, reused by stats + sizers
    with np.errstate(over="ignore"):
        deltas_p = np.empty(n, dtype=np.int64)
        deltas_p[0] = v[0]
        if n > 1:
            np.subtract(v[1:], v[:-1], out=deltas_p[1:])  # wrap == np.diff
    diffs = deltas_p[1:]
    mn, mx = int(v.min()), int(v.max())
    offs = v.view(np.uint64) - np.int64(mn).astype(np.uint64)
    s = stats or analyze_ints(v, diffs=diffs, mn=mn, mx=mx)
    zzv: np.ndarray | None = None  # lazy zigzag(v)
    # floors always compete: varint stream (reference-faithful) and plain
    best_id, best_size = PLAIN_INT, 8 * n
    for cid in (*candidate_int_codecs(s), LEB128_ZZ):
        if cid == LEB128_ZZ:
            if zz_sizes is None:
                if zzv is None:
                    zzv = zigzag.encode(v)
                zz_sizes = leb128.encoded_sizes(zzv)
            size = int(zz_sizes.sum())
        elif cid == DELTA:
            size = delta.encoded_size(v, deltas=deltas_p)
        elif cid == FOR:
            size = foref.encoded_size(v, mn_offs=(mn, offs))
        elif cid == RLE_INT:
            starts = np.concatenate(
                [[0], np.flatnonzero(diffs != 0) + 1]).astype(np.int64)
            size = rle.encoded_size(v, starts=starts)
        elif cid == DELTA_GAMMA:
            size = elias.encoded_size_delta(v, zzd=zigzag.encode(diffs))
        else:
            size = _INT_SIZERS[cid](v)
        if size < best_size:
            best_id, best_size = cid, size
    # built candidate: its nested stream re-enters the selector (without
    # segments, so it cannot recurse), so the choice isn't analytically
    # sizable — build and compare actual bytes
    built: bytes | None = None
    if segments is not None and 0 < len(segments) < n and best_size > n // 2:
        # segment-aware delta. Skipped when the winner is already under
        # ~0.5 B/value — seg-delta can't meaningfully beat that.
        cand = segdelta.encode(v, segments, encode_int_block=encode_int_block)
        if len(cand) < best_size:
            best_id, best_size, built = SEG_DELTA, len(cand), cand
    if built is not None:
        payload = built
    elif best_id == DELTA:
        payload = delta.encode(v, deltas=deltas_p)
    elif best_id == LEB128_ZZ and zzv is not None:
        payload = leb128.encode(zzv)
    else:
        payload = _INT_ENCODERS[best_id](v)
    return blocks.pack_block(best_id, n, payload)


def decode_int_block(buf: bytes | memoryview) -> np.ndarray:
    cid, count, payload = blocks.unpack_block(buf)
    return _INT_DECODERS[cid](payload, count)


# ---------------------------------------------------------------------------
# strings
# ---------------------------------------------------------------------------

@dataclass
class StrStats:
    count: int
    unique_ratio: float
    avg_len: float
    byte_entropy: float  # Shannon bits/byte of the (sampled) corpus plane
    cond_entropy: float  # H(next byte | prev byte) — FSST's signal proper
    corpus_bytes: int


def byte_entropy(plane: np.ndarray) -> float:
    """Shannon entropy (bits/byte) of a byte plane — the string analog of
    the int stats' range/run structure: ~4-5 for natural text (FSST's
    regime), ~6 for code/base64, up to 8.0 for random bytes."""
    if len(plane) == 0:
        return 0.0
    counts = np.bincount(plane, minlength=256)
    p = counts[counts > 0] / len(plane)
    return float(-(p * np.log2(p)).sum())


def conditional_byte_entropy(plane: np.ndarray, h1: float | None = None) -> float:
    """H(next byte | previous byte) from bigram counts — the FSST signal
    proper: a byte-pair symbol table mines exactly the pair structure this
    measures. ≈ the unigram entropy ⇒ the next byte is unpredictable from
    the previous one and no symbol table can win. (Estimates are biased
    low on undersampled corpora — the gate requires a minimum corpus size
    before trusting it.) ``h1``: optional precomputed
    :func:`byte_entropy` of the same plane (saves a bincount pass)."""
    if len(plane) < 2:
        return 0.0
    pairs = plane[:-1].astype(np.int32) * 256 + plane[1:]
    counts = np.bincount(pairs, minlength=65536)
    p = counts[counts > 0] / (len(plane) - 1)
    h2 = float(-(p * np.log2(p)).sum())
    return h2 - (h1 if h1 is not None else byte_entropy(plane))


def analyze_strings(lengths: np.ndarray, arr: pa.Array,
                    corpus: np.ndarray | None = None) -> StrStats:
    n = len(lengths)
    if n == 0:
        return StrStats(0, 0.0, 0.0, 0.0, 0.0, 0)
    sample = arr.slice(0, min(n, SAMPLE_THRESHOLD))
    import pyarrow.compute as pc
    unique_ratio = len(pc.unique(sample)) / len(sample)
    ent = cond = 0.0
    nbytes = 0
    if corpus is not None and len(corpus):
        nbytes = len(corpus)
        cs = corpus[:1 << 20]  # 1 MB sample is plenty
        ent = byte_entropy(cs)
        cond = conditional_byte_entropy(cs, h1=ent)
    return StrStats(n, unique_ratio, float(lengths.mean()), ent, cond, nbytes)


def encode_str_block(values, shared_col=None, fsst_cache: dict | None = None,
                     cache_key: str = "") -> bytes:
    """string array-like (no nulls) -> self-describing block, cost-gated.

    ``shared_col``: optional (digest, dict_arr | None, fsst_tables | None)
    from a broadcast SharedTables — shared candidates enter the same cost
    gate as local ones. ``fsst_cache``: per-group dict reusing FSST tables
    trained on a sibling chunk of the same column (training is the encode
    hot spot; reuse skips it, with automatic retrain on drift)."""
    arr = values if isinstance(values, pa.Array) else pa.array(values, type=pa.large_utf8())
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.cast(pa.large_utf8())
    n = len(arr)
    if n == 0:
        return blocks.pack_block(PLAIN_STR, 0, b"")
    lengths, corpus = strings.to_plane(arr)
    s = analyze_strings(lengths, arr, corpus)
    # plain is the floor; size it analytically, build only if it wins
    plain_size = int(leb128.encoded_sizes(lengths.astype(np.uint64)).sum()) + len(corpus)
    best_id, best_payload = PLAIN_STR, None
    best_len = plain_size

    digest, shared_dict, shared_fsst = shared_col if shared_col else (None, None, None)
    if shared_dict is not None:
        cand = strings.encode_dict_shared(arr, digest, shared_dict,
                                          encode_int_block=encode_int_block)
        if cand is not None and len(cand) < best_len:
            best_id, best_payload, best_len = DICT_STR_SHARED, cand, len(cand)
    if shared_fsst is not None and s.avg_len >= 4:
        cand = strings.encode_fsst_shared(arr, digest, shared_fsst)
        if cand is not None and len(cand) < best_len:
            best_id, best_payload, best_len = FSST_STR_SHARED, cand, len(cand)

    if s.unique_ratio < 0.5 and best_id != DICT_STR_SHARED:
        cand = strings.encode_dict(arr, encode_int_block=encode_int_block)
        if len(cand) < best_len:
            best_id, best_payload, best_len = DICT_STR, cand, len(cand)
    # entropy gate (the north-star's 'entropy stats'): FSST training is
    # the encode hot spot, and a symbol table mines BYTE-PAIR structure —
    # when the conditional entropy ≈ the unigram entropy (next byte
    # unpredictable from the previous: random/compressed/encrypted-like
    # corpora) there is nothing to mine, so don't pay training to find
    # that out. Gated on corpus size: bigram estimates are biased low on
    # small corpora (where training is cheap anyway). Natural text:
    # H1 ~4.6, H(next|prev) ~3; random ASCII: H1 ~6.6, H(next|prev) ≈ H1.
    high_entropy = (s.corpus_bytes >= 100_000 and s.byte_entropy >= 5.8
                    and s.cond_entropy >= 0.9 * s.byte_entropy)
    try_fsst = not high_entropy and (
        (s.avg_len >= 4 and best_id in (PLAIN_STR, FSST_STR_SHARED)) or (
            best_id == DICT_STR and s.unique_ratio > 0.01 and s.avg_len >= 4))
    if try_fsst:
        reuse = fsst_cache.get(cache_key) if fsst_cache is not None else None
        if (reuse is None and best_id == FSST_STR_SHARED
                and len(corpus) >= 4 * FSST_PROBE_BYTES):
            # Sampled pre-probe. The broadcast tables already provide a
            # compressed candidate; a full per-chunk retrain only pays off
            # where the chunk's text diverges from the shared training
            # sample (measured on the bench shape: 5 of 128 chunks — the
            # hot conversations — but 13.5% of the text bytes, so the
            # retrain cannot simply be skipped). Train on a deterministic
            # prefix sample, extrapolate the local ratio, and run the full
            # training only when the estimate beats the shared candidate
            # by a clear margin; divergent chunks sail under 0.95 while
            # in-distribution chunks estimate ≈ the shared size and skip.
            probe = fsst.compress_parts(corpus[:FSST_PROBE_BYTES])
            if probe is None:
                try_fsst = False  # sample incompressible — local can't win
            else:
                est = (plain_size - len(corpus) + len(probe[0])
                       + len(probe[1]) * (len(corpus) / FSST_PROBE_BYTES))
                if est > best_len * 0.95:
                    try_fsst = False
    if try_fsst:
        res = strings.encode_fsst(arr, reuse_tables=reuse)
        if res is not None:
            cand, tables = res
            if fsst_cache is not None:
                fsst_cache[cache_key] = tables
            if len(cand) < best_len:
                best_id, best_payload, best_len = FSST_STR, cand, len(cand)
    if best_payload is None:
        best_payload = strings.encode_plain(arr)
    return blocks.pack_block(best_id, n, best_payload)


def decode_str_block(buf: bytes | memoryview, shared_col=None) -> pa.Array:
    cid, count, payload = blocks.unpack_block(buf)
    if cid == PLAIN_STR:
        return strings.decode_plain(payload, count)
    if cid == DICT_STR:
        return strings.decode_dict(payload, count, decode_int_block=decode_int_block)
    if cid == FSST_STR:
        return strings.decode_fsst(payload, count)
    digest, shared_dict, shared_fsst = shared_col if shared_col else (None, None, None)
    if cid == DICT_STR_SHARED:
        if shared_dict is None:
            raise ValueError("block needs shared dict tables but none were provided")
        return strings.decode_dict_shared(payload, count, digest, shared_dict,
                                          decode_int_block=decode_int_block)
    if cid == FSST_STR_SHARED:
        if shared_fsst is None:
            raise ValueError("block needs shared FSST tables but none were provided")
        return strings.decode_fsst_shared(payload, count, digest, shared_fsst)
    raise ValueError(f"not a string block: codec {cid}")


# ---------------------------------------------------------------------------
# nullable wrapper + column entry points
# ---------------------------------------------------------------------------

def _wrap_nullable(valid_mask: np.ndarray, inner: bytes) -> bytes:
    payload = bitpack.pack(valid_mask.astype(np.uint64), 1) + inner
    return blocks.pack_block(NULLABLE, len(valid_mask), payload)


def encode_column(values: pa.Array, kind: str, shared_col=None,
                  segments: np.ndarray | None = None,
                  fsst_cache: dict | None = None, cache_key: str = "",
                  f64_precision: str | None = None,
                  f32_precision: str | None = None,
                  dense_np: np.ndarray | None = None,
                  zz_sizes: np.ndarray | None = None) -> bytes:
    """Arrow array (int64/large_utf8/list<float>, possibly with nulls) ->
    block bytes.

    ``kind`` is 'int', 'str', or 'f32list'. Nulls are stripped into a
    validity bitmap (the reference's column_store example keeps a null
    bitmap beside each column — examples/integration/column_store.c:66-71).

    ``f64_precision`` (explicit opt-in, kind='f64' only): encode lossily
    with the given precision mode instead of the lossless cost gate
    (reference varintFloatEncode modes, src/varintFloat.h:27-114).
    ``f32_precision`` is the same opt-in for kind='f32list' embedding
    columns ('medium'/'low'; None = bit-exact).

    ``dense_np``/``zz_sizes``: optional precomputed dense int64 values and
    their zigzag-LEB128 byte sizes — the engine already materializes both
    for the zone stats and varint_bytes bookkeeping; passing them here
    skips the duplicate Arrow->numpy conversion and sizing pass."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()

    def _enc_int(dense: np.ndarray, segs) -> bytes:
        if kind == "f64" and f64_precision is not None:
            return f64lossy.encode_block(dense, f64_precision)
        return encode_int_block(dense, segments=segs, zz_sizes=zz_sizes)

    if values.null_count:
        valid = ~np.asarray(values.is_null())
        if kind == "str":
            inner = encode_str_block(values.drop_null(), shared_col,
                                     fsst_cache, cache_key)
        elif kind == "f32list":
            inner = matrix.encode_block(values.drop_null(), f32_precision)
        else:
            if dense_np is None:
                dense_np = values.drop_null().to_numpy(
                    zero_copy_only=False).astype(np.int64)
            # segments don't survive null-stripping; drop them (rare path)
            inner = _enc_int(dense_np, None)
        return _wrap_nullable(valid, inner)
    if kind == "str":
        return encode_str_block(values, shared_col, fsst_cache, cache_key)
    if kind == "f32list":
        return matrix.encode_block(values, f32_precision)
    if dense_np is None:
        dense_np = values.to_numpy(zero_copy_only=False).astype(np.int64)
    return _enc_int(dense_np, segments)


def decode_column(buf: bytes | memoryview, shared_col=None) -> pa.Array:
    """block bytes -> Arrow array (int64 or large_utf8, nulls restored)."""
    cid, count, payload = blocks.unpack_block(buf)
    if cid == NULLABLE:
        bitmap_len = bitpack.packed_size(count, 1)
        valid = bitpack.unpack(np.frombuffer(payload[:bitmap_len], dtype=np.uint8), 1, count).astype(bool)
        inner = decode_column(payload[bitmap_len:], shared_col)
        if len(inner) == 0:  # all-null chunk
            return pa.nulls(count, type=inner.type if inner.type != pa.null() else pa.int64())
        idx = np.full(count, -1, dtype=np.int64)
        idx[valid] = np.arange(len(inner), dtype=np.int64)
        mask = pa.array(~valid)
        safe_idx = pa.array(np.where(valid, idx, 0), type=pa.int64())
        out = inner.take(safe_idx)
        return pa.compute.if_else(mask, pa.nulls(count, type=out.type), out)
    if cid == blocks.MATRIX_F32:
        return matrix.decode(payload, count)
    if cid in blocks.INT_CODECS:
        return pa.array(_INT_DECODERS[cid](payload, count), type=pa.int64())
    return decode_str_block(buf, shared_col)


def codec_name_of(buf: bytes | memoryview) -> str:
    cid, count, payload = blocks.unpack_block(buf)
    if cid == NULLABLE:
        bitmap_len = bitpack.packed_size(count, 1)
        return "nullable+" + codec_name_of(payload[bitmap_len:])
    return CODEC_NAMES[cid]
