"""FSST-style static symbol-table compression for UTF-8 byte corpora.

Fills the reference's string gap (the reference compresses integers only —
SURVEY §1.3): a per-chunk learned symbol table maps frequent byte pairs to
single code bytes, in the spirit of FSST (Boncz, Neumann, Leis — "FSST:
Fast Random Access String Compression", VLDB 2020) and byte-pair encoding
(Gage 1994). Everything is vectorized numpy — no per-byte Python.

Design (differs from full FSST for vectorizability):

* symbols are byte *pairs*; multiple rounds give longer effective symbols
  (a round-2 symbol expands to up to 4 original bytes, etc.),
* symbol codes are byte values **unused in the corpus**, so literals pass
  through unchanged and no escape byte is ever needed — decode is a pure
  table expansion,
* greedy non-overlapping pair matching is resolved vectorized: within each
  maximal run of consecutive matches, keep every other match starting at
  the run head.

Serialized table: ``[n_rounds:1] ( [n_syms:1][codes: n_syms][pairs: 2*n_syms] )*``
followed by the compressed corpus. Decode expands rounds in reverse.
"""

from __future__ import annotations

import numpy as np

MAX_ROUNDS = 3
MIN_PAIR_COUNT = 4  # a pair must save at least ~4 bytes to earn a code


def _pair_codes(corpus: np.ndarray) -> np.ndarray:
    """uint16 code of every adjacent byte pair (one fused pass)."""
    out = corpus[:-1].astype(np.uint16)
    out <<= 8
    out |= corpus[1:]
    return out


def _readonly_arange(n: int) -> np.ndarray:
    out = np.arange(n, dtype=np.int32)
    out.setflags(write=False)
    return out


_IDX32 = _readonly_arange(1 << 16)  # grown on demand by _idx32


def _idx32(n: int) -> np.ndarray:
    """Cached read-only arange — the match kernel needs one per call and
    the allocation shows up at profile scale. Read-only because every
    caller shares it: an in-place write would corrupt later encodes."""
    global _IDX32
    if len(_IDX32) < n:
        _IDX32 = _readonly_arange(n)
    return _IDX32[:n]


def _match_mask(pairs: np.ndarray, n_corpus: int, match_lut: np.ndarray) -> np.ndarray:
    """Boolean mask of positions starting a kept (non-overlapping) symbol.

    ``match_lut``: bool[65536], True where the pair code has a symbol.
    Greedy-left resolution: within each maximal run of consecutive matches
    keep every other one — computed via a running maximum of run-start
    indices (int32 throughout: the per-chunk corpus is ≪ 2^31 bytes)."""
    m = match_lut[pairs]
    if not m.any():
        return np.zeros(n_corpus, dtype=bool)
    idx = _idx32(len(m))
    is_run_start = m.copy()
    is_run_start[1:] &= ~m[:-1]
    run_start = np.where(is_run_start, idx, np.int32(-1))
    np.maximum.accumulate(run_start, out=run_start)
    keep = np.empty(n_corpus, dtype=bool)
    keep[:-1] = m
    keep[:-1] &= ((idx - run_start) & np.int32(1)) == 0
    keep[-1] = False
    return keep


def _compress_round(corpus: np.ndarray, free_codes: np.ndarray, max_syms: int):
    """One BPE round. Returns (codes, pairs, new_corpus) or None if no gain."""
    if len(corpus) < 2 or len(free_codes) == 0:
        return None
    pairs = _pair_codes(corpus)
    counts = np.bincount(pairs, minlength=65536)
    n_syms = min(max_syms, len(free_codes), int((counts >= MIN_PAIR_COUNT).sum()))
    if n_syms == 0:
        return None
    top = np.argpartition(counts, -n_syms)[-n_syms:]
    top = top[counts[top] >= MIN_PAIR_COUNT]
    if len(top) == 0:
        return None
    sym_lookup = np.full(65536, -1, dtype=np.int32)
    sym_lookup[top] = np.arange(len(top), dtype=np.int32)
    keep = _match_mask(pairs, len(corpus), sym_lookup >= 0)
    out, kept_ranks, kept_pairs = _emit_round(corpus, pairs, keep)
    if len(out) + 3 * len(top) + 2 >= len(corpus):
        return None  # not worth the table bytes
    codes = free_codes[: len(top)].astype(np.uint8)
    out[kept_ranks] = codes[sym_lookup[kept_pairs]]
    sym_pairs = np.empty((len(top), 2), dtype=np.uint8)
    sym_pairs[:, 0] = top // 256
    sym_pairs[:, 1] = top % 256
    return codes, sym_pairs, out


def _emit_round(corpus: np.ndarray, pairs: np.ndarray, keep: np.ndarray):
    """Shared output builder for one round: every non-covered input byte
    survives (kept pair-starts get overwritten with their symbol code by
    the caller). Returns (out, kept output positions, kept pair codes) —
    one boolean compress + one int32 cumsum instead of the previous
    ones/scatter/int64-cumsum/double-scatter pipeline (bytes identical)."""
    covered_second = np.empty(len(keep), dtype=bool)
    covered_second[0] = False
    covered_second[1:] = keep[:-1]
    surv = ~covered_second
    ranks = np.cumsum(surv, dtype=np.int32)
    out = corpus[surv]
    kept_ranks = ranks[keep] - 1  # output slot of each kept pair start
    kept_pairs = pairs[keep[:-1]] if len(corpus) > 1 else pairs[:0]
    return out, kept_ranks, kept_pairs


def _train_and_apply(corpus: np.ndarray) -> tuple[list, np.ndarray] | None:
    """Learn tables on ``corpus`` while compressing it. Returns
    (rounds, compressed) or None if incompressible."""
    c = np.ascontiguousarray(corpus, dtype=np.uint8)
    used = np.bincount(c, minlength=256).astype(bool) if len(c) else np.zeros(256, dtype=bool)
    rounds = []
    for _ in range(MAX_ROUNDS):
        free = np.flatnonzero(~used)
        prev_len = len(c)
        r = _compress_round(c, free, max_syms=min(128, len(free)))
        if r is None:
            break
        codes, sym_pairs, c = r
        used[codes] = True
        rounds.append((codes, sym_pairs))
        if len(c) > 0.93 * prev_len:  # diminishing returns — stop early
            break
    if not rounds:
        return None
    return rounds, c


def serialize_tables(rounds: list) -> bytes:
    parts = [bytes([len(rounds)])]
    for codes, sym_pairs in rounds:
        parts.append(bytes([len(codes)]))
        parts.append(codes.tobytes())
        parts.append(np.ascontiguousarray(sym_pairs).tobytes())
    return b"".join(parts)


def deserialize_tables(buf: memoryview | bytes) -> tuple[list, int]:
    """-> (rounds, bytes consumed)."""
    mv = memoryview(buf)
    n_rounds = mv[0]
    pos = 1
    rounds = []
    for _ in range(n_rounds):
        n_syms = mv[pos]
        pos += 1
        codes = np.frombuffer(mv[pos : pos + n_syms], dtype=np.uint8)
        pos += n_syms
        sym_pairs = np.frombuffer(mv[pos : pos + 2 * n_syms], dtype=np.uint8).reshape(n_syms, 2)
        pos += 2 * n_syms
        rounds.append((codes, sym_pairs))
    return rounds, pos


def train(sample_corpus: np.ndarray) -> bytes | None:
    """Learn a reusable symbol table from a sample (the broadcast-table
    path — reference analog: reusable pre-built dict, src/varintDict.h:72-76).
    Returns serialized tables, or None if the sample is incompressible."""
    r = _train_and_apply(sample_corpus)
    return serialize_tables(r[0]) if r else None


def apply_tables(corpus: np.ndarray, tables: bytes) -> np.ndarray | None:
    """Compress ``corpus`` with pre-trained tables (no training pass).
    Returns compressed bytes array, or None if any corpus byte collides
    with a symbol code (possible when the corpus drifts from the training
    sample — caller falls back to local training)."""
    rounds, _ = deserialize_tables(tables)
    c = np.ascontiguousarray(corpus, dtype=np.uint8)
    if len(c) == 0:
        return c
    present = np.bincount(c, minlength=256) > 0
    for codes, _pairs in rounds:
        if present[codes].any():
            return None  # code byte appears as a literal — ambiguous
    for codes, sym_pairs in rounds:
        sym_lookup = np.full(65536, -1, dtype=np.int32)
        pair_vals = sym_pairs[:, 0].astype(np.int32) * 256 + sym_pairs[:, 1].astype(np.int32)
        sym_lookup[pair_vals] = np.arange(len(codes), dtype=np.int32)
        pairs = _pair_codes(c) if len(c) > 1 else np.empty(0, dtype=np.uint16)
        keep = _match_mask(pairs, len(c), sym_lookup >= 0)
        out, kept_ranks, kept_pairs = _emit_round(c, pairs, keep)
        out[kept_ranks] = codes[sym_lookup[kept_pairs]]
        c = out
    return c


def decompress_with(compressed: np.ndarray, tables: bytes) -> np.ndarray:
    """Inverse of :func:`apply_tables`."""
    rounds, _ = deserialize_tables(tables)
    return _expand(np.ascontiguousarray(compressed, dtype=np.uint8), rounds)


def compress(corpus: np.ndarray) -> bytes | None:
    """uint8 corpus -> serialized (table + compressed bytes), or None when
    the corpus is incompressible with this scheme (selector falls back)."""
    parts = compress_parts(corpus)
    return parts[0] + parts[1] if parts else None


def compress_parts(corpus: np.ndarray) -> tuple[bytes, bytes] | None:
    """Like :func:`compress` but returns (serialized tables, compressed)
    separately, so callers can reuse the tables for sibling chunks."""
    r = _train_and_apply(corpus)
    if r is None:
        return None
    rounds, c = r
    return serialize_tables(rounds), c.tobytes()


def decompress(buf: memoryview | bytes) -> np.ndarray:
    """Inverse of :func:`compress` -> uint8 corpus."""
    mv = memoryview(buf)
    tables, pos = deserialize_tables(mv)
    return _expand(np.frombuffer(mv[pos:], dtype=np.uint8), tables)


def _expand(out: np.ndarray, tables: list) -> np.ndarray:
    for codes, sym_pairs in reversed(tables):
        if len(out) == 0:
            break
        expand0 = np.arange(256, dtype=np.uint8)  # identity for literals
        expand1 = np.zeros(256, dtype=np.uint8)
        is_sym = np.zeros(256, dtype=bool)
        is_sym[codes] = True
        expand0[codes] = sym_pairs[:, 0]
        expand1[codes] = sym_pairs[:, 1]
        sym_mask = is_sym[out]
        # output slot of input byte i = i + (#symbols before i): one int32
        # rank cumsum instead of the where/int64-cumsum/concat pipeline
        # (this loop is the decode hot spot — 64% of transcript decode)
        ranks = np.cumsum(sym_mask, dtype=np.int32)
        offsets = _idx32(len(out)) + ranks
        offsets -= sym_mask
        new = np.empty(len(out) + int(ranks[-1]), dtype=np.uint8)
        new[offsets] = expand0[out]
        new[offsets[sym_mask] + 1] = expand1[out[sym_mask]]
        out = new
    return out
