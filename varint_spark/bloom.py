"""Per-chunk Bloom-filter sidecars for equality pruning.

Zone maps (``prune_chunks``, integer and string) prune only when
chunks are value-clustered; a high-cardinality column scattered across
chunks has min/max spans that cover everything. A k-hash Bloom bitset
per (chunk, column) prunes regardless of clustering (reference
examples/advanced/bloom_filter.c — 2.5M ops/s membership claim
README.md:193): the filter answers "might this chunk contain v?" from
the lineage row alone, so at 100 TB a selective equality probe drops
chunks at the blocks SCAN without shipping any payload. False positives
only KEEP extra chunks — the exact filter after decode removes them —
so pruning stays answer-invariant by construction.

Sidecar layout (deterministic — enters the lineage row next to the
block, so it must obey the blocks-deterministic-at-any-parallelism
invariant; everything here is a pure function of the value set)::

    [k: leb128][m_bits: leb128][bitset: m_bits/8 bytes, LSB-first]

Sizing: ``m = n_distinct * bits_per_value`` rounded up to a byte,
``k = round(ln 2 * bits_per_value)`` — the textbook optimum (~1% FP at
10 bits/value). Hashes: int64 values go through the splitmix64
finalizer (public-domain mixing constants); strings through the
engine's vectorized xxHash64 kernel (bit-identical to Spark's
``F.xxhash64``). Membership uses Kirsch-Mitzenmacher double hashing
(h1 + j*h2), so the bitset probes need only the two base hashes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .codecs import blocks

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — public-domain avalanche mixing."""
    with np.errstate(over="ignore"):
        x = x.astype(np.uint64, copy=True)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


def hash_ints(v: np.ndarray) -> np.ndarray:
    """int64 values -> uint64 base hashes."""
    return _mix64(np.ascontiguousarray(v, dtype=np.int64).view(np.uint64))


def hash_strings(arr: pa.Array) -> np.ndarray:
    """large_utf8/utf8 array (no nulls) -> uint64 base hashes via the
    corpus-plane xxHash64 kernel (textkernels.xxhash64_strings)."""
    from .pipeline import textkernels as tk

    arr = arr.cast(pa.large_utf8())
    plane, offsets = tk.arrow_plane(arr)
    starts = offsets[:-1]
    lens = np.diff(offsets)
    return tk.xxhash64_strings(plane, starts, lens)


def _h1_h2(h: np.ndarray | np.uint64):
    with np.errstate(over="ignore"):
        h2 = _mix64(np.atleast_1d(np.asarray(h, dtype=np.uint64)) ^ _GOLDEN) | np.uint64(1)
    return np.atleast_1d(np.asarray(h, dtype=np.uint64)), h2


def build(hashes: np.ndarray, bits_per_value: int = 10) -> bytes:
    """Base hashes of a chunk's values -> serialized sidecar."""
    h = np.unique(np.asarray(hashes, dtype=np.uint64))
    n = max(1, len(h))
    m = ((n * bits_per_value + 7) // 8) * 8  # whole bytes
    k = max(1, round(0.693 * bits_per_value))
    h1, h2 = _h1_h2(h)
    with np.errstate(over="ignore"):
        idx = (h1[:, None] + np.arange(k, dtype=np.uint64)[None, :] * h2[:, None]) \
            % np.uint64(m)
    flat = np.zeros(m, dtype=np.uint8)
    flat[idx.ravel().astype(np.int64)] = 1
    return (blocks.put_uvarint(k) + blocks.put_uvarint(m)
            + np.packbits(flat, bitorder="little").tobytes())


def might_contain(sidecar: bytes | memoryview, base_hash: int) -> bool:
    """One membership probe against a serialized sidecar (the reference's
    varint_bloom_check analog). False only when v is DEFINITELY absent."""
    mv = memoryview(sidecar)
    k, pos = blocks.take_uvarint(mv, 0)
    m, pos = blocks.take_uvarint(mv, pos)
    bits = np.frombuffer(mv[pos:], dtype=np.uint8)
    h1, h2 = _h1_h2(np.uint64(base_hash))
    with np.errstate(over="ignore"):
        idx = (h1[0] + np.arange(k, dtype=np.uint64) * h2[0]) % np.uint64(m)
    i = idx.astype(np.int64)
    return bool(((bits[i >> 3] >> (i & 7).astype(np.uint8)) & 1).all())


def probe_hash(value, kind: str) -> int:
    """Base hash of a single probe value ('int64'/'ts'/... -> int path,
    'str' -> string path) — must mirror the build-side hashing exactly."""
    if kind == "str":
        return int(hash_strings(pa.array([value], type=pa.large_utf8()))[0])
    return int(hash_ints(np.array([int(value)], dtype=np.int64))[0])
