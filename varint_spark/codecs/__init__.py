"""Pure-numpy codec kernels. Every kernel is ``encode(np.ndarray) -> bytes``
and ``decode(buf, count) -> np.ndarray`` with bit-identical round-trips.

No per-row Python: encode builds byte planes / bit matrices; decode
segments streams with flatnonzero/reduceat — the numpy analog of the
reference's SIMD kernels (reference src/varintFOR.c:245-596,
src/varintBP128.c:8-60).
"""

from . import bitmap, bitpack, blocks, delta, dict_codec, elias, external, f64lossy, foref, fsst, leb128, matrix, plain, random_access, rle, segdelta, strings, tagged, varint, zigzag  # noqa: F401
