"""Single-core codec kernel microbench — apples-to-apples with the
reference's published numbers (BASELINE.md: BP128 200 MB/s scalar encode /
300 MB/s decode; delta/FOR claims), on the same kind of data
(reference src/varintCompare.c: bit-width-weighted random uint64)."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).parent.parent))

from varint_spark.codecs import delta, foref, varint  # noqa: E402

N = 10_000_000


def _best_of(fn, reps=3):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def main() -> None:
    rng = np.random.default_rng(42)
    results = {}

    # sorted timestamps (µs) — delta's case
    ts = np.int64(1.7e15) + np.cumsum(rng.integers(1, 60_000_000, N, dtype=np.int64))
    # tight cluster — FOR's case
    cluster = rng.integers(10_000_000, 10_001_000, N, dtype=np.int64)
    # bit-width-weighted random — varint stream case (ref varintCompare.c:28-35)
    raw = rng.integers(0, 2**63, N, dtype=np.int64).view(np.uint64)
    nbits = rng.integers(0, 64, N)
    mask = (np.uint64(1) << nbits.astype(np.uint64)) - np.uint64(1)
    weighted = (raw & mask).view(np.int64)

    for name, codec, data in [
        ("delta_sorted_ts", delta, ts),
        ("for_tight_cluster", foref, cluster),
        ("varint_bitweighted", varint, weighted),
    ]:
        t_enc, buf = _best_of(lambda c=codec, d=data: c.encode(d))
        t_dec, out = _best_of(lambda c=codec, b=buf: c.decode(b, N))
        assert np.array_equal(out, data), name
        results[name] = {
            "encode_MBps": round(data.nbytes / t_enc / 1e6, 1),
            "decode_MBps": round(data.nbytes / t_dec / 1e6, 1),
            "ratio": round(data.nbytes / len(buf), 2),
        }

    # IVF assign hot path: zero-copy Arrow list -> (n, dim) matrix + argmax
    # vs the to_pylist materialization it replaced (VERDICT r2 #1)
    import pyarrow as _pa
    from varint_spark.pipeline.similarity import list_matrix

    n_vec, dim, k = 200_000, 64, 16
    mat = rng.standard_normal((n_vec, dim)).astype(np.float32)
    cent = rng.standard_normal((k, dim))
    offsets = _pa.array(np.arange(n_vec + 1, dtype=np.int32) * dim, type=_pa.int32())
    arr = _pa.ListArray.from_arrays(offsets, _pa.array(mat.ravel(), type=_pa.float32()))
    nbytes = mat.nbytes

    def assign_zero_copy():
        vecs = list_matrix(arr)
        vn = vecs / np.maximum(np.linalg.norm(vecs.astype(np.float64), axis=1,
                                              keepdims=True), 1e-12)
        return np.argmax(vn @ cent.T, axis=1)

    def assign_pylist():
        vecs = np.array(arr.to_pylist(), dtype=np.float64)
        vn = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
        return np.argmax(vn @ cent.T, axis=1)

    t_zc, a1 = _best_of(assign_zero_copy)
    t_py, a2 = _best_of(assign_pylist, reps=1)
    assert np.array_equal(a1, a2)
    results["ivf_assign_200k_x64"] = {
        "zero_copy_MBps": round(nbytes / t_zc / 1e6, 1),
        "to_pylist_MBps": round(nbytes / t_py / 1e6, 1),
        "speedup": round(t_py / t_zc, 1),
    }

    # shingle hashing: corpus-plane kernel vs the per-document loop it
    # replaced (billions of short docs make the doc loop the bottleneck)
    import pandas as pd
    from varint_spark.pipeline import textkernels as tk

    import pyarrow as pa_mod

    corpora = {
        "shingle_hash_200k_med_docs": pd.Series(
            ["doc %d " % i + "lorem ipsum dolor sit amet " * (3 + i % 5)
             for i in range(200_000)]),
        # the motivating shape: billions of SHORT docs, where the per-doc
        # Python loop (~µs/doc regardless of size) dominates
        "shingle_hash_500k_short_docs": pd.Series(
            ["short doc number %d" % i for i in range(500_000)]),
    }
    # simhash: one corpus-plane pass (token bounds + vectorized xxhash64 +
    # reduceat sign sums) vs the same kernels applied per document — the
    # loop shape that (like the deleted token-explode DataFrame) pays
    # per-document overhead regardless of size
    sh_texts = pd.Series(["short doc number %d with a few more tokens %d"
                          % (i, i * 7) for i in range(100_000)])
    sh_arrow = pa_mod.array(sh_texts)
    sh_nbytes = int(sh_texts.str.len().sum())

    def simhash_plane():
        p, o = tk.arrow_plane(sh_arrow)
        s, ln, t = tk.token_bounds(p, o)
        return tk.simhash_from_hashes(tk.xxhash64_strings(p, s, ln), t)[0]

    def simhash_docloop():
        p, o = tk.arrow_plane(sh_arrow)
        two = np.array([0, 0], dtype=np.int64)
        acc = np.int64(0)
        for d in range(len(o) - 1):
            sl = p[o[d]: o[d + 1]]
            two[1] = len(sl)
            s, ln, t = tk.token_bounds(sl, two)
            acc ^= tk.simhash_from_hashes(tk.xxhash64_strings(sl, s, ln), t)[0][0]
        return acc

    t_plane, sh1 = _best_of(simhash_plane, reps=3)
    t_loop, _ = _best_of(simhash_docloop, reps=1)
    results["simhash_100k_short_docs"] = {
        "legacy_loop_MBps": round(sh_nbytes / t_loop / 1e6, 1),
        "plane_kernel_MBps": round(sh_nbytes / t_plane / 1e6, 1),
        "speedup": round(t_loop / t_plane, 1),
    }

    for bench_name, texts in corpora.items():
        nbytes = int(texts.str.len().sum())

        def legacy(texts=texts):
            base = np.uint64(1099511628211)
            acc = np.uint64(0)
            for t in texts:
                b = np.frombuffer(t.encode(), dtype=np.uint8)
                h = np.zeros(len(b) - 4, dtype=np.uint64)
                for k in range(5):
                    h = h * base + b[k: len(b) - 4 + k].astype(np.uint64)
                acc ^= h.min()
            return acc

        arrow_texts = pa_mod.array(texts)

        def plane(arrow_texts=arrow_texts):
            # the UDF-path shape: zero-copy plane from the Arrow buffers
            p, o = tk.arrow_plane(arrow_texts)
            h, ho = tk.window_hashes(p, o, 5)
            return tk.min_per_doc(h, ho)

        t_legacy, _ = _best_of(legacy, reps=1)
        t_plane, _ = _best_of(plane, reps=3)
        results[bench_name] = {
            "legacy_loop_MBps": round(nbytes / t_legacy / 1e6, 1),
            "plane_kernel_MBps": round(nbytes / t_plane / 1e6, 1),
            "speedup": round(t_legacy / t_plane, 1),
        }

    # sequence packing: per-BIN searchsorted scan vs the per-ROW loop it
    # replaced (VERDICT r5 #7) — the many-docs-per-bin shape (short docs,
    # big budget) is where iterations collapse from n to n/docs-per-bin
    from varint_spark.pipeline.packing import pack_next_fit_kernel

    lens = rng.integers(50, 400, 2_000_000).astype(np.int64)
    budget = 8192  # ~36 docs per bin

    def pack_row_scan(lens=lens):
        bins = np.zeros(len(lens), dtype=np.int64)
        b, fill = 0, 0
        for i in range(len(lens)):
            ln = int(lens[i])
            if fill and fill + ln > budget:
                b, fill = b + 1, 0
            bins[i] = b
            fill += ln
        return bins

    t_bin, a_bin = _best_of(lambda: pack_next_fit_kernel(lens, budget))
    t_row, a_row = _best_of(pack_row_scan, reps=1)
    assert np.array_equal(a_bin, a_row)
    results["pack_next_fit_2M_docs"] = {
        "row_scan_Mdocs_per_s": round(len(lens) / t_row / 1e6, 2),
        "per_bin_Mdocs_per_s": round(len(lens) / t_bin / 1e6, 2),
        "speedup": round(t_row / t_bin, 1),
    }
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
