"""Deduplication operators over a document table.

* :func:`exact_dedup` — hash-groupBy, pure DataFrame ops (one shuffle on
  the hash; Catalyst handles partial aggregation map-side).
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — shingle →
  minhash → band → bucket-join. Signatures are computed in a vectorized
  Arrow UDF (numpy universal hashing); the band bucket-join is a plain
  self-join on (band, bucket) — broadcast-free, scales with shuffle.
* :func:`simhash` — 64-bit SimHash over token hashes.
* :func:`ngram_jaccard_pairs` — exact Jaccard over character n-grams for
  candidate pairs (verification stage after LSH).

All hashing is deterministic (fixed seeds) so results are stable across
parallelism levels.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, Window as W

from . import textkernels

MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Mark duplicates: first occurrence (lowest id) per key wins.
    Returns df + ``dup_rank`` (0 = keeper) — one shuffle on the key."""
    w = W.partitionBy(*key_cols).orderBy(id_col)
    return df.withColumn("dup_rank", F.row_number().over(w) - 1)


def make_minhash_udf(num_hashes: int, shingle_width: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)

    def udf(iterator):
        for tbl in iterator:
            ids = tbl.column("_mh_id")
            n = len(ids)
            # one corpus plane for the whole batch, zero-copy from the
            # Arrow string buffers: every shingle hash in the batch is
            # computed with O(plane) vector ops, no per-doc loop
            plane, offs = textkernels.arrow_plane(tbl.column("text"))
            hashes, hoffs = textkernels.window_hashes(plane, offs, shingle_width)
            sig = np.zeros((n, num_hashes), dtype=np.int64)
            if len(hashes):
                for i in range(num_hashes):  # loops over hash fns, not docs
                    # universal hashing family: (a*x + b) mod p, min per doc
                    vals = (a[i] * hashes + b[i]) % np.uint64(MERSENNE)
                    sig[:, i] = np.minimum.reduceat(vals, hoffs[:-1]).astype(np.int64)
            lst = pa.ListArray.from_arrays(
                np.arange(0, (n + 1) * num_hashes, num_hashes, dtype=np.int32),
                pa.array(sig.ravel(), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays([ids, lst], names=["_mh_id", "signature"])

    return udf


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64, shingle_width: int = 5) -> DataFrame:
    """(id, signature array<long>) per document."""
    src = df.select(F.col(id_col).alias("_mh_id"), F.col(text_col).alias("text"))
    udf = make_minhash_udf(num_hashes, shingle_width)
    out = src.mapInArrow(udf, "_mh_id long, signature array<long>")
    return out.withColumnRenamed("_mh_id", id_col)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_width: int = 5,
                      max_bucket_size: int = 10_000) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: documents sharing any
    band bucket. Returns (id_a, id_b) with id_a < id_b, distinct.

    ``max_bucket_size`` drops degenerate buckets (e.g. empty-text hash
    collisions) whose self-join would be quadratic — the standard LSH
    skew guard at corpus scale; near-dup pairs inside a dropped bucket
    are still found through their other ``bands - 1`` bands."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_width)
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.hash(F.slice(F.col("signature"),
                                         i * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band", "bucket"),
    )
    w = W.partitionBy("band", "bucket")
    banded = banded.withColumn("_bsz", F.count("*").over(w)) \
        .filter(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.bucket") == F.col("r.bucket"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str,
            hash_mode: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document, computed corpus-plane in ONE
    mapInArrow pass: whitespace-token boundaries from the zero-copy byte
    plane, a vectorized per-token hash, and an np.add.reduceat sign
    reduction per document. No token explode, no token shuffle — the
    former DataFrame shape shuffled 64 signed columns per token of the
    corpus, which at trillion-token scale dominates the job; this shape
    shuffles nothing (the map output is one row per document).

    Semantics unchanged from the explode version: tokens are maximal runs
    of non-whitespace (Java ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]``, the
    ``split(r"\\s+")`` + length>0 boundaries); bit i of the result is 1
    iff the signed sum of token-hash bit i over the document is > 0;
    documents with no tokens emit no row.

    ``hash_mode='xxhash64'`` (production default): exact Spark
    ``F.xxhash64`` semantics — seed 42 over utf-8 bytes, verified
    bit-identical in tests. ``'portable'``: the SQL-reproducible
    polynomial fold over codepoints (textkernels.portable_hash_strings)
    so a DuckDB oracle can recompute the result term by term."""
    src = df.select(F.col(id_col).alias("_sh_id"), F.col(text_col).alias("text"))

    def udf(iterator):
        for tbl in iterator:
            plane, offs = textkernels.arrow_plane(tbl.column("text"))
            starts, lens, toffs = textkernels.token_bounds(plane, offs)
            if hash_mode == "xxhash64":
                h = textkernels.xxhash64_strings(plane, starts, lens)
            else:
                h = textkernels.portable_hash_strings(plane, starts, lens)
            sh, ne = textkernels.simhash_from_hashes(h, toffs)
            ids = tbl.column("_sh_id").to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[ne], type=pa.int64()),
                 pa.array(sh, type=pa.int64())],
                names=["_sh_id", "simhash"])

    out = src.mapInArrow(udf, "_sh_id long, simhash long")
    return out.withColumnRenamed("_sh_id", id_col)


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 3, bands: int = 8,
                           hash_mode: str = "xxhash64",
                           max_bucket_size: int = 100_000,
                           sigs: DataFrame | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, at scale: band
    the 64-bit simhash into ``bands`` bit slices, self-join on any shared
    (band, slice) bucket, verify candidates with the exact
    ``bit_count(xor)``. Because ``bands > max_hamming``, a pair within
    the Hamming radius differs in at most ``max_hamming`` bands, so BY
    PIGEONHOLE it shares at least one band bucket — the banding is an
    EXACT candidate generator (no recall loss), unlike probabilistic
    minhash bands. One shuffle for the self-join; everything JVM-side
    after the simhash map pass.

    ``max_bucket_size`` is the standard degenerate-bucket skew guard
    (e.g. a boilerplate band shared by millions of docs); dropping a
    bucket can only lose pairs whose OTHER shared bands are also
    oversized. Returns (id_a, id_b, hamming), id_a < id_b.

    Band sizing at corpus scale: a band of width w has 2^w distinct
    slices, so expected bucket size is n / 2^w and the self-join does
    ~n² / 2^w work. For max_hamming ≤ 3 prefer ``bands=4`` (16-bit
    slices, 65536 buckets/band — pigeonhole still holds since 4 > 3)
    over the 8×8-bit default; beyond ~10⁹ docs the next step is
    Manku-style sorted-prefix tables rather than wider bands."""
    if bands <= max_hamming:
        raise ValueError(f"bands ({bands}) must exceed max_hamming "
                         f"({max_hamming}) for the pigeonhole guarantee")
    if 64 % bands:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    # sigs: precomputed (id, simhash) — skips the tokenize+hash map pass
    # when the caller already has signatures (e.g. the streaming dedup,
    # which needs them again for the index append); hash_mode is then
    # whatever produced them
    sh = sigs if sigs is not None else simhash(df, id_col, text_col, hash_mode)
    banded = sh.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("simhash", i * width).bitwiseAND(F.lit(mask))
            for i in range(bands)
        ])).alias("band", "slice"))
    w = W.partitionBy("band", "slice")
    banded = banded.withColumn("_bsz", F.count("*").over(w)) \
        .filter(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    left, right = banded.alias("l"), banded.alias("r")
    cand = (
        left.join(right, (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.slice") == F.col("r.slice"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
                .cast("long").alias("hamming"))
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def minhash_incremental_pairs(index_sigs: DataFrame, new_docs: DataFrame,
                              id_col: str, text_col: str,
                              num_hashes: int = 64, bands: int = 16,
                              shingle_width: int = 5,
                              max_bucket_size: int = 10_000) -> DataFrame:
    """MinHash twin of :func:`simhash_incremental_pairs`: candidate
    near-duplicate pairs between a NEW batch and an EXISTING corpus whose
    minhash signatures are already persisted (``index_sigs``:
    ``(id, signature array<long>)``) — only the new batch is shingled.
    Banding is the probabilistic LSH scheme (same bands/rows trade-off as
    :func:`minhash_lsh_pairs`); follow with :func:`ngram_jaccard_pairs`
    on the candidates for exact verification. The skew guard drops
    degenerate buckets on the index side. Returns (new_id, old_id)."""
    rows_per_band = num_hashes // bands

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(out_id),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda i: F.hash(F.slice(F.col("signature"),
                                             i * rows_per_band + 1,
                                             rows_per_band)),
                )
            ).alias("band", "bucket"))

    old_b = banded(index_sigs, "old_id")
    w = W.partitionBy("band", "bucket")
    old_b = old_b.withColumn("_bsz", F.count("*").over(w)) \
        .filter(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    new_sigs = minhash_signatures(new_docs, id_col, text_col,
                                  num_hashes, shingle_width)
    new_b = banded(new_sigs, "new_id")
    return (new_b.join(old_b, ["band", "bucket"])
            .select("new_id", "old_id").distinct())


def simhash_incremental_pairs(index_sigs: DataFrame, new_docs: DataFrame,
                              id_col: str, text_col: str,
                              max_hamming: int = 3, bands: int = 8,
                              hash_mode: str = "xxhash64",
                              max_bucket_size: int = 100_000,
                              new_sigs: DataFrame | None = None) -> DataFrame:
    """Incremental dedup: match a NEW batch of documents against an
    EXISTING corpus through its PERSISTED SimHash signatures — the old
    corpus text is never read or re-hashed. ``index_sigs`` is the stored
    ``(id, simhash)`` table (typically decoded from the engine's encoded
    signature blocks; see the ``dedup_incremental`` driver query); only
    ``new_docs`` is tokenized.

    Same pigeonhole-exact banding as :func:`simhash_near_dup_pairs`
    (bands > max_hamming ⇒ a pair within the radius shares ≥ 1 band
    bucket), but the join is new-batch × index instead of a self-join.
    At corpus scale this is the shape that matters: the index is
    signature-sized (16 B/doc regardless of document length), the new
    batch is the only text processed, and the shuffle carries band
    slices, not documents. The skew guard drops degenerate buckets on
    the index side (the corpus-scale side). Returns
    ``(new_id, old_id, hamming)``."""
    if bands <= max_hamming:
        raise ValueError(f"bands ({bands}) must exceed max_hamming "
                         f"({max_hamming}) for the pigeonhole guarantee")
    if 64 % bands:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1

    def banded(sh_df: DataFrame, out_id: str) -> DataFrame:
        return sh_df.select(
            F.col(id_col).alias(out_id),
            F.col("simhash").alias(f"_sh_{out_id}"),
            F.posexplode(F.array(*[
                F.shiftrightunsigned("simhash", i * width)
                .bitwiseAND(F.lit(mask)) for i in range(bands)
            ])).alias("band", "slice"))

    old_b = banded(index_sigs, "old_id")
    w = W.partitionBy("band", "slice")
    old_b = old_b.withColumn("_bsz", F.count("*").over(w)) \
        .filter(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    new_b = banded(new_sigs if new_sigs is not None
                   else simhash(new_docs, id_col, text_col, hash_mode), "new_id")
    cand = (
        new_b.join(old_b, ["band", "slice"])
        .select("new_id", "old_id",
                F.bit_count(F.col("_sh_new_id").bitwiseXOR(F.col("_sh_old_id")))
                .cast("long").alias("hamming"))
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def _list_plane(col) -> tuple[np.ndarray, np.ndarray]:
    """Arrow array<long> column -> (uint64 values plane, int64 offs[n+1])
    — the inverse of the ListArray built by the shingle pass, zero-copy."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False).view(np.uint64)
    return vals[offs[0]:offs[-1]], offs - offs[0]


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, id_col: str, text_col: str,
                        shingle_width: int = 5, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (LSH verification stage).

    Each document's sorted-unique shingle-hash SET is computed by a
    corpus-plane mapInArrow over the doc table, and the candidate pairs
    join against those precomputed sets; the per-pair work is just the
    sorted-set intersection. ``shingled`` is not cached, so Spark runs
    that shingle pass once per join side (id_a and id_b) — twice per
    document, not once per candidate. The r6 shape joined the raw TEXTS
    to the pairs and re-shingled both sides per pair — on a near-dup-heavy
    corpus each document was re-hashed once per candidate it appears in
    (~58x at the sf0.1 gate: 292k candidates over 10k docs, 113s; this
    shape runs the same verification in a few seconds with identical
    jaccard values, guide §8: move the heavy compute to the per-doc pass,
    attach results to pairs)."""
    docs = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))

    def shingle_udf(iterator):
        for tbl in iterator:
            plane, offs = textkernels.arrow_plane(tbl.column("_text"))
            uh, uoffs = textkernels.unique_per_doc(
                *textkernels.window_hashes(plane, offs, shingle_width))
            lst = pa.ListArray.from_arrays(
                pa.array(uoffs, type=pa.int32()),
                pa.array(uh.view(np.int64), type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [tbl.column("_id"), lst], names=["_id", "_sh"])

    shingled = docs.mapInArrow(shingle_udf, "_id long, _sh array<long>")
    joined = (
        pairs.join(shingled.withColumnRenamed("_id", "id_a")
                   .withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(shingled.withColumnRenamed("_id", "id_b")
              .withColumnRenamed("_sh", "sh_b"), "id_b")
    )

    def udf(iterator):
        for tbl in iterator:
            ha, aoffs = _list_plane(tbl.column("sh_a"))
            hb, boffs = _list_plane(tbl.column("sh_b"))
            jac = textkernels.pair_jaccard(ha, aoffs, hb, boffs)
            yield pa.RecordBatch.from_arrays(
                [tbl.column("id_a"), tbl.column("id_b"), pa.array(jac, type=pa.float64())],
                names=["id_a", "id_b", "jaccard"],
            )

    out = joined.mapInArrow(udf, "id_a long, id_b long, jaccard double")
    return out.filter(F.col("jaccard") >= threshold)
