"""Distributed encode/decode pipeline — the Spark half of the engine.

Stage plan (SURVEY §3, "thread/process/node boundaries"):

1. ONE shuffle: ``repartition(bucket, salt)`` — bucket = hash(conv_id) mod
   num_buckets; salt = turn_idx // salt_span splits hot conversations
   deterministically without a pre-count (AQE does not rebalance
   ``groupBy().applyInPandas`` groups, so skew handling is explicit here).
2. Per group, inside ONE ``applyInArrow`` call: stable sort by
   (conv_id, turn_idx) → fixed-size chunking → per-column stats → codec
   selection → encode → emit one block row per (chunk, column). Steps never
   re-cross the JVM↔Python boundary (the Arrow channel is crossed exactly
   twice: rows in, block rows out).
3. Decode is the mirror image: blocks grouped by (part_key, chunk_id),
   each group pivots its column blocks back into rows.

Everything in the UDFs is vectorized numpy/Arrow — no per-row Python.

Scale notes (100 TB / 1000 executors): num_buckets is the unit of
parallelism — set it to ≥ 8× total cores. MEASURED (BENCH/runs.log,
substrate mode): at 4× cores the last wave of large groups runs with
idle cores and the straggler tail reads as false scaling inefficiency
(N→4N kernel efficiency 0.64 at 16 buckets/4 cores vs 0.99 at 128);
8×+ gives enough balanced waves that the tail amortizes. Block rows are
a few MB each (chunk_rows × ~bytes/turn ÷ ratio), so shuffle partitions
stay bounded; the only driver-side data is the lineage summary (one
lineage row per (partition, column)).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from .codecs import bitmap, leb128, random_access, zigzag
from .codecs.blocks import INT_CODECS
from .selector import codec_name_of, decode_column, encode_column

# Logical kinds: every column maps to an int64 plane or a utf8 plane before
# hitting the codec kernels (the reference's "everything is uint64[]" model,
# SURVEY §1.1). f64 is a bit-cast (lossless, like varintFloat FULL mode,
# reference src/varintFloat.h:27-114).
#   int32/int64  — integer columns
#   ts           — timestamp ↔ int64 epoch-µs
#   f64          — double ↔ int64 bit pattern
#   str          — utf-8 strings
TRANSCRIPT_KINDS = {
    "conv_id": "str",
    "turn_idx": "int32",
    "role": "str",
    "text": "str",
    "tool": "str",
    "ts": "ts",
}


def kinds_for_schema(schema: T.StructType) -> dict[str, str]:
    """Derive column kinds from a Spark schema."""
    out = {}
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            out[f.name] = "int32"
        elif isinstance(dt, T.LongType):
            out[f.name] = "int64"
        elif isinstance(dt, T.TimestampType):
            out[f.name] = "ts"
        elif isinstance(dt, T.TimestampNTZType):
            out[f.name] = "tsntz"
        elif isinstance(dt, T.DoubleType):
            out[f.name] = "f64"
        elif isinstance(dt, T.StringType):
            out[f.name] = "str"
        elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.FloatType):
            out[f.name] = "f32list"  # embeddings (codecs/matrix.py)
        else:
            raise TypeError(f"unsupported column type for {f.name}: {dt}")
    return out

BLOCK_SCHEMA_DDL = (
    "part_key string, chunk_id int, column string, codec string, "
    "count long, null_count long, raw_bytes long, encoded_bytes long, "
    "varint_bytes long, min_val long, max_val long, sum_val long, "
    "min_str string, max_str string, bloom binary, hll binary, "
    "digest string, block binary"
)

DEFAULT_CHUNK_ROWS = 65_536
DEFAULT_SALT_SPAN = 4 * DEFAULT_CHUNK_ROWS


@dataclass(frozen=True)
class EncodeOptions:
    num_buckets: int = 32           # ≈ 2-4× total cores at real scale
    chunk_rows: int = DEFAULT_CHUNK_ROWS
    salt_span: int = DEFAULT_SALT_SPAN  # turns per salt group for hot convs
    order_col: str = "turn_idx"
    group_col: str = "conv_id"
    # explicit opt-in lossy float mode ('high'|'medium'|'low'; None =
    # lossless); applies to every f64 column in the table
    f64_precision: str | None = None
    # same opt-in for array<float> embedding columns ('medium'|'low';
    # None = bit-exact matrix codec)
    f32_precision: str | None = None
    # per-chunk Bloom sidecars (varint_spark.bloom) for these columns —
    # equality pruning where zone maps can't prune (scattered
    # high-cardinality values). Opt-in: ~bloom_bits/8 bytes per value.
    bloom_cols: tuple = ()
    bloom_bits: int = 10
    # per-chunk HyperLogLog sketches (varint_spark.hll) for these columns
    # — approximate COUNT(DISTINCT) from metadata over any chunk subset.
    # Opt-in: 2^hll_p bytes per (chunk, column); ±1.04/sqrt(2^p).
    hll_cols: tuple = ()
    hll_p: int = 12


INT_KINDS = ("int32", "int64", "ts", "tsntz", "f64")

_BLOCK_PA_SCHEMA = pa.schema([
    ("part_key", pa.string()), ("chunk_id", pa.int32()), ("column", pa.string()),
    ("codec", pa.string()), ("count", pa.int64()), ("null_count", pa.int64()),
    ("raw_bytes", pa.int64()), ("encoded_bytes", pa.int64()),
    ("varint_bytes", pa.int64()), ("min_val", pa.int64()), ("max_val", pa.int64()),
    ("sum_val", pa.int64()),
    ("min_str", pa.string()), ("max_str", pa.string()),
    ("bloom", pa.binary()), ("hll", pa.binary()),
    ("digest", pa.string()), ("block", pa.binary()),
])

ZONE_STR_MAX = 64  # chars; longer minima truncate (still a lower bound)


def _zone_str(s: str | None, is_min: bool) -> str | None:
    """String zone stat for the chunk metadata row. ASCII-only — the one
    regime where Python/Arrow/DuckDB (UTF-8 bytewise) and Spark
    (UTF8String binary) comparisons all provably agree, so pruning on
    these stats is sound everywhere the engine runs; anything else
    stores NULL, the same non-prunable escape f64 zone stats use. A
    truncated MIN stays a valid lower bound; a too-long MAX would need
    the increment trick to stay an upper bound, so it stores NULL."""
    if s is None or not s.isascii():
        return None
    if len(s) <= ZONE_STR_MAX:
        return s
    return s[:ZONE_STR_MAX] if is_min else None


def _col_to_int64(arr: pa.Array, kind: str) -> pa.Array:
    if kind in ("ts", "tsntz"):
        return arr.cast(pa.int64())
    if kind == "f64":
        # lossless bit-cast (varintFloat FULL-mode analog); NaN is a value,
        # nulls keep their validity (distinct from NaN)
        if arr.null_count:
            valid = pa.compute.is_valid(arr)
            vals = arr.fill_null(0.0).to_numpy(zero_copy_only=False).view(np.int64)
            return pa.compute.if_else(valid, pa.array(vals, type=pa.int64()),
                                      pa.scalar(None, type=pa.int64()))
        vals = arr.to_numpy(zero_copy_only=False).view(np.int64)
        return pa.array(vals, type=pa.int64())
    if kind == "int32":
        return arr.cast(pa.int64())
    return arr


def _run_lengths(arr: pa.Array) -> np.ndarray:
    """Run lengths of consecutive equal values (the conversation segments
    within a chunk) — drives the segment-aware delta codec."""
    n = len(arr)
    if n <= 1:
        return np.array([n] * (1 if n else 0), dtype=np.int64)
    neq = pa.compute.not_equal(arr.slice(1), arr.slice(0, n - 1))
    mask = neq.fill_null(False).to_numpy(zero_copy_only=False).astype(bool)
    starts = np.concatenate([[0], np.flatnonzero(mask) + 1]).astype(np.int64)
    return np.diff(np.append(starts, n))


def _exact_sum(dv: np.ndarray) -> int | None:
    """Exact int64-domain sum of a chunk's values via 32-bit halves (the
    naive int64 sum wraps silently): lo-half sums fit uint64 up to 2^32
    rows, hi-half sums fit int64 up to 2^32 rows. Returns None when the
    true sum leaves the int64 domain — aggregate_blocks decodes those
    chunks instead of trusting a wrapped number."""
    lo = int((dv & np.int64(0xFFFFFFFF)).astype(np.uint64)
             .sum(dtype=np.uint64))
    hi = int((dv >> np.int64(32)).sum(dtype=np.int64))
    s = (hi << 32) + lo
    return s if -(1 << 63) <= s < (1 << 63) else None


def _encode_chunk_rows(columns: dict[str, pa.Array], n: int, part_key: str,
                       chunk_id: int, kinds: dict[str, str],
                       shared_cols: dict | None = None,
                       segments: np.ndarray | None = None,
                       fsst_cache: dict | None = None,
                       f64_precision: str | None = None,
                       f32_precision: str | None = None,
                       bloom_cols: tuple = (), bloom_bits: int = 10,
                       hll_cols: tuple = (), hll_p: int = 12) -> list[dict]:
    from . import bloom as bloom_mod
    from . import hll as hll_mod

    rows = []
    for col, kind in kinds.items():
        arr = columns[col]
        mn = mx = sv = smn = smx = None
        sidecar = sketch = None
        if kind == "f32list":
            # Arrow list layout: 4 B per element + 4 B offset per row
            n_vals = int(pa.compute.sum(pa.compute.list_value_length(arr)).as_py() or 0)
            raw_bytes = 4 * n_vals + 4 * n
            vb = raw_bytes  # reference has no embedding codec; floor = raw
            block = encode_column(arr, "f32list", f32_precision=f32_precision)
        elif kind in INT_KINDS:
            arr = _col_to_int64(arr, kind)
            raw_bytes = 8 * n
            dense = arr.drop_null() if arr.null_count else arr
            dv = dense.to_numpy(zero_copy_only=False).astype(np.int64)
            # one zigzag+size pass serves both the varint_bytes bookkeeping
            # and the selector's LEB128 floor (previously computed twice)
            zz_sizes = leb128.encoded_sizes(zigzag.encode(dv))
            vb = int(zz_sizes.sum())
            if len(dv) and kind != "f64":  # zone-map stats (chunk pruning)
                mn, mx = int(dv.min()), int(dv.max())
                sv = _exact_sum(dv)  # aggregate pushdown (aggregate_blocks)
                if col in bloom_cols or col in hll_cols:
                    hv = bloom_mod.hash_ints(dv)  # one hash pass, two sidecars
                    if col in bloom_cols:  # equality (prune_chunks_bloom)
                        sidecar = bloom_mod.build(hv, bloom_bits)
                    if col in hll_cols:  # cardinality (approx_distinct_blocks)
                        sketch = hll_mod.build(hv, hll_p)
            block = encode_column(arr, "f64" if kind == "f64" else "int",
                                  segments=segments,
                                  f64_precision=f64_precision if kind == "f64" else None,
                                  dense_np=dv, zz_sizes=zz_sizes)
        else:
            lens = pa.compute.binary_length(arr)
            raw_bytes = int(pa.compute.sum(lens).as_py() or 0) + 4 * n  # data + 4B offsets
            vb = raw_bytes  # reference has no string codecs; floor = raw
            if n and arr.null_count < n:  # string zone stats (prune_chunks eq=/prefix=)
                mm = pa.compute.min_max(arr)
                smn = _zone_str(mm["min"].as_py(), is_min=True)
                smx = _zone_str(mm["max"].as_py(), is_min=False)
                if col in bloom_cols or col in hll_cols:
                    dense = arr.drop_null() if arr.null_count else arr
                    hv = bloom_mod.hash_strings(dense)
                    if col in bloom_cols:
                        sidecar = bloom_mod.build(hv, bloom_bits)
                    if col in hll_cols:
                        sketch = hll_mod.build(hv, hll_p)
            block = encode_column(arr, "str", (shared_cols or {}).get(col),
                                  fsst_cache=fsst_cache, cache_key=col)
        rows.append({
            "part_key": part_key,
            "chunk_id": chunk_id,
            "column": col,
            "codec": codec_name_of(block),
            "count": n,
            "null_count": arr.null_count,
            "raw_bytes": raw_bytes,
            "encoded_bytes": len(block),
            "varint_bytes": int(vb),
            "min_val": mn,
            "max_val": mx,
            "sum_val": sv,
            "min_str": smn,
            "max_str": smx,
            "bloom": sidecar,
            "hll": sketch,
            "digest": hashlib.sha256(block).hexdigest(),
            "block": block,
        })
    return rows


def _resolve_shared(shared, kinds: dict[str, str]) -> dict | None:
    """Broadcast[SharedTables] | SharedTables | None -> per-column
    (digest, dict_arr, fsst_tables) tuples for the selector."""
    if shared is None:
        return None
    tables = shared.value if hasattr(shared, "value") else shared
    digest = tables.digest()
    out = {}
    for col, kind in kinds.items():
        if kind != "str":
            continue
        d = tables.dict_array(col) if col in tables.dicts else None
        f = tables.fsst_tables.get(col)
        if d is not None or f is not None:
            out[col] = (digest, d, f)
    return out or None


def make_encode_udf(kinds: dict[str, str], opts: EncodeOptions, shared=None):
    """Grouped-map Arrow UDF: one (bucket, salt) group of rows -> block
    rows. Arrow-native end to end — rows never materialize as Python
    objects (the applyInPandas equivalent spends most of its time building
    millions of Python strings)."""
    group_col, order_col, chunk_rows = opts.group_col, opts.order_col, opts.chunk_rows

    def encode_group(key, table):
        bucket, salt = int(key[0].as_py()), int(key[1].as_py())
        part_key = f"{bucket:06d}:{salt:04d}"
        shared_cols = _resolve_shared(shared, kinds)
        table = table.sort_by([(group_col, "ascending"), (order_col, "ascending")])
        cols = {c: table.column(c).combine_chunks() for c in kinds}
        out: list[dict] = []
        n = table.num_rows
        fsst_cache: dict = {}  # per-group FSST table reuse across chunks
        for chunk_id, start in enumerate(range(0, n, chunk_rows)):
            m = min(chunk_rows, n - start)
            chunk_cols = {c: a.slice(start, m) for c, a in cols.items()}
            segments = _run_lengths(chunk_cols[group_col]) if group_col in chunk_cols else None
            out.extend(_encode_chunk_rows(chunk_cols, m, part_key, chunk_id, kinds,
                                          shared_cols, segments, fsst_cache,
                                          opts.f64_precision, opts.f32_precision,
                                          opts.bloom_cols, opts.bloom_bits,
                                          opts.hll_cols, opts.hll_p))
        return pa.Table.from_pylist(out, schema=_BLOCK_PA_SCHEMA)

    return encode_group


def with_partition_keys(df: DataFrame, opts: EncodeOptions) -> DataFrame:
    """Deterministic partition keys: bucket = pmod(hash(conv_id), B); salt
    splits any conversation longer than salt_span (no pre-count, no extra
    shuffle — cold conversations always get salt 0).

    Timestamp order columns (TIMESTAMP / TIMESTAMP_NTZ — Spark refuses a
    direct bigint cast on the latter) salt by epoch SECONDS, so salt_span
    reads as "seconds per salt group"; NTZ goes through to_timestamp under
    the UTC-pinned session TZ, keeping the salt a deterministic function
    of the stored value."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    if isinstance(df.schema[opts.order_col].dataType,
                  (TimestampType, TimestampNTZType)):
        order_sql = f"(unix_micros(to_timestamp({opts.order_col})) DIV 1000000)"
    else:
        # integer DIV (not double /): exact for the full int64 domain
        order_sql = f"CAST({opts.order_col} AS BIGINT)"
    return df.withColumn(
        "_bucket", F.pmod(F.hash(F.col(opts.group_col)), F.lit(opts.num_buckets)).cast("int")
    ).withColumn(
        "_salt", F.expr(f"CAST({order_sql} DIV {opts.salt_span} AS INT)")
    )


def encode_transcripts(df: DataFrame, opts: EncodeOptions = EncodeOptions(),
                       kinds: dict[str, str] | None = None, shared=None) -> DataFrame:
    """Table rows -> encoded block rows (one per chunk × column).

    ``shared``: optional Broadcast[SharedTables] (see varint_spark.shared)."""
    fn = make_encode_udf(kinds or kinds_for_schema(df.schema), opts, shared)
    return with_partition_keys(df, opts).groupBy("_bucket", "_salt") \
        .applyInArrow(fn, BLOCK_SCHEMA_DDL)


def _decoded_to_output(arr: pa.Array, kind: str) -> pa.Array:
    if kind == "ts":
        return arr.cast(pa.timestamp("us", tz="UTC"))
    if kind == "tsntz":
        return arr.cast(pa.timestamp("us"))
    if kind == "int32":
        return arr.cast(pa.int32())
    if kind == "f64":
        if arr.null_count:
            valid = pa.compute.is_valid(arr)
            vals = arr.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64).view(np.float64)
            return pa.compute.if_else(valid, pa.array(vals, type=pa.float64()),
                                      pa.scalar(None, type=pa.float64()))
        vals = arr.to_numpy(zero_copy_only=False).astype(np.int64).view(np.float64)
        return pa.array(vals, type=pa.float64())
    if kind == "str":
        return arr.cast(pa.string())
    if kind == "f32list":
        return arr  # matrix.decode already yields list<float>
    return arr


_NULL_OUTPUT_TYPES = {
    "int32": pa.int32(), "int64": pa.int64(),
    "ts": pa.timestamp("us", tz="UTC"), "tsntz": pa.timestamp("us"),
    "f64": pa.float64(), "str": pa.string(), "f32list": pa.list_(pa.float32()),
}


def make_decode_udf(kinds: dict[str, str], out_ddl_cols: list[str], shared=None,
                    verify: bool = False, missing_ok: bool = False,
                    where=None):
    """Grouped-map decode of one chunk's block rows. ``where``: optional
    ``(filter_col, mask)`` with ``mask`` from
    :func:`varint_spark.codecs.random_access.predicate_mask` — the row
    mask is evaluated on the filter column's ENCODED block, integer
    columns are read through ``take_mask`` (only the covering ranges
    decode) and the rest decode then filter. A ``_dv`` column riding the
    group (``deletes.join_dv``) drops its offsets either way."""
    def decode_group(key, table):
        shared_cols = _resolve_shared(shared, kinds) or {}
        names = table.column("column").to_pylist()
        blks = table.column("block").to_pylist()
        by_col = dict(zip(names, blks))
        if verify:  # integrity: stored digest must match block bytes
            digests = dict(zip(names, table.column("digest").to_pylist()))
            for col in out_ddl_cols:
                if missing_ok and col not in by_col:
                    continue
                got = hashlib.sha256(by_col[col]).hexdigest()
                if got != digests[col]:
                    raise ValueError(
                        f"block digest mismatch for column {col!r} "
                        f"(stored {digests[col][:12]}…, got {got[:12]}…)"
                    )
        n = int(table.column("count")[0].as_py())
        keep = None
        if where is not None:
            # the predicate runs against the ENCODED block — packed-offset
            # compares for FOR, header-bound 128-block pruning for BP128,
            # sorted-dictionary code ranges for DICT_STR(_SHARED)
            filter_col, mask = where
            keep = mask(by_col[filter_col], shared_cols.get(filter_col))
        dv = table.column("_dv")[0].as_py() if "_dv" in table.column_names else None
        if dv is not None:  # deletion vector rides the join
            keep = np.ones(n, dtype=bool) if keep is None else keep.copy()
            keep[bitmap.decode(dv)] = False
        pakeep = None if keep is None else pa.array(keep)

        def column(col):
            if missing_ok and col not in by_col:
                # schema evolution: a column added after these blocks were
                # written decodes as typed nulls (missing_ok=True)
                return pa.nulls(n if keep is None else int(keep.sum()),
                                _NULL_OUTPUT_TYPES[kinds[col]])
            blk = by_col[col]
            if where is not None and blk[0] in INT_CODECS:
                # selected rows only: contiguous runs -> partial get_range
                arr = pa.array(random_access.take_mask(blk, keep), type=pa.int64())
            else:  # strings / nullable / matrix / no predicate: decode
                arr = decode_column(blk, shared_cols.get(col))
                if pakeep is not None:
                    arr = arr.filter(pakeep)
            return _decoded_to_output(arr, kinds[col])

        return pa.Table.from_arrays([column(c) for c in out_ddl_cols],
                                    names=out_ddl_cols)

    return decode_group


_DDL_KINDS = {
    "tinyint": "int32", "smallint": "int32", "int": "int32", "integer": "int32",
    "bigint": "int64", "long": "int64",
    "timestamp": "ts", "timestamp_ntz": "tsntz", "double": "f64", "string": "str",
    "array<float>": "f32list",
}


def kinds_for_ddl(schema_ddl: str) -> dict[str, str]:
    out = {}
    for field in schema_ddl.split(","):
        name, typ = field.strip().split()[:2]
        out[name] = _DDL_KINDS[typ.lower()]
    return out


def decode_blocks(blocks: DataFrame, schema_ddl: str, kinds: dict[str, str] | None = None,
                  shared=None, columns: list[str] | None = None,
                  verify: bool = False, missing_ok: bool = False,
                  deletes: DataFrame | None = None) -> DataFrame:
    """Encoded block rows -> original rows (order-insensitive).

    ``columns``: optional projection — only those columns' blocks are read
    and decoded (the column-pruning analog for the block store: the filter
    on ``column`` pushes down into the blocks parquet scan, so pruned
    columns' bytes never leave disk).

    ``missing_ok``: schema evolution — columns in ``schema_ddl`` that have
    no stored blocks (added to the table after these partitions were
    written) decode as typed NULLs instead of failing, so one reader
    schema spans old and new epochs; the caller applies defaults with
    ``coalesce``. Columns REMOVED from the reader schema need no flag —
    that's the ``columns=`` projection.

    ``deletes``: optional deletion-vector table (varint_spark.deletes) —
    DV-named row offsets are dropped executor-side inside the decode UDF;
    the join is chunk-keyed against a metadata-sized table (AQE
    broadcasts it), so deleted rows are never materialized anywhere."""
    return _decode(blocks, schema_ddl, kinds, columns, deletes, shared=shared,
                   verify=verify, missing_ok=missing_ok)


def _decode(blocks: DataFrame, schema_ddl: str, kinds, columns, deletes,
            where: tuple[str, dict] | None = None, **udf_opts) -> DataFrame:
    """Shared body of decode_blocks / decode_blocks_where: column
    projection, optional predicate ``(filter_col, predicate kwargs)``,
    deletion-vector join, one grouped-map decode per chunk."""
    fields = [f.strip() for f in schema_ddl.split(",")]
    if columns:
        fields = [f for f in fields if f.split()[0] in set(columns)]
        schema_ddl = ", ".join(fields)
        blocks = blocks.filter(F.col("column").isin(list(columns)))
    cols = [f.split()[0] for f in fields]
    kinds = kinds or kinds_for_ddl(schema_ddl)
    if where is not None:
        filter_col, preds = where
        if filter_col not in cols:
            raise ValueError(f"filter_col {filter_col!r} must be among {cols}")
        where = (filter_col, random_access.predicate_mask(
            kinds.get(filter_col), column=filter_col, **preds))
    if deletes is not None:
        from .deletes import join_dv
        blocks = join_dv(blocks, deletes)
    fn = make_decode_udf(kinds, cols, where=where, **udf_opts)
    return blocks.groupBy("part_key", "chunk_id").applyInArrow(fn, schema_ddl)


def decode_blocks_where(blocks: DataFrame, schema_ddl: str, filter_col: str,
                        lo: int | None, kinds: dict[str, str] | None = None,
                        columns: list[str] | None = None,
                        hi: int | None = None,
                        eq: str | None = None,
                        prefix: str | None = None,
                        isin: list[str] | None = None,
                        like: str | None = None,
                        deletes: DataFrame | None = None,
                        shared=None) -> DataFrame:
    """The predicate form of :func:`decode_blocks` (same projection,
    ``deletes`` and ``shared`` handling): ``lo <= filter_col <= hi``
    (either bound optional, stored int64 domain — timestamps in epoch-µs)
    or one string predicate ``eq``/``prefix``/``isin``/``like`` is
    evaluated against each chunk's ENCODED block
    (:func:`varint_spark.codecs.random_access.predicate_mask`) and only
    the passing rows' values are materialized (``take_mask`` decodes the
    covering ranges only). ``shared``: the broadcast tables the store was
    encoded with, needed when the filter or an output column is a
    shared-table block. Combine with :func:`prune_chunks` for the
    zone-map stage first — this is the within-chunk stage of the
    reference's partial-decode surface (decode only needed blocks,
    varintFORDecodeBlock src/varintFOR.c:597)."""
    preds = dict(lo=lo, hi=hi, eq=eq, prefix=prefix, isin=isin, like=like)
    return _decode(blocks, schema_ddl, kinds, columns, deletes,
                   where=(filter_col, preds), shared=shared)


def compact_blocks(blocks: DataFrame, schema_ddl: str, target_chunk_rows: int,
                   kinds: dict[str, str] | None = None, shared=None,
                   group_col: str | None = None,
                   f64_precision: str | None = None,
                   f32_precision: str | None = None,
                   bloom_cols: tuple = (), bloom_bits: int = 10,
                   hll_cols: tuple = (), hll_p: int = 12,
                   deletes: DataFrame | None = None) -> DataFrame:
    """Chunk compaction — the small-chunks maintenance pass a long-lived
    block store needs (streaming epochs and fine-grained encodes leave
    sub-optimal chunks; bigger chunks amortize headers and widen
    random-access strides). Re-chunks every partition to
    ``target_chunk_rows`` with ONE shuffle on ``part_key`` and NO global
    reshuffle: rows never leave their partition, so this scales like a
    groupBy regardless of store size, and part_keys stay stable so
    resume/lineage identities survive. Within a group: decode chunks in
    chunk_id order (in-chunk order is the encode order, so the
    partition's row order is exactly reproduced), re-chunk, re-encode
    through the same selector/cost gate — compacting at the ORIGINAL
    chunk size is a byte-identical no-op (tested), the block-bytes
    determinism invariant holds by construction. Pass ``group_col`` to
    recompute segment restarts for the segment-aware delta codec.

    ``deletes``: optional deletion-vector table (varint_spark.deletes) —
    the fold-in pass: DV-named rows are dropped before re-chunking, so
    the rewritten store carries no vectors and the caller retires them.
    Determinism holds: surviving rows are a pure function of (blocks,
    deletes), so the fold-in re-encode is byte-deterministic too."""
    kinds = kinds or kinds_for_ddl(schema_ddl)
    if target_chunk_rows <= 0:
        raise ValueError(f"target_chunk_rows must be positive, got {target_chunk_rows}")
    cols = list(kinds)
    if deletes is not None:
        from .deletes import join_dv
        blocks = join_dv(blocks, deletes)

    def fn(key, table):
        part_key = key[0].as_py()
        shared_cols = _resolve_shared(shared, kinds)
        names = table.column("column").to_pylist()
        cids = table.column("chunk_id").to_pylist()
        blks = table.column("block").to_pylist()
        dv_by_chunk: dict[int, bytes] = {}
        if "_dv" in table.column_names:
            for cid, dv in zip(cids, table.column("_dv").to_pylist()):
                if dv is not None:
                    dv_by_chunk[cid] = dv
        per_col: dict[str, list] = {c: [] for c in cols}
        for nm, cid, b in zip(names, cids, blks):
            if nm in per_col:
                per_col[nm].append((cid, b))
        arrs = {}
        for col in cols:
            parts = sorted(per_col[col], key=lambda t: t[0])
            if not parts:
                raise ValueError(
                    f"compact_blocks: no blocks for column {col!r} in "
                    f"partition {part_key!r} — pass the schema the store "
                    "was written with (column projections can't compact)")
            sc = (shared_cols or {}).get(col)
            chunks = [_decoded_to_output(decode_column(b, sc), kinds[col])
                      for _, b in parts]
            if dv_by_chunk:
                from .deletes import apply_dv_mask
                chunks = [apply_dv_mask([a], len(a), dv_by_chunk.get(cid))[0]
                          for (cid, _), a in zip(parts, chunks)]
            arrs[col] = pa.concat_arrays(chunks) if len(chunks) > 1 else chunks[0]
        n = len(arrs[cols[0]])
        out: list[dict] = []
        fsst_cache: dict = {}
        for chunk_id, start in enumerate(range(0, n, target_chunk_rows)):
            m = min(target_chunk_rows, n - start)
            chunk_cols = {c: a.slice(start, m) for c, a in arrs.items()}
            segments = (_run_lengths(chunk_cols[group_col])
                        if group_col in chunk_cols else None)
            out.extend(_encode_chunk_rows(chunk_cols, m, part_key, chunk_id,
                                          kinds, shared_cols, segments,
                                          fsst_cache, f64_precision,
                                          f32_precision, bloom_cols,
                                          bloom_bits, hll_cols, hll_p))
        return pa.Table.from_pylist(out, schema=_BLOCK_PA_SCHEMA)

    return blocks.groupBy("part_key").applyInArrow(fn, BLOCK_SCHEMA_DDL)


def roundtrip(df: DataFrame, group_col: str, order_col: str,
              opts: EncodeOptions | None = None) -> DataFrame:
    """encode → decode a generic table; returns a DataFrame with the same
    schema and row set (the correctness-gate workhorse)."""
    import dataclasses
    opts = dataclasses.replace(opts or EncodeOptions(), group_col=group_col, order_col=order_col)
    kinds = kinds_for_schema(df.schema)
    blocks = encode_transcripts(df, opts, kinds=kinds)
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return decode_blocks(blocks, ddl, kinds=kinds)


LINEAGE_SCHEMA_DDL = (
    "part_key string, column string, codec string, n_chunks long, "
    "values long, raw_bytes long, encoded_bytes long, varint_bytes long, "
    "digest string"
)

_LINEAGE_PA_SCHEMA = pa.schema([
    ("part_key", pa.string()), ("column", pa.string()), ("codec", pa.string()),
    ("n_chunks", pa.int64()), ("values", pa.int64()), ("raw_bytes", pa.int64()),
    ("encoded_bytes", pa.int64()), ("varint_bytes", pa.int64()),
    ("digest", pa.string()),
])

_SUMMED = ("count", "raw_bytes", "encoded_bytes", "varint_bytes")


def lineage_rows(blocks: pa.Table) -> pa.Table:
    """The lineage rule, on block rows (only their metadata columns are
    read): one row per (part_key, column) with the sorted set of codecs
    chosen, the chunk count, the value and byte sums, and the sha256 of
    the sorted chunk digests."""
    g = blocks.group_by(["part_key", "column"], use_threads=False).aggregate(
        [("codec", "distinct"), ("chunk_id", "count", pa.compute.CountOptions("all")),
         ("digest", "list")] + [(c, "sum") for c in _SUMMED]
    ).sort_by([("part_key", "ascending"), ("column", "ascending")])
    return pa.table({
        "part_key": g["part_key"], "column": g["column"],
        "codec": [",".join(sorted(c)) for c in g["codec_distinct"].to_pylist()],
        "n_chunks": g["chunk_id_count"], "values": g["count_sum"],
        **{c: g[f"{c}_sum"] for c in _SUMMED[1:]},
        "digest": [hashlib.sha256("".join(sorted(d)).encode()).hexdigest()
                   for d in g["digest_list"].to_pylist()],
    }, schema=_LINEAGE_PA_SCHEMA)


def lineage_summary(blocks: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (the engine's ``varintFORMeta``
    analog — SURVEY §1.1): :func:`lineage_rows` over each partition's
    metadata columns, one row per (part_key, column)."""
    meta = ["part_key", "chunk_id", "column", "codec", "digest", *_SUMMED]
    return blocks.select(*meta).groupBy("part_key").applyInArrow(
        lambda _, t: lineage_rows(t), LINEAGE_SCHEMA_DDL)


def prune_chunks(blocks: DataFrame, column: str, lo=None, hi=None,
                 eq: str | None = None, prefix: str | None = None) -> DataFrame:
    """Zone-map chunk pruning: keep only the chunks of ``column`` whose
    zone can hold a matching row — the block-store analog of parquet
    row-group statistics pruning (reference analog: header-only metadata
    reads, varintBP128GetCount src/varintBP128.c:824). Follow with
    :func:`decode_blocks_where` (or decode_blocks + an exact filter).

    * ``lo``/``hi``: [min_val, max_val] must intersect [lo, hi]
      (timestamps: epoch-µs ints, the stored zone domain).
    * ``eq``/``prefix`` (at most one, never with bounds): [min_str,
      max_str] must hold ``eq`` / a string starting with ``prefix``. The
      stats are plain parquet columns, so at 100 TB the filter reaches
      the blocks scan's row-group statistics. String stats exist for
      ASCII values ≤64 chars (``_zone_str``); a truncated min is a lower
      bound by construction, so every comparison stays conservative.

    NULL zone stats (f64 / string columns carry no min_val/max_val, int
    columns no min_str/max_str) and non-ASCII probes keep the chunk —
    pruning is always sound, never required."""
    if eq is not None and prefix is not None:
        raise ValueError("pass at most one of eq= / prefix=")
    probe = eq if eq is not None else prefix
    if probe is not None and (lo is not None or hi is not None):
        raise ValueError("pass either eq=/prefix= or lo/hi bounds, not both")
    cond = F.col("column") == column
    # without the isNull() escapes the NULL comparison drops every
    # stat-less chunk and the semi-join silently returns zero rows
    if lo is not None:
        cond = cond & ((F.col("max_val") >= F.lit(int(lo))) | F.col("max_val").isNull())
    if hi is not None:
        cond = cond & ((F.col("min_val") <= F.lit(int(hi))) | F.col("min_val").isNull())
    if eq is not None and eq.isascii():
        cond = cond & ((F.col("min_str") <= F.lit(eq)) | F.col("min_str").isNull()) \
                    & ((F.col("max_str") >= F.lit(eq)) | F.col("max_str").isNull())
    elif prefix and prefix.isascii():
        upper = _ascii_increment(prefix)
        cond = cond & ((F.col("max_str") >= F.lit(prefix)) | F.col("max_str").isNull())
        if upper is not None:
            cond = cond & ((F.col("min_str") < F.lit(upper)) | F.col("min_str").isNull())
    return _keep_chunks(blocks, cond)


def _keep_chunks(blocks: DataFrame, cond) -> DataFrame:
    """Every block row of the chunks with a ``cond``-matching metadata row."""
    surviving = blocks.filter(cond).select("part_key", "chunk_id").distinct()
    # no broadcast hint: the surviving list can be millions of chunks at
    # 100 TB — AQE picks broadcast only when it actually fits
    return blocks.join(surviving, ["part_key", "chunk_id"], "left_semi")


def _ascii_increment(prefix: str) -> str | None:
    """Smallest ASCII string greater than every string with ``prefix``:
    bump the last byte below 0x7F, dropping trailing 0x7Fs. None when no
    upper bound exists (empty / all-DEL prefix)."""
    for i in range(len(prefix) - 1, -1, -1):
        if ord(prefix[i]) < 0x7F:
            return prefix[:i] + chr(ord(prefix[i]) + 1)
    return None


# perfbench/run.py:344 and perfbench/probes.py:188 still call this name;
# perfbench changes only in a benchmark change, which then drops the alias.
prune_chunks_str = prune_chunks


def prune_chunks_bloom(blocks: DataFrame, column: str, value,
                       kind: str = "int64") -> DataFrame:
    """Bloom-sidecar chunk pruning for an EQUALITY probe: keep only the
    chunks whose per-chunk Bloom filter for ``column`` might contain
    ``value`` (reference examples/advanced/bloom_filter.c). This is the
    pruning stage zone maps cannot provide — a high-cardinality column
    scattered across chunks has covering min/max spans everywhere, but
    its Bloom sidecar still answers "definitely absent" per chunk, so a
    selective probe drops chunks at the metadata scan. Chunks with no
    sidecar (column not in ``EncodeOptions.bloom_cols``) are kept —
    pruning is sound, never required; false positives only keep extra
    chunks, removed by the exact filter after decode. The membership UDF
    runs over CHUNK-count rows (metadata-sized), never value rows. It
    stays apart from :func:`prune_chunks` for that reason: folded in, every
    zone-map prune would evaluate Python over all block rows, sidecars or
    not.

    ``kind``: 'str' hashes the probe through the string path; any int
    kind ('int64'/'int32'/'ts'/'tsntz', epoch-µs for timestamps) through
    the int path — must match the encoded column's kind."""
    from . import bloom as bloom_mod

    h = bloom_mod.probe_hash(value, "str" if kind == "str" else "int64")

    @F.pandas_udf("boolean")
    def _might(b: pd.Series) -> pd.Series:
        from varint_spark import bloom as bm
        return b.apply(lambda s: s is None or bm.might_contain(s, h))

    return _keep_chunks(blocks, (F.col("column") == column) & _might(F.col("bloom")))
