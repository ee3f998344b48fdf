"""Deletion vectors over encoded block stores.

Row-level DELETE without rewriting payload blocks — the Delta/Iceberg-v3
deletion-vector design re-expressed through the engine's OWN bitmap
codec (varint_spark.codecs.bitmap, the Roaring-style container format,
ref src/varintBitmap.c): a delete emits one serialized bitmap per
(part_key, chunk_id) naming the deleted in-chunk row OFFSETS; reads
apply the mask executor-side inside the decode UDF; successive deletes
merge by container-level OR on the serialized form (bitmap_or — the
canonical-output algebra, so merged vectors are byte-deterministic);
compaction folds the vectors into a physical rewrite and drops them.

Scale shape (the 100-TB contract):

- ``delete_where`` reads ONLY the predicate column's blocks (a
  ``column ==`` filter that pushes into the blocks parquet scan) and
  evaluates the predicate on the ENCODED form via the random-access
  machinery — zero shuffle (mapInArrow over block rows), zero payload
  decode for FOR/DICT chunks, and chunks the caller pre-pruned by
  zone map / Bloom sidecar never even enter. A delete touching k rows
  writes O(k/8) bytes of sidecar and rewrites ZERO payload bytes.
- ``merge_dv`` is one shuffle over a table with one row per touched
  chunk — metadata-sized regardless of store size.
- The read-path join is (part_key, chunk_id)-keyed against that same
  tiny table; AQE broadcasts it.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .codecs import bitmap, random_access
from .engine import _resolve_shared, kinds_for_ddl

DV_DDL = "part_key string, chunk_id int, dv binary, n_deleted long"


def delete_where(blocks: DataFrame, filter_col: str, kind: str = "int64",
                 lo: int | None = None, hi: int | None = None,
                 eq: str | None = None, prefix: str | None = None,
                 isin: list[str] | None = None, like: str | None = None,
                 shared=None) -> DataFrame:
    """Build deletion vectors for rows matching the predicate.

    Same predicate surface as :func:`engine.decode_blocks_where` —
    ``lo``/``hi`` bounds in the stored int64 domain for integer/timestamp
    columns, ``eq``/``prefix``/``isin``/``like`` for string columns —
    evaluated against each chunk's ENCODED block. Emits one DV row per
    chunk that has at least one match; untouched chunks emit nothing, so
    the DV table size tracks the delete's selectivity, not the store's.

    Compose with ``prune_chunks`` (zone maps: lo/hi, eq/prefix) and
    ``prune_chunks_bloom`` (eq) first to skip non-matching chunks at the
    metadata level — a pruned chunk's block bytes never leave disk."""
    if all(v is None for v in (lo, hi, eq, prefix, isin, like)):
        raise ValueError("delete_where needs a predicate (lo/hi or a "
                         "string predicate) — a full-table delete is "
                         "drop, not delete")
    mask = random_access.predicate_mask(kind, lo, hi, eq, prefix, isin, like,
                                        column=filter_col)

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sc = (_resolve_shared(shared, {filter_col: kind}) or {}).get(filter_col)
        for batch in it:
            pks, cids, dvs, ns = [], [], [], []
            blks = batch.column("block").to_pylist()
            for i, blk in enumerate(blks):
                offs = np.flatnonzero(mask(blk, sc))
                if len(offs) == 0:
                    continue
                pks.append(batch.column("part_key")[i].as_py())
                cids.append(batch.column("chunk_id")[i].as_py())
                dvs.append(bitmap.encode(offs.astype(np.int64)))
                ns.append(len(offs))
            if pks:
                yield pa.record_batch(
                    [pa.array(pks, pa.string()), pa.array(cids, pa.int32()),
                     pa.array(dvs, pa.binary()), pa.array(ns, pa.int64())],
                    names=["part_key", "chunk_id", "dv", "n_deleted"])

    return blocks.filter(F.col("column") == filter_col) \
        .select("part_key", "chunk_id", "block").mapInArrow(fn, DV_DDL)


def _merge_group(key, table):
    # (part_key, chunk_id) grouped-map: OR-fold the serialized vectors —
    # container-level (one-sided containers copy verbatim), output
    # canonical, so the merge order never shows in the bytes
    acc = None
    for blob in table.column("dv").to_pylist():
        acc = bytes(blob) if acc is None else bitmap.bitmap_or(acc, bytes(blob))
    n = len(bitmap.decode(acc))
    return pa.table({
        "part_key": table.column("part_key").slice(0, 1),
        "chunk_id": table.column("chunk_id").slice(0, 1),
        "dv": pa.array([acc], pa.binary()),
        "n_deleted": pa.array([n], pa.int64()),
    })


def merge_dv(*dvs: DataFrame) -> DataFrame:
    """Union deletion-vector tables and OR per chunk (idempotent: deleting
    the same row twice is one deleted row). Byte-deterministic regardless
    of merge order — the serialized form is canonical."""
    if not dvs:
        raise ValueError("merge_dv needs at least one DV table")
    u = dvs[0]
    for d in dvs[1:]:
        u = u.unionByName(d)
    return u.groupBy("part_key", "chunk_id").applyInArrow(_merge_group, DV_DDL)


def apply_dv_mask(arrays: list[pa.Array], n: int, dv: bytes | None) -> list[pa.Array]:
    """Drop DV-named offsets from each array (decode-side helper)."""
    if dv is None:
        return arrays
    keep = np.ones(n, dtype=bool)
    keep[bitmap.decode(dv)] = False
    pamask = pa.array(keep)
    return [a.filter(pamask) for a in arrays]


def join_dv(blocks: DataFrame, dv: DataFrame) -> DataFrame:
    """Attach deletion vectors to block rows as a ``_dv`` column (left
    join on the chunk key — the DV side is metadata-sized, AQE broadcasts
    it). The decode UDF sees ``_dv`` riding along in the group and masks
    the decoded arrays; see ``engine.decode_blocks(deletes=)``."""
    side = dv.select("part_key", "chunk_id", F.col("dv").alias("_dv"))
    return blocks.join(side, on=["part_key", "chunk_id"], how="left")


_KEY_KIND_DDL = {"int32": "int", "int64": "long", "ts": "timestamp",
                 "tsntz": "timestamp_ntz", "str": "string"}


def _keys_with_offsets(blocks: DataFrame, key_kinds: dict[str, str],
                       deletes: DataFrame | None = None) -> DataFrame:
    """Decode ONLY the key columns of each chunk, tagged with the
    chunk-local PHYSICAL row offset — the position-delete scan: payload
    columns never leave disk (the ``column`` filter pushes into the
    blocks parquet scan). ``deletes``: rows already masked by earlier
    vectors are excluded (their offsets are skipped, numbering stays
    physical), so the scan sees exactly the currently-visible rows."""
    from .engine import make_decode_udf

    cols = list(key_kinds)
    ddl = ", ".join(f"{c} {_KEY_KIND_DDL[key_kinds[c]]}" for c in cols) \
        + ", part_key string, chunk_id int, _offset long"
    # decode WITHOUT the _dv short-circuit (offsets must stay physical);
    # strip _dv before handing the group to the plain decode UDF
    inner = make_decode_udf(key_kinds, cols)
    if deletes is not None:
        blocks = join_dv(blocks, deletes)

    def fn(key, table):
        dv = None
        if "_dv" in table.column_names:
            dv = table.column("_dv")[0].as_py()
            table = table.drop_columns(["_dv"])
        t = inner(key, table)
        n = t.num_rows
        t = t.append_column("part_key", pa.array([key[0].as_py()] * n, pa.string())) \
             .append_column("chunk_id", pa.array([key[1].as_py()] * n, pa.int32())) \
             .append_column("_offset", pa.array(np.arange(n, dtype=np.int64)))
        if dv is not None:
            keep = np.ones(n, dtype=bool)
            keep[bitmap.decode(dv)] = False
            t = t.filter(pa.array(keep))
        return t

    return blocks.filter(F.col("column").isin(cols)) \
        .groupBy("part_key", "chunk_id").applyInArrow(fn, ddl)


def delete_matching_keys(blocks: DataFrame, keys: DataFrame,
                         key_kinds: dict[str, str],
                         deletes: DataFrame | None = None) -> DataFrame:
    """Position deletes by KEY SET — the merge-on-read primitive (what
    Iceberg calls position delete files, here as the engine's own bitmap
    sidecars): rows whose key tuple appears in ``keys`` get their chunk
    offsets collected into one DV per chunk.

    Scale shape: one scan of the KEY columns only (offset-tagged decode),
    a semi-join against the key set (metadata-sized for upserts — AQE
    broadcasts it), one chunk-keyed shuffle of the hit offsets. Payload
    columns are never read. ``deletes``: the store's current vectors —
    already-masked rows are not re-marked (keeps delete counts honest)."""
    key_cols = list(key_kinds)
    dec = _keys_with_offsets(blocks, key_kinds, deletes=deletes)
    hits = dec.join(keys.select(*key_cols).distinct(), on=key_cols,
                    how="left_semi")

    def to_dv(key, table):
        offs = np.sort(table.column("_offset").to_numpy(zero_copy_only=False))
        return pa.table({
            "part_key": table.column("part_key").slice(0, 1),
            "chunk_id": table.column("chunk_id").slice(0, 1),
            "dv": pa.array([bitmap.encode(offs)], pa.binary()),
            "n_deleted": pa.array([len(offs)], pa.int64()),
        })

    return hits.groupBy("part_key", "chunk_id").applyInArrow(to_dv, DV_DDL)
