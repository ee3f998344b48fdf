"""Per-partition lineage, checkpoint/resume and crash-atomic commits for
the block store.

A killed job resumes without re-encoding completed partitions, with
lineage rows (partition id, codec chosen, input/output bytes, digest)
per partition.

Storage layout (Iceberg-style commit semantics over plain parquet):

    <root>/blocks/pk=<k>/*.parquet          — encoded block rows
    <root>/lineage/commit=<id>/*.parquet    — one row per (part_key, column)
    <root>/deletes/commit=<id>/*.parquet    — deletion-vector appends
    <root>/overlays/<commit>/               — merge-on-read upsert stores
    <root>/commits/<id>                     — manifest: the part_keys it made visible

Every lineage and delete-log file sits under the id of the commit that
wrote it; a commit is visible once its manifest is under ``commits/``.
Resume, snapshots, ``vacuum`` and ``next_commit`` read these small files
on the driver, with no Spark job. A store without manifests has no
committed data and reads as empty.

Protocol:

1. Pending work = distinct (bucket, salt) keys of the input **anti-joined**
   against the part_keys the manifests list (a broadcast local relation).
2. Blocks are written with *dynamic partition overwrite*, so re-encoding a
   partition after a crash replaces its directory instead of duplicating
   rows (idempotent because block contents are deterministic —
   tests/test_engine_e2e.py::test_determinism_across_parallelism).
3. The lineage rows, collected once from this run's cached blocks, are
   written from the driver after the block write commits, and the
   manifest listing their part_keys last. A crash before the manifest
   leaves block dirs and lineage rows that readers ignore; the next run
   re-encodes those partitions under a fresh id, and ``vacuum`` reclaims
   dirs no run re-covers.
"""

from __future__ import annotations

import functools
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import EncodeOptions, encode_transcripts, lineage_summary, with_partition_keys


def _part_key_col() -> F.Column:
    # Must match the engine UDF's Python f"{bucket:06d}:{salt:04d}" exactly:
    # printf %d semantics widen (never truncate) for >=5-digit or negative
    # salts, where lpad would truncate '12345' -> '1234' and collide keys.
    return F.format_string("%06d:%04d", F.col("_bucket"), F.col("_salt"))


def _read_log(spark: SparkSession, path: Path) -> DataFrame | None:
    if not any(path.glob("commit=*/*.parquet")):
        return None
    return spark.read.parquet(str(path))


def read_lineage(spark: SparkSession, root: str) -> DataFrame | None:
    """Every lineage row on disk, committed or not (None before the first
    append); the manifests say which part_keys are committed."""
    return _read_log(spark, Path(root) / "lineage")


def read_blocks(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(str(Path(root) / "blocks"))


# --- commit manifests: crash-atomic multi-file commits ---------------------
#
# A logical commit writes several files (blocks, lineage, delete-log
# appends across stores, an overlay encode), each under its commit id.
# The manifest <root>/commits/<id> comes LAST: the sorted part_keys the
# commit made visible, one per line (empty for deletes and upserts),
# written under a hidden name and renamed into place. Readers honor only
# manifested ids, so a crash mid-commit leaves every partial write
# INVISIBLE rather than half-applied. Ids start at 1; a crashed commit's
# id shows in its paths, so next_commit never reuses it, and its garbage
# stays invisible until ``vacuum`` reclaims it.


def committed_ids(root: str) -> set[int]:
    """Manifested commit ids of the store at ``root`` (empty before its
    first commit)."""
    return {int(f.name) for f in (Path(root) / "commits").glob("*")
            if f.name.isdigit()}


def _committed_keys(root: str, as_of: int | None = None) -> list[str]:
    """The part_keys the manifested commits with id <= ``as_of`` (all when
    None) made visible, sorted."""
    p = Path(root) / "commits"
    return sorted({k for c in committed_ids(root) if as_of is None or c <= as_of
                   for k in (p / str(c)).read_text().split()})


def _publish(path: Path, write) -> None:
    """``write`` a hidden sibling of ``path`` (readers skip dot-files),
    then rename it into place: readers see the whole file or nothing."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name("." + path.name)
    write(tmp)
    tmp.replace(path)


def _write_manifest(root: str, commit: int, part_keys=()) -> None:
    _publish(Path(root) / "commits" / str(commit),
             lambda t: t.write_text("".join(f"{k}\n" for k in sorted(part_keys))))


def _key_relation(spark: SparkSession, keys: list[str],
                  name: str = "part_key") -> DataFrame:
    """``keys`` as a broadcast local relation: joining it launches no job."""
    return F.broadcast(spark.createDataFrame(
        pa.table({name: pa.array(keys, pa.string())})))


def _gate_commits(df: DataFrame, allowed: set[int]) -> DataFrame:
    """Keep rows whose commit id is in ``allowed`` (the manifested ids) —
    on the delete log, a filter on its ``commit=<id>`` partitions.

    The predicate is a RANGE over the contiguous manifested prefix 1..hi
    plus an isin() of only the out-of-order tail (ids above the first gap
    — crashed ids are never reused, so the tail is empty or tiny).
    Inlining every id (r6) grew the plan O(total commits) for the
    lifetime of the table: a streaming store at one commit per
    micro-batch degraded every snapshot read's planning time — ADVICE r6."""
    hi = 0
    while (hi + 1) in allowed:
        hi += 1
    cond = F.col("commit") <= hi
    extras = sorted(int(x) for x in allowed if x > hi)
    if extras:
        cond = cond | F.col("commit").isin(extras)
    return df.filter(cond)


def _stores(root: str, as_of: int | None = None) -> list[str]:
    """The stores a read or DML at version ``as_of`` (latest when None)
    covers: the base once it has blocks (a crashed base reads as empty)
    plus every overlay whose creation commit is manifested and <= as_of —
    a crashed overlay is invisible to reads, so marking its rows would be
    wasted sidecar bytes."""
    allowed = committed_ids(root)
    base = [root] if (Path(root) / "blocks").exists() else []
    return base + [od for c, od in _overlay_commits(root)
                   if c in allowed and (as_of is None or c <= as_of)]


def encode_checkpointed(df: DataFrame, root: str,
                        opts: EncodeOptions = EncodeOptions(),
                        kinds: dict[str, str] | None = None, shared=None) -> dict:
    """Encode ``df`` into <root>, skipping partitions already committed to
    lineage. Returns a summary dict (partitions done/skipped + the commit
    id this run was tagged with).

    Append contract: rows landing in an ALREADY-COMMITTED (bucket, salt)
    partition are skipped with it — resume semantics assume the input is
    the same table re-run. Appends must map to NEW part_keys, which
    time-ordered data does naturally (a growing order column yields fresh
    salt groups); align batch boundaries to ``salt_span`` to keep a batch
    from straddling a committed salt group."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    keyed = with_partition_keys(df, opts).withColumn("_part_key", _part_key_col())
    # resume skips only MANIFESTED part_keys: a crash before the manifest
    # leaves lineage rows that readers ignore — those partitions must
    # re-encode, not be skipped into invisibility
    done = _committed_keys(root)
    if done:
        keyed = keyed.join(_key_relation(spark, done, "_part_key"),
                           on="_part_key", how="left_anti")
    pending = keyed.drop("_part_key", "_bucket", "_salt")
    blocks = encode_transcripts(pending, opts, kinds=kinds, shared=shared).cache()
    try:
        blocks_dir = str(Path(root) / "blocks")
        (
            blocks.withColumn("pk", F.col("part_key"))
            .write.mode("overwrite")
            .partitionBy("pk")
            .parquet(blocks_dir)
        )
        # commit lineage only after the block write succeeded. The summary
        # comes from THIS RUN's cached block rows, not a read-back of the
        # whole store: the r6 read-back + anti-join re-scanned every file
        # ever committed on each commit (O(store) per commit at scale) and
        # could resurrect orphan partitions of a crashed run that the
        # current input no longer covers. Cached bytes == written bytes by
        # the block-determinism invariant, so the lineage is exact.
        commit = next_commit(root)
        rows = lineage_summary(blocks).toArrow()
        if rows.num_rows:
            _publish(Path(root) / "lineage" / f"commit={commit}" / "part-0.parquet",
                     lambda t: pq.write_table(rows, t))
        keys = set(rows["part_key"].to_pylist())
        _write_manifest(root, commit, keys)
    finally:
        blocks.unpersist()
    return {"partitions_encoded": len(keys), "partitions_skipped": len(done),
            "commit": commit}


def vacuum(spark: SparkSession, root: str, dry_run: bool = False,
           orphan_overlays: bool = False) -> dict:
    """Garbage-collect block partition directories that no committed
    lineage row references — the debris a crash before the commit marker
    leaves behind (protocol step 3 above). Normally the next run's
    dynamic-partition overwrite replaces them, but a pipeline that never
    re-runs (or re-runs with a narrower input) keeps paying their
    storage forever; ``vacuum`` is the explicit reclaim, the
    same contract as Delta/Iceberg VACUUM: only UNREFERENCED partition
    dirs are touched, so readers of committed data are never affected.

    ``orphan_overlays=True`` additionally removes overlay stores whose
    creation commit is NOT manifested — the invisible leftovers of a
    crashed upsert. Opt-in because it assumes NO writer is active: an
    in-flight upsert's overlay is unmanifested until its final marker,
    and a concurrent vacuum would destroy it (the whole lineage layer is
    single-writer; vacuum is a maintenance window op).

    Driver-side work is directory-listing sized (one name per partition,
    the same budget the resume anti-join already spends), no Spark job.
    Returns ``{"orphans": [...], "removed": n, "orphan_overlays": [...]}``;
    ``dry_run`` lists without deleting."""
    import shutil
    from urllib.parse import unquote

    # Spark escapes partition values URI-style on disk (":" -> "%3A");
    # lineage part_keys are the logical form — unquote before comparing
    on_disk = {unquote(p.name.split("=", 1)[1]): p
               for p in (Path(root) / "blocks").glob("pk=*") if p.is_dir()}
    committed = set(_committed_keys(root))
    orphans = sorted(k for k in on_disk if k not in committed)
    if not dry_run:
        for k in orphans:
            shutil.rmtree(on_disk[k])

    dead_overlays: list[int] = []
    if orphan_overlays:
        allowed = committed_ids(root)
        for c, od in _overlay_commits(root):
            if c not in allowed:
                dead_overlays.append(c)
                if not dry_run:
                    shutil.rmtree(od)
    return {"orphans": orphans,
            "removed": 0 if dry_run else len(orphans) + len(dead_overlays),
            "orphan_overlays": dead_overlays}


# ---------------------------------------------------------------------------
# Commit log + snapshot (time-travel) reads
#
# One monotonically increasing commit counter covers BOTH kinds of table
# change: encode runs (manifests listing part_keys) and row-level deletes
# (delete-log rows under `commit=<id>`). A snapshot at version v is therefore
# exact for append+delete histories: the partitions manifested by commits
# <= v, minus the deletion vectors whose commit is <= v. Re-encoding an
# EXISTING part_key (dynamic overwrite) physically replaces its bytes, so
# history before the overwrite is not reconstructable for that partition —
# the documented Iceberg-without-Iceberg limit of this plain-parquet layout.


def _overlay_commits(root: str) -> list[tuple[int, str]]:
    """(commit, path) of the merge-on-read overlay stores under
    <root>/overlays/<commit>, ascending."""
    return sorted((int(d.name), str(d)) for d in (Path(root) / "overlays").glob("*")
                  if d.is_dir() and d.name.isdigit())


def next_commit(root: str) -> int:
    """1 + the highest commit id in any path of the store: manifests,
    ``lineage/commit=<id>``, ``deletes/commit=<id>`` of the base and every
    overlay, and the overlay stores' creation ids. A crashed commit's
    writes carry its id too, so crashed ids are never reused. A directory
    listing on the driver; no Spark job."""
    overlays = _overlay_commits(root)
    ids = committed_ids(root) | {c for c, _ in overlays}
    for d in [Path(root) / "lineage"] + [Path(s) / "deletes" for s in
                                         [root] + [od for _, od in overlays]]:
        ids |= {int(p.name.removeprefix("commit=")) for p in d.glob("commit=*")}
    return max(ids, default=0) + 1


def read_delete_log(spark: SparkSession, root: str) -> DataFrame | None:
    return _read_log(spark, Path(root) / "deletes")


def delete_checkpointed(dv: DataFrame, root: str,
                        commit: int | None = None,
                        write_manifest: bool = True) -> dict:
    """Commit a deletion-vector table (varint_spark.deletes.delete_where /
    merge_dv output) to <root>/deletes, tagged with the next commit id
    (or an explicit ``commit`` — upserts stamp one id across stores and
    pass ``write_manifest=False``, manifesting once at the end).
    Append-only, manifest written last — a crash mid-append leaves rows
    readers ignore (unmanifested id), never a half-applied delete."""
    if commit is None:
        commit = next_commit(root)
    out = Path(root) / "deletes" / f"commit={commit}"
    dv.write.mode("append").parquet(str(out))
    # the stats come from the metadata-sized files just written: an
    # aggregate over ``dv`` would re-run the whole predicate pass
    n_deleted = pq.read_table(out, columns=["n_deleted"])["n_deleted"]
    if write_manifest:
        _write_manifest(root, commit)
    return {"commit": commit, "chunks": len(n_deleted),
            "rows_deleted": pc.sum(n_deleted).as_py() or 0}


def read_deletes(spark: SparkSession, root: str,
                 as_of: int | None = None,
                 allowed: set[int] | None = None) -> DataFrame | None:
    """The merged deletion-vector state at version ``as_of`` (latest when
    None): one vector per touched chunk, commits OR-folded container-level
    (varint_spark.deletes.merge_dv). Only appends whose commit id is in
    ``allowed`` count (default: the store's own manifested ids) —
    unmanifested (crashed) delete appends are ignored."""
    from .deletes import merge_dv

    log = read_delete_log(spark, root)
    if log is None:
        return None
    log = _gate_commits(log, committed_ids(root) if allowed is None
                        else allowed)
    if as_of is not None:
        log = log.filter(F.col("commit") <= as_of)
    return merge_dv(log.drop("commit"))


def _read_snapshot_single(spark: SparkSession, root: str, schema_ddl: str,
                          as_of: int | None, kinds, shared, columns,
                          missing_ok: bool,
                          dv_allowed: set[int]) -> DataFrame:
    # part_keys come from THIS store's manifests (an overlay numbers its
    # own encode runs); DV rows carry GLOBAL ids — a delete can manifest
    # in this store's dir (standalone) or the base's (upsert), so gate
    # by the union of the two
    from .engine import decode_blocks

    blocks = read_blocks(spark, root).drop("pk").join(
        _key_relation(spark, _committed_keys(root, as_of)),
        on="part_key", how="left_semi")
    dv = read_deletes(spark, root, as_of=as_of,
                      allowed=committed_ids(root) | dv_allowed)
    return decode_blocks(blocks, schema_ddl, kinds=kinds, shared=shared,
                         columns=columns, missing_ok=missing_ok, deletes=dv)


def read_snapshot(spark: SparkSession, root: str, schema_ddl: str,
                  as_of: int | None = None,
                  kinds: dict[str, str] | None = None, shared=None,
                  columns: list[str] | None = None,
                  missing_ok: bool = False) -> DataFrame:
    """Decode the table as of commit ``as_of`` (latest when None):
    committed partitions with lineage commit <= as_of, minus deletion
    vectors with commit <= as_of, plus merge-on-read overlay stores
    created at commit <= as_of (each read under the same version — an
    overlay row upserted over again is DV-masked by the later commit,
    so last-writer-wins per key holds at every version). The partition
    filters are broadcast semi-joins against the manifests' part_keys;
    everything else is the ordinary distributed decode path."""
    stores = _stores(root, as_of)
    if not stores:  # no blocks and no overlay: nothing was ever written
        raise ValueError(f"no committed lineage under {root!r}")
    base_allowed = committed_ids(root)
    return functools.reduce(DataFrame.unionByName, [
        _read_snapshot_single(spark, s, schema_ddl, as_of, kinds, shared,
                              columns, missing_ok, base_allowed)
        for s in stores])


def upsert_checkpointed(df: DataFrame, root: str,
                        opts: EncodeOptions = EncodeOptions(),
                        kinds: dict[str, str] | None = None,
                        shared=None, dedup_col: str | None = None) -> dict:
    """Merge-on-read UPSERT (the MERGE INTO ... WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT shape): rows keyed by (group_col, order_col)
    replace any stored row with the same key and insert otherwise —
    without rewriting a single payload block. One commit id stamps the
    whole operation:

    1. position deletes: the batch's key set semi-joins the stored KEY
       columns (base + every earlier overlay; payload columns never
       read — varint_spark.deletes.delete_matching_keys) and the hit
       offsets land as DV appends tagged with this commit;
    2. the batch itself encodes into its own overlay store
       <root>/overlays/<commit> (fresh part_keys — no salt collision
       with the base).

    ``read_snapshot`` unions base + overlays at any version, so history
    stays exact: a snapshot before this commit shows the old rows, one
    at-or-after shows exactly the new ones. Overlay proliferation is the
    usual MoR trade — fold overlays back with compact_blocks + a base
    re-encode when their count grows.

    ``dedup_col``: a batch carrying several rows for one key (CDC
    updates) keeps only the row with the greatest ``dedup_col`` per key
    (make the sequence unique); without it the batch must be key-unique
    or duplicate keys both survive as visible rows."""
    from .deletes import delete_matching_keys
    from .engine import kinds_for_schema

    spark = df.sparkSession
    if dedup_col is not None:
        from pyspark.sql import Window
        w = Window.partitionBy(opts.group_col, opts.order_col) \
            .orderBy(F.col(dedup_col).desc())
        df = df.withColumn("_rn", F.row_number().over(w)) \
            .filter(F.col("_rn") == 1).drop("_rn")
    commit = next_commit(root)
    kinds = kinds or kinds_for_schema(df.schema)
    key_cols = [opts.group_col, opts.order_col]
    key_kinds = {c: kinds[c] for c in key_cols}
    keys = df.select(*key_cols).distinct()

    base_allowed = committed_ids(root)
    rows_replaced = 0
    for t in _stores(root):
        blocks = read_blocks(spark, t).drop("pk")
        # current VISIBLE state only: a crashed commit's unmanifested
        # vectors don't apply, so their rows must be re-marked here
        dv = delete_matching_keys(
            blocks, keys, key_kinds,
            deletes=read_deletes(spark, t,
                                 allowed=committed_ids(t) | base_allowed))
        # one manifest covers the whole upsert — written LAST, in the
        # base, so a crash anywhere in this loop (or in the overlay
        # encode below) leaves every partial write invisible
        rows_replaced += delete_checkpointed(
            dv, t, commit=commit, write_manifest=False)["rows_deleted"]

    overlay_root = str(Path(root) / "overlays" / f"{commit:06d}")
    enc = encode_checkpointed(df, overlay_root, opts, kinds=kinds,
                              shared=shared)
    _write_manifest(root, commit)
    return {"commit": commit, "rows_replaced": rows_replaced,
            "partitions_encoded": enc["partitions_encoded"]}


def delete_where_checkpointed(spark: SparkSession, root: str,
                              filter_col: str, kind: str = "int64",
                              lo: int | None = None, hi: int | None = None,
                              eq: str | None = None, prefix: str | None = None,
                              isin: list[str] | None = None,
                              like: str | None = None, shared=None) -> dict:
    """Table-level DELETE WHERE for a merge-on-read store: the predicate
    (same surface as varint_spark.deletes.delete_where, evaluated on the
    ENCODED form) runs against the base and every manifested overlay, and
    all resulting vectors land under ONE commit id, manifested last —
    crash-atomic like every other table op. Returns the commit id and
    rows deleted per store.

    Metadata pruning runs automatically first: zone maps for lo/hi,
    string zones for eq/prefix, Bloom sidecars for eq (all sound —
    absent stats keep the chunk) — so at 100 TB a selective delete never
    ships non-intersecting chunks' predicate blocks off disk."""
    from .deletes import delete_where as _dw
    from .engine import prune_chunks, prune_chunks_bloom

    commit = next_commit(root)
    targets = _stores(root)
    if not targets:
        raise ValueError(f"no committed data under {root!r}")
    rows = 0
    for t in targets:
        blocks = read_blocks(spark, t).drop("pk")
        if any(v is not None for v in (lo, hi, eq, prefix)):
            blocks = prune_chunks(blocks, filter_col, lo=lo, hi=hi, eq=eq,
                                  prefix=prefix)
        if kind == "str" and eq is not None:  # no-sidecar chunks are kept
            blocks = prune_chunks_bloom(blocks, filter_col, eq, kind="str")
        dv = _dw(blocks, filter_col, kind=kind, lo=lo, hi=hi, eq=eq,
                 prefix=prefix, isin=isin, like=like, shared=shared)
        rows += delete_checkpointed(dv, t, commit=commit,
                                    write_manifest=False)["rows_deleted"]
    _write_manifest(root, commit)
    return {"commit": commit, "rows_deleted": rows}


def flatten_checkpointed(spark: SparkSession, root: str, new_root: str,
                         schema_ddl: str,
                         opts: EncodeOptions = EncodeOptions(),
                         kinds: dict[str, str] | None = None,
                         shared=None, as_of: int | None = None) -> dict:
    """The merge-on-read maintenance pass: materialize the table at
    ``as_of`` (latest when None) into a FRESH single store — no overlays,
    no deletion vectors, one lineage — so read amplification from
    accumulated upserts resets to zero. Non-destructive: the old root
    (and its whole history) stays intact; cut readers over to
    ``new_root``, then drop the old directory when nothing reads it.
    Row set is exactly ``read_snapshot(root, as_of)`` (tested); the
    rewrite re-partitions by (group, order) through the ordinary encode
    path, so the new store obeys every engine invariant (determinism,
    cost gate, zone maps) as if the merged table had been encoded in one
    shot."""
    snap = read_snapshot(spark, root, schema_ddl, as_of=as_of,
                         kinds=kinds, shared=shared)
    res = encode_checkpointed(snap, new_root, opts, kinds=kinds,
                              shared=shared)
    res["source_as_of"] = as_of
    return res
