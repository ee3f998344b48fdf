"""Commit log + snapshot (time-travel) reads: one monotonically
increasing commit counter over encode runs and delete-log appends;
read_snapshot(as_of=v) reproduces the table exactly at any version of an
append+delete history."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from varint_spark.deletes import delete_where
from varint_spark.engine import EncodeOptions
from varint_spark.lineage import (delete_checkpointed, encode_checkpointed,
                                  read_blocks, read_snapshot)

DDL = "event_id bigint, g bigint, v bigint"
OPTS = EncodeOptions(num_buckets=2, chunk_rows=128, salt_span=512,
                     group_col="g", order_col="event_id")


def _batch(spark, lo, hi):
    ids = np.arange(lo, hi, dtype=np.int64)
    pdf = pd.DataFrame({"event_id": ids, "g": ids % 5,
                        "v": (ids * 37) % 1000})
    return spark.createDataFrame(pdf)


def _pdf(df):
    return df.toPandas().sort_values("event_id").reset_index(drop=True)


def test_snapshot_history(spark, tmp_path):
    root = str(tmp_path / "store")
    # batches aligned to the salt span (512): appends must land in NEW
    # part_keys — the resume anti-join skips committed partitions, so an
    # append overlapping one would be silently dropped (documented
    # contract of encode_checkpointed)
    a = _batch(spark, 0, 1024)

    r1 = encode_checkpointed(a, root, OPTS)
    assert r1["commit"] == 1

    # commit 2: delete v in [0, 99] from the committed store
    blocks = read_blocks(spark, root).drop("pk")
    r2 = delete_checkpointed(delete_where(blocks, "v", lo=0, hi=99), root)
    assert r2["commit"] == 2 and r2["rows_deleted"] > 0

    # commit 3: append batch B (new salts => new part_keys; A skipped)
    b = _batch(spark, 1024, 2048)
    r3 = encode_checkpointed(a.unionByName(b), root, OPTS)
    assert r3["commit"] == 3 and r3["partitions_skipped"] > 0

    # commit 4: a second delete that touches batch B
    blocks = read_blocks(spark, root).drop("pk")
    r4 = delete_checkpointed(
        delete_where(blocks, "event_id", lo=1500, hi=1599), root)
    assert r4["commit"] == 4

    del1 = F.col("v").between(0, 99)
    del2 = F.col("event_id").between(1500, 1599)
    # true snapshot semantics: the commit-2 delete never touches batch-B
    # rows (they did not exist yet), even ones whose v matches del1
    expect = {
        1: a,
        2: a.filter(~del1),
        3: a.filter(~del1).unionByName(b),
        4: a.filter(~del1).unionByName(b).filter(~del2),
    }
    for v, want in expect.items():
        got = read_snapshot(spark, root, DDL, as_of=v)
        pd.testing.assert_frame_equal(_pdf(got), _pdf(want)), v
    # latest == highest commit
    pd.testing.assert_frame_equal(
        _pdf(read_snapshot(spark, root, DDL)), _pdf(expect[4]))
    # as_of before the first commit: no partitions
    assert read_snapshot(spark, root, DDL, as_of=0).count() == 0


def test_snapshot_missing_store(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed lineage"):
        read_snapshot(spark, str(tmp_path / "nope"), DDL)


def test_upsert_merge_on_read(spark, tmp_path):
    """MERGE INTO semantics without payload rewrites: replaced keys are
    DV-masked in base + earlier overlays, the batch lands as its own
    overlay store, and every snapshot version stays exact."""
    from varint_spark.lineage import upsert_checkpointed

    root = str(tmp_path / "store")
    a = _batch(spark, 0, 1024)
    encode_checkpointed(a, root, OPTS)                         # commit 1

    def _up(ids, v):
        ids = np.asarray(ids, dtype=np.int64)
        return spark.createDataFrame(pd.DataFrame(
            {"event_id": ids, "g": ids % 5,
             "v": np.full(len(ids), v, dtype=np.int64)}))

    # commit 2: update 100..149, insert 2048..2147
    up1 = _up(list(range(100, 150)) + list(range(2048, 2148)), -1)
    r2 = upsert_checkpointed(up1, root, OPTS)
    assert r2["commit"] == 2 and r2["rows_replaced"] == 50

    # commit 3: override part of the first upsert AND part of the base
    up2 = _up(range(120, 180), -3)
    r3 = upsert_checkpointed(up2, root, OPTS)
    assert r3["commit"] == 3
    # 120..149 live in overlay 2, 150..179 in the base
    assert r3["rows_replaced"] == 60

    base = _pdf(a)
    v1 = base
    v2 = base[~base.event_id.between(100, 149)]
    v2 = pd.concat([v2, _pdf(up1)]).sort_values("event_id") \
        .reset_index(drop=True)
    v3 = v2[~v2.event_id.between(120, 179)]
    v3 = pd.concat([v3, _pdf(up2)]).sort_values("event_id") \
        .reset_index(drop=True)
    for ver, want in [(1, v1), (2, v2), (3, v3), (None, v3)]:
        got = _pdf(read_snapshot(spark, root, DDL, as_of=ver))
        pd.testing.assert_frame_equal(got, want), ver

    # a later plain delete composes: commit 4 removes v == -3 rows
    from varint_spark.lineage import _overlay_commits, read_snapshot as rs
    for _, od in _overlay_commits(root):
        blocks = read_blocks(spark, od).drop("pk")
        delete_checkpointed(delete_where(blocks, "v", lo=-3, hi=-3), od,
                            commit=4)
    v4 = v3[v3.v != -3].reset_index(drop=True)
    pd.testing.assert_frame_equal(_pdf(rs(spark, root, DDL)), v4)
    # and version 3 still shows them
    pd.testing.assert_frame_equal(
        _pdf(rs(spark, root, DDL, as_of=3)), v3)


def test_delete_where_checkpointed_spans_overlays(spark, tmp_path):
    """Table-level DELETE WHERE hits base AND overlay rows under one
    commit, and the pre-delete version stays addressable."""
    from varint_spark.lineage import (delete_where_checkpointed,
                                      upsert_checkpointed)

    root = str(tmp_path / "store")
    a = _batch(spark, 0, 512)                    # v = (id*37) % 1000
    encode_checkpointed(a, root, OPTS)           # commit 1
    up = _batch(spark, 400, 600)                 # replaces 400..511, adds rest
    upsert_checkpointed(up, root, OPTS)          # commit 2
    r = delete_where_checkpointed(spark, root, "v", lo=0, hi=199)  # commit 3
    assert r["commit"] == 3 and r["rows_deleted"] > 0

    merged = a.filter(~F.col("event_id").between(400, 599)).unionByName(up)
    want3 = _pdf(merged.filter(~F.col("v").between(0, 199)))
    pd.testing.assert_frame_equal(_pdf(read_snapshot(spark, root, DDL)), want3)
    pd.testing.assert_frame_equal(
        _pdf(read_snapshot(spark, root, DDL, as_of=2)), _pdf(merged))

    with pytest.raises(ValueError, match="no committed data"):
        delete_where_checkpointed(spark, str(tmp_path / "empty"), "v", lo=0)


def test_flatten_resets_read_amplification(spark, tmp_path):
    """flatten_checkpointed materializes the MoR table into a fresh
    single store: same rows, no overlays, no delete log."""
    import os

    from varint_spark.lineage import (delete_where_checkpointed,
                                      flatten_checkpointed,
                                      upsert_checkpointed)

    root = str(tmp_path / "store")
    new_root = str(tmp_path / "flat")
    a = _batch(spark, 0, 512)
    encode_checkpointed(a, root, OPTS)
    upsert_checkpointed(_batch(spark, 400, 600), root, OPTS)
    delete_where_checkpointed(spark, root, "v", lo=0, hi=99)

    want = _pdf(read_snapshot(spark, root, DDL))
    res = flatten_checkpointed(spark, root, new_root, DDL, OPTS)
    assert res["partitions_encoded"] > 0
    got = _pdf(read_snapshot(spark, new_root, DDL))
    pd.testing.assert_frame_equal(got, want)
    assert not os.path.exists(f"{new_root}/overlays")
    assert not os.path.exists(f"{new_root}/deletes")
    # history flattening is explicit: the new store starts at commit 1
    from varint_spark.lineage import committed_ids
    assert committed_ids(new_root) == {1}


def test_upsert_with_schema_evolution(spark, tmp_path):
    """An upsert batch carrying a NEW column composes with missing_ok
    reads: old base rows decode the added column as NULL, overlay rows
    carry real values — one reader schema spans both epochs."""
    from varint_spark.lineage import upsert_checkpointed

    root = str(tmp_path / "store")
    a = _batch(spark, 0, 512)
    encode_checkpointed(a, root, OPTS)

    up = _batch(spark, 400, 600).withColumn("tag", F.lit("new"))
    upsert_checkpointed(up, root, OPTS)

    wide = DDL + ", tag string"
    got = _pdf(read_snapshot(spark, root, wide, missing_ok=True))
    assert len(got) == 600
    assert (got[got.event_id < 400].tag.isna()).all()
    assert (got[got.event_id >= 400].tag == "new").all()


def test_table_delete_prunes_before_predicate(spark, tmp_path):
    """The table-level delete's automatic zone pruning drops whole
    chunks at the metadata scan on clustered data, and the pruned path
    answers identically to the unpruned one."""
    from varint_spark.deletes import delete_where
    from varint_spark.engine import prune_chunks
    from varint_spark.lineage import delete_where_checkpointed

    root = str(tmp_path / "store")
    a = _batch(spark, 0, 1024)  # event_id clustered within chunks
    encode_checkpointed(a, root, OPTS)
    blocks = read_blocks(spark, root).drop("pk")

    all_chunks = blocks.filter(F.col("column") == "event_id").count()
    kept = prune_chunks(blocks, "event_id", lo=100, hi=163) \
        .filter(F.col("column") == "event_id").count()
    assert kept < all_chunks  # zone maps genuinely drop chunks here

    pruned_dv = {(r.part_key, r.chunk_id): bytes(r.dv)
                 for r in delete_where(
                     prune_chunks(blocks, "event_id", lo=100, hi=163),
                     "event_id", lo=100, hi=163).collect()}
    full_dv = {(r.part_key, r.chunk_id): bytes(r.dv)
               for r in delete_where(blocks, "event_id",
                                     lo=100, hi=163).collect()}
    assert pruned_dv == full_dv

    r = delete_where_checkpointed(spark, root, "event_id", lo=100, hi=163)
    assert r["rows_deleted"] == 64
    got = _pdf(read_snapshot(spark, root, DDL))
    pd.testing.assert_frame_equal(
        got, _pdf(a.filter(~F.col("event_id").between(100, 163))))


def test_upsert_dedup_col_last_wins(spark, tmp_path):
    """Batch upserts dedup within the batch by max(dedup_col) per key —
    the same CDC contract as the streaming path."""
    from varint_spark.lineage import upsert_checkpointed

    root = str(tmp_path / "store")
    a = _batch(spark, 0, 256)
    encode_checkpointed(a, root, OPTS)

    ids = np.array([10, 10, 10, 300], dtype=np.int64)
    up = spark.createDataFrame(pd.DataFrame(
        {"event_id": ids, "g": ids % 5,
         "v": np.array([-1, -2, -3, -9], dtype=np.int64),
         "seq": np.array([1, 3, 2, 1], dtype=np.int64)}))
    upsert_checkpointed(up, root, OPTS, dedup_col="seq")

    got = read_snapshot(spark, root, DDL + ", seq bigint",
                        missing_ok=True).toPandas()
    got = got.set_index("event_id").sort_index()
    assert got.loc[10].v == -2          # seq 3 wins
    assert got.loc[300].v == -9
    assert got.index.is_unique and len(got) == 257
