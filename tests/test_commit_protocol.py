"""Crash-atomic commit manifests: a logical commit touches several
files (lineage append, delete-log appends across stores, an overlay
encode); the marker under <root>/commits is written LAST, readers honor
only manifested ids, so every partial write of a crashed commit stays
invisible and a retry converges."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from varint_spark.deletes import delete_where
from varint_spark.engine import EncodeOptions
from varint_spark.lineage import (committed_ids, delete_checkpointed,
                                  encode_checkpointed, next_commit,
                                  read_blocks, read_lineage, read_snapshot,
                                  upsert_checkpointed, vacuum,
                                  _write_manifest)

DDL = "event_id bigint, g bigint, v bigint"
OPTS = EncodeOptions(num_buckets=2, chunk_rows=128, salt_span=1 << 30,
                     group_col="g", order_col="event_id")


def _batch(spark, lo, hi, v_of=lambda ids: (ids * 37) % 1000):
    ids = np.arange(lo, hi, dtype=np.int64)
    return spark.createDataFrame(pd.DataFrame(
        {"event_id": ids, "g": ids % 5, "v": v_of(ids)}))


def _pdf(df):
    return df.toPandas().sort_values("event_id").reset_index(drop=True)


def test_crashed_delete_is_invisible_until_manifested(spark, tmp_path):
    root = str(tmp_path / "store")
    a = _batch(spark, 0, 500)
    encode_checkpointed(a, root, OPTS)

    blocks = read_blocks(spark, root).drop("pk")
    res = delete_checkpointed(delete_where(blocks, "v", lo=0, hi=99), root,
                              write_manifest=False)  # "crash" before marker
    assert res["rows_deleted"] > 0
    # the delete rows are on disk but unmanifested: reads ignore them
    pd.testing.assert_frame_equal(_pdf(read_snapshot(spark, root, DDL)),
                                  _pdf(a))
    # the marker lands -> the delete applies, history intact
    _write_manifest(root, res["commit"])
    pd.testing.assert_frame_equal(
        _pdf(read_snapshot(spark, root, DDL)),
        _pdf(a.filter(~F.col("v").between(0, 99))))
    pd.testing.assert_frame_equal(
        _pdf(read_snapshot(spark, root, DDL, as_of=1)), _pdf(a))


def test_crashed_upsert_is_invisible_and_retry_converges(spark, tmp_path):
    root = str(tmp_path / "store")
    a = _batch(spark, 0, 500)
    encode_checkpointed(a, root, OPTS)

    up = _batch(spark, 100, 200, v_of=lambda ids: np.full(len(ids), -1))
    r = upsert_checkpointed(up, root, OPTS)
    # simulate a crash just before the manifest: remove the marker
    os.remove(f"{root}/commits/{r['commit']}")
    assert r["commit"] not in committed_ids(root)
    # DV appends AND the overlay are on disk, yet the table reads pre-upsert
    pd.testing.assert_frame_equal(_pdf(read_snapshot(spark, root, DDL)),
                                  _pdf(a))

    # retry under a FRESH id (crashed ids are never reused) converges
    r2 = upsert_checkpointed(up, root, OPTS)
    assert r2["commit"] == r["commit"] + 1
    assert r2["rows_replaced"] == 100  # base rows still visible, re-marked
    want = pd.concat([_pdf(a.filter(~F.col("event_id").between(100, 199))),
                      _pdf(up)]).sort_values("event_id").reset_index(drop=True)
    got = _pdf(read_snapshot(spark, root, DDL))
    pd.testing.assert_frame_equal(got, want)
    # exactly one row per key survived (the crashed overlay stays hidden)
    assert got.event_id.is_unique


def test_crashed_encode_reencodes_on_retry(spark, tmp_path):
    a = _batch(spark, 0, 500)
    # a crash before the marker; on a store's very first commit that
    # leaves no commits dir at all — both read as an empty store
    for crash in ("marker", "commits_dir"):
        root = str(tmp_path / crash)
        r1 = encode_checkpointed(a, root, OPTS)
        if crash == "marker":
            os.remove(f"{root}/commits/{r1['commit']}")
        else:
            shutil.rmtree(f"{root}/commits")
        assert committed_ids(root) == set()
        assert read_snapshot(spark, root, DDL).count() == 0  # nothing visible

        # retry must NOT trust the unmanifested lineage (else the rows
        # would be skipped into permanent invisibility)
        r2 = encode_checkpointed(a, root, OPTS)
        assert r2["partitions_skipped"] == 0
        assert r2["partitions_encoded"] == r1["partitions_encoded"] > 0
        got = _pdf(read_snapshot(spark, root, DDL))
        pd.testing.assert_frame_equal(got, _pdf(a))
        assert got.event_id.is_unique  # overwrite, not duplication


def test_vacuum_ignores_unmanifested_lineage(spark, tmp_path):
    """An encode that crashed after its lineage append but before its
    marker left block dirs no reader sees; vacuum must count them as
    orphans, not as referenced by the (unmanifested) lineage."""
    from varint_spark.lineage import read_lineage, vacuum

    root = str(tmp_path / "store")
    opts = EncodeOptions(num_buckets=2, chunk_rows=128, salt_span=512,
                         group_col="g", order_col="event_id")
    a = _batch(spark, 0, 512)
    encode_checkpointed(a, root, opts)
    a_keys = {r.part_key for r in read_lineage(spark, root)
              .select("part_key").distinct().collect()}
    rb = encode_checkpointed(_batch(spark, 512, 1024), root, opts)
    b_keys = {r.part_key for r in read_lineage(spark, root)
              .filter(F.col("commit") == rb["commit"])
              .select("part_key").distinct().collect()}
    assert b_keys and not (a_keys & b_keys)  # B landed in new part_keys
    os.remove(f"{root}/commits/{rb['commit']}")  # crash before marker

    assert vacuum(spark, root, dry_run=True)["orphans"] == sorted(b_keys)
    r = vacuum(spark, root)
    assert r["orphans"] == sorted(b_keys) and r["removed"] == len(b_keys)
    pd.testing.assert_frame_equal(_pdf(read_snapshot(spark, root, DDL)),
                                  _pdf(a))


def test_vacuum_reclaims_crashed_overlay(spark, tmp_path):
    """vacuum(orphan_overlays=True) removes the invisible overlay a
    crashed upsert left, and touches nothing manifested."""
    from varint_spark.lineage import vacuum

    root = str(tmp_path / "store")
    a = _batch(spark, 0, 300)
    encode_checkpointed(a, root, OPTS)
    up = _batch(spark, 50, 100, v_of=lambda ids: np.full(len(ids), -1))
    ok = upsert_checkpointed(up, root, OPTS)              # commit 2, kept
    bad = upsert_checkpointed(up, root, OPTS)             # commit 3 ...
    os.remove(f"{root}/commits/{bad['commit']}")          # ... "crashed"

    before = _pdf(read_snapshot(spark, root, DDL))
    r = vacuum(spark, root, dry_run=True, orphan_overlays=True)
    assert r["orphan_overlays"] == [bad["commit"]]
    assert os.path.exists(f"{root}/overlays/{bad['commit']:06d}")  # dry run

    r = vacuum(spark, root, orphan_overlays=True)
    assert r["orphan_overlays"] == [bad["commit"]]
    assert not os.path.exists(f"{root}/overlays/{bad['commit']:06d}")
    assert os.path.exists(f"{root}/overlays/{ok['commit']:06d}")
    pd.testing.assert_frame_equal(_pdf(read_snapshot(spark, root, DDL)),
                                  before)


def test_gate_commits_plan_stays_bounded(spark):
    """The manifested-commit gate must not inline every commit id into
    the plan (O(total commits) planning work on long-lived stores —
    ADVICE r6): a contiguous prefix gates as one range predicate, only
    the out-of-order tail (crashed-id gaps) lands in an isin()."""
    from varint_spark.lineage import _gate_commits

    df = spark.range(12000).select(F.col("id").alias("commit"))
    # 10k contiguous commits -> no isin at all, plan stays flat
    plan = _gate_commits(df, set(range(1, 10_001))) \
        ._jdf.queryExecution().analyzed().toString()
    assert "10000" in plan and plan.count(",") < 50, plan[:2000]
    # gap at 5 (crashed id): range over 1..4 + isin of just the tail
    got = sorted(r.commit for r in _gate_commits(
        df.filter("commit <= 12"),
        {1, 2, 3, 4, 6, 7}).collect())
    assert got == [0, 1, 2, 3, 4, 6, 7]


def test_protocol_questions_launch_no_spark_job(spark, tmp_path):
    """The next commit id and vacuum's orphan list come from manifests and
    directory names on the driver: on a store holding an encode, a
    checkpointed delete and a crashed encode they launch no Spark job."""
    root = str(tmp_path / "store")
    opts = EncodeOptions(num_buckets=2, chunk_rows=128, salt_span=512,
                         group_col="g", order_col="event_id")
    encode_checkpointed(_batch(spark, 0, 512), root, opts)
    blocks = read_blocks(spark, root).drop("pk")
    delete_checkpointed(delete_where(blocks, "v", lo=0, hi=99), root)
    crashed = encode_checkpointed(_batch(spark, 512, 1024), root, opts)
    os.remove(f"{root}/commits/{crashed['commit']}")  # crash before marker
    crashed_keys = sorted(r.part_key for r in read_lineage(spark, root)
                          .filter(F.col("commit") == crashed["commit"])
                          .select("part_key").distinct().collect())
    assert crashed["commit"] == 3 and crashed_keys

    sc = spark.sparkContext
    group = "protocol-questions"
    sc.setJobGroup(group, "next_commit and vacuum dry run")
    try:
        assert next_commit(root) == crashed["commit"] + 1
        assert vacuum(spark, root, dry_run=True)["orphans"] == crashed_keys
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_in_progress_manifest_is_ignored(spark, tmp_path, monkeypatch):
    """A manifest is written under a temporary name and renamed into
    place. A crash before the rename leaves the full part_key list under
    that name; committed_ids, resume and read_snapshot must all ignore it."""
    root = str(tmp_path / "store")
    opts = EncodeOptions(num_buckets=2, chunk_rows=128, salt_span=512,
                         group_col="g", order_col="event_id")
    a, b = _batch(spark, 0, 512), _batch(spark, 512, 1024)
    ra = encode_checkpointed(a, root, opts)

    real_replace = Path.replace

    def crash_before_manifest_rename(self, target):
        if Path(target).parent.name == "commits":
            raise OSError("crash before the manifest rename")
        return real_replace(self, target)

    monkeypatch.setattr(Path, "replace", crash_before_manifest_rename)
    with pytest.raises(OSError, match="manifest rename"):
        encode_checkpointed(b, root, opts)
    monkeypatch.undo()
    pending = [f for f in os.listdir(f"{root}/commits") if not f.isdigit()]
    assert len(pending) == 1
    b_keys = sorted(r.part_key for r in read_lineage(spark, root)
                    .filter(F.col("commit") == 2)
                    .select("part_key").distinct().collect())
    assert b_keys and (Path(root) / "commits" / pending[0]) \
        .read_text().split() == b_keys

    assert committed_ids(root) == {ra["commit"]}
    pd.testing.assert_frame_equal(_pdf(read_snapshot(spark, root, DDL)),
                                  _pdf(a))
    # resume re-encodes B's partitions under a fresh id
    r = encode_checkpointed(a.unionByName(b), root, opts)
    assert r["commit"] == 3
    assert r["partitions_skipped"] == ra["partitions_encoded"]
    assert r["partitions_encoded"] == len(b_keys)
    pd.testing.assert_frame_equal(_pdf(read_snapshot(spark, root, DDL)),
                                  _pdf(a.unionByName(b)))
