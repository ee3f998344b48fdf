"""The one-job ingest commit: each encode task writes its partition's
block file and returns its lineage rows. The session's configuration is
left alone, and a re-encode replaces a partition's files instead of
adding to them."""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from varint_spark import lineage
from varint_spark.engine import EncodeOptions, encode_transcripts, lineage_summary
from varint_spark.lineage import (committed_ids, encode_checkpointed,
                                  read_blocks, read_lineage)

OPTS = EncodeOptions(num_buckets=2, chunk_rows=128, salt_span=512,
                     group_col="g", order_col="event_id")
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _batch(spark, lo, hi):
    ids = np.arange(lo, hi, dtype=np.int64)
    return spark.createDataFrame(pd.DataFrame(
        {"event_id": ids, "g": ids % 5, "v": (ids * 37) % 1000}))


def test_session_conf_left_alone(spark, tmp_path):
    """An encode must not switch the caller's session to dynamic partition
    overwrite: that would change every later overwrite write it makes."""
    before = spark.conf.get(OVERWRITE_MODE)
    spark.conf.set(OVERWRITE_MODE, "STATIC")
    try:
        encode_checkpointed(_batch(spark, 0, 512), str(tmp_path / "s"), OPTS)
        assert spark.conf.get(OVERWRITE_MODE) == "STATIC"
    finally:
        spark.conf.set(OVERWRITE_MODE, before)


def test_reencode_replaces_never_duplicates(spark, tmp_path, monkeypatch):
    """A stray visible file and a stale temporary in a partition directory,
    then a crashed encode and its retry: every partition directory ends
    with exactly one visible file, the blocks are the engine's blocks, and
    the committed lineage is their lineage summary."""
    root = str(tmp_path / "store")
    df = _batch(spark, 0, 1024)

    def crash(*_args, **_kwargs):
        raise OSError("crash before the manifest")

    monkeypatch.setattr(lineage, "_write_manifest", crash)
    with pytest.raises(OSError, match="before the manifest"):
        encode_checkpointed(df, root, OPTS)
    monkeypatch.undo()
    assert committed_ids(root) == set()

    dirs = sorted(p for p in (Path(root) / "blocks").glob("pk=*"))
    assert len(dirs) > 1
    shutil.copy(dirs[0] / "part-0.parquet", dirs[0] / "stray.parquet")
    (dirs[-1] / ".part-0.parquet.7").write_bytes(b"stale temporary")

    r = encode_checkpointed(df, root, OPTS)
    assert r["partitions_skipped"] == 0 and r["partitions_encoded"] == len(dirs)
    for d in (Path(root) / "blocks").glob("pk=*"):
        visible = [f.name for f in d.iterdir()
                   if not f.name.startswith((".", "_"))]
        assert visible == ["part-0.parquet"], (d.name, visible)

    blocks = encode_transcripts(df, OPTS)
    key = ["part_key", "chunk_id", "column", "digest"]
    assert sorted(map(tuple, read_blocks(spark, root).select(key).collect())) \
        == sorted(map(tuple, blocks.select(key).collect()))

    got = read_lineage(spark, root).filter(F.col("commit") == r["commit"]) \
        .drop("commit").toPandas().sort_values(["part_key", "column"],
                                                ignore_index=True)
    want = lineage_summary(blocks).toPandas() \
        .sort_values(["part_key", "column"], ignore_index=True)
    pd.testing.assert_frame_equal(got, want[got.columns])


def test_block_dirs_read_back_as_part_keys(spark, tmp_path):
    """Spark's partition discovery reads every block directory name back
    as its part_key, also for 5-digit and negative salts."""
    root = str(tmp_path / "store")
    opts = EncodeOptions(num_buckets=2, chunk_rows=64, salt_span=16)
    rows = [("c1", i, "x") for i in range(0, 16 * 10_001, 4000)]
    rows += [("c2", -i, "y") for i in range(0, 200, 3)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    encode_checkpointed(df, root, opts)
    keys = read_blocks(spark, root).select("pk", "part_key").distinct().collect()
    assert all(r.pk == r.part_key for r in keys)
    salts = [r.part_key.split(":")[1] for r in keys]
    assert any(len(s) > 4 for s in salts) and any("-" in s for s in salts)
    for r in keys:
        assert lineage._dir_part_key(lineage._part_key_dir(r.part_key)) == r.part_key
