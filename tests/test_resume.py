"""Checkpoint/resume semantics (FIXTURES.md F5): kill after k partitions,
re-run, completed partitions are not re-encoded, final state identical to
an uninterrupted run."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from varint_spark import transcripts
from varint_spark.engine import EncodeOptions, decode_blocks, encode_transcripts, with_partition_keys
from varint_spark.lineage import encode_checkpointed, read_blocks, read_lineage

OPTS = EncodeOptions(num_buckets=6, chunk_rows=512, salt_span=1024)


@pytest.fixture(scope="module")
def tdf(spark):
    df = transcripts.generate_spark(spark, n_conversations=120, n_hot=1, hot_turns=1500)
    df.cache().count()
    return df


def test_resume_after_partial_run(spark, tdf, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))

    # simulated kill: first run only sees 3 of 6 buckets' conversations
    keyed = with_partition_keys(tdf, OPTS)
    partial = keyed.filter(F.col("_bucket") < 3).drop("_bucket", "_salt")
    s1 = encode_checkpointed(partial, root, OPTS)
    assert s1["partitions_skipped"] == 0 and s1["partitions_encoded"] > 0
    lin1 = read_lineage(spark, root).toPandas().sort_values(["part_key", "column"], ignore_index=True)

    # resume with the full input: completed partitions must be skipped
    s2 = encode_checkpointed(tdf, root, OPTS)
    assert s2["partitions_skipped"] == s1["partitions_encoded"]
    lin2 = read_lineage(spark, root).toPandas()

    # lineage rows of completed partitions unchanged (same digests, no re-encode)
    lin2_first = lin2[lin2.part_key.isin(lin1.part_key)].sort_values(
        ["part_key", "column"], ignore_index=True
    )
    pd.testing.assert_frame_equal(lin1, lin2_first)
    # each partition committed exactly once
    assert not lin2.duplicated(["part_key", "column"]).any()

    # final blocks identical to an uninterrupted encode
    expected = {
        tuple(r) for r in encode_transcripts(tdf, OPTS)
        .select("part_key", "chunk_id", "column", "digest").collect()
    }
    actual = {
        tuple(r) for r in read_blocks(spark, root)
        .select("part_key", "chunk_id", "column", "digest").collect()
    }
    assert actual == expected

    # and decodes back to the exact input
    decoded = decode_blocks(
        read_blocks(spark, root).drop("pk"), transcripts.TRANSCRIPT_DDL
    )
    left = tdf.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    right = decoded.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(left, right)


def test_rerun_is_noop(spark, tdf, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt2"))
    s1 = encode_checkpointed(tdf, root, OPTS)
    s2 = encode_checkpointed(tdf, root, OPTS)
    assert s2["partitions_encoded"] == 0
    assert s2["partitions_skipped"] == s1["partitions_encoded"]


def test_part_keys_match_engine_for_wide_and_negative_salts(spark, tmp_path_factory):
    """Salts >= 10000 (5-digit) and negative order values: the lineage SQL
    key column must match the engine UDF's Python f'{salt:04d}' exactly,
    or resume anti-joins drop pending rows / re-encodes forever."""
    root = str(tmp_path_factory.mktemp("ckpt3"))
    opts = EncodeOptions(num_buckets=2, chunk_rows=64, salt_span=16)
    rows = [("c1", i, "x") for i in range(0, 16 * 10_001, 40)]   # salt up to 10000
    rows += [("c2", -i, "y") for i in range(0, 200, 3)]           # negative salts
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    kinds = {"conv_id": "str", "turn_idx": "int32", "text": "str"}
    s1 = encode_checkpointed(df, root, opts, kinds=kinds)
    assert s1["partitions_encoded"] > 0
    # committed lineage keys == the engine's own part keys, bit for bit
    engine_keys = {r.part_key for r in
                   encode_transcripts(df, opts, kinds=kinds).select("part_key").distinct().collect()}
    lineage_keys = {r.part_key for r in read_lineage(spark, root).select("part_key").distinct().collect()}
    assert engine_keys == lineage_keys
    assert any(len(k.split(":")[1]) > 4 for k in engine_keys)   # widened salt present
    assert any("-" in k.split(":")[1] for k in engine_keys)     # negative salt present
    # rerun is a pure no-op: nothing re-encoded, nothing lost
    s2 = encode_checkpointed(df, root, opts, kinds=kinds)
    assert s2["partitions_encoded"] == 0
    assert s2["partitions_skipped"] == s1["partitions_encoded"]


def test_vacuum_removes_only_orphans(spark, tdf, tmp_path_factory):
    """A crash between block write and lineage commit leaves orphan
    partition dirs; vacuum removes exactly those, never committed ones,
    and committed data decodes identically afterwards."""
    import shutil
    from pathlib import Path
    from varint_spark.lineage import vacuum

    root = str(tmp_path_factory.mktemp("vac"))
    opts = EncodeOptions(num_buckets=4, chunk_rows=512, salt_span=4096)
    encode_checkpointed(tdf, root, opts)
    before = decode_blocks(read_blocks(spark, root).drop("pk"),
                           transcripts.TRANSCRIPT_DDL).count()

    # simulate the crash: a block dir written but never committed —
    # clone a real partition dir under a part_key lineage doesn't know
    bdir = Path(root) / "blocks"
    some = next(p for p in bdir.glob("pk=*") if p.is_dir())
    orphan = bdir / "pk=999999%3A0000"  # the escaped form Spark writes
    shutil.copytree(some, orphan)

    dry = vacuum(spark, root, dry_run=True)
    assert dry["orphans"] == ["999999:0000"] and dry["removed"] == 0
    assert orphan.exists()
    res = vacuum(spark, root)
    assert res["orphans"] == ["999999:0000"] and res["removed"] == 1
    assert not orphan.exists()
    committed = {p.name for p in bdir.glob("pk=*")}
    assert len(committed) > 0  # committed dirs untouched
    after = decode_blocks(read_blocks(spark, root).drop("pk"),
                          transcripts.TRANSCRIPT_DDL).count()
    assert after == before
    # idempotent on a clean store
    assert vacuum(spark, root) == {"orphans": [], "removed": 0,
                               "orphan_overlays": []}


def test_lineage_reads_the_same_through_pyarrow(spark, tdf, tmp_path_factory):
    """The lineage is plain parquet under one ``commit=<id>`` directory per
    commit: pyarrow reads the same rows Spark does (perfbench's lineage
    checks read it this way)."""
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("pa")
    keyed = with_partition_keys(tdf, OPTS)
    encode_checkpointed(keyed.filter(F.col("_bucket") < 3)
                        .drop("_bucket", "_salt"), str(root), OPTS)
    encode_checkpointed(tdf, str(root), OPTS)
    cols = ["part_key", "column", "digest", "values", "raw_bytes",
            "encoded_bytes"]
    got = pq.read_table(root / "lineage").select(cols).to_pandas() \
        .sort_values(cols[:2], ignore_index=True)
    want = read_lineage(spark, str(root)).select(cols).toPandas() \
        .sort_values(cols[:2], ignore_index=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)
