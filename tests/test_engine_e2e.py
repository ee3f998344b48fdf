"""End-to-end Spark pipeline: synthesize → encode → decode → bit-identical.

The per-row invariant from BASELINE.json input_hint: per-turn ``text``
equality under stable (conv_id, turn_idx) ordering, plus bit-identical
integer/timestamp columns.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from varint_spark import transcripts
from varint_spark.engine import EncodeOptions, decode_blocks, encode_transcripts, lineage_summary


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = transcripts.generate_spark(spark, n_conversations=200, n_hot=1, hot_turns=3000)
    df.cache().count()
    return df


OPTS = EncodeOptions(num_buckets=8, chunk_rows=1024, salt_span=2048)


def _sorted_pdf(df):
    return (
        df.orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def test_encode_decode_bit_identical(spark, small_transcripts):
    blocks = encode_transcripts(small_transcripts, OPTS)
    blocks.cache()
    decoded = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL)
    left = _sorted_pdf(small_transcripts)
    right = _sorted_pdf(decoded)
    pd.testing.assert_frame_equal(left, right)


def test_salting_splits_hot_conversation(spark, small_transcripts):
    blocks = encode_transcripts(small_transcripts, OPTS)
    # the hot conversation has 3000 turns > salt_span 2048 → at least 2 salts
    n_salts = (
        blocks.filter(F.col("column") == "turn_idx")
        .select(F.substring_index("part_key", ":", -1).alias("salt"))
        .distinct()
        .count()
    )
    assert n_salts >= 2


def test_compression_beats_reference_floor(spark, small_transcripts):
    blocks = encode_transcripts(small_transcripts, OPTS)
    lin = lineage_summary(blocks).toPandas()
    by_col = lin.groupby("column")[["raw_bytes", "encoded_bytes", "varint_bytes"]].sum()
    # integer/timestamp columns: encoded ≤ reference-faithful varint stream (+block headers)
    for col in ("turn_idx", "ts"):
        row = by_col.loc[col]
        assert row.encoded_bytes <= row.varint_bytes * 1.02 + 64, col
    # overall: strictly smaller than raw
    total = by_col.sum()
    assert total.encoded_bytes < 0.7 * total.raw_bytes
    # expected codec picks on this data shape
    codecs = dict(zip(lin["column"], lin["codec"]))
    assert "delta" in lin[lin.column == "ts"]["codec"].iloc[0]
    assert lin[lin.column == "role"]["codec"].iloc[0] in ("dict_str",)


def test_determinism_across_parallelism(spark, small_transcripts):
    """Same input at different parallelism → identical per-partition digests
    (SURVEY §7.2: deterministic chunking + stable in-group sort)."""
    b1 = encode_transcripts(small_transcripts.repartition(2), OPTS)
    b2 = encode_transcripts(small_transcripts.repartition(13), OPTS)
    d1 = {tuple(r[:3]): r[3] for r in b1.select("part_key", "chunk_id", "column", "digest").collect()}
    d2 = {tuple(r[:3]): r[3] for r in b2.select("part_key", "chunk_id", "column", "digest").collect()}
    assert d1 == d2


def test_nulls_roundtrip(spark):
    df = transcripts.generate_spark(spark, n_conversations=30, n_hot=0).withColumn(
        "tool", F.when(F.col("turn_idx") % 3 == 0, None).otherwise(F.col("tool"))
    ).withColumn(
        "text", F.when(F.col("turn_idx") % 7 == 0, None).otherwise(F.col("text"))
    )
    df.cache().count()
    blocks = encode_transcripts(df, OPTS)
    decoded = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL)
    pd.testing.assert_frame_equal(_sorted_pdf(df), _sorted_pdf(decoded))


def test_column_pruned_decode(spark, small_transcripts):
    blocks = encode_transcripts(small_transcripts, OPTS)
    out = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL, columns=["conv_id", "ts"])
    assert out.columns == ["conv_id", "ts"]
    left = small_transcripts.select("conv_id", "ts").orderBy("conv_id", "ts").toPandas()
    right = out.orderBy("conv_id", "ts").toPandas()
    pd.testing.assert_frame_equal(left.reset_index(drop=True), right.reset_index(drop=True))


def test_f64_nulls_and_nan_roundtrip(spark):
    import math
    rows = [(1, 1.5), (2, None), (3, float("nan")), (4, -0.0), (5, 2.0**60)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = roundtrip_df = None
    from varint_spark.engine import roundtrip
    out = {r.id: r.v for r in roundtrip(df, "id", "id", OPTS).collect()}
    assert out[2] is None                      # null stays null
    assert math.isnan(out[3])                  # NaN stays NaN (a value)
    assert math.copysign(1.0, out[4]) == -1.0  # -0.0 bit pattern survives
    assert out[1] == 1.5 and out[5] == 2.0**60


def test_zone_map_chunk_pruning(spark, small_transcripts):
    from varint_spark.engine import prune_chunks
    import pyspark.sql.functions as SF

    blocks = encode_transcripts(small_transcripts, OPTS).cache()
    # pick a ts range covering ~half the data
    stats = blocks.filter(SF.col("column") == "ts").agg(
        SF.min("min_val").alias("lo"), SF.max("max_val").alias("hi")).collect()[0]
    mid = (stats.lo + stats.hi) // 2
    pruned = prune_chunks(blocks, "ts", lo=mid)
    n_all = blocks.select("part_key", "chunk_id").distinct().count()
    n_kept = pruned.select("part_key", "chunk_id").distinct().count()
    assert n_kept < n_all  # pruning actually dropped chunks
    # exactness: pruned-decode + filter == full-decode + filter
    full = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL).filter(
        SF.unix_micros("ts") >= mid)
    part = decode_blocks(pruned, transcripts.TRANSCRIPT_DDL).filter(
        SF.unix_micros("ts") >= mid)
    pd.testing.assert_frame_equal(_sorted_pdf(full), _sorted_pdf(part))


def test_decode_verify_detects_corruption(spark, small_transcripts):
    blocks = encode_transcripts(small_transcripts, OPTS).cache()
    # clean verify passes
    decode_blocks(blocks, transcripts.TRANSCRIPT_DDL, verify=True).count()
    # corrupt one block's bytes → verify raises
    corrupted = blocks.withColumn(
        "block",
        F.when(F.col("column") == "role",
               F.concat(F.col("block"), F.lit(b"\x00"))).otherwise(F.col("block")),
    )
    import pytest as _pytest
    with _pytest.raises(Exception, match="digest mismatch"):
        decode_blocks(corrupted, transcripts.TRANSCRIPT_DDL, verify=True).count()


def test_empty_input_encode(spark):
    empty = transcripts.generate_spark(spark, n_conversations=1, n_hot=0).limit(0)
    blocks = encode_transcripts(empty, OPTS)
    assert blocks.count() == 0
    decoded = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL)
    assert decoded.count() == 0


def test_prune_chunks_null_stats_is_noop(spark):
    """Pruning on a column with NULL zone stats (f64 / string columns carry
    none) must keep every chunk — a conservative no-op, never zero rows."""
    from varint_spark.engine import prune_chunks, roundtrip
    rows = [(i, float(i) * 1.5, f"s{i % 7}") for i in range(1, 2001)]
    df = spark.createDataFrame(rows, "id long, v double, s string")
    blocks = encode_transcripts(df, EncodeOptions(
        num_buckets=4, chunk_rows=256, salt_span=1024,
        group_col="id", order_col="id")).cache()
    n_all = blocks.select("part_key", "chunk_id").distinct().count()
    for col in ("v", "s"):  # f64 and string: no min/max stats
        kept = prune_chunks(blocks, col, lo=0, hi=10).select(
            "part_key", "chunk_id").distinct().count()
        assert kept == n_all, col


def test_prune_chunks_sound_across_kinds_and_validates(spark):
    """One prune_chunks for integer and string zone maps: bounds on a
    string column and eq on an integer column meet NULL zones and keep
    every chunk; mixed predicates raise like the readers do."""
    from varint_spark.engine import prune_chunks
    rows = [(i, f"s{i % 7}") for i in range(1, 2001)]
    df = spark.createDataFrame(rows, "id long, s string")
    blocks = encode_transcripts(df, EncodeOptions(
        num_buckets=4, chunk_rows=256, salt_span=1024,
        group_col="id", order_col="id")).cache()
    n_all = blocks.select("part_key", "chunk_id").distinct().count()
    for col, kw in [("s", dict(lo=0)), ("id", dict(eq="s3"))]:
        kept = prune_chunks(blocks, col, **kw).select(
            "part_key", "chunk_id").distinct().count()
        assert kept == n_all, (col, kw)
    with pytest.raises(ValueError, match="not both"):
        prune_chunks(blocks, "s", eq="s3", lo=0)
    with pytest.raises(ValueError, match="at most one"):
        prune_chunks(blocks, "s", eq="s3", prefix="s")


def test_zone_map_string_pruning(spark):
    """prune_chunks_str drops chunks whose [min_str, max_str] can't hold
    the probe; non-ASCII / >64-char values store NULL stats and survive
    every probe (sound escape); truncated minima stay lower bounds."""
    import pyspark.sql.functions as SF

    from varint_spark.engine import (EncodeOptions, _ascii_increment,
                                     _zone_str, decode_blocks,
                                     encode_transcripts, prune_chunks_str)

    # unit: the stat builder and the prefix upper bound
    assert _zone_str("abc", True) == "abc" and _zone_str("abc", False) == "abc"
    assert _zone_str("é", True) is None and _zone_str(None, True) is None
    long = "x" * 100
    assert _zone_str(long, True) == "x" * 64 and _zone_str(long, False) is None
    assert _ascii_increment("src1") == "src2"
    assert _ascii_increment("a\x7f\x7f") == "b"
    assert _ascii_increment("\x7f") is None

    rows = [(i, f"cat{i % 8}", f"val{i:04d}") for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, cat string, v string")
    opts = EncodeOptions(num_buckets=4, chunk_rows=256, salt_span=2**40,
                         group_col="cat", order_col="id")
    blocks = encode_transcripts(df, opts).cache()
    n_all = blocks.select("part_key", "chunk_id").distinct().count()

    for kw in [dict(eq="cat3"), dict(prefix="cat3")]:
        pruned = prune_chunks_str(blocks, "cat", **kw)
        n_kept = pruned.select("part_key", "chunk_id").distinct().count()
        assert 0 < n_kept < n_all, kw
        got = decode_blocks(pruned, "id long, cat string, v string") \
            .filter(SF.col("cat") == "cat3")
        want = df.filter("cat = 'cat3'")
        assert got.count() == want.count() == 500
    # absent value prunes everything, correctly
    assert prune_chunks_str(blocks, "cat", eq="zz").count() == 0
    # non-ASCII probe: no pruning, full survival
    assert prune_chunks_str(blocks, "cat", eq="é").count() == blocks.count()

    # NULL-stat chunks (non-ASCII values) survive any probe
    rows2 = [(i, "grp", "é" + f"{i:03d}") for i in range(600)]
    df2 = spark.createDataFrame(rows2, "id long, g string, v string")
    opts2 = EncodeOptions(num_buckets=2, chunk_rows=256, salt_span=2**40,
                          group_col="g", order_col="id")
    b2 = encode_transcripts(df2, opts2)
    assert prune_chunks_str(b2, "v", prefix="anything").count() == b2.count()


def test_compact_blocks_identity_and_merge(spark, small_transcripts):
    """Compacting at the ORIGINAL chunk size is byte-identical (digests
    match — determinism invariant); compacting to 4× merges chunks,
    preserves every row, and is itself deterministic."""
    import pyspark.sql.functions as SF

    from varint_spark.engine import compact_blocks

    blocks = encode_transcripts(small_transcripts, OPTS).cache()

    def digest_map(b):
        return {(r.part_key, r.chunk_id, r.column): r.digest
                for r in b.select("part_key", "chunk_id", "column",
                                  "digest").collect()}

    same = compact_blocks(blocks, transcripts.TRANSCRIPT_DDL,
                          OPTS.chunk_rows, group_col="conv_id")
    assert digest_map(same) == digest_map(blocks)

    merged = compact_blocks(blocks, transcripts.TRANSCRIPT_DDL,
                            OPTS.chunk_rows * 4, group_col="conv_id")
    n_before = blocks.select("part_key", "chunk_id").distinct().count()
    n_after = merged.select("part_key", "chunk_id").distinct().count()
    assert n_after < n_before
    assert set(r.part_key for r in merged.select("part_key").distinct().collect()) \
        == set(r.part_key for r in blocks.select("part_key").distinct().collect())
    left = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL) \
        .orderBy("conv_id", "turn_idx").toPandas()
    right = decode_blocks(merged, transcripts.TRANSCRIPT_DDL) \
        .orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(left.reset_index(drop=True),
                                  right.reset_index(drop=True))
    again = compact_blocks(blocks.repartition(11), transcripts.TRANSCRIPT_DDL,
                           OPTS.chunk_rows * 4, group_col="conv_id")
    assert digest_map(again) == digest_map(merged)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        compact_blocks(blocks, transcripts.TRANSCRIPT_DDL, 0)


def test_decode_missing_column_schema_evolution(spark, small_transcripts):
    """missing_ok=True: a column with no stored blocks decodes as typed
    nulls; without the flag the decode fails loudly; projection of only
    stored columns is unaffected."""
    import pytest as _pytest

    narrow = small_transcripts.select("conv_id", "turn_idx", "role")
    blocks = encode_transcripts(narrow, OPTS).cache()
    ddl = ("conv_id string, turn_idx bigint, role string, "
           "score double, ts timestamp")
    out = decode_blocks(blocks, ddl, missing_ok=True)
    rows = out.collect()
    assert len(rows) == narrow.count()
    assert all(r.score is None and r.ts is None for r in rows)
    assert {r.conv_id for r in rows} == \
        {r.conv_id for r in narrow.collect()}
    with _pytest.raises(Exception):
        decode_blocks(blocks, ddl).collect()  # loud without the flag
    # verify=True skips digest checks only for the absent columns
    assert decode_blocks(blocks, ddl, missing_ok=True,
                         verify=True).count() == narrow.count()


def test_timestamp_order_column_salting(spark, small_transcripts):
    """A TIMESTAMP/TIMESTAMP_NTZ order column must be usable directly as
    order_col (the deployment surface hit CAST_WITHOUT_SUGGESTION on NTZ):
    salt derives from epoch seconds (salt_span = seconds per salt group),
    stays deterministic across parallelism, and the roundtrip is exact."""
    from varint_spark.engine import with_partition_keys

    df = small_transcripts.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    opts = EncodeOptions(num_buckets=4, chunk_rows=512, salt_span=3600,
                         order_col="ts")
    blocks = encode_transcripts(df, opts).cache()
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp_ntz")
    decoded = decode_blocks(blocks, ddl)
    left = _sorted_pdf(df.select(*decoded.columns))
    right = _sorted_pdf(decoded)
    pd.testing.assert_frame_equal(left, right)

    # salt = epoch_seconds DIV span, identical at any parallelism
    k1 = with_partition_keys(df.repartition(3), opts)
    k2 = with_partition_keys(df.repartition(11), opts)
    expect = df.selectExpr(
        "conv_id", "turn_idx",
        "CAST((unix_micros(to_timestamp(ts)) DIV 1000000) DIV 3600 AS INT)"
        " AS want")
    for keyed in (k1, k2):
        bad = keyed.join(expect, ["conv_id", "turn_idx"]) \
            .filter(F.col("_salt") != F.col("want")).count()
        assert bad == 0

    # tz-aware timestamps take the same path
    aware = small_transcripts.withColumn("ts", F.col("ts").cast("timestamp"))
    assert with_partition_keys(aware, opts).filter(
        F.col("_salt").isNull()).count() == 0
