"""Broadcast shared symbol tables: build → encode-with → decode-with →
bit-identical, and shared codecs actually get picked."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from varint_spark import transcripts
from varint_spark.codecs import fsst, strings
from varint_spark.engine import EncodeOptions, decode_blocks, encode_transcripts
from varint_spark.shared import SharedTables, build_shared_tables

OPTS = EncodeOptions(num_buckets=4, chunk_rows=2048, salt_span=8192)


def test_fsst_train_apply_kernel():
    text = ("the quick brown fox jumps over the lazy dog " * 500).encode()
    corpus = np.frombuffer(text, dtype=np.uint8)
    tables = fsst.train(corpus[: len(corpus) // 4])
    assert tables is not None
    comp = fsst.apply_tables(corpus, tables)
    assert comp is not None and len(comp) < 0.7 * len(corpus)
    np.testing.assert_array_equal(fsst.decompress_with(comp, tables), corpus)


def test_shared_dict_kernel_roundtrip():
    from varint_spark.selector import decode_int_block, encode_int_block
    import pyarrow as pa

    dict_arr = pa.array(["assistant", "system", "tool", "user"], type=pa.large_utf8())
    vals = pa.array(["user", "user", "tool", "assistant"] * 100, type=pa.large_utf8())
    blk = strings.encode_dict_shared(vals, "d" * 16, dict_arr, encode_int_block)
    out = strings.decode_dict_shared(blk, len(vals), "d" * 16, dict_arr, decode_int_block)
    assert out.to_pylist() == vals.to_pylist()
    # miss → None (fallback path)
    vals2 = pa.array(["user", "unknown-role"], type=pa.large_utf8())
    assert strings.encode_dict_shared(vals2, "d" * 16, dict_arr, encode_int_block) is None


def test_engine_with_shared_tables(spark):
    df = transcripts.generate_spark(spark, n_conversations=150, n_hot=1, hot_turns=3000)
    df.cache().count()
    shared = build_shared_tables(df)
    assert "role" in shared.dicts and "tool" in shared.dicts
    assert "text" in shared.fsst_tables or "conv_id" in shared.dicts

    bc = spark.sparkContext.broadcast(shared)
    blocks = encode_transcripts(df, OPTS, shared=bc).cache()
    codecs = {r["column"]: r["codec"] for r in
              blocks.select("column", "codec").distinct().collect()}
    assert "shared" in codecs.get("role", "") or codecs.get("role") == "dict_str"

    decoded = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL, shared=bc)
    left = df.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    right = decoded.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(left, right)

    # blocks that used shared tables refuse to decode without them
    used_shared = [r["codec"] for r in blocks.collect() if "shared" in r["codec"]]
    if used_shared:
        with pytest.raises(Exception, match="shared|digest"):
            decode_blocks(blocks, transcripts.TRANSCRIPT_DDL).count()


def test_shared_digest_mismatch_detected(spark):
    df = transcripts.generate_spark(spark, n_conversations=40, n_hot=0)
    df.cache().count()
    shared = build_shared_tables(df)
    if not shared.dicts:
        pytest.skip("no shared dicts built")
    bc = spark.sparkContext.broadcast(shared)
    blocks = encode_transcripts(df, OPTS, shared=bc).cache()
    if not any("shared" in r["codec"] for r in blocks.select("codec").distinct().collect()):
        pytest.skip("cost gate never picked a shared codec on this data")
    tampered = SharedTables(dicts={**shared.dicts, "role": ["a", "b", "c", "zzz"]},
                            fsst_tables=shared.fsst_tables)
    bc2 = spark.sparkContext.broadcast(tampered)
    with pytest.raises(Exception, match="digest"):
        decode_blocks(blocks, transcripts.TRANSCRIPT_DDL, shared=bc2).count()


def test_delete_where_on_shared_dict_column(spark):
    """Deletion vectors built from a SHARED-dictionary column: the
    encoded-form predicate resolves codes through the broadcast table,
    and decode-with-DV (also shared) matches the plain filter."""
    from varint_spark.deletes import delete_where

    df = transcripts.generate_spark(spark, n_conversations=150, n_hot=1,
                                    hot_turns=3000)
    df.cache().count()
    shared = build_shared_tables(df)
    bc = spark.sparkContext.broadcast(shared)
    blocks = encode_transcripts(df, OPTS, shared=bc).cache()
    role_codecs = {r.codec for r in blocks.filter("column = 'role'")
                   .select("codec").distinct().collect()}
    assert any("shared" in c for c in role_codecs)  # the path under test

    dv = delete_where(blocks, "role", kind="str", eq="assistant", shared=bc)
    got = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL, shared=bc,
                        deletes=dv)
    want = df.filter(F.col("role") != "assistant")
    left = want.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    right = got.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(left, right)


def test_decode_where_on_shared_dict_column(spark):
    """decode_blocks_where reads a shared-table store: the eq/prefix
    predicate resolves codes through the broadcast dictionary, and the
    result equals decode_blocks followed by the same filter."""
    from varint_spark.engine import decode_blocks_where

    df = transcripts.generate_spark(spark, n_conversations=150, n_hot=1,
                                    hot_turns=3000)
    df.cache().count()
    bc = spark.sparkContext.broadcast(build_shared_tables(df))
    blocks = encode_transcripts(df, OPTS, shared=bc).cache()
    role_codecs = {r.codec for r in blocks.filter("column = 'role'")
                   .select("codec").distinct().collect()}
    assert any("shared" in c for c in role_codecs)  # the path under test

    full = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL, shared=bc)
    for kw, cond in [(dict(eq="assistant"), F.col("role") == "assistant"),
                     (dict(prefix="us"), F.col("role").startswith("us"))]:
        got = decode_blocks_where(blocks, transcripts.TRANSCRIPT_DDL, "role",
                                  None, shared=bc, **kw)
        want = full.filter(cond)
        left = want.orderBy("conv_id", "turn_idx").toPandas()
        right = got.orderBy("conv_id", "turn_idx").toPandas()
        assert len(left) > 0, kw
        pd.testing.assert_frame_equal(left.reset_index(drop=True),
                                      right.reset_index(drop=True))
