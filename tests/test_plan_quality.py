"""Executable plan-quality claims (ARCHITECTURE.md "Plan quality"):
the shapes asserted in prose are checked against the physical plans, so
a regression that adds a shuffle or un-pushes a filter fails loudly."""

from __future__ import annotations

from varint_spark import transcripts
from varint_spark.engine import EncodeOptions, decode_blocks, encode_transcripts

OPTS = EncodeOptions(num_buckets=4, chunk_rows=1024, salt_span=4096)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_encode_plan_has_exactly_one_shuffle(spark):
    df = transcripts.generate_spark(spark, n_conversations=50, n_hot=0)
    plan = _plan(encode_transcripts(df, OPTS))
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan


def test_column_pruned_decode_pushes_filter_into_scan(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("blocks_pq"))
    df = transcripts.generate_spark(spark, n_conversations=50, n_hot=0)
    encode_transcripts(df, OPTS).write.mode("overwrite").parquet(d)
    blocks = spark.read.parquet(d)
    dec = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL,
                        columns=["conv_id", "ts"])
    plan = _plan(dec)
    # the column IN (...) predicate must reach the parquet scan: pruned
    # columns' block bytes never leave disk
    scan_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan_lines and any("In(column" in ln or "column" in ln
                              for ln in scan_lines), plan
    assert "In(column, [conv_id,ts])" in plan or "column IN" in plan, plan


def test_where_decode_pushes_column_filter_into_scan(spark, tmp_path_factory):
    """Same pin for the predicate read: decode_blocks_where shares
    decode_blocks' projection, so its column IN filter reaches the scan."""
    from varint_spark.engine import decode_blocks_where

    d = str(tmp_path_factory.mktemp("blocks_pq_where"))
    df = transcripts.generate_spark(spark, n_conversations=50, n_hot=0)
    encode_transcripts(df, OPTS).write.mode("overwrite").parquet(d)
    blocks = spark.read.parquet(d)
    dec = decode_blocks_where(blocks, transcripts.TRANSCRIPT_DDL, "turn_idx",
                              lo=3, columns=["conv_id", "turn_idx"])
    plan = _plan(dec)
    scan_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan_lines and any("column" in ln for ln in scan_lines), plan
    assert "In(column, [conv_id,turn_idx])" in plan or "column IN" in plan, plan


def test_roundtrip_plan_has_no_python_row_udfs(spark):
    """The hot path is Arrow-native grouped maps — a row-at-a-time
    BatchEvalPython stage appearing anywhere in the roundtrip plan would
    mean a per-row Python UDF crept in."""
    from varint_spark.engine import roundtrip

    df = transcripts.generate_spark(spark, n_conversations=30, n_hot=0)
    plan = _plan(roundtrip(df, "conv_id", "turn_idx", OPTS))
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsIn" in plan, plan


def test_range_join_avoids_nested_loop(spark):
    """The naive inequality join plans as BroadcastNestedLoopJoin (per-key
    |L|x|R| work); the bucketed band join must plan as a hash/sort-merge
    equi-join on (key, bucket)."""
    from pyspark.sql import functions as F

    from varint_spark.asof import range_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    us = F.unix_micros(F.to_timestamp("ts"))
    p = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", us.alias("p_us"))
    c = ev.filter(F.col("event_type") == "click") \
        .select("user_id", F.col("event_id").alias("click_id"), us.alias("c_us"))
    plan = _plan(range_join(p, c, "user_id", "p_us", "c_us", -3_600_000_000, 0))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "Join" in plan  # an actual equi-join node on (key, bucket)


def test_asof_join_is_one_shuffle_window_scan(spark):
    from pyspark.sql import functions as F

    from varint_spark.asof import asof_join_backward

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", F.col("event_id").alias("click_id"))
    plan = _plan(asof_join_backward(p, c, "user_id", "ts", "ts", ["click_id"]))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window") == 1, plan


def test_sessionize_rollup_reuses_window_partitioning(spark):
    """session_stats: the lag/cumsum windows shuffle on user_id ONCE and
    the (user_id, session_idx) rollup reuses that partitioning —
    HashPartitioning(user) satisfies the superset clustering, so exactly
    one Exchange in the whole plan."""
    from varint_spark.pipeline import sessions

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(sessions.session_stats(ev, gap_minutes=1440))
    assert plan.count("Exchange") == 1, plan


def test_stratified_sample_is_shuffle_free(spark):
    """The hash-threshold sample is a pure filter: no Exchange, no UDF —
    it runs at the scan."""
    from varint_spark.pipeline import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(sampling.stratified_sample(docs, "source", "doc_id", 0.5))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compact_blocks_is_one_shuffle_over_stored_blocks(spark, tmp_path_factory):
    """Compaction over a blocks PARQUET store (the maintenance-run shape)
    is exactly one Exchange — the part_key groupBy; rows never leave
    their partition."""
    from varint_spark.engine import compact_blocks

    d = str(tmp_path_factory.mktemp("blocks_store"))
    df = transcripts.generate_spark(spark, n_conversations=40, n_hot=0)
    encode_transcripts(df, OPTS).write.mode("overwrite").parquet(d)
    stored = spark.read.parquet(d)
    plan = _plan(compact_blocks(stored, transcripts.TRANSCRIPT_DDL,
                                OPTS.chunk_rows * 4, group_col="conv_id"))
    assert plan.count("Exchange") == 1, plan


def test_postings_build_is_two_planned_shuffles(spark):
    """build_token_postings: exactly the two exchanges the design names —
    the (key, id) spread repartition and the per-key merge groupBy; the
    token explode itself adds none."""
    from varint_spark.pipeline import textindex

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textindex.build_token_postings(docs, "doc_id", "text",
                                                vocab=["join", "scan"]))
    assert plan.count("Exchange") == 2, plan


def test_meta_aggregate_is_metadata_only_no_payload_columns(spark, tmp_path_factory):
    """aggregate_blocks_meta over stored blocks: the parquet scan's
    ReadSchema carries only stat columns — block/bloom/hll payload bytes
    never leave disk — and the plan is one partial+final agg pair."""
    from pyspark.sql import functions as F
    from varint_spark.aggregate import aggregate_blocks_meta

    d = str(tmp_path_factory.mktemp("agg_pq"))
    df = spark.range(4000).select(
        F.col("id").alias("rid"), F.lit("g").alias("g"),
        (F.col("id") * 3).alias("v"))
    opts = EncodeOptions(num_buckets=1, chunk_rows=512, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    encode_transcripts(df, opts, kinds={"rid": "int64", "v": "int64"}) \
        .write.mode("overwrite").parquet(d)
    plan = _plan(aggregate_blocks_meta(spark.read.parquet(d), ["v"]))
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "block" not in ln and "bloom" not in ln \
                and "hll" not in ln and "digest" not in ln, ln
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 1, plan  # one agg shuffle, no more


def test_phrase_search_broadcasts_candidates(spark):
    """search_phrase's verify stage: the candidate containers join the
    positional shards via BROADCAST (the candidate bitmap is bounded by
    n_docs/8 bytes), and the only Exchange is the per-shard grouping —
    never a shuffle of position payloads by anything finer than shard."""
    from pyspark.sql import functions as F
    from varint_spark.pipeline import textindex

    docs = spark.createDataFrame(
        [(i, "x y z" if i % 2 else "x z y") for i in range(64)],
        "doc_id long, text string")
    postings = textindex.build_token_postings(docs, "doc_id", "text")
    pos = textindex.build_positional_postings(docs, "doc_id", "text")
    postings.cache().count(), pos.cache().count()
    plan = _plan(textindex.search_phrase(spark, postings, pos, ["x", "y"]))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_groupby_pushdown_decodes_only_boundary_chunks(spark):
    """groupby_agg_blocks: no per-row Python anywhere in the plan, and —
    the data-level form of the plan claim — the decode branch receives
    only the boundary chunks (single-group chunks are excluded by the
    left_anti), a small fraction on the clustered layout."""
    from pyspark.sql import functions as F
    from varint_spark.aggregate import groupby_agg_blocks

    df = spark.range(8000).select(
        F.col("id").alias("rid"),
        (F.col("id") / 2000).cast("long").alias("grp"),
        (F.col("id") * 3).alias("v"))
    opts = EncodeOptions(num_buckets=1, chunk_rows=512, salt_span=1 << 20,
                         group_col="grp", order_col="rid")
    kinds = {"rid": "int64", "grp": "int64", "v": "int64"}
    blocks = encode_transcripts(
        df.withColumn("grp", F.col("grp").cast("long")), opts,
        kinds=kinds).cache()
    blocks.count()
    plan = _plan(groupby_agg_blocks(blocks, "grp", "v", kinds))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # boundary fraction: groups of 2000 over 512-row chunks -> at most
    # one straddling chunk per group boundary
    gm = blocks.filter(F.col("column") == "grp")
    n_boundary = gm.filter((F.col("min_val") != F.col("max_val"))
                           | (F.col("null_count") > 0)).count()
    assert n_boundary <= 4, n_boundary  # 4 groups -> ≤ 3 boundaries (+1 slack)


def test_topk_threshold_no_single_task_chunk_walk(spark):
    """The top-k threshold walk is two-level (VERDICT r6 #2): per-chunk
    metadata only ever crosses an Exchange hashpartitioning(part_key) for
    the distributed per-part window; every Exchange SinglePartition in the
    plan sits ABOVE a part_key aggregation, i.e. carries part-count rows,
    never chunk-count rows."""
    from pyspark.sql import functions as F
    from varint_spark.aggregate import _topk_threshold

    df = spark.range(4096).select(
        F.col("id").alias("rid"), F.lit("g").alias("g"),
        F.pmod(F.col("id") * 40503, F.lit(999983)).alias("v"))
    opts = EncodeOptions(num_buckets=4, chunk_rows=256, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    blocks = encode_transcripts(df, opts, kinds={"rid": "int64", "v": "int64"})
    meta = blocks.filter((F.col("column") == "v")
                         & F.col("min_val").isNotNull()) \
        .select("part_key", "chunk_id", "min_val", "max_val",
                (F.col("count") - F.col("null_count")).alias("_nn"))
    plan = _plan(_topk_threshold(meta, 25, descending=True))
    assert "hashpartitioning(part_key" in plan, plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            below = "\n".join(lines[i + 1:])
            assert "keys=[part_key" in below, (ln, plan)


def test_delete_where_is_shuffle_free_and_scans_one_column(spark, tmp_path_factory):
    """DV build = mapInArrow over the predicate column's block rows:
    no Exchange anywhere, and the column filter reaches the parquet
    scan so other columns' payload bytes never leave disk."""
    from varint_spark.deletes import delete_where

    d = str(tmp_path_factory.mktemp("dv_blocks"))
    df = transcripts.generate_spark(spark, n_conversations=50, n_hot=0)
    encode_transcripts(df, OPTS).write.mode("overwrite").parquet(d)
    blocks = spark.read.parquet(d)
    dv = delete_where(blocks, "turn_idx", lo=0, hi=3)
    plan = _plan(dv)
    assert "Exchange" not in plan, plan
    assert "EqualTo(column,turn_idx)" in plan, plan


def test_decode_with_deletes_broadcasts_dv_side(spark, tmp_path_factory):
    """The chunk-keyed DV join must not shuffle the big blocks side:
    the metadata-sized DV table broadcasts."""
    from varint_spark.deletes import delete_where

    d = str(tmp_path_factory.mktemp("dvj_blocks"))
    df = transcripts.generate_spark(spark, n_conversations=50, n_hot=0)
    encode_transcripts(df, OPTS).write.mode("overwrite").parquet(d)
    blocks = spark.read.parquet(d)
    dv = delete_where(blocks, "turn_idx", lo=0, hi=3)
    dec = decode_blocks(blocks, transcripts.TRANSCRIPT_DDL, deletes=dv)
    dec.collect()  # let AQE finalize the join strategy
    plan = _plan(dec)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
