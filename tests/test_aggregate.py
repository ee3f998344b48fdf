"""Aggregate pushdown from lineage metadata: COUNT/MIN/MAX/SUM/AVG
without reading block payloads (varint_spark/aggregate.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from varint_spark.aggregate import aggregate_blocks, aggregate_blocks_meta
from varint_spark.engine import EncodeOptions, encode_transcripts, _exact_sum


def test_exact_sum_kernel():
    rng = np.random.default_rng(17)
    v = rng.integers(-(10**17), 10**17, 5000)
    assert _exact_sum(v) == int(sum(int(x) for x in v))
    assert _exact_sum(np.array([-5, 5, 0], dtype=np.int64)) == 0
    # boundary values survive the halves trick exactly
    edge = np.array([2**63 - 1, -(2**63), 1, -1], dtype=np.int64)
    assert _exact_sum(edge) == -1
    # true sum outside int64 -> None (never a silently wrapped number)
    assert _exact_sum(np.array([2**62, 2**62, 2**62], dtype=np.int64)) is None
    assert _exact_sum(np.array([-(2**62)] * 3, dtype=np.int64)) is None


@pytest.fixture(scope="module")
def enc(spark):
    n = 5000
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") * 13 - 2500).alias("v"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 997).alias("w"))
    opts = EncodeOptions(num_buckets=3, chunk_rows=512, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    kinds = {"rid": "int64", "v": "int64", "w": "int64"}
    blocks = encode_transcripts(df, opts, kinds=kinds).cache()
    blocks.count()
    truth = df.agg(
        F.count("*"), F.count("w"), F.min("v"), F.max("v"),
        F.sum("v"), F.sum("w"), F.avg("w")).collect()[0]
    return blocks, truth, kinds


def test_meta_aggregates_match_scan(spark, enc):
    blocks, t, kinds = enc
    got = {r.column: r for r in
           aggregate_blocks_meta(blocks, ["v", "w"]).collect()}
    assert got["v"].n_rows == t[0] and got["v"].n_nonnull == t[0]
    assert got["w"].n_nonnull == t[1]
    assert (got["v"].min_val, got["v"].max_val) == (t[2], t[3])
    assert got["v"].sum_val == t[4] and got["w"].sum_val == t[5]
    assert got["w"].avg_val == pytest.approx(t[6])
    assert got["v"].n_sum_missing == 0
    # hybrid equals meta when nothing overflowed
    hy = {r.column: r for r in
          aggregate_blocks(blocks, ["v", "w"], kinds).collect()}
    assert hy["v"].sum_val == t[4] and hy["w"].sum_val == t[5]


def test_meta_path_never_reads_payloads(spark, enc, tmp_path):
    """The whole point at 100 TB: through a parquet round-trip, the
    metadata aggregate's scan prunes the ``block`` (and ``bloom``) binary
    columns — payload bytes never leave disk."""
    blocks, t, _ = enc
    path = str(tmp_path / "blocks_pq")
    blocks.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    agg = aggregate_blocks_meta(stored, ["v"])
    plan = agg._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    for ln in scan_lines:
        assert "block" not in ln and "bloom" not in ln and "digest" not in ln, ln
    row = agg.collect()[0]
    assert row.sum_val == t[4] and row.n_rows == t[0]


def test_hybrid_sum_overflow_fallback(spark):
    """Chunks whose true sum leaves int64 store sum_val NULL; the hybrid
    decodes exactly those chunks and still returns the exact total."""
    big = 2**62
    df = spark.createDataFrame(
        [(i, "g", big if i < 8 else i) for i in range(2048)],
        "rid long, g string, x long")
    opts = EncodeOptions(num_buckets=1, chunk_rows=256, salt_span=1 << 20,
                        group_col="g", order_col="rid")
    kinds = {"rid": "int64", "x": "int64"}
    blocks = encode_transcripts(df, opts, kinds=kinds).cache()
    n_missing = blocks.filter(
        (F.col("column") == "x") & F.col("sum_val").isNull()).count()
    assert n_missing >= 1  # the big-value chunk really overflowed
    meta = aggregate_blocks_meta(blocks, ["x"]).collect()[0]
    assert meta.sum_val is None and meta.n_sum_missing == n_missing
    want = 8 * big + sum(range(8, 2048))
    # the exact hybrid total leaves int64, so compare the pieces the
    # engine CAN represent: Spark's own sum over the decoded fallback is
    # int64 too, so pick a fixture whose exact total still fits
    df2 = spark.createDataFrame(
        [(i, "g", big if i == 0 else (-big if i == 1 else i))
         for i in range(2048)],
        "rid long, g string, x long")
    blocks2 = encode_transcripts(df2, opts, kinds=kinds).cache()
    got = aggregate_blocks(blocks2, ["x"], kinds).collect()[0]
    assert got.sum_val == sum(range(2, 2048))
    assert want > 2**63  # documents why df's exact total is untestable here


def test_ts_columns_aggregate_in_zone_domain(spark):
    """ts kinds aggregate in the epoch-µs int64 domain (zone convention);
    min/max come straight from the zone stats."""
    ev = spark.createDataFrame(
        [(i, "g", f"2024-01-{1 + i % 9:02d} 00:00:00") for i in range(512)],
        "rid long, g string, s string").select(
            "rid", "g", F.to_timestamp("s").alias("ts"))
    opts = EncodeOptions(num_buckets=1, chunk_rows=128, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    kinds = {"rid": "int64", "ts": "ts"}
    blocks = encode_transcripts(ev, opts, kinds=kinds)
    got = {r.column: r for r in
           aggregate_blocks(blocks, ["rid", "ts"], kinds).collect()}
    lo = ev.agg(F.min(F.unix_micros("ts"))).collect()[0][0]
    hi = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    assert (got["ts"].min_val, got["ts"].max_val) == (lo, hi)
    assert got["rid"].sum_val == sum(range(512))


def test_topk_prune_clustered_layout(spark):
    """Clustered layout: the threshold walk keeps a small survivor set
    and the answer equals the plain ORDER BY/LIMIT; bottom-k mirrors."""
    from varint_spark.aggregate import topk_blocks, topk_prune

    n = 8192
    df = spark.range(n).select(
        F.col("id").alias("rid"), (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") * 3 + 11).alias("v"))
    opts = EncodeOptions(num_buckets=2, chunk_rows=512, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    kinds = {"rid": "int64", "v": "int64"}
    blocks = encode_transcripts(df, opts, kinds=kinds).cache()
    n_chunks = blocks.select("part_key", "chunk_id").distinct().count()
    kept = topk_prune(blocks, "v", 50).select("part_key", "chunk_id") \
        .distinct().count()
    assert kept < n_chunks / 2, (kept, n_chunks)  # real pruning
    got = [r.v for r in topk_blocks(blocks, "v", 50,
                                    "rid long, v long", kinds).collect()]
    want = [r.v for r in df.orderBy(F.col("v").desc()).limit(50).collect()]
    assert got == want
    bot = [r.v for r in topk_blocks(blocks, "v", 50, "rid long, v long",
                                    kinds, descending=False).collect()]
    assert bot == [r.v for r in df.orderBy("v").limit(50).collect()]


def test_topk_scattered_layout_still_exact(spark):
    """Hash-scattered values: zone maps can't prune (survivors == all),
    but the answer stays exact — pruning is an optimization, not a
    filter. Also: k > table size returns everything."""
    from varint_spark.aggregate import topk_blocks, topk_prune

    n = 2048
    df = spark.range(n).select(
        F.col("id").alias("rid"), F.lit("g").alias("g"),
        F.pmod(F.col("id") * 40503, F.lit(999983)).alias("v"))
    opts = EncodeOptions(num_buckets=1, chunk_rows=256, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    kinds = {"rid": "int64", "v": "int64"}
    blocks = encode_transcripts(df, opts, kinds=kinds).cache()
    got = [r.v for r in topk_blocks(blocks, "v", 25,
                                    "rid long, v long", kinds).collect()]
    want = [r.v for r in df.orderBy(F.col("v").desc()).limit(25).collect()]
    assert got == want
    allv = topk_blocks(blocks, "v", 10 * n, "rid long, v long", kinds)
    assert allv.count() == n
    with pytest.raises(ValueError, match="k must be"):
        topk_prune(blocks, "v", 0)


def test_topk_threshold_two_level_is_sound(spark):
    """The two-level threshold never exceeds what an exact global walk
    justifies (DESC: t ≤ t_exact keeps a superset of chunks), and topk
    results stay exact on a layout where chunks interleave across parts."""
    from varint_spark.aggregate import _topk_threshold, topk_blocks

    n = 8192
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias("g"),
        F.pmod(F.col("id") * 48271, F.lit(999983)).alias("v"))
    opts = EncodeOptions(num_buckets=4, chunk_rows=256, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    kinds = {"rid": "int64", "v": "int64"}
    blocks = encode_transcripts(df.drop("g").withColumn(
        "g", F.concat(F.lit("u"), (F.col("rid") % 7).cast("string"))),
        opts, kinds={"rid": "int64", "g": "str", "v": "int64"}).cache()
    meta = blocks.filter((F.col("column") == "v")
                         & F.col("min_val").isNotNull()) \
        .select("part_key", "chunk_id", "min_val", "max_val",
                (F.col("count") - F.col("null_count")).alias("_nn"))
    tot = meta.agg(F.sum("_nn")).collect()[0][0]
    vals = sorted(r.v for r in df.select("v").collect())
    for k in (1, 10, 500, 5 * n):
        for desc in (True, False):
            t = _topk_threshold(meta, k, desc).collect()[0].t
            assert t is not None, (k, desc)
            # soundness: chunks dropped by t have ALL values beyond t, so
            # ≥ min(k, total) values within t must exist for top-k to be
            # answerable from the kept chunks alone
            if desc:
                n_within = sum(1 for v in vals if v >= t)
            else:
                n_within = sum(1 for v in vals if v <= t)
            assert n_within >= min(k, tot), (k, desc, t, n_within)
    got = [r.v for r in topk_blocks(
        blocks, "v", 50, "rid long, g string, v long",
        {"rid": "int64", "g": "str", "v": "int64"}).collect()]
    want = [r.v for r in df.orderBy(F.col("v").desc()).limit(50).collect()]
    assert got == want


def test_groupby_agg_from_metadata(spark):
    """Clustered layout: single-group chunks aggregate from metadata,
    boundary chunks decode, and the fold equals the plain GROUP BY."""
    from varint_spark.aggregate import groupby_agg_blocks

    n = 20_000
    # groups larger than chunk_rows: the clustered regime where most
    # chunks are single-group (a group smaller than a chunk can never be)
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        (F.col("id") / 2000).cast("long").alias("grp"),
        (F.col("id") * 7 - 1000).alias("v"))
    opts = EncodeOptions(num_buckets=2, chunk_rows=512, salt_span=1 << 20,
                         group_col="grp", order_col="rid")
    kinds = {"rid": "int64", "grp": "int64", "v": "int64"}
    blocks = encode_transcripts(
        df.withColumn("grp", F.col("grp").cast("long")), opts,
        kinds=kinds).cache()
    got = {r.grp: (r.n_rows, r.n_nonnull, r.min_val, r.max_val, r.sum_val)
           for r in groupby_agg_blocks(blocks, "grp", "v", kinds).collect()}
    want = {r.grp: (r.n, r.nn, r.mn, r.mx, r.s)
            for r in df.groupBy("grp").agg(
                F.count("*").alias("n"), F.count("v").alias("nn"),
                F.min("v").alias("mn"), F.max("v").alias("mx"),
                F.sum("v").alias("s")).collect()}
    assert got == want
    # most chunks really did take the metadata branch on this layout
    gm = blocks.filter(F.col("column") == "grp")
    n_single = gm.filter(F.col("min_val") == F.col("max_val")).count()
    assert n_single > gm.count() * 0.6, (n_single, gm.count())


def test_groupby_agg_string_groups_and_nulls(spark):
    """String groups ride the string zone stats; chunks with NULL group
    values are forced to the decode branch (zone stats ignore nulls —
    without the guard their rows would be mis-attributed)."""
    from varint_spark.aggregate import groupby_agg_blocks

    n = 6000
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 17 == 0, None)
        .otherwise(F.concat(F.lit("s"), (F.col("id") / 500).cast("long")
                            .cast("string"))).alias("grp"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 300)
        .alias("v"))
    opts = EncodeOptions(num_buckets=1, chunk_rows=256, salt_span=1 << 20,
                         group_col="grp", order_col="rid")
    kinds = {"rid": "int64", "grp": "str", "v": "int64"}
    blocks = encode_transcripts(df, opts, kinds=kinds).cache()
    got = {r.grp: (r.n_rows, r.n_nonnull, r.min_val, r.max_val, r.sum_val)
           for r in groupby_agg_blocks(blocks, "grp", "v", kinds).collect()}
    want = {r.grp: (r.n, r.nn, r.mn, r.mx, r.s)
            for r in df.groupBy("grp").agg(
                F.count("*").alias("n"), F.count("v").alias("nn"),
                F.min("v").alias("mn"), F.max("v").alias("mx"),
                F.sum("v").alias("s")).collect()}
    assert got == want and None in got  # null group preserved exactly


def test_groupby_agg_ts_groups(spark):
    """Timestamp group columns: the fast branch emits zone-domain epoch-µs
    keys, so the slow branch must convert via unix_micros — cast('long')
    yields epoch-SECONDS and the branches never merge (ADVICE r6 high)."""
    from varint_spark.aggregate import groupby_agg_blocks

    n = 12_000
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        F.expr("timestamp_micros(1700000000000000 + (id div 2000) * 3600000000)")
        .alias("grp"),
        (F.col("id") * 3 - 50).alias("v"))
    opts = EncodeOptions(num_buckets=2, chunk_rows=512, salt_span=1 << 20,
                         group_col="grp", order_col="rid")
    kinds = {"rid": "int64", "grp": "ts", "v": "int64"}
    blocks = encode_transcripts(df, opts, kinds=kinds).cache()
    out = groupby_agg_blocks(blocks, "grp", "v", kinds)
    got = {r.grp: (r.n_rows, r.min_val, r.max_val, r.sum_val)
           for r in out.collect()}
    want = {r.g: (r.n, r.mn, r.mx, r.s)
            for r in df.groupBy(F.unix_micros("grp").alias("g")).agg(
                F.count("*").alias("n"), F.min("v").alias("mn"),
                F.max("v").alias("mx"), F.sum("v").alias("s")).collect()}
    assert got == want
    # exactly one row per true group: the two branches actually merged
    assert len(got) == df.select("grp").distinct().count()


def test_hybrid_aggregates_respect_deletes(spark, enc):
    """Chunk metadata describes PHYSICAL rows; with deletion vectors the
    hybrid must drop DV'd chunks to the masked-decode path (the deleted
    row may be the min) while clean chunks stay metadata-only."""
    from varint_spark.deletes import delete_where

    blocks, _, kinds = enc
    # delete the global minimum of v (rid 0 -> v = -2500) and a null-y
    # stripe of w, concentrated in a few chunks
    dv = delete_where(blocks, "rid", lo=0, hi=599)
    got = {r.column: r for r in
           aggregate_blocks(blocks, ["v", "w"], kinds, deletes=dv).collect()}

    df = spark.range(5000).select(
        F.col("id").alias("rid"),
        (F.col("id") * 13 - 2500).alias("v"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 997).alias("w")).filter(F.col("rid") > 599)
    t = df.agg(F.count("*"), F.count("w"), F.min("v"), F.max("v"),
               F.sum("v"), F.sum("w"), F.avg("w")).collect()[0]
    assert got["v"].n_rows == t[0] and got["w"].n_nonnull == t[1]
    assert (got["v"].min_val, got["v"].max_val) == (t[2], t[3])
    assert got["v"].sum_val == t[4] and got["w"].sum_val == t[5]
    assert got["w"].avg_val == pytest.approx(t[6])

    # all chunks deleted entirely -> zero-row aggregates, sum NULL
    dv_all = delete_where(blocks, "rid", lo=0)
    z = {r.column: r for r in
         aggregate_blocks(blocks, ["v"], kinds, deletes=dv_all).collect()}
    assert z["v"].n_rows == 0 and z["v"].sum_val is None


def test_topk_and_groupby_respect_deletes(spark, enc):
    """A deleted row must never appear in (or displace) the top-k, and
    the metadata GROUP BY must re-route DV'd chunks to the masked-decode
    branch."""
    from varint_spark.aggregate import groupby_agg_blocks, topk_blocks
    from varint_spark.deletes import delete_where

    blocks, _, kinds = enc
    df = spark.range(5000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") * 13 - 2500).alias("v"))

    # delete the top stripe of v (the current top-k lives there)
    dv = delete_where(blocks, "rid", lo=4900)
    got = topk_blocks(blocks, "v", 5, "rid bigint, v bigint",
                      kinds={"rid": "int64", "v": "int64"}, deletes=dv)
    want = df.filter(F.col("rid") < 4900).orderBy(F.col("v").desc()) \
        .limit(5).select("rid", "v")
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in want.collect()]

    # groupby half needs the group column stored: fresh store with g
    opts = EncodeOptions(num_buckets=3, chunk_rows=512, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    gkinds = {"rid": "int64", "g": "str", "v": "int64"}
    gblocks = encode_transcripts(df, opts, kinds=gkinds).cache()
    dv2 = delete_where(gblocks, "rid", lo=4900)
    gb = {r[0]: (r.n_rows, r.sum_val) for r in
          groupby_agg_blocks(gblocks, "g", "v", kinds=gkinds,
                             deletes=dv2).collect()}
    truth = {r.g: (r[1], r[2]) for r in
             df.filter(F.col("rid") < 4900).groupBy("g")
             .agg(F.count("*"), F.sum("v")).collect()}
    assert gb == truth
    # and without deletes the fast path result matches the plain scan
    gb0 = {r[0]: (r.n_rows, r.sum_val) for r in
           groupby_agg_blocks(gblocks, "g", "v", kinds=gkinds).collect()}
    truth0 = {r.g: (r[1], r[2]) for r in
              df.groupBy("g").agg(F.count("*"), F.sum("v")).collect()}
    assert gb0 == truth0


def test_ts_sums_past_int64_never_raise(spark):
    """Epoch-µs sums leave int64 after a few thousand rows. Under ANSI
    the aggregates must not raise: sum_val is NULL (the exact total does
    not fit a long) and avg_val still comes from the exact total."""
    from varint_spark.aggregate import groupby_agg_blocks

    n, base, step = 12_000, 1_700_000_000_000_000, 1_000_003
    df = spark.range(n).select(
        F.col("id").alias("rid"), F.lit("g").alias("g"),
        F.timestamp_micros(F.lit(base) + F.col("id") * step).alias("ts"))
    opts = EncodeOptions(num_buckets=1, chunk_rows=4000, salt_span=1 << 20,
                         group_col="g", order_col="rid")
    kinds = {"rid": "int64", "g": "str", "ts": "ts"}
    blocks = encode_transcripts(df, opts, kinds=kinds).cache()
    ts_meta = blocks.filter(F.col("column") == "ts")
    # three chunks, each chunk's own sum fits int64 and is stored
    assert ts_meta.count() == 3
    assert ts_meta.filter(F.col("sum_val").isNull()).count() == 0
    want = sum(base + i * step for i in range(n))
    assert want > 2**63 - 1

    for agg in (aggregate_blocks_meta(blocks, ["rid", "ts"]),
                aggregate_blocks(blocks, ["rid", "ts"], kinds)):
        got = {r.column: r for r in agg.collect()}
        assert got["ts"].sum_val is None and got["ts"].n_sum_missing == 0
        assert got["ts"].avg_val == pytest.approx(want / n, rel=1e-15)
        assert (got["ts"].min_val, got["ts"].max_val) == (
            base, base + (n - 1) * step)
        assert got["rid"].sum_val == n * (n - 1) // 2

    g = groupby_agg_blocks(blocks, "g", "ts", kinds).collect()
    assert [(r.g, r.n_rows, r.sum_val) for r in g] == [("g", n, None)]
