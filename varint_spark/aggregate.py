"""Aggregate pushdown over the block store — COUNT/MIN/MAX/SUM/AVG
answered from lineage metadata, without decoding (or even reading) any
encoded payload.

Every block row already carries the aggregate state a scan would
recompute: ``count``/``null_count`` (exact row and null tallies),
``min_val``/``max_val`` (the zone-map stats that drive chunk pruning)
and, since r6, ``sum_val`` — the chunk's exact int64-domain sum
(``engine._exact_sum``; the 32-bit-halves trick keeps it overflow-exact,
storing NULL when the true sum leaves int64). So ``SELECT count(*),
min(x), max(x), sum(x), avg(x)`` over a 100-TB table collapses to an
aggregation over the CHUNK-count metadata rows — the parquet scan of the
blocks table projects only the stat columns, and the multi-GB ``block``
payloads never leave disk (tests/test_aggregate.py pins ``block`` out of
the scan's ReadSchema). This is the same design as Iceberg manifests /
parquet footer stats, expressed over the engine's own lineage.

Two entry points:

* :func:`aggregate_blocks_meta` — metadata-only, one tiny scan, never
  touches payloads. Honest about completeness: ``sum_val`` is NULL (and
  ``n_sum_missing`` > 0) when some chunk's sum overflowed int64.
* :func:`aggregate_blocks` — exact hybrid: metadata for every chunk that
  has a stored sum, decode-and-sum for the (rare) overflow chunks only,
  per column. The decode branch reads payloads solely for those chunks.

All values are the engine's int64 zone domain (epoch-µs for ts kinds).
Sums run in ``decimal(38,0)``, so no total can overflow (Spark's ANSI
mode would raise on an int64 sum of a few thousand epoch-µs values):
``sum_val`` is the exact total as a long, NULL when it leaves int64, and
``avg_val`` is that exact total / non-null count in double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .engine import decode_blocks

_KIND_DDL = {"int64": "bigint", "int32": "int",
             "ts": "timestamp", "tsntz": "timestamp_ntz"}

_OUT_DDL = ("column string, n_rows long, n_nonnull long, min_val long, "
            "max_val long, sum_val long, avg_val double, n_sum_missing long")


def _dec_sum(col: F.Column) -> F.Column:
    """Exact sum of int64 values: 38 digits hold any int64 total."""
    return F.sum(col.cast("decimal(38,0)"))


def _meta_stats(blocks: DataFrame, columns: list[str]) -> DataFrame:
    meta = blocks.filter(F.col("column").isin(list(columns)))
    # a chunk contributes to the sum iff it has non-null values; its
    # stored sum is missing only on int64 overflow (engine._exact_sum)
    missing = (F.col("sum_val").isNull()
               & (F.col("count") > F.col("null_count"))).cast("long")
    return meta.groupBy("column").agg(
        F.sum("count").alias("n_rows"),
        (F.sum("count") - F.sum("null_count")).alias("n_nonnull"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
        _dec_sum(F.col("sum_val")).alias("_sum_meta"),
        F.sum(missing).alias("n_sum_missing"))


def _finish(stats: DataFrame, sum_expr) -> DataFrame:
    total = F.when(F.col("n_nonnull") > 0, sum_expr)
    return stats.select(
        "column", "n_rows", "n_nonnull", "min_val", "max_val",
        total.try_cast("long").alias("sum_val"),  # NULL outside int64
        (total.cast("double") / F.col("n_nonnull")).alias("avg_val"),
        "n_sum_missing")


def aggregate_blocks_meta(blocks: DataFrame,
                          columns: list[str]) -> DataFrame:
    """Metadata-only aggregates: one row per column with n_rows,
    n_nonnull, min/max/sum/avg — computed purely from the lineage stat
    columns (no ``block`` bytes read; plan-tested). ``sum_val`` is NULL
    when any contributing chunk lacks a stored sum (``n_sum_missing``
    says how many) or the total leaves int64 — use
    :func:`aggregate_blocks` for the exact hybrid."""
    ok = F.when(F.col("n_sum_missing") == 0, F.col("_sum_meta"))
    return _finish(_meta_stats(blocks, columns), ok)


def aggregate_blocks(blocks: DataFrame, columns: list[str],
                     kinds: dict[str, str],
                     deletes: DataFrame | None = None) -> DataFrame:
    """Exact hybrid aggregates: metadata sums where stored, decode-and-sum
    for overflow chunks only. The decode branch filters the blocks scan to
    ``sum_val IS NULL`` chunks of each column — on healthy data that
    branch is empty and everything stays metadata-sized. ``kinds`` maps
    each column to its engine kind ('int64'/'int32'/'ts'/'tsntz').

    ``deletes``: deletion vectors (varint_spark.deletes). Chunk metadata
    describes the PHYSICAL rows, so a DV'd chunk's count/min/max/sum may
    all be wrong for the visible table (the deleted row might be the
    min). Those chunks leave the metadata path entirely and decode with
    their masks; clean chunks — the overwhelming majority under a
    selective delete — stay metadata-only. (`aggregate_blocks_meta` has
    no deletes story by design: metadata alone cannot be corrected —
    pass the DVs HERE for exact answers over a table with deletes.)"""
    if deletes is not None:
        dvkeys = deletes.select("part_key", "chunk_id").distinct()
        dirty_blocks = blocks.join(dvkeys, ["part_key", "chunk_id"],
                                   "left_semi")
        blocks = blocks.join(dvkeys, ["part_key", "chunk_id"], "left_anti")
        dirty_parts = []
        for c in columns:
            kind = kinds[c]
            dec = decode_blocks(dirty_blocks, f"{c} {_KIND_DDL[kind]}",
                                kinds={c: kind}, deletes=deletes)
            v = F.col(c)
            if kind in ("ts", "tsntz"):
                v = F.unix_micros(F.to_timestamp(c))
            dirty_parts.append(dec.agg(
                F.count(F.lit(1)).alias("_n_d"),
                F.count(v).alias("_nn_d"),
                F.min(v).alias("_min_d"), F.max(v).alias("_max_d"),
                _dec_sum(v).alias("_sum_d")).withColumn("column", F.lit(c)))
        dirty = dirty_parts[0]
        for d_ in dirty_parts[1:]:
            dirty = dirty.unionByName(d_)
        base = _hybrid_stats(blocks, columns, kinds)  # clean chunks
        z = lambda col: F.coalesce(F.col(col), F.lit(0))  # noqa: E731
        # the clean-side _total is exact (the hybrid decodes overflow
        # chunks), so no n_sum_missing gating is needed here
        j = base.join(dirty, "column", "full_outer").select(
            "column",
            (z("n_rows") + z("_n_d")).alias("n_rows"),
            (z("n_nonnull") + z("_nn_d")).alias("n_nonnull"),
            F.least("min_val", "_min_d").alias("min_val"),
            F.greatest("max_val", "_max_d").alias("max_val"),
            (z("_total") + z("_sum_d")).alias("_total"),
            F.coalesce("n_sum_missing", F.lit(0)).alias("n_sum_missing"))
        return _finish(j, F.col("_total"))
    return _finish(_hybrid_stats(blocks, columns, kinds), F.col("_total"))


def _hybrid_stats(blocks: DataFrame, columns: list[str],
                  kinds: dict[str, str]) -> DataFrame:
    """:func:`_meta_stats` plus ``_total``, the exact decimal sum:
    stored chunk sums, and a decode-and-sum of the overflow chunks."""
    stats = _meta_stats(blocks, columns)
    fallbacks = []
    for c in columns:  # driver loop over column NAMES (schema-sized)
        kind = kinds[c]
        mc = blocks.filter((F.col("column") == c) & F.col("sum_val").isNull()
                           & (F.col("count") > F.col("null_count")))
        dec = decode_blocks(mc, f"{c} {_KIND_DDL[kind]}", kinds={c: kind})
        v = F.col(c)
        if kind in ("ts", "tsntz"):
            v = F.unix_micros(F.to_timestamp(c))  # the zone int64 domain
        fallbacks.append(dec.agg(_dec_sum(v).alias("_sum_fb"))
                         .withColumn("column", F.lit(c)))
    fb = fallbacks[0]
    for f_ in fallbacks[1:]:
        fb = fb.unionByName(f_)
    return stats.join(fb, "column", "left").withColumn(
        "_total", F.coalesce(F.col("_sum_meta"), F.lit(0))
        + F.coalesce(F.col("_sum_fb"), F.lit(0)))


def groupby_agg_blocks(blocks: DataFrame, group_col: str, val_col: str,
                       kinds: dict[str, str],
                       deletes: DataFrame | None = None) -> DataFrame:
    """Metadata-accelerated ``GROUP BY group_col`` aggregation of
    ``val_col`` (COUNT/SUM/MIN/MAX): on a group-clustered layout (the
    engine's default — rows sort by (group, order) inside each
    partition) most chunks hold exactly ONE group, which the group
    column's own zone stats reveal (min == max). Those chunks contribute
    their stored count/sum/min/max directly from the metadata row;
    only the group-BOUNDARY chunks (min < max — a handful per partition)
    and overflow chunks (sum_val NULL) decode. At 100 TB this turns a
    full-table GROUP BY into a metadata aggregation plus a decode of
    ~#groups×#partitions boundary chunks.

    Exactness: pruning by zone equality is a partition of the chunk set,
    never an approximation — every chunk lands in exactly one branch and
    both branches aggregate exactly; a final groupBy folds the two.
    String groups use the string zone stats (ASCII ≤64 regime; chunks
    with NULL stats take the decode branch — sound, just slower).
    Output: (group, n_rows, n_nonnull, min_val, max_val, sum_val);
    sum_val is NULL when the group's exact total leaves int64."""
    gkind, vkind = kinds[group_col], kinds[val_col]
    g_is_str = gkind == "str"
    glo, ghi = ("min_str", "max_str") if g_is_str else ("min_val", "max_val")

    gm = blocks.filter(F.col("column") == group_col) \
        .select("part_key", "chunk_id",
                F.col(glo).alias("_glo"), F.col(ghi).alias("_ghi"),
                F.col("null_count").alias("_gnulls"))
    vm = blocks.filter(F.col("column") == val_col) \
        .select("part_key", "chunk_id", "count", "null_count",
                "min_val", "max_val", "sum_val")
    meta = gm.join(vm, ["part_key", "chunk_id"])
    # single-group = zone min == max AND no null group values (zone
    # stats ignore nulls, so a nulls+one-value chunk would otherwise
    # mis-attribute its rows) AND the value sum is stored (or all-null)
    single = (F.col("_glo").isNotNull() & (F.col("_glo") == F.col("_ghi"))
              & (F.col("_gnulls") == 0)
              & (F.col("sum_val").isNotNull()
                 | (F.col("count") == F.col("null_count"))))
    if deletes is not None:
        # chunk stats describe PHYSICAL rows — a DV'd chunk's stored
        # count/sum would over-claim, so those chunks join the decode
        # branch (masked there) regardless of their zone shape
        meta = meta.join(deletes.select("part_key", "chunk_id"),
                         ["part_key", "chunk_id"], "left_anti")

    fast = meta.filter(single).select(
        F.col("_glo").alias(group_col),
        F.col("count").alias("n_rows"),
        (F.col("count") - F.col("null_count")).alias("n_nonnull"),
        "min_val", "max_val",
        F.coalesce("sum_val", F.lit(0)).cast("decimal(38,0)").alias("sum_val"))

    # boundary/overflow chunks: decode ONLY those (left_anti on the
    # single-group chunk ids keeps the scan filter metadata-sized)
    fast_ids = meta.filter(single).select("part_key", "chunk_id")
    slow_blocks = blocks.join(fast_ids, ["part_key", "chunk_id"],
                              "left_anti")
    g_ddl = "string" if g_is_str else _KIND_DDL[gkind]
    dec = decode_blocks(slow_blocks, f"{group_col} {g_ddl}, "
                        f"{val_col} {_KIND_DDL[vkind]}",
                        kinds={group_col: gkind, val_col: vkind},
                        columns=[group_col, val_col], deletes=deletes)
    v = F.col(val_col)
    if vkind in ("ts", "tsntz"):
        v = F.unix_micros(F.to_timestamp(val_col))  # zone int64 domain
    slow = dec.groupBy(group_col).agg(
        F.count("*").alias("n_rows"), F.count(v).alias("n_nonnull"),
        F.min(v).alias("min_val"), F.max(v).alias("max_val"),
        F.coalesce(_dec_sum(v), F.lit(0)).alias("sum_val"))
    if g_is_str:
        slow = slow.withColumn(group_col, F.col(group_col).cast("string"))
    elif gkind in ("ts", "tsntz"):
        # zone int64 domain is epoch-µs; cast('long') would yield epoch
        # SECONDS and the two branches would never merge (ADVICE r6 high)
        slow = slow.withColumn(group_col,
                               F.unix_micros(F.to_timestamp(group_col)))
    else:
        slow = slow.withColumn(group_col, F.col(group_col).cast("long"))

    both = fast.unionByName(slow)
    return both.groupBy(group_col).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nonnull").alias("n_nonnull"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
        F.when(F.sum("n_nonnull") > 0, F.sum("sum_val"))
        .try_cast("long").alias("sum_val"))


def approx_distinct_blocks(blocks: DataFrame,
                           columns: list[str]) -> DataFrame:
    """Approximate COUNT(DISTINCT) per column from the per-chunk HLL
    sidecars (``EncodeOptions.hll_cols``) — works on ANY chunk subset
    (compose with prune_chunks/prune_chunks_bloom/topk_prune first), never
    decodes a payload. Two-stage merge, the bitmap-index shape: each
    partition folds its sketches in ``mapInArrow`` (one partial row per
    (partition, column)), then one ``applyInArrow`` per column folds the
    partials and emits the estimate — the driver never holds a sketch.
    Columns whose chunks lack sketches raise (the sidecar is opt-in).

    Deletion vectors: sketches are built at encode time over PHYSICAL
    rows and cannot be un-merged, so over a table with deletes this
    estimates distinct values EVER INSERTED (an upper-ish bound on the
    visible count) — already approximate by contract; recompute sketches
    via compaction fold-in when deletes are heavy."""
    import pyarrow as pa

    meta = blocks.filter(F.col("column").isin(list(columns))) \
        .select("column", "hll")

    def partials(it):
        from varint_spark import hll as hll_mod
        acc: dict = {}
        for batch in it:
            cols = batch.column("column").to_pylist()
            sks = batch.column("hll").to_pylist()
            for c, s in zip(cols, sks):
                if s is None:
                    raise ValueError(
                        f"approx_distinct_blocks: column {c!r} has chunks "
                        "without HLL sidecars — encode with "
                        "EncodeOptions(hll_cols=...)")
                acc[c] = s if c not in acc else hll_mod.merge(acc[c], s)
        for c in sorted(acc):
            yield pa.RecordBatch.from_arrays(
                [pa.array([c]), pa.array([acc[c]], type=pa.binary())],
                names=["column", "hll"])

    def final(key, table):
        from varint_spark import hll as hll_mod
        est = hll_mod.estimate(hll_mod.merge_many(
            table.column("hll").to_pylist()))
        return pa.table({"column": table.column("column").slice(0, 1),
                         "approx_distinct": pa.array([est], type=pa.int64())})

    return meta.mapInArrow(partials, "column string, hll binary") \
        .groupBy("column").applyInArrow(final, "column string, approx_distinct long")


def _topk_threshold(meta: DataFrame, k: int, descending: bool) -> DataFrame:
    """One-row threshold DataFrame for :func:`topk_prune` — the two-level
    replacement for the old global single-task Window over every chunk
    metadata row (at 100 TB that walk pulled 10⁷-10⁸ rows through one
    task; VERDICT r6 #2).

    Level 1 — per part_key (distributed window): walk that part's chunks
    in guard order accumulating non-null counts. A part that reaches k by
    itself justifies its own cut T_p (its kept prefix alone holds ≥ k
    values ≥ T_p), so max(T_p) over such parts is a sound threshold.
    Level 2 — across parts: treat each part as a super-chunk whose guard
    is its weakest chunk guard (every value in the part is ≥ it, DESC
    case) and run the same prefix walk over the PART summaries — P rows,
    the only thing that ever crosses a single-partition Exchange.
    The final threshold is the stronger of the two; both only ever keep
    extra chunks relative to an exact global walk, so topk results are
    unchanged."""
    g = F.col("_g")
    guard = F.col("min_val") if descending else F.col("max_val")
    order = g.desc() if descending else g.asc()
    pick = F.min if descending else F.max
    best = F.max if descending else F.min
    w1 = Window.partitionBy("part_key").orderBy(order) \
        .rowsBetween(Window.unboundedPreceding, -1)
    walked = meta.select("part_key", guard.alias("_g"), "_nn") \
        .withColumn("_cum", F.coalesce(F.sum("_nn").over(w1), F.lit(0)))
    per_part = walked.groupBy("part_key").agg(
        pick(F.when(F.col("_cum") < k, g)).alias("_tp"),
        (F.max(F.col("_cum") + F.col("_nn")) >= k).alias("_reached"),
        F.sum("_nn").alias("_np"),
        pick(g).alias("_mp"))
    t1 = per_part.filter("_reached").agg(best("_tp").alias("t1"))
    w2 = Window.orderBy(F.col("_mp").desc() if descending
                        else F.col("_mp").asc()) \
        .rowsBetween(Window.unboundedPreceding, -1)
    t2 = per_part.select("_mp", "_np") \
        .withColumn("_cum", F.coalesce(F.sum("_np").over(w2), F.lit(0))) \
        .filter(F.col("_cum") < k) \
        .agg(pick("_mp").alias("t2"))
    comb = F.greatest("t1", "t2") if descending else F.least("t1", "t2")
    return t1.crossJoin(t2).select(comb.alias("t"))


def topk_prune(blocks: DataFrame, column: str, k: int,
               descending: bool = True,
               deletes: DataFrame | None = None) -> DataFrame:
    """Zone-map pruning for ``ORDER BY column [DESC] LIMIT k``: only the
    chunks that CAN hold a top-k value survive.

    The bound: walk chunks in min_val-descending order (for DESC; the
    mirror for ASC) accumulating non-null counts — every value in that
    prefix is ≥ its chunk's min_val, so once the prefix holds ≥ k values
    the k-th largest overall is ≥ the prefix's smallest min_val. That
    scalar T is a sound threshold: any chunk with max_val < T cannot
    contribute and is dropped before decode. On a clustered layout
    (Z-order, time-ordered ingest) the survivors are ~k/chunk_rows
    chunks; on a fully scattered layout everything survives and the
    answer is still exact — pruning is an optimization, never a filter.

    The threshold is computed TWO-LEVEL (:func:`_topk_threshold`): a
    per-part_key prefix walk (distributed window — chunk metadata never
    crosses a single-partition Exchange), then one walk over the
    part-count summaries. Both levels yield SOUND thresholds (≤ what a
    global walk could justify keeps extra chunks, never drops a
    contributor), and on the engine's clustered layout the per-part level
    matches the old global walk's pruning power. NULL-stat chunks
    (string/f64) are kept.
    """
    if k <= 0:
        raise ValueError("k must be ≥ 1")
    meta = blocks.filter((F.col("column") == column)
                         & F.col("min_val").isNotNull()) \
        .select("part_key", "chunk_id", "min_val", "max_val",
                (F.col("count") - F.col("null_count")).alias("_nn"))
    if deletes is not None:
        # zone stats count PHYSICAL rows; with deletion vectors the
        # prefix walk must not claim deleted values or the threshold
        # overshoots and drops contributing chunks (unsound). Subtracting
        # the full n_deleted (deleted rows might have been nulls) only
        # UNDER-counts -> a lower threshold -> extra kept chunks: sound.
        side = deletes.select("part_key", "chunk_id",
                              F.col("n_deleted").alias("_nd"))
        meta = meta.join(side, ["part_key", "chunk_id"], "left") \
            .withColumn("_nn", F.greatest(
                F.col("_nn") - F.coalesce(F.col("_nd"), F.lit(0)),
                F.lit(0))) \
            .drop("_nd")
    t = _topk_threshold(meta, k, descending).collect()[0].t
    if t is None:  # no chunks with stats: keep everything
        return blocks
    if descending:
        cond = ((F.col("column") == column)
                & ((F.col("max_val") >= F.lit(int(t)))
                   | F.col("max_val").isNull()))
    else:
        cond = ((F.col("column") == column)
                & ((F.col("min_val") <= F.lit(int(t)))
                   | F.col("min_val").isNull()))
    surviving = blocks.filter(cond).select("part_key", "chunk_id").distinct()
    return blocks.join(surviving, ["part_key", "chunk_id"], "left_semi")


def topk_blocks(blocks: DataFrame, column: str, k: int, schema_ddl: str,
                kinds: dict[str, str] | None = None,
                descending: bool = True,
                deletes: DataFrame | None = None) -> DataFrame:
    """Exact ``SELECT ... ORDER BY column [DESC] LIMIT k`` over the block
    store: :func:`topk_prune` drops non-candidate chunks at the metadata
    scan, only survivors decode, and Spark's TakeOrdered finishes — no
    global sort shuffle, no full-table decode. ``deletes``: deletion
    vectors — the prune walk discounts deleted rows and the decode masks
    them, so a deleted row can never appear in (or displace) the top-k."""
    pruned = topk_prune(blocks, column, k, descending, deletes=deletes)
    out = decode_blocks(pruned, schema_ddl, kinds=kinds, deletes=deletes)
    order = F.col(column).desc() if descending else F.col(column).asc()
    return out.orderBy(order).limit(k)
