"""Driver contract for the varint_spark engine.

``queries()`` exposes the engine's operator surface (SURVEY.md §2):

* ``roundtrip_*`` — the core correctness gate for a compression engine:
  encode → decode through the full Spark pipeline, returning the original
  rows. The DuckDB oracle is the identity SELECT, so the value-hash match
  proves bit-identical decode on real parquet data.
* ``codec_pfor_outliers`` / ``codec_float_lossy`` — SQL-expressible codec
  paths end-to-end (an outlier-heavy int column, bit-exact; lossy float
  within its error bound).
* ``random_access_point`` / ``random_access_prune`` — partial-decode
  surface: chunk-aligned point reads and zone-map pruning, both with
  exact SQL oracles by construction.
* ``analyze_*`` — the reference's analysis surface (varintFORAnalyze,
  varintRLEAnalyze, varintDictGetStats, varintAdaptiveAnalyze — SURVEY
  §2.A.4) re-expressed as Spark-native relational queries with SQL oracles.
* ``encode_stats_transcripts`` / ``compression_by_column`` — codec-choice +
  compression-ratio lineage, now VALUE-gated (r3): the former by
  construction (a forced-choice table whose expected lineage rows are
  constants), the latter against an independent SQL recomputation of the
  raw/varint size bookkeeping. Zero ``no_oracle`` rows remain.
* ``dedup_*`` / ``simhash_*`` / ``text_*`` / ``similarity_*`` /
  ``fingerprint_*`` / ``multimodal_*`` — the training-data pipeline
  operators (varint_spark.pipeline), ALL with value-level oracles: the
  hash-based ones run portable SQL-reproducible hash modes
  (simhash/fingerprints), oracle-by-construction configs (IVF
  nprobe=k_lists; all-pairs verification for minhash/near-dup), or
  baked-constant hyperplanes (LSH top-k).
* ``q1_pricing_summary`` / ``set_ops_bitmap_analog`` / ``topk_per_group``
  — the relational surface (SURVEY §2.B) incl. the reference's bitmap
  set-algebra semantics, all with SQL oracles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from varint_spark import transcripts
from varint_spark.engine import EncodeOptions, encode_transcripts, lineage_summary, roundtrip

_OPTS = EncodeOptions(num_buckets=16, chunk_rows=16_384, salt_span=65_536)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: adaptive-encode the transcript table derived from the
    sf0.001 events parquet; return per-column lineage (codec, bytes, ratio)."""
    df = transcripts.from_events(spark, "/root/testdata/sf0.001")
    blocks = encode_transcripts(df, _OPTS)
    lin = lineage_summary(blocks)
    return (
        lin.groupBy("column", "codec")
        .agg(
            F.sum("values").alias("values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
        )
        .withColumn("ratio", F.round(F.col("raw_bytes") / F.col("encoded_bytes"), 3))
        .orderBy("column", "codec")
    )


def _rt(table: str, group_col: str, order_col: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        return roundtrip(df, group_col, order_col, _OPTS)

    return q


def _q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = transcripts.from_events(spark, sf_dir)
    return roundtrip(df, "conv_id", "turn_idx", _OPTS)


def _q_pfor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.select(
        "event_id",
        F.when(F.col("event_id") % 20 == 0, F.col("user_id") * 1_000_000_000)
        .otherwise(F.col("user_id"))
        .alias("v"),
    )
    return roundtrip(df, "event_id", "event_id", _OPTS)


def _q_float_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy float roundtrip (reference varintFloatEncode MEDIUM mode,
    src/varintFloat.h:27-114): every decoded value must sit within the
    mode's 2^-10 relative error bound (specials exact), which the oracle
    asserts as a constant-true column — a hash mismatch means some value
    escaped the bound."""
    import dataclasses

    from varint_spark.engine import roundtrip

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    opts = dataclasses.replace(_OPTS, f64_precision="medium")
    dec = roundtrip(ev, "event_id", "event_id", opts).withColumnRenamed("value", "dec")
    joined = ev.join(dec, "event_id")
    bound = F.abs(F.col("dec") - F.col("value")) <= F.lit(2.0 ** -10) * F.abs(F.col("value"))
    return joined.select(
        "event_id",
        ((F.col("dec") == F.col("value")) | bound
         | (F.col("dec").isNull() & F.col("value").isNull())).alias("within_bound"),
    )


def _q_roundtrip_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless EMBEDDING roundtrip — the array<float> matrix codec
    (codecs/matrix.py; reference analogs src/varintDimension.c:183-310
    packed matrix storage + src/varintFloat.h:27-114 precision modes).
    The decoded table is EXPLODED to scalar (vec_id, label, pos, component)
    rows because the gate's value hash operates on scalar columns — the
    identity oracle then checks every component bit-exactly (f32→f64 cast
    is exact on both sides)."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dec = roundtrip(embs, "label", "vec_id", _OPTS)
    pos_val = F.posexplode("embedding")
    return dec.select("vec_id", "label", pos_val.alias("pos", "component")) \
        .select("vec_id", "label", F.col("pos").cast("long").alias("pos"),
                F.col("component").cast("double").alias("component"))


def _q_embedding_lossy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy EMBEDDING roundtrip — the matrix codec's medium mode (10
    mantissa bits per f32 plane; reference precision modes
    src/varintFloat.h:44-49 composed with the dimension-matrix layout
    src/varintDimension.c:183-310): every decoded component must sit
    within the 2^-10 relative bound plus one f32 ulp for the final
    f64→f32 cast. The oracle asserts the constant-true column — a hash
    mismatch means a component escaped the bound."""
    import dataclasses

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    opts = dataclasses.replace(_OPTS, f32_precision="medium")
    dec = roundtrip(embs, "vec_id", "vec_id", opts).withColumnRenamed("embedding", "dec")
    joined = embs.join(dec, "vec_id")
    bound = 2.0 ** -10 + 2.0 ** -23
    ok = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("dec"), lambda x, y:
                   (F.abs(y.cast("double") - x.cast("double"))
                    <= F.lit(bound) * F.abs(x.cast("double"))) | (y == x)),
        F.lit(True), lambda acc, v: acc & v)
    return joined.select("vec_id", ok.alias("within_bound"))


def _q_matrix_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse dimension matrices through the value gate: the reference's
    dimension-pair header reserves a sparse/dense marker
    (src/varintDimension.h:38-46) with no body behind it; codecs/matrix.py
    mode 5 supplies one (CSR positions as a nested adaptive int block +
    f32 values) and competes in the lossless cost gate. Embeddings are
    masked to ~20% density with a stated rule — component (vec_id, pos)
    survives iff (vec_id + pos) % 5 == 0 — encoded through the engine
    (the gate picks the sparse plane at this density; pytest pins that
    choice), decoded, exploded, and every component is recomputed by the
    SQL oracle from the raw table. Bit-exact: zeroed entries are +0.0,
    kept entries are the original f32 bits."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    masked = embs.select(
        "vec_id", "label",
        F.transform(
            "embedding",
            lambda x, i: F.when((F.col("vec_id") + i) % 5 == 0, x)
            .otherwise(F.lit(0.0)).cast("float")).alias("embedding"))
    dec = roundtrip(masked, "label", "vec_id", _OPTS)
    pos_val = F.posexplode("embedding")
    return dec.select("vec_id", "label", pos_val.alias("pos", "component")) \
        .select("vec_id", "label", F.col("pos").cast("long").alias("pos"),
                F.col("component").cast("double").alias("component"))


def _q_elias_heavytail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-gate choice on a heavy-tailed delta stream: a sorted stream
    whose deltas are mostly 3 with a 100000 jump every 250 values. The
    winner is DELTA_GAMMA: per-delta gamma lengths (~5 bits) beat
    LEB128's ≥8 and BP128's block max (measured: gamma 6406 B vs delta
    10078 / bp128 13333 per 10k values). The oracle pins BOTH the
    decoded values (identity) AND the selected codec name, so a change of
    winner is itself value-gated. kinds excludes the constant grouping
    column so the top-level winner is visible."""
    from varint_spark.engine import EncodeOptions, decode_blocks

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.lit("all").alias("g"),
        (F.col("event_id") * 3 + F.floor(F.col("event_id") / 250) * 100000)
        .cast("long").alias("v"))
    opts = EncodeOptions(num_buckets=4, chunk_rows=16_384, salt_span=65_536,
                         group_col="g", order_col="event_id")
    kinds = {"event_id": "int64", "v": "int64"}
    blocks = encode_transcripts(ev, opts, kinds=kinds).cache()
    codec = blocks.filter(F.col("column") == "v").select("codec").distinct()
    rows = decode_blocks(blocks, "event_id long, v long", kinds=kinds)
    return rows.crossJoin(codec)


def _q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar equality pruning (reference
    examples/advanced/bloom_filter.c; 2.5M ops/s membership claim
    README.md:193): a hash-scattered high-cardinality tag column makes
    every chunk's zone map span the whole domain — min/max prunes
    nothing — but each chunk's Bloom sidecar still answers "definitely
    absent", so the probe drops non-matching chunks at the metadata scan
    (pytest pins the skip count and the FP bound). The pruned decode +
    exact filter is answer-invariant vs the oracle's plain WHERE: false
    positives only keep extra chunks that the exact filter removes."""
    from varint_spark.engine import (EncodeOptions, decode_blocks,
                                     prune_chunks_bloom)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.lit("all").alias("g"),
        F.concat(F.lit("u"), F.pmod(F.col("event_id") * 2654435761,
                                    F.lit(1000003)).cast("string")).alias("tag"))
    opts = EncodeOptions(num_buckets=4, chunk_rows=1024, salt_span=1 << 30,
                         group_col="g", order_col="event_id",
                         bloom_cols=("tag",))
    kinds = {"event_id": "int64", "tag": "str"}
    blocks = encode_transcripts(ev, opts, kinds=kinds).cache()
    probe = f"u{(7 * 2654435761) % 1000003}"  # tag of event_id 7
    pruned = prune_chunks_bloom(blocks, "tag", probe, kind="str")
    return decode_blocks(pruned, "event_id long, tag string",
                         kinds=kinds).filter(F.col("tag") == probe)


def _q_random_access_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups into encoded blocks WITHOUT full decode (reference
    varintFORGetAt/varintRLEGetAt — SURVEY §2.A.5): encode
    events ordered by the contiguous event_id with aligned salting
    (salt_span a multiple of chunk_rows), then read positions {0, 10..14}
    of every chunk via get_at/get_range. The alignment makes the
    within-chunk position = event_id % chunk_rows, so plain SQL is an
    exact oracle for which values the point reads must return."""
    import pyarrow as _pa

    from varint_spark.codecs import random_access as ra
    from varint_spark.engine import EncodeOptions, encode_transcripts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.lit("all").alias("g"))
    opts = EncodeOptions(num_buckets=4, chunk_rows=1024, salt_span=4096,
                         group_col="g", order_col="event_id")
    blocks = encode_transcripts(ev, opts).filter(F.col("column") == "event_id")

    def lookup(iterator):
        for tbl in iterator:
            out = []
            for blk, cnt in zip(tbl.column("block").to_pylist(),
                                tbl.column("count").to_pylist()):
                out.append(ra.get_at(blk, 0))
                if cnt > 10:
                    out.extend(ra.get_range(blk, 10, min(5, cnt - 10)).tolist())
            yield _pa.RecordBatch.from_arrays([_pa.array(out, type=_pa.int64())],
                                              names=["v"])

    return blocks.select("block", "count").mapInArrow(lookup, "v long")


def _q_random_access_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map chunk pruning surfaced as a query (reference header-only
    metadata reads, varintBP128GetCount src/varintBP128.c:824): prune the
    encoded chunks whose [min,max] ts zone can't intersect [mid, inf),
    decode ONLY the surviving chunks' (event_id, ts) columns (column
    pruning), then apply the exact filter."""
    from varint_spark.engine import EncodeOptions, decode_blocks, encode_transcripts, prune_chunks

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    opts = EncodeOptions(num_buckets=16, chunk_rows=2048, salt_span=2**40,
                         group_col="user_id", order_col="event_id")
    blocks = encode_transcripts(ev, opts).cache()
    us = F.unix_micros(F.to_timestamp("ts"))
    mn, mx = ev.agg(F.min(us), F.max(us)).first()
    mid = (mn + mx) // 2
    pruned = prune_chunks(blocks, "ts", lo=mid)
    dec = decode_blocks(pruned, "event_id bigint, ts timestamp_ntz",
                        columns=["event_id", "ts"])
    return dec.filter(F.unix_micros(F.to_timestamp("ts")) >= mid).select(
        "event_id", F.unix_micros(F.to_timestamp("ts")).alias("ts_us"))


def _q_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """random_access_prune's exact-filter stage pushed INTO the encoded
    form: zone-map chunk pruning first, then ``ts >= mid`` evaluated
    against the surviving chunks' ENCODED ts blocks — bit-sliced
    packed-offset compares for FOR, header-bound 128-block pruning
    for BP128 (codecs/random_access.filter_ge; reference partial-decode
    surface, varintFORDecodeBlock src/varintFOR.c:597,182-201). The
    surviving chunks are never fully decoded (monkeypatch-proved in
    tests/test_random_access.py); only the passing rows' covering ranges
    materialize. Same oracle as random_access_prune."""
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts, prune_chunks)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    opts = EncodeOptions(num_buckets=16, chunk_rows=2048, salt_span=2**40,
                         group_col="user_id", order_col="event_id")
    blocks = encode_transcripts(ev, opts).cache()
    us = F.unix_micros(F.to_timestamp("ts"))
    mn, mx = ev.agg(F.min(us), F.max(us)).first()
    mid = (mn + mx) // 2
    pruned = prune_chunks(blocks, "ts", lo=mid)
    dec = decode_blocks_where(pruned, "event_id bigint, ts timestamp_ntz",
                              "ts", mid, columns=["event_id", "ts"])
    return dec.select("event_id",
                      F.unix_micros(F.to_timestamp("ts")).alias("ts_us"))


def _q_predicate_pushdown_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-bounds variant of predicate_pushdown_encoded: zone-map prune
    to [q1, mid], then ``q1 <= ts <= mid`` evaluated on the surviving
    chunks' encoded ts blocks (filter_between = the ge automaton AND the
    complement of ge(hi+1), null rows excluded)."""
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts, prune_chunks)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    opts = EncodeOptions(num_buckets=16, chunk_rows=2048, salt_span=2**40,
                         group_col="user_id", order_col="event_id")
    blocks = encode_transcripts(ev, opts).cache()
    us = F.unix_micros(F.to_timestamp("ts"))
    mn, mx = ev.agg(F.min(us), F.max(us)).first()
    lo, hi = mn + (mx - mn) // 4, mn + (mx - mn) // 2
    pruned = prune_chunks(blocks, "ts", lo=lo, hi=hi)
    dec = decode_blocks_where(pruned, "event_id bigint, ts timestamp_ntz",
                              "ts", lo, hi=hi, columns=["event_id", "ts"])
    return dec.select("event_id",
                      F.unix_micros(F.to_timestamp("ts")).alias("ts_us"))


def _q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (pandas merge_asof / DuckDB ASOF JOIN — absent
    from Spark's DataFrame API): each purchase matched with the user's
    latest click at-or-before it. The Spark side is the tagged-union +
    single-window-scan plan (varint_spark.asof — one shuffle, no range-
    join blowup); the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the
    operator is verified against an independent engine's implementation.
    (user_id, ts) is unique in events, so matches are deterministic."""
    from varint_spark.asof import asof_join_backward

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.unix_micros(F.to_timestamp("ts")).alias("click_ts_us"))
    out = asof_join_backward(purchases, clicks, "user_id", "ts", "ts",
                             ["click_id", "click_ts_us"], tie_col="click_id")
    return out.select(
        "event_id",
        F.coalesce(F.col("click_id_asof"), F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("click_ts_us_asof"), F.lit(0)).alias("click_ts_us"))


def _q_range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join without the inequality nested loop: clicks within the
    hour before each purchase, via the bucketed band join (explode the
    left side into ≤2 band-width buckets → equi-join on (user, bucket) →
    exact filter; varint_spark.asof.range_join). The oracle is the plain
    SQL inequality join — same pairs, different plan."""
    from varint_spark.asof import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.to_timestamp("ts"))
    p = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", us.alias("p_us"))
    c = ev.filter(F.col("event_type") == "click") \
        .select("user_id", F.col("event_id").alias("click_id"), us.alias("c_us"))
    pairs = range_join(p, c, "user_id", "p_us", "c_us", -3_600_000_000, 0)
    return pairs.groupBy("event_id").agg(
        F.count("*").alias("n_clicks_1h"),
        F.max("click_id").alias("max_click_id"))


def _q_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup through the value gate: hourly buckets per
    event_type with re-aggregable integer measures. The returned DAILY
    rows are computed FROM the hourly rollup (rollup_cascade — the
    continuous-aggregate refresh path that never rescans raw data); the
    oracle computes the same daily rows straight from the raw table, so
    the gate verifies the cascade identity, not just one aggregation."""
    from varint_spark.pipeline import rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = rollup.rollup(ev, "ts", 3600, ["event_type"], value_col="value")
    daily = rollup.rollup_cascade(hourly, 3600, 86400, ["event_type"])
    return daily


def _q_dict_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String equality pushed into the ENCODED form — the reference's
    dictionary-find surface (varintDictFind, src/varintDict.c:151-156)
    distributed: ``lang == 'en'`` is answered from each chunk's DICT_STR
    dictionary (unique values only) plus an int encoded-form compare of
    the code stream; the corpus bytes of non-matching chunks are never
    decoded. Same rows as a plain SQL WHERE."""
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text")
    opts = EncodeOptions(num_buckets=8, chunk_rows=2048, salt_span=2**40,
                         group_col="lang", order_col="doc_id")
    blocks = encode_transcripts(docs, opts)
    dec = decode_blocks_where(blocks, "doc_id bigint, lang string",
                              "lang", None, columns=["doc_id", "lang"],
                              eq="en")
    return dec


def _q_str_prefix_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lang LIKE 'e%'`` pushed into the ENCODED form: the sorted
    dictionary (strings.encode_dict, reference qsort+unique build
    src/varintDict.c:95-224) turns the prefix into one contiguous code
    range via lower/upper bound (the varintDictFind binary-search
    surface, src/varintDict.c:151-156), answered by a single int
    range-compare of the code stream — corpus bytes of non-matching
    chunks are never decoded. Same rows as a plain SQL LIKE."""
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text")
    opts = EncodeOptions(num_buckets=8, chunk_rows=2048, salt_span=2**40,
                         group_col="lang", order_col="doc_id")
    blocks = encode_transcripts(docs, opts)
    return decode_blocks_where(blocks, "doc_id bigint, lang string",
                               "lang", None, columns=["doc_id", "lang"],
                               prefix="e")


def _q_str_in_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lang IN ('de','fr','zh')`` on the ENCODED form: sorted
    multi-find — each probe binary-searched in the dictionary, adjacent
    codes coalesced into ranges, one encoded-form range-compare per
    range. Chunks whose dictionary holds none of the probes answer
    all-False without touching the code stream."""
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text")
    opts = EncodeOptions(num_buckets=8, chunk_rows=2048, salt_span=2**40,
                         group_col="lang", order_col="doc_id")
    blocks = encode_transcripts(docs, opts)
    return decode_blocks_where(blocks, "doc_id bigint, lang string",
                               "lang", None, columns=["doc_id", "lang"],
                               isin=["de", "fr", "zh"])


def _q_str_like_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``source LIKE '%1%'`` — a contains pattern no prefix range can
    bound — on the ENCODED form: the pattern runs over the SORTED
    DICTIONARY ENTRIES only (work ∝ chunk cardinality, not rows), the
    matching codes coalesce into int ranges, and the code stream is
    range-compared per range (codecs/random_access.py str_filter_like).
    Generalizes the reference's equality-only dictionary find
    (varintDictFind, src/varintDict.c:151-156); corpus bytes of
    non-matching chunks are never decoded. Same rows as plain SQL LIKE."""
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "text")
    opts = EncodeOptions(num_buckets=8, chunk_rows=2048, salt_span=2**40,
                         group_col="source", order_col="doc_id")
    blocks = encode_transcripts(docs, opts)
    return decode_blocks_where(blocks, "doc_id bigint, source string",
                               "source", None, columns=["doc_id", "source"],
                               like="%1%")


def _q_str_zone_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full two-stage string predicate: chunk-level zone-map pruning
    on the (min_str, max_str) metadata columns (engine.prune_chunks_str —
    a metadata-only Spark filter that at 100 TB reaches the blocks scan's
    parquet row-group stats) THEN the encoded-form dictionary evaluation
    inside surviving chunks (decode_blocks_where prefix=). Grouping by
    source makes chunks source-homogeneous, so the prune stage drops
    ~9/10 of the chunks before any payload ships."""
    from varint_spark.engine import (EncodeOptions, decode_blocks_where,
                                     encode_transcripts, prune_chunks_str)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "text")
    opts = EncodeOptions(num_buckets=8, chunk_rows=2048, salt_span=2**40,
                         group_col="source", order_col="doc_id")
    blocks = prune_chunks_str(encode_transcripts(docs, opts).cache(),
                              "source", prefix="src1")
    return decode_blocks_where(blocks, "doc_id bigint, source string",
                               "source", None, columns=["doc_id", "source"],
                               prefix="src1")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (24 h gap): one
    shuffle on the user key shared by the lag/cumsum windows AND the
    session rollup (HashPartitioning(user) satisfies the (user,
    session_idx) grouping — no second exchange). Session-level output:
    count, start/end/duration in µs."""
    from varint_spark.pipeline import sessions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessions.session_stats(ev, gap_minutes=1440)


def _q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture re-weighting: per-source keep rates by
    id-hash threshold (a row's fate depends only on its id — stable
    across runs, partitionings, and engines; no shuffle, filter at the
    scan). Portable hash mode so the oracle replays the same arithmetic;
    production uses xxhash64. Unlisted sources drop — the training-mix
    semantics."""
    from varint_spark.pipeline import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fr = {"src1": 1.0, "src3": 0.5, "src5": 0.25, "src7": 0.1}
    return sampling.mixture_counts(docs, "source", "doc_id", fr,
                                   seed=42, hash_mode="portable")


def _q_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.min("user_id").alias("min_uid"),
            F.max("user_id").alias("max_uid"),
            (F.max("user_id") - F.min("user_id")).alias("range_uid"),
        )
    )


def _q_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global run count without a single-partition window: range shuffle +
    per-partition vectorized runs + tiny boundary merge (varint_spark.analysis
    module docstring has the scale rationale)."""
    from varint_spark.analysis import run_count

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return run_count(li, ["l_orderkey", "l_linenumber"], "l_returnflag")


def _q_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select(
        F.countDistinct("o_orderstatus").alias("n_status"),
        F.countDistinct("o_orderpriority").alias("n_priority"),
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count("*").alias("n_rows"),
    )


def _q_delta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.to_timestamp("ts"))  # parquet ts is TIMESTAMP_NTZ; session TZ is UTC
    d = ev.withColumn("delta_us", us - F.lag(us).over(w))
    return (
        d.filter(F.col("delta_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_deltas"),
            F.sum("delta_us").alias("sum_delta_us"),
            F.max("delta_us").alias("max_delta_us"),
        )
    )


def _q_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-choice lineage through the VALUE gate — oracle by
    construction: a table whose per-column statistical shapes force the
    adaptive selector's hand (reference varintAdaptiveSelectEncoding
    decision tree, src/varintAdaptive.c:183-310), so the expected
    (codec, values, raw, encoded) rows are a CONSTANT the SQL oracle can
    state outright:

    * ``const_i`` (one distinct value) → FOR, width 0 (min + zero-bit
      offsets): 5 B — it beats the 1-entry dict now that FOR is
      never truncated out of the candidate list (ADVICE r3)
      (r6: the sorted-dict format-version byte, ADVICE r5, grew every
      dict_str block by exactly 1 B — constants re-derived, the
      documented golden-test workflow; the sf0.1 sweep caught the stale
      oracle)
    * ``g`` / ``lowcard`` (1 / 8 distinct strings) → dict_str
    * ``seq`` (sequential ints, delta ≡ 1) → bp128_delta (width-0 blocks)
    * ``noise`` (full-range 64-bit values) → no structure; the cost gate
      floors at plain_int (raw + 3 B block header)

    One group / one chunk / num_buckets=1 keeps the byte counts exact;
    the repo's determinism invariant (block bytes identical at any
    parallelism — tests/test_engine_e2e.py) makes the constants stable.
    If a codec's wire format changes, this gate fails loudly and the
    constants are re-derived — the golden-test workflow."""
    n = 4096
    df = spark.range(n).select(
        F.lit("g").alias("g"),
        F.col("id").cast("int").alias("seq"),
        F.lit(42).cast("long").alias("const_i"),
        F.concat(F.lit("cat_"), (F.col("id") % 8).cast("string")).alias("lowcard"),
        (F.hash(F.col("id")).cast("long") * 2654435761).alias("noise"),
    )
    opts = EncodeOptions(num_buckets=1, chunk_rows=8192, salt_span=1 << 40,
                         group_col="g", order_col="seq")
    blocks = encode_transcripts(df, opts)
    return (
        lineage_summary(blocks)
        .groupBy(F.col("column").alias("col"), "codec")
        .agg(F.sum("values").alias("n_values"),
             F.sum("raw_bytes").alias("raw_bytes"),
             F.sum("encoded_bytes").alias("encoded_bytes"))
        .orderBy("col", "codec")
    )


# zigzag + LEB128 byte count, SQL-side (mirrors codecs/varint.encoded_size):
# the independent floor computation the compression report must agree with
def _leb_sql(v: str) -> str:
    zz = f"(CASE WHEN {v} >= 0 THEN 2 * {v} ELSE -2 * {v} - 1 END)"
    return (
        f"(CASE WHEN {zz} < 128 THEN 1 WHEN {zz} < 16384 THEN 2"
        f" WHEN {zz} < 2097152 THEN 3 WHEN {zz} < 268435456 THEN 4"
        f" WHEN {zz} < 34359738368 THEN 5 WHEN {zz} < 4398046511104 THEN 6"
        f" WHEN {zz} < 562949953421312 THEN 7"
        f" WHEN {zz} < 72057594037927936 THEN 8 ELSE 9 END)"
    )


def _q_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column compression report through the VALUE gate: the engine's
    ``raw_bytes`` and ``varint_bytes`` bookkeeping must match an
    INDEPENDENT SQL computation of the same quantities (8 B/value for
    ints/timestamps, data+4 B offsets for strings; zigzag-LEB128 byte
    counts per value — reference wire format src/varint.c), and every
    column must actually compress (``encoded_lt_raw``). This upgrades the
    r2 ``no_oracle`` lineage row to a full value-level gate on the size
    accounting the cost gate runs on."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "props", "ts")
    blocks = encode_transcripts(ev, EncodeOptions(num_buckets=16, chunk_rows=16_384,
                                                  salt_span=2**40, group_col="user_id",
                                                  order_col="event_id"),
                                kinds=None)
    return (
        blocks.groupBy(F.col("column").alias("col"))
        .agg(
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("varint_bytes").alias("varint_bytes"),
            (F.sum("encoded_bytes") < F.sum("raw_bytes")).alias("encoded_lt_raw"),
        )
        .orderBy("col")
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return dedup.exact_dedup(doubled, ["text"], "doc_id").select("doc_id", "dup_rank")


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # <5-char docs have no 5-gram shingles (the pipeline's byte-sum
    # fallback and the oracle's empty shingle set would diverge), and
    # non-ASCII text shifts byte-shingles vs the oracle's char-shingles —
    # filter BOTH on BOTH sides (ADVICE r2)
    docs = docs.filter((F.length("text") >= 5)
                       & (F.length("text") == F.octet_length("text")))
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    pairs = dedup.minhash_lsh_pairs(doubled, "doc_id", "text", num_hashes=32, bands=8)
    return dedup.ngram_jaccard_pairs(doubled, pairs, "doc_id", "text", threshold=0.8) \
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # portable token hash: same SimHash machinery, but the token hash is a
    # polynomial fold the DuckDB oracle reproduces exactly (xxhash64 has no
    # SQL twin); xxhash64 stays the production default (tests cover it)
    return dedup.simhash(docs, "doc_id", "text", hash_mode="portable")


def _q_multimodal_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL media decoder through the value gate (not the sha256 fake):
    documents become genuine RIFF/WAVE PCM-16 payloads whose sample values
    are a stated function of (doc_id, length(text)), the pure-numpy WAV
    parser (multimodal.decode_wav) decodes them inside mapInArrow, and the
    integer features [n_samples, sum|s|, s_0, max s] are recomputed by the
    SQL oracle from the same arithmetic — the container bytes and the
    decoder are the untrusted links the gate exercises."""
    from varint_spark.pipeline import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = multimodal.synthesize_wav_media(docs)
    feats = multimodal.extract_features(media, feature_dim=4,
                                        decoder=multimodal.wav_feature_decoder)
    return feats.select(
        "media_id",
        F.element_at("features", 1).cast("long").alias("n_samples"),
        F.element_at("features", 2).cast("long").alias("sum_abs"),
        F.element_at("features", 3).cast("long").alias("first_sample"),
        F.element_at("features", 4).cast("long").alias("max_sample"))


def _q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming near-dup pairs, fully oracled: band the 64-bit
    simhash into 8 slices — a pair within Hamming radius 3 shares a band
    BY PIGEONHOLE (8 > 3), so the bucket self-join is an exact candidate
    generator; bit_count(xor) verifies. The doubled corpus plants exact
    duplicates (hamming 0); the oracle recomputes ALL pairs from the
    portable simhashes, so recall exactness is value-gated, not assumed."""
    from varint_spark.pipeline import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doubled = docs.select("doc_id", "text").union(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    return dedup.simhash_near_dup_pairs(doubled, "doc_id", "text",
                                        max_hamming=3, bands=8,
                                        hash_mode="portable")


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED signature index — what a
    real training-data pipeline does with a new crawl batch: the existing
    corpus (doc_id < 250) has its SimHash signatures computed ONCE and
    stored as the engine's own encoded blocks; the new batch (doc_id ≥
    250 plus planted copies of stored docs at doc_id + 1,000,000) is then
    deduped by a banded join against the DECODED index — the old corpus
    text is never re-read or re-hashed. The oracle recomputes BOTH
    batches' signatures from raw text in SQL (portable hash mode), so
    the whole chain — signature encode → block store → decode → banded
    incremental join — is value-gated against a from-scratch recompute."""
    from varint_spark.engine import (EncodeOptions, decode_blocks,
                                     encode_transcripts)
    from varint_spark.pipeline import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") < 250).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") >= 250).select("doc_id", "text").union(
        docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))

    # 1) the persisted index: signatures -> encoded blocks (16 B/doc at
    # corpus scale, vs re-tokenizing the stored text every batch)
    sigs = dedup.simhash(old, "doc_id", "text", hash_mode="portable") \
        .withColumn("part", F.col("doc_id") % 8)
    blocks = encode_transcripts(
        sigs.select("part", "doc_id", "simhash"),
        EncodeOptions(num_buckets=4, chunk_rows=2048, salt_span=2**40,
                      group_col="part", order_col="doc_id"))
    # 2) decode the index (signatures only — no text anywhere near this)
    stored = decode_blocks(
        blocks, "part bigint, doc_id bigint, simhash bigint") \
        .select("doc_id", "simhash")
    # 3) band-join the new batch against the stored index
    return dedup.simhash_incremental_pairs(stored, new, "doc_id", "text",
                                           max_hamming=3, bands=8,
                                           hash_mode="portable")


def _q_multimodal_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second real modality through the value gate: binary-PPM (P6) image
    payloads with stated pixel arithmetic, decoded by the pure-numpy
    parser (multimodal.decode_ppm) inside mapInArrow; integer features
    recomputed by the SQL oracle (same design as multimodal_real_decode)."""
    from varint_spark.pipeline import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = multimodal.synthesize_ppm_media(docs)
    feats = multimodal.extract_features(media, feature_dim=4,
                                        decoder=multimodal.ppm_feature_decoder)
    return feats.select(
        "media_id",
        F.element_at("features", 1).cast("long").alias("n_pixels"),
        F.element_at("features", 2).cast("long").alias("sum_red"),
        F.element_at("features", 3).cast("long").alias("sum_all"),
        F.element_at("features", 4).cast("long").alias("max_byte"))


def _q_pipeline_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline COMPOSITION, value-gated as one
    query: exact dedup (first doc_id per text wins) → token/quality
    features → quality filter (≥3 tokens, punct_ratio ≤ 0.2) → language
    ID → per-language corpus stats. The oracle replays the whole chain in
    SQL (ROW_NUMBER dedup, the same feature expressions, same filter), so
    operator composition — not just each operator alone — is what hashes."""
    from varint_spark.pipeline import dedup, textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = dedup.exact_dedup(docs, ["text"], "doc_id") \
        .filter(F.col("dup_rank") == 0).drop("dup_rank")
    stats = textstats.token_stats(kept, "doc_id", "text")
    qual = textstats.quality_score(kept, "doc_id", "text")
    lang = textstats.lang_id(kept, "doc_id", "text").select("doc_id", "lang_pred")
    joined = (stats.select("doc_id", "n_tokens", "n_chars")
              .join(qual.select("doc_id", "punct_ratio"), "doc_id")
              .join(lang, "doc_id")
              .filter((F.col("n_tokens") >= 3) & (F.col("punct_ratio") <= 0.2)))
    return joined.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"))


def _q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full decode → resize → feature chain through the value gate:
    PPM decode, 3×3 nearest-neighbor resize (integer index arithmetic the
    SQL oracle replays: source pixel of output (y,x) is (y*h//3, x*w//3)),
    integer features of the resized image."""
    from varint_spark.pipeline import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = multimodal.synthesize_ppm_media(docs)
    feats = multimodal.extract_features(
        media, feature_dim=4, decoder=multimodal.ppm_resized_feature_decoder)
    return feats.select(
        "media_id",
        F.element_at("features", 1).cast("long").alias("n_rpx"),
        F.element_at("features", 2).cast("long").alias("sum_all"),
        F.element_at("features", 3).cast("long").alias("max_byte"),
        F.element_at("features", 4).cast("long").alias("top_left_r"))


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format gate: documents → JSONL (the LLM-corpus interchange
    format) → schema-pinned FAILFAST read-back → per-language integer
    checksums. The oracle aggregates the ORIGINAL table, so any loss in
    the write/read (escaping, schema drift, dropped rows) hash-fails."""
    import tempfile

    from varint_spark.sources import jsonl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text")
    path = tempfile.mkdtemp(prefix="vs_jsonl_rt_")
    jsonl.write_jsonl(docs, path, partitions=4)
    back = jsonl.read_jsonl(spark, path, "doc_id long, lang string, text string")
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"))


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format gate, CSV edition: documents → RFC-4180 CSV →
    schema-pinned FAILFAST read-back → per-source integer checksums
    against the ORIGINAL table (sources/csv.py pins the schema, µs
    timestamp format, and the single-line/multiLine splittability
    trade-off documented in the module)."""
    import tempfile

    from varint_spark.sources import csv as vcsv

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "text")
    path = tempfile.mkdtemp(prefix="vs_csv_rt_")
    vcsv.write_csv(docs, path, partitions=4)
    back = vcsv.read_csv(spark, path,
                         "doc_id long, source string, text string")
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"))


def _q_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building (the tokenizer-prep pass): corpus-wide token
    frequencies, top 50, deterministic tie-break. The map pass emits one
    partial-count row per DISTINCT token per batch — the raw token stream
    never reaches a shuffle."""
    from varint_spark.pipeline import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.vocab_top_tokens(docs, "text", k=50)


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.token_stats(docs, "doc_id", "text").select(
        "doc_id", "n_chars", "n_tokens", F.round("avg_tok_len", 6).alias("avg_tok_len"))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.quality_score(docs, "doc_id", "text")


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.lang_id(docs, "doc_id", "text")


def _q_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = list(embs.orderBy("vec_id").first().embedding)
    out = similarity.cosine_topk(embs, "vec_id", "embedding", query, k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def _q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = list(embs.orderBy("vec_id").first().embedding)
    out = similarity.lsh_cosine_topk(embs, "vec_id", "embedding", query, k=10, bits=4)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # ASCII-only on both sides: the portable kernel hashes bytes, the SQL
    # oracle hashes codepoints — identical iff chars == bytes (ADVICE r2)
    docs = docs.filter(F.length("text") == F.octet_length("text"))
    # portable mod-(2^31-1) hash so the DuckDB oracle can recompute the
    # winnowing min per document; the 64-bit kernel stays the default
    return textstats.fingerprints(docs, "doc_id", "text", portable=True)


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import multimodal

    # media derived from the documents table (payload = UTF-8 text bytes):
    # the deterministic fake decoder (sha256 digest bytes / 255) is then
    # SQL-expressible, so the whole binary-column + mapInArrow plumbing
    # gets a value-level oracle instead of a rows-only check
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_features(media, feature_dim=8)
    return feats.select("media_id", F.round(F.aggregate(
        "features", F.lit(0.0), lambda a, x: a + x), 6).alias("feature_sum"))


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation — the relational surface the reference
    lacks and Spark provides natively (SURVEY §2.B)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("count_order"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_shipping_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped selective aggregation: the filters (date band,
    discount band, quantity cap) all push into the parquet scan —
    Catalyst's PushedFilters do the pruning, no UDFs anywhere."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01"))
                  & F.col("l_discount").between(0.03, 0.07)
                  & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"),
             F.count("*").alias("n_rows"))
    )


def _q_segment_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped join pipeline: customer (small dim, explicitly
    BROADCAST) ⋈ orders ⋈ lineitem, revenue per order, top 10. The
    broadcast keeps the big-side scan shuffle-free on the dim join — the
    plan you want when customer is 1000× smaller than lineitem."""
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = (li.join(F.broadcast(
            od.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
            .join(F.broadcast(cu.filter(F.col("c_mktsegment") == "BUILDING")),
                  od.o_custkey == F.col("c_custkey"))
            .select("o_orderkey", "o_orderdate")),
         F.col("l_orderkey") == F.col("o_orderkey"))
         .filter(F.col("l_shipdate") > F.lit("1998-01-01")))
    return (j.groupBy("l_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"),
                 F.count("*").alias("n_items"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10))


def _q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index conjunctive search: token→doc-id postings as the
    engine's own Roaring-style bitmaps (distributed partial build +
    container-level OR merge, bitmap_index), query = serialized AND of
    the two terms' postings + one decode (pipeline/textindex.py). The
    oracle recomputes membership from raw text, so the whole index
    build+algebra chain is value-gated."""
    from varint_spark.pipeline import textindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = textindex.build_token_postings(
        docs, "doc_id", "text", vocab=["join", "filter", "scan"])
    return textindex.search_all_terms(spark, postings, ["join", "filter"])


def _q_text_search_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval on the serialized postings: (join OR scan) AND
    NOT filter — the reference's And/Or/AndNot container algebra
    composed as a search engine does (pipeline/textindex.search_boolean).
    Oracle recomputes membership from raw text."""
    from varint_spark.pipeline import textindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = textindex.build_token_postings(
        docs, "doc_id", "text", vocab=["join", "scan", "filter"])
    return textindex.search_boolean(spark, postings,
                                    any_of=["join", "scan"],
                                    none_of=["filter"])


def _q_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown from lineage metadata (varint_spark/aggregate.py
    — the Iceberg-manifest/parquet-footer-stats design over the engine's
    own lineage): COUNT/MIN/MAX/SUM/AVG per column answered from the
    chunk stat rows; block payloads are never read on the metadata path
    (tests/test_aggregate.py pins them out of the scan's ReadSchema).
    The oracle recomputes every aggregate from the raw table, so the
    encode-time stat arithmetic (engine._exact_sum 32-bit-halves exact
    sums, zone min/max) is value-gated end to end. ts stays out of the
    SUM set: an epoch-µs total over ≥10⁴ rows leaves int64 on BOTH
    engines (Spark ANSI raises, DuckDB's HUGEINT cast raises) — per-chunk
    sums are exact-or-NULL, but cross-chunk totals are BIGINT like any
    engine's SUM."""
    from varint_spark.aggregate import aggregate_blocks
    from varint_spark.engine import EncodeOptions, encode_transcripts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "user_id", "ts")
    opts = EncodeOptions(num_buckets=4, chunk_rows=2048, salt_span=1 << 30,
                         group_col="user_id", order_col="event_id")
    kinds = {"event_id": "int64", "user_id": "int64", "ts": "tsntz"}
    blocks = encode_transcripts(ev, opts, kinds=kinds).cache()
    return aggregate_blocks(blocks, ["event_id", "user_id"], kinds)


def _q_groupby_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-accelerated GROUP BY (aggregate.groupby_agg_blocks): on
    the engine's group-clustered layout, chunks whose group-column zone
    stats show one distinct value (min == max, zero nulls) contribute
    their stored count/sum/min/max straight from the lineage row; only
    group-boundary chunks decode. The split is a partition of the chunk
    set — every chunk aggregates exactly in one branch — so the oracle
    is the plain GROUP BY and layout only changes how much decodes
    (pytest pins the mostly-metadata regime)."""
    from varint_spark.aggregate import groupby_agg_blocks
    from varint_spark.engine import EncodeOptions, encode_transcripts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "user_id")
    opts = EncodeOptions(num_buckets=4, chunk_rows=64, salt_span=1 << 30,
                         group_col="user_id", order_col="event_id")
    kinds = {"event_id": "int64", "user_id": "int64"}
    blocks = encode_transcripts(ev, opts, kinds=kinds).cache()
    return groupby_agg_blocks(blocks, "user_id", "event_id", kinds)


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate COUNT(DISTINCT) from per-chunk HLL sidecars
    (varint_spark/hll.py + aggregate.approx_distinct_blocks): opt-in
    2^p-register sketches ride the lineage rows, merge by elementwise
    register max in a two-stage distributed fold, and answer cardinality
    for any chunk subset without decoding a payload. The estimate itself
    is probabilistic, so the gate pins it the honest way: the row carries
    the EXACT count (oracle-matched) plus a within-5%-of-exact boolean
    the oracle expects TRUE — an out-of-bound sketch turns the row red."""
    from varint_spark.aggregate import approx_distinct_blocks
    from varint_spark.engine import EncodeOptions, encode_transcripts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "user_id")
    opts = EncodeOptions(num_buckets=4, chunk_rows=2048, salt_span=1 << 30,
                         group_col="user_id", order_col="event_id",
                         hll_cols=("event_id", "user_id"))
    kinds = {"event_id": "int64", "user_id": "int64"}
    blocks = encode_transcripts(ev, opts, kinds=kinds)
    est = approx_distinct_blocks(blocks, ["event_id", "user_id"])
    exact = ev.agg(
        F.count_distinct("event_id").alias("event_id"),
        F.count_distinct("user_id").alias("user_id")) \
        .unpivot([], ["event_id", "user_id"], "column", "n_exact")
    return est.join(exact, "column").select(
        "column", "n_exact",
        (F.abs(F.col("approx_distinct").cast("double")
               / F.col("n_exact") - 1) <= 0.05).alias("within_bound"))


def _q_topk_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k pushdown (varint_spark/aggregate.topk_blocks): ORDER BY
    event_id DESC LIMIT 100 answered by a zone-map threshold walk over
    CHUNK metadata (min_val-descending covering prefix → sound k-th-value
    lower bound), so only candidate chunks decode — no full-table decode,
    no global sort shuffle (TakeOrdered finishes). The pruning is an
    optimization, never a filter: the oracle is the plain ORDER BY/LIMIT,
    and pytest pins that the survivor set is a small fraction of the
    chunks on this clustered layout."""
    from varint_spark.aggregate import topk_blocks
    from varint_spark.engine import EncodeOptions, encode_transcripts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "user_id", "ts")
    opts = EncodeOptions(num_buckets=4, chunk_rows=1024, salt_span=1 << 30,
                         group_col="user_id", order_col="event_id")
    kinds = {"event_id": "int64", "user_id": "int64", "ts": "tsntz"}
    blocks = encode_transcripts(ev, opts, kinds=kinds).cache()
    return topk_blocks(blocks, "event_id", 100,
                       "event_id long, user_id long, ts timestamp_ntz",
                       kinds=kinds)


def _q_text_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase retrieval: positional postings per (token, 64Ki doc shard)
    through the engine's own cost-gated int codecs, query = serialized
    AND of the doc bitmaps (driver-bounded) then executor-side position-
    adjacency verification on the candidate shards only
    (pipeline/textindex.search_phrase; the reference's inverted-index
    example examples/advanced/inverted_index.c is doc-granular — this is
    parity-plus). Oracle replays adjacency from raw text as a token-
    boundary regex, so the whole positional build+verify chain is
    value-gated."""
    from varint_spark.pipeline import textindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = ["key", "scan", "query"]
    postings = textindex.build_token_postings(docs, "doc_id", "text",
                                              vocab=vocab)
    pos = textindex.build_positional_postings(docs, "doc_id", "text",
                                              vocab=vocab)
    return textindex.search_phrase(spark, postings, pos,
                                   ["key", "scan", "query"])


def _q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot (time-travel) reads over the commit log
    (varint_spark.lineage): commit 1 encodes batch A (event_id < 512,
    salt-aligned), commit 2 deletes A's 'error' rows via a checkpointed
    deletion vector, commit 3 appends the rest of the table. The query
    returns snapshot v2 ∪ latest — v2 must show A minus errors and the
    latest must KEEP batch-B errors (the commit-2 delete predates them),
    so both the version filter and the delete/append ordering are
    value-checked against an oracle that replays the history in SQL."""
    import tempfile

    from varint_spark.deletes import delete_where
    from varint_spark.engine import EncodeOptions
    from varint_spark.lineage import (delete_checkpointed,
                                      encode_checkpointed, read_blocks,
                                      read_snapshot)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type")
    opts = EncodeOptions(num_buckets=4, chunk_rows=256, salt_span=512,
                         group_col="user_id", order_col="event_id")
    kinds = {"event_id": "int64", "user_id": "int64", "event_type": "str"}
    ddl = "event_id long, user_id long, event_type string"
    root = tempfile.mkdtemp(prefix="vs_tt_store_")

    encode_checkpointed(ev.filter(F.col("event_id") < 512), root, opts,
                        kinds=kinds)                              # commit 1
    blocks = read_blocks(spark, root).drop("pk")
    delete_checkpointed(
        delete_where(blocks, "event_type", kind="str", eq="error"),
        root)                                                     # commit 2
    encode_checkpointed(ev, root, opts, kinds=kinds)              # commit 3
    v2 = read_snapshot(spark, root, ddl, as_of=2, kinds=kinds)
    latest = read_snapshot(spark, root, ddl, kinds=kinds)
    return v2.withColumn("snap", F.lit(2)).unionByName(
        latest.withColumn("snap", F.lit(3)))


def _q_upsert_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT (lineage.upsert_checkpointed — the MERGE INTO
    shape without payload rewrites): commit 1 encodes the events table;
    commit 2 upserts a batch that REPLACES every 'click' row (same
    (user_id, event_id) key, event_type rewritten) and INSERTS shifted-id
    rows — replaced keys become position-delete bitmaps against the base
    (key columns scanned, payloads untouched), the batch lands as its own
    overlay store, and read_snapshot unions base+overlay per version.
    Returns snapshot v1 ∪ latest; the oracle replays both versions in
    SQL, so a lost replace, a double-kept key, or a version leak goes red
    on values."""
    import tempfile

    from varint_spark.engine import EncodeOptions
    from varint_spark.lineage import (encode_checkpointed, read_snapshot,
                                      upsert_checkpointed)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type")
    opts = EncodeOptions(num_buckets=4, chunk_rows=512, salt_span=1 << 30,
                         group_col="user_id", order_col="event_id")
    kinds = {"event_id": "int64", "user_id": "int64", "event_type": "str"}
    ddl = "event_id long, user_id long, event_type string"
    root = tempfile.mkdtemp(prefix="vs_mor_store_")

    encode_checkpointed(ev, root, opts, kinds=kinds)              # commit 1
    up = ev.filter(F.col("event_type") == "click") \
        .withColumn("event_type", F.lit("click_v2")) \
        .unionByName(
            ev.filter(F.col("event_type") == "purchase").select(
                (F.col("event_id") + 1000000).alias("event_id"),
                "user_id", F.lit("inserted").alias("event_type")))
    upsert_checkpointed(up, root, opts, kinds=kinds)              # commit 2
    v1 = read_snapshot(spark, root, ddl, as_of=1, kinds=kinds)
    latest = read_snapshot(spark, root, ddl, kinds=kinds)
    return v1.withColumn("snap", F.lit(1)).unionByName(
        latest.withColumn("snap", F.lit(2)))


def _q_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE via deletion vectors — the Delta/Iceberg-v3
    sidecar design through the engine's OWN Roaring-style bitmap codec
    (varint_spark.deletes; ref src/varintBitmap.c containers): two
    deletes (string-eq on the dictionary-encoded event_type, an id range
    on the FOR-encoded event_id) are each evaluated on the ENCODED
    form (zero shuffle, predicate column's blocks only), merged by
    container-level OR on the serialized vectors (canonical bytes — merge
    order invisible), and applied executor-side inside the decode UDF.
    No payload block is rewritten; the oracle replays both predicates as
    plain WHERE NOT, so a wrong offset anywhere goes red on values."""
    from varint_spark.deletes import delete_where, merge_dv
    from varint_spark.engine import (EncodeOptions, decode_blocks,
                                     encode_transcripts)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type")
    opts = EncodeOptions(num_buckets=4, chunk_rows=1024, salt_span=1 << 30,
                         group_col="user_id", order_col="event_id")
    kinds = {"event_id": "int64", "user_id": "int64", "event_type": "str"}
    blocks = encode_transcripts(ev, opts, kinds=kinds).cache()
    dv = merge_dv(delete_where(blocks, "event_type", kind="str", eq="click"),
                  delete_where(blocks, "event_id", lo=100, hi=1999))
    return decode_blocks(blocks,
                         "event_id long, user_id long, event_type string",
                         kinds=kinds, deletes=dv)


def _q_text_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance — the rolling-crawl shape: documents
    arrive in two batches (doc_id parity split), each batch builds its own
    doc-granular AND positional postings, and the batches merge WITHOUT
    re-reading the old batch's text (textindex.merge_token_postings /
    merge_positional_postings — container-level OR per token; per-shard
    (doc, pos) set union re-encoded canonically, byte-identical to a full
    rebuild, pytest-pinned). The phrase query then runs on the MERGED
    index; the oracle replays adjacency from the full raw corpus, so any
    merge defect (lost batch, double-counted doc, broken canonical form)
    goes red on values."""
    from varint_spark.pipeline import textindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = ["key", "scan"]
    old_b = docs.filter(F.col("doc_id") % 2 == 0)
    new_b = docs.filter(F.col("doc_id") % 2 == 1)
    postings = textindex.merge_token_postings(
        textindex.build_token_postings(old_b, "doc_id", "text", vocab=vocab),
        textindex.build_token_postings(new_b, "doc_id", "text", vocab=vocab))
    pos = textindex.merge_positional_postings(
        textindex.build_positional_postings(
            old_b, "doc_id", "text", vocab=vocab),
        textindex.build_positional_postings(
            new_b, "doc_id", "text", vocab=vocab))
    return textindex.search_phrase(spark, postings, pos, ["key", "scan"])


def _q_text_search_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity retrieval (NEAR/slop): 'key … scan … query' with
    every consecutive gap ≤ 3 token positions — the vectorized position
    DP over the positional postings (pipeline/textindex.search_near;
    slop=1 degenerates to the phrase semantics). The oracle replays the
    proximity chain from raw positions via a three-way self-join, so the
    positional index and the DP are value-gated independently of the
    phrase path."""
    from varint_spark.pipeline import textindex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = ["key", "scan", "query"]
    postings = textindex.build_token_postings(docs, "doc_id", "text",
                                              vocab=vocab)
    pos = textindex.build_positional_postings(docs, "doc_id", "text",
                                              vocab=vocab)
    return textindex.search_near(spark, postings, pos,
                                 ["key", "scan", "query"], slop=3)


def _q_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering gate: events laid out on the Morton curve of
    (user_id, ts) — both dimensions' zone maps prune chunks
    (varint_spark.zorder module docstring; the payoff assertion lives in
    tests/test_zorder.py), then decode + exact filter. The oracle is the
    plain two-predicate WHERE, so layout games can never change the
    answer — only which chunks ship."""
    from varint_spark.engine import (EncodeOptions, decode_blocks,
                                     encode_transcripts, prune_chunks)
    from varint_spark.zorder import with_zorder

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "ts", "user_id")
    zdf = with_zorder(ev, ["user_id", "ts"], bits=16)
    zdf = zdf.withColumn("_zb", F.shiftrightunsigned("_z", 24).cast("long"))
    opts = EncodeOptions(num_buckets=8, chunk_rows=1024, salt_span=2**60,
                         group_col="_zb", order_col="_z")
    kinds = {"event_id": "int64", "ts": "tsntz", "user_id": "int64"}
    blocks = encode_transcripts(zdf, opts, kinds=kinds).cache()
    lo_ts = 1704672000 * 1_000_000  # 2024-01-08 UTC, epoch-µs
    hi_ts = 1705536000 * 1_000_000  # 2024-01-18 UTC
    pruned = prune_chunks(prune_chunks(blocks, "user_id", 10, 60),
                          "ts", lo_ts, hi_ts)
    out = decode_blocks(pruned, "event_id bigint, ts timestamp_ntz, user_id bigint")
    return out.filter(
        F.col("user_id").between(10, 60)
        & F.unix_micros(F.to_timestamp("ts")).between(lo_ts, hi_ts))


def _q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across epochs: an OLD epoch encoded before
    ``n_chars`` existed and a NEW epoch with it, decoded through ONE
    reader schema (decode_blocks missing_ok=True) — old rows surface
    typed NULLs, exactly what the oracle's CASE replays. Epoch part_keys
    are namespaced the same way the streaming layer does, so chunk ids
    never collide."""
    from varint_spark.engine import (EncodeOptions, decode_blocks,
                                     encode_transcripts)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    opts = EncodeOptions(num_buckets=4, chunk_rows=2048, salt_span=2**40,
                         group_col="lang", order_col="doc_id")
    old = encode_transcripts(
        docs.filter("doc_id % 2 = 0").select("doc_id", "lang"), opts)
    new = encode_transcripts(
        docs.filter("doc_id % 2 = 1").select("doc_id", "lang", "n_chars"), opts)
    both = old.withColumn("part_key", F.concat(F.lit("e0/"), F.col("part_key"))) \
        .unionByName(new.withColumn("part_key",
                                    F.concat(F.lit("e1/"), F.col("part_key"))))
    return decode_blocks(both, "doc_id bigint, lang string, n_chars bigint",
                         missing_ok=True)


def _q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk compaction gate: documents encoded at a deliberately small
    chunk size (the streaming-epoch debris shape), compacted 8× within
    each partition (engine.compact_blocks — one part_key shuffle, no
    global reshuffle, part_keys stable), decoded back. The oracle reads
    the ORIGINAL table, so any row lost/duplicated/reordered-in-value by
    the merge hash-fails."""
    from varint_spark.engine import (EncodeOptions, compact_blocks,
                                     decode_blocks, encode_transcripts)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "source", "text")
    ddl = "doc_id bigint, lang string, source string, text string"
    opts = EncodeOptions(num_buckets=8, chunk_rows=256, salt_span=2**40,
                         group_col="lang", order_col="doc_id")
    blocks = encode_transcripts(docs, opts)
    merged = compact_blocks(blocks, ddl, 2048, group_col="lang")
    return decode_blocks(merged, ddl)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per-source next-fit bins
    at a 1000-char budget, documents in doc_id order (pipeline/packing
    module docstring has the shard-parallel scale rationale). Next-fit
    is exactly replayable as a recursive CTE, so the oracle checks the
    PER-DOCUMENT bin assignment, not just bin invariants."""
    from varint_spark.pipeline import packing

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return packing.pack_next_fit(docs, "source", "doc_id", "n_chars", 1000)


def _q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table join: revenue per nation for one region
    and order year. Join strategy by size class: region⋈nation is
    broadcast EXPLICITLY (constant-size dims); customer and supplier
    joins carry no hint — they scale with SF, so AQE broadcasts them
    while they fit an executor and falls back to shuffle beyond (forcing
    broadcast here would OOM a 100-TB run); lineitem⋈orders is the one
    genuine big⋈big shuffle, on the order key."""
    re = spark.read.parquet(f"{sf_dir}/region.parquet")
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    asia = (na.join(F.broadcast(re.filter(F.col("r_name") == "ASIA")),
                    na.n_regionkey == re.r_regionkey)
            .select("n_nationkey", "n_name"))
    od_f = od.filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                     & (F.col("o_orderdate") < F.lit("1997-01-01"))) \
        .select("o_orderkey", "o_custkey")
    j = (li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
         .join(od_f, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(cu.select("c_custkey", "c_nationkey"),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(su.select("s_suppkey", "s_nationkey"),
               (F.col("l_suppkey") == F.col("s_suppkey"))
               & (F.col("c_nationkey") == F.col("s_nationkey")))
         .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), "n_name"))


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap set-algebra analog (ref varintBitmapAnd/Or/Xor,
    src/varintBitmap.c:442-528): AND/OR/ANDNOT on user-id sets via
    intersect / union / except — Spark's native set operators."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return spark.createDataFrame(
        [("and", clicks.intersect(buys).count()),
         ("or", clicks.union(buys).distinct().count()),
         ("andnot", clicks.exceptAll(clicks.intersect(buys)).count())],
        "op string, n long",
    )


def _q_bitmap_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL Roaring-style bitmap codec through the gate (reference
    varintBitmapAnd/Or/AndNot src/varintBitmap.c:442-528): user-id bitmaps
    per event type are built FULLY DISTRIBUTED (per-partition partial
    encode + container-level bitmap_or merge — varint_spark.bitmap_index),
    the set algebra runs on the SERIALIZED bytes, and the decoded
    cardinalities must match plain SQL set operations. The driver never
    collects an id set — only the two final serialized bitmaps (bounded by
    key cardinality, not id cardinality; scale-safe at billions of ids)."""
    from varint_spark.bitmap_index import build_bitmaps
    from varint_spark.codecs import bitmap

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    both = ev.filter(F.col("event_type").isin("click", "purchase"))
    built = {r[0]: bytes(r[1])
             for r in build_bitmaps(both, "event_type", "user_id").collect()}
    a, b = built["click"], built["purchase"]
    # range-built operand (varintBitmapAddRange/RemoveRange,
    # src/varintBitmap.c:767-807): the id interval [5, 60) becomes a
    # bitmap via add_range on an empty map — no id list ever materializes
    import numpy as np
    span = bitmap.add_range(bitmap.encode(np.array([], dtype=np.uint64)), 5, 60)
    rows = [
        ("and", int(len(bitmap.decode(bitmap.bitmap_and(a, b))))),
        ("or", int(len(bitmap.decode(bitmap.bitmap_or(a, b))))),
        ("andnot", int(len(bitmap.decode(bitmap.bitmap_andnot(a, b))))),
        ("xor", int(len(bitmap.decode(bitmap.bitmap_xor(a, b))))),
        ("range_and", int(len(bitmap.decode(bitmap.bitmap_and(a, span))))),
        ("range_remove", int(len(bitmap.decode(
            bitmap.remove_range(a, 5, 60))))),
    ]
    return spark.createDataFrame(rows, "op string, n long")


def _q_tagged_sortable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tagged codec's DEFINING property through the gate (reference
    src/varintTagged.h:12 — encoded values 'can be sorted with memcmp'):
    every (user_id, event_id) pair is encoded to concatenated tagged
    varints, the table is globally sorted BY THE ENCODED BYTES
    (range shuffle + within-partition sort — no single-task window), and a
    distributed pass verifies the logical pairs emerge in exact
    (user_id, event_id) order: per-partition vectorized adjacency checks +
    a tiny boundary merge over one summary row per partition (the
    run_count merge pattern, analysis.py). Each partition also re-decodes
    its keys and checks the roundtrip. The oracle is the constant-true
    one-row summary — any memcmp/logical order divergence, anywhere,
    flips ``sorted_ok`` and hash-fails."""
    import numpy as np
    import pyarrow as _pa

    from varint_spark.codecs import tagged

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "event_id")

    def keyize(iterator):
        for batch in iterator:
            u = np.asarray(batch.column("user_id")).astype(np.uint64)
            e = np.asarray(batch.column("event_id")).astype(np.uint64)
            inter = np.empty(2 * len(u), dtype=np.uint64)
            inter[0::2] = u
            inter[1::2] = e
            buf = tagged.encode(inter)  # width-bucketed, vectorized
            sizes = tagged.encoded_sizes(inter)
            row_sizes = (sizes[0::2] + sizes[1::2]).astype(np.int32)
            offsets = np.zeros(len(u) + 1, dtype=np.int32)
            np.cumsum(row_sizes, out=offsets[1:])
            key = _pa.Array.from_buffers(
                _pa.binary(), len(u),
                [None, _pa.py_buffer(offsets.tobytes()), _pa.py_buffer(buf)])
            yield _pa.RecordBatch.from_arrays(
                [batch.column("user_id"), batch.column("event_id"), key],
                names=["user_id", "event_id", "key"])

    keyed = ev.mapInArrow(keyize, "user_id long, event_id long, key binary")
    parts = keyed.repartitionByRange(8, "key").sortWithinPartitions("key")

    def check(iterator):
        us, es = [], []
        ok = True
        for batch in iterator:
            u = np.asarray(batch.column("user_id")).astype(np.uint64)
            e = np.asarray(batch.column("event_id")).astype(np.uint64)
            inter = np.empty(2 * len(u), dtype=np.uint64)
            inter[0::2] = u
            inter[1::2] = e
            dec = tagged.decode(tagged.encode(inter))  # roundtrip each key
            ok &= bool(np.array_equal(dec, inter))
            us.append(u)
            es.append(e)
        if not us:
            return
        u, e = np.concatenate(us), np.concatenate(es)
        if len(u) > 1:  # strict (user_id, event_id) adjacency (ids unique)
            asc = (u[1:] > u[:-1]) | ((u[1:] == u[:-1]) & (e[1:] > e[:-1]))
            ok &= bool(asc.all())
        yield _pa.RecordBatch.from_arrays(
            [_pa.array([int(u[0])], type=_pa.int64()),
             _pa.array([int(e[0])], type=_pa.int64()),
             _pa.array([int(u[-1])], type=_pa.int64()),
             _pa.array([int(e[-1])], type=_pa.int64()),
             _pa.array([len(u)], type=_pa.int64()),
             _pa.array([ok], type=_pa.bool_())],
            names=["fu", "fe", "lu", "le", "n", "ok"])

    summary = parts.mapInArrow(
        check, "fu long, fe long, lu long, le long, n long, ok boolean")
    # one row per partition: the boundary window is over a tiny relation
    w = W.orderBy("fu", "fe")
    merged = summary.withColumn("pu", F.lag("lu").over(w)) \
                    .withColumn("pe", F.lag("le").over(w))
    boundary_ok = F.when(F.col("pu").isNull(), F.lit(True)).otherwise(
        (F.col("pu") < F.col("fu"))
        | ((F.col("pu") == F.col("fu")) & (F.col("pe") < F.col("fe"))))
    return merged.select(
        F.sum("n").alias("n_rows"),
        F.min(F.col("ok") & boundary_ok).alias("sorted_ok"))


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority — window top-k (§2.B sorts/limits)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey")
    )


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # deterministic duplicate injection (filter, not limit: limit without
    # order is partition-order-dependent) — oracle reproduces it exactly
    dups = embs.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000)
    # dim is read from the Arrow batches; passing it asserts the width
    return similarity.embedding_near_dup_pairs(embs.union(dups), "vec_id",
                                               "embedding", threshold=0.999,
                                               bits=6, dim=64)


def _q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization through the value gate: per-component
    codes summarized as integers (sum/min/max) that the SQL oracle
    recomputes with the identical double arithmetic and half-away
    rounding — the quantizer, not just its shape, is verified."""
    from varint_spark.pipeline import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = similarity.quantize_embeddings(embs, "vec_id", "embedding")
    return q.select(
        "vec_id",
        F.size("codes").alias("dim"),
        F.aggregate("codes", F.lit(0).cast("long"),
                    lambda a, c: a + c).alias("sum_codes"),
        F.array_min("codes").cast("long").alias("min_code"),
        F.array_max("codes").cast("long").alias("max_code"))


def _q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from varint_spark.pipeline.similarity import ivf_build, ivf_topk

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, cent = ivf_build(embs, "vec_id", "embedding", k_lists=8)
    query = list(embs.orderBy("vec_id").first().embedding)
    # nprobe = k_lists probes every list: exhaustive by construction, so the
    # brute-force SQL is an exact oracle for the whole build+assign+probe
    # machinery; the pruned (nprobe < k_lists) recall path is covered by
    # tests/test_pipeline.py
    out = ivf_topk(assigned, cent, "vec_id", "embedding", query, k=10, nprobe=8)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order IS the driver's execution order (the driver gates the
    # FIRST 50 entries). Rotation policy: the 18 entries the r5 artifact
    # did not reach (positions 51-68 then; source_roundtrip_csv had never
    # had a driver row) run FIRST this round, followed by queries NEW in
    # r6 — so the r05 ∪ r06 artifacts cover the entire registry and a
    # count- or time-budget cut can only shave queries that already carry
    # green rows in an earlier round's artifact.
    return {
        # --- the 18 rotated in from the r5-unchecked tail -------------
        "source_roundtrip_csv": _q_csv_roundtrip,
        "text_quality_score": _q_quality,
        "text_lang_id": _q_lang_id,
        "similarity_topk": _q_similarity,
        "similarity_topk_lsh": _q_similarity_lsh,
        "embedding_near_dup": _q_embedding_near_dup,
        "quantize_embeddings": _q_quantize_embeddings,
        "similarity_topk_ivf": _q_similarity_ivf,
        "fingerprint_documents": _q_fingerprints,
        "multimodal_features": _q_multimodal,
        "multimodal_real_decode": _q_multimodal_real,
        "multimodal_image_decode": _q_multimodal_image,
        "multimodal_resize_chain": _q_multimodal_resize,
        "q1_pricing_summary": _q_pricing_summary,
        "q6_shipping_revenue": _q_shipping_revenue,
        "q3_segment_top_orders": _q_segment_top_orders,
        "set_ops_bitmap_analog": _q_set_ops,
        "bitmap_codec_algebra": _q_bitmap_codec,
        # --- new in r6 (insert here, inside the 50-row window) --------
        "bloom_prune": _q_bloom_prune,
        "text_search_phrase": _q_text_search_phrase,
        "text_search_near": _q_text_search_near,
        "agg_pushdown_metadata": _q_agg_pushdown,
        "topk_pushdown": _q_topk_pushdown,
        "approx_distinct_hll": _q_approx_distinct,
        "groupby_pushdown": _q_groupby_pushdown,
        # re-derived expectations — these two need fresh driver rows:
        # their r05 rows predate the dict format-version byte / the
        # heavytail fixture's codec pin moved with the gate
        "encode_stats_transcripts": _q_encode_stats,
        "codec_elias_heavytail": _q_elias_heavytail,
        # --- r5-green re-pins filling out the window ------------------
        "tagged_sortable_keys": _q_tagged_sortable,
        "topk_per_group": _q_topk_per_group,
        "codec_matrix_sparse": _q_matrix_sparse,
        "str_prefix_pushdown": _q_str_prefix_pushdown,
        "str_in_pushdown": _q_str_in_pushdown,
        "str_like_pushdown": _q_str_like_pushdown,
        "str_zone_prune": _q_str_zone_prune,
        "sessionize_events": _q_sessionize,
        "sample_mixture": _q_sample_mixture,
        "q5_regional_revenue": _q_regional_revenue,
        "pack_sequences": _q_pack_sequences,
        "compact_roundtrip": _q_compact_roundtrip,
        "schema_evolution": _q_schema_evolution,
        "zorder_prune": _q_zorder_prune,
        "text_search_postings": _q_text_search,
        "text_search_boolean": _q_text_search_boolean,
        "dedup_incremental": _q_dedup_incremental,
        "text_index_incremental": _q_text_index_incremental,
        "delete_vectors": _q_delete_vectors,
        "time_travel": _q_time_travel,
        "upsert_merge_on_read": _q_upsert_mor,
        "roundtrip_events": _rt("events", "user_id", "event_id"),
        "roundtrip_orders": _rt("orders", "o_custkey", "o_orderkey"),
        "roundtrip_lineitem": _rt("lineitem", "l_orderkey", "l_linenumber"),
        "roundtrip_documents": _rt("documents", "lang", "doc_id"),
        "roundtrip_embeddings": _q_roundtrip_embeddings,
        "roundtrip_transcripts": _q_transcripts,
        "codec_pfor_outliers": _q_pfor,
        "codec_float_lossy": _q_float_lossy,
        "codec_embedding_lossy": _q_embedding_lossy,
        "random_access_point": _q_random_access_point,
        "random_access_prune": _q_random_access_prune,
        "predicate_pushdown_encoded": _q_predicate_pushdown,
        "predicate_pushdown_range": _q_predicate_pushdown_range,
        # --- tail: green in the r5 artifact ---------------------------
        "asof_purchase_click": _q_asof_purchase_click,
        "range_join_clicks": _q_range_join_clicks,
        "rollup_events_daily": _q_rollup_hourly,
        "dict_filter_pushdown": _q_dict_filter_pushdown,
        "analyze_minmax_range": _q_minmax,
        "analyze_run_lengths": _q_runs,
        "analyze_cardinality": _q_cardinality,
        "analyze_delta_stats": _q_delta_stats,
        "compression_by_column": _q_compression,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_jaccard": _q_dedup_minhash,
        "simhash_documents": _q_simhash,
        "simhash_near_dup": _q_simhash_near_dup,
        "text_token_stats": _q_token_stats,
        "vocab_top_tokens": _q_vocab_top,
        "pipeline_dedup_quality_lang": _q_pipeline_compose,
        "source_roundtrip_jsonl": _q_jsonl_roundtrip,
    }


def _lang_id_oracle(source: str = "documents") -> str:
    """Mirror of textstats.lang_id: per-language marker-hit counts, argmax
    with 'first language reaching the max wins' and 'und' on zero hits."""
    from varint_spark.pipeline.textstats import _LANG_MARKERS

    toks = (r"list_filter(regexp_split_to_array(lower(text), '\s+'),"
            " t -> length(t) > 0)")
    score = {
        lang: (f"CAST(len(list_filter({toks}, t -> list_contains("
               f"[{', '.join(repr(m) for m in markers)}], t))) AS INT)")
        for lang, markers in _LANG_MARKERS.items()
    }
    langs = list(_LANG_MARKERS)
    best = f"greatest({', '.join(f's_{lg}' for lg in langs)})"
    pick = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs) + " END"
    inner = "SELECT doc_id, " + ", ".join(
        f"{expr} AS s_{lg}" for lg, expr in score.items()) + f" FROM {source}"
    return (f"SELECT doc_id, {pick} AS lang_pred, "
            + ", ".join(f"s_{lg}" for lg in langs)
            + f" FROM ({inner})")


def _lsh_oracle(bits: int = 4, dim: int = 64, seed: int = 42) -> str:
    """Reproduce lsh_cosine_topk in SQL: the hyperplanes are a deterministic
    function of (seed, bits, dim), so their float64 literals are baked into
    the query and the bucket is recomputed with sign tests. Sound because
    the smallest |dot| margin on this data (~9e-5) is ~1e9× any
    fold-order float noise, so Spark and DuckDB agree on every sign."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((bits, dim))
    lits = ["[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lits[i]}) >= 0 THEN {1 << (bits - 1 - i)} ELSE 0 END)"
        for i in range(bits))
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
        " q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),"
        f" b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),"
        " qb AS (SELECT bucket AS qbucket FROM b ORDER BY vec_id LIMIT 1)"
        " SELECT vec_id, round(list_cosine_similarity(b.v, q.qv), 4) AS cosine"
        " FROM b, q, qb WHERE b.bucket = qb.qbucket"
        " ORDER BY list_cosine_similarity(b.v, q.qv) DESC, vec_id LIMIT 10"
    )


def _duck_poly_fold(expr: str, base: int, length_expr: str) -> str:
    """DuckDB mirror of textkernels.portable_hash_strings' fold: left fold
    of (a*base + codepoint) % (2^31-1) over the codepoints of ``expr``."""
    chars = (f"list_transform(range({length_expr}),"
             f" i -> CAST(ascii(substr({expr}, CAST(i + 1 AS INT), 1)) AS BIGINT))")
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), {chars}),"
            f" (a, c) -> (a * {base} + c) % 2147483647)")


def _simhash_ctes(source: str = "documents") -> str:
    """CTE chain computing the portable simhash from ``source``: token
    hash (two polynomial folds), per-bit signed sums, sign-bit reassembly
    — mirrors dedup.simhash(hash_mode='portable') term by term. Ends with
    ``sim(doc_id, simhash)``."""
    h = (f"({_duck_poly_fold('tok', 31, 'length(tok)')} * 2147483648"
         f" + {_duck_poly_fold('tok', 37, 'length(tok)')})")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64))
    terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i if i < 63 else -(1 << 63)} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(64))
    return (
        "toks AS (SELECT doc_id,"
        r" unnest(list_filter(regexp_split_to_array(text, '\s+'),"
        f" t -> length(t) > 0)) AS tok FROM {source}),"
        f" h AS (SELECT doc_id, {h} AS h FROM toks),"
        f" bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),"
        f" sim AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM bits)"
    )


def _simhash_oracle() -> str:
    return "WITH " + _simhash_ctes() + " SELECT doc_id, simhash FROM sim"


def _simhash_neardup_oracle(max_hamming: int = 3) -> str:
    """ALL-pairs Hamming verification over the portable simhashes of the
    doubled corpus — exact, because the Spark side's banding is an exact
    candidate generator (pigeonhole: bands > max_hamming) and no bucket
    exceeds the guard on this data."""
    return (
        "WITH d2 AS (SELECT doc_id, text FROM documents"
        " UNION ALL SELECT doc_id + 1000000, text FROM documents), "
        + _simhash_ctes("d2") +
        " SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
        " CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming"
        " FROM sim a JOIN sim b ON a.doc_id < b.doc_id"
        f" WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )


def _incremental_oracle(max_hamming: int = 3) -> str:
    """From-scratch recompute of BOTH batches' portable simhashes (the
    Spark side answers the old batch from its persisted encoded index),
    then the exact cross-batch Hamming join: old = doc_id < 250, new =
    doc_id >= 250 plus the planted copies at doc_id + 1,000,000."""
    return (
        "WITH allb AS (SELECT doc_id, text FROM documents"
        " UNION ALL SELECT doc_id + 1000000, text FROM documents"
        " WHERE doc_id < 50), "
        + _simhash_ctes("allb") +
        " SELECT n.doc_id AS new_id, o.doc_id AS old_id,"
        " CAST(bit_count(xor(n.simhash, o.simhash)) AS BIGINT) AS hamming"
        " FROM sim n JOIN sim o ON o.doc_id < 250 AND n.doc_id >= 250"
        f" WHERE bit_count(xor(n.simhash, o.simhash)) <= {max_hamming}"
    )


def _fingerprint_oracle(window: int = 16) -> str:
    """Winnowing fingerprint in SQL: min over all ``window``-codepoint
    polynomial hashes (mod 2^31-1), mirroring
    textstats.fingerprints(portable=True); docs shorter than the window
    fingerprint as 0 by definition of the portable mode."""
    chars = (f"list_transform(range({window}),"
             " k -> CAST(ascii(substr(text, CAST(j + k + 1 AS INT), 1)) AS BIGINT))")
    fold = (f"list_reduce(list_prepend(CAST(0 AS BIGINT), {chars}),"
            " (a, c) -> (a * 31 + c) % 2147483647)")
    return (
        "SELECT doc_id,"
        f" CASE WHEN length(text) < {window} THEN CAST(0 AS BIGINT)"
        f" ELSE CAST(list_min(list_transform(range(length(text) - {window} + 1),"
        f"   j -> {fold})) AS BIGINT)"
        " END AS fingerprint"
        " FROM documents WHERE length(text) = strlen(text)"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "roundtrip_events": "SELECT event_id, ts, user_id, event_type, value, props FROM events",
        "roundtrip_orders": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
            " o_orderpriority FROM orders"
        ),
        "roundtrip_lineitem": (
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,"
            " l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
            " FROM lineitem"
        ),
        "roundtrip_documents": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "roundtrip_transcripts": (
            "SELECT 'conv-' || CAST(user_id AS VARCHAR) AS conv_id,"
            " CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT)"
            "   AS turn_idx,"
            " event_type AS role, props AS text,"
            " CASE WHEN value > 50 THEN event_type ELSE '' END AS tool, ts"
            " FROM events"
        ),
        "codec_pfor_outliers": (
            "SELECT event_id,"
            " CASE WHEN event_id % 20 = 0 THEN user_id * 1000000000 ELSE user_id END AS v"
            " FROM events"
        ),
        "codec_float_lossy": (
            "SELECT event_id, TRUE AS within_bound FROM events"
        ),
        # identity oracle: the matrix codec's lossless mode must reproduce
        # every embedding component bit-for-bit (exploded: the value hash
        # operates on scalar columns)
        "roundtrip_embeddings": (
            "SELECT vec_id, label,"
            " CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,"
            " CAST(UNNEST(embedding) AS DOUBLE) AS component"
            " FROM embeddings"
        ),
        "codec_embedding_lossy": (
            "SELECT vec_id, TRUE AS within_bound FROM embeddings"
        ),
        # sparse matrix plane: same masking rule recomputed from raw
        "codec_matrix_sparse": (
            "SELECT vec_id, label, pos,"
            " CASE WHEN (vec_id + pos) % 5 = 0 THEN component"
            " ELSE 0.0 END AS component"
            " FROM (SELECT vec_id, label,"
            "   CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,"
            "   CAST(UNNEST(embedding) AS DOUBLE) AS component"
            "   FROM embeddings)"
        ),
        # identity on the values AND the gate's codec choice: per-delta
        # gamma lengths beat every fixed-width/LEB128 candidate on this
        # deterministic heavy-tailed stream (derivation in the docstring)
        "codec_elias_heavytail": (
            "SELECT event_id,"
            " CAST(event_id * 3 + (event_id // 250) * 100000 AS BIGINT) AS v,"
            " 'delta_gamma' AS codec FROM events"
        ),
        # answer-invariance of bloom pruning: the pruned decode + exact
        # filter must return exactly the plain-WHERE rows (FPs only keep
        # extra chunks; the skip-count evidence lives in pytest).
        # Positive operands: DuckDB % == Spark pmod.
        "bloom_prune": (
            "SELECT event_id,"
            " 'u' || CAST((event_id * 2654435761) % 1000003 AS VARCHAR) AS tag"
            " FROM events"
            " WHERE (event_id * 2654435761) % 1000003"
            "     = (7 * 2654435761) % 1000003"
        ),
        # memcmp order over tagged-encoded (user_id, event_id) must equal
        # logical pair order — checked exhaustively, summarized in one row
        "tagged_sortable_keys": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS sorted_ok"
            " FROM events"
        ),
        # oracle by construction: the forced-choice table's lineage rows
        # are constants (derivations in the query docstring); protected by
        # the blocks-deterministic-at-any-parallelism invariant
        "encode_stats_transcripts": (
            "SELECT * FROM (VALUES"
            " ('const_i', 'for',         CAST(4096 AS BIGINT), CAST(32768 AS BIGINT), CAST(5 AS BIGINT)),"
            " ('g',       'dict_str',    CAST(4096 AS BIGINT), CAST(20480 AS BIGINT), CAST(15 AS BIGINT)),"
            " ('lowcard', 'dict_str',    CAST(4096 AS BIGINT), CAST(36864 AS BIGINT), CAST(1598 AS BIGINT)),"
            " ('noise',   'plain_int',   CAST(4096 AS BIGINT), CAST(32768 AS BIGINT), CAST(32771 AS BIGINT)),"
            " ('seq',     'bp128_delta', CAST(4096 AS BIGINT), CAST(32768 AS BIGINT), CAST(1110 AS BIGINT))"
            ") AS t(col, codec, n_values, raw_bytes, encoded_bytes)"
        ),
        # independent SQL recomputation of the engine's size bookkeeping
        # (raw = 8 B/value or data+4 B offsets; strlen = byte length; varint = zigzag-LEB128
        # bytes per value) + the every-column-compresses claim
        "compression_by_column": (
            "SELECT 'event_id' AS col, CAST(8 * COUNT(*) AS BIGINT) AS raw_bytes,"
            f" CAST(SUM({_leb_sql('event_id')}) AS BIGINT) AS varint_bytes,"
            " TRUE AS encoded_lt_raw FROM events"
            " UNION ALL SELECT 'event_type',"
            " CAST(SUM(strlen(event_type)) + 4 * COUNT(*) AS BIGINT),"
            " CAST(SUM(strlen(event_type)) + 4 * COUNT(*) AS BIGINT), TRUE FROM events"
            " UNION ALL SELECT 'props',"
            " CAST(SUM(strlen(props)) + 4 * COUNT(*) AS BIGINT),"
            " CAST(SUM(strlen(props)) + 4 * COUNT(*) AS BIGINT), TRUE FROM events"
            " UNION ALL SELECT 'ts', CAST(8 * COUNT(*) AS BIGINT),"
            f" CAST(SUM({_leb_sql('epoch_us(ts)')}) AS BIGINT), TRUE FROM events"
            " UNION ALL SELECT 'user_id', CAST(8 * COUNT(*) AS BIGINT),"
            f" CAST(SUM({_leb_sql('user_id')}) AS BIGINT), TRUE FROM events"
        ),
        # chunk alignment (salt_span % chunk_rows == 0, contiguous ids from
        # 0) makes within-chunk position = event_id % 1024 — see the query
        "random_access_point": (
            "SELECT event_id AS v FROM events"
            " WHERE event_id % 1024 IN (0, 10, 11, 12, 13, 14)"
        ),
        "random_access_prune": (
            "SELECT event_id, epoch_us(ts) AS ts_us FROM events"
            " WHERE epoch_us(ts) >= (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2"
            "                        FROM events)"
        ),
        # identical result set, but the Spark side evaluates the filter on
        # the encoded form (no full decode of surviving chunks)
        "predicate_pushdown_encoded": (
            "SELECT event_id, epoch_us(ts) AS ts_us FROM events"
            " WHERE epoch_us(ts) >= (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2"
            "                        FROM events)"
        ),
        "predicate_pushdown_range": (
            "WITH b AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx"
            "           FROM events)"
            " SELECT event_id, epoch_us(ts) AS ts_us FROM events, b"
            " WHERE epoch_us(ts) BETWEEN b.mn + (b.mx - b.mn) // 4"
            "                        AND b.mn + (b.mx - b.mn) // 2"
        ),
        # verified against DuckDB's NATIVE ASOF JOIN implementation
        "asof_purchase_click": (
            "WITH p AS (SELECT event_id, user_id, ts FROM events"
            "           WHERE event_type = 'purchase'),"
            " c AS (SELECT user_id, ts, event_id AS click_id,"
            "       epoch_us(ts) AS click_ts_us FROM events"
            "       WHERE event_type = 'click')"
            " SELECT p.event_id,"
            " COALESCE(c.click_id, -1) AS click_id,"
            " COALESCE(c.click_ts_us, 0) AS click_ts_us"
            " FROM p ASOF LEFT JOIN c"
            " ON p.user_id = c.user_id AND p.ts >= c.ts"
        ),
        # string equality: the Spark side answers from the encoded form
        "dict_filter_pushdown": (
            "SELECT doc_id, lang FROM documents WHERE lang = 'en'"
        ),
        # prefix / IN-list: the Spark side answers both from the sorted
        # dictionary + code-stream range compares, never the corpus
        "str_prefix_pushdown": (
            "SELECT doc_id, lang FROM documents WHERE lang LIKE 'e%'"
        ),
        "str_in_pushdown": (
            "SELECT doc_id, lang FROM documents"
            " WHERE lang IN ('de', 'fr', 'zh')"
        ),
        # general LIKE: the Spark side matches the pattern against the
        # dictionary entries only, then code-stream range compares
        "str_like_pushdown": (
            "SELECT doc_id, source FROM documents WHERE source LIKE '%1%'"
        ),
        # two-stage: zone-map chunk pruning on string stats, then the
        # encoded-form dictionary range — result must equal a plain WHERE
        "str_zone_prune": (
            "SELECT doc_id, source FROM documents WHERE source LIKE 'src1%'"
        ),
        # gap sessionization replayed as lag + running-sum windows; the
        # (ts, event_id) order is total so ties break identically
        "sessionize_events": (
            "WITH flags AS ("
            "  SELECT user_id, ts, event_id,"
            "    CASE WHEN lag(ts) OVER w IS NULL"
            "      OR epoch_us(ts) - epoch_us(lag(ts) OVER w)"
            "         > 86400000000 THEN 1 ELSE 0 END AS is_new"
            "  FROM events WINDOW w AS"
            "    (PARTITION BY user_id ORDER BY ts, event_id)),"
            " tagged AS ("
            "  SELECT user_id, ts,"
            "    SUM(is_new) OVER (PARTITION BY user_id"
            "      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)"
            "      AS session_idx"
            "  FROM flags)"
            " SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,"
            "  CAST(COUNT(*) AS BIGINT) AS n_events,"
            "  CAST(MIN(epoch_us(ts)) AS BIGINT) AS start_us,"
            "  CAST(MAX(epoch_us(ts)) AS BIGINT) AS end_us,"
            "  CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT)"
            "    AS duration_us"
            " FROM tagged GROUP BY user_id, session_idx"
        ),
        # the portable hash-threshold mixture, replayed term by term
        "sample_mixture": (
            "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,"
            " CAST(SUM(doc_id) AS BIGINT) AS sum_ids"
            " FROM documents"
            " WHERE ((doc_id % 1000003) * 4099 + 42) % 1000000 <"
            "   CASE source WHEN 'src1' THEN 1000000 WHEN 'src3' THEN 500000"
            "     WHEN 'src5' THEN 250000 WHEN 'src7' THEN 100000 END"
            " GROUP BY source"
        ),
        # daily rows straight from raw — the Spark side cascades them
        # from the hourly rollup, so this gates the refresh identity
        "rollup_events_daily": (
            "SELECT CAST(epoch_us(ts) // 86400000000 * 86400 AS BIGINT)"
            "   AS bucket_start_s, event_type,"
            " CAST(COUNT(*) AS BIGINT) AS n_rows,"
            " CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT)"
            "   AS sum_mvalue,"
            " MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us"
            " FROM events GROUP BY 1, 2"
        ),
        # the oracle is the inequality join the bucketed plan replaces
        "range_join_clicks": (
            "WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us"
            "           FROM events WHERE event_type = 'purchase'),"
            " c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us"
            "       FROM events WHERE event_type = 'click')"
            " SELECT p.event_id, CAST(COUNT(*) AS BIGINT) AS n_clicks_1h,"
            " CAST(MAX(c.click_id) AS BIGINT) AS max_click_id"
            " FROM p JOIN c ON p.user_id = c.user_id"
            "  AND c.c_us BETWEEN p.p_us - 3600000000 AND p.p_us"
            " GROUP BY p.event_id"
        ),
        "analyze_minmax_range": (
            "SELECT event_type, COUNT(*) AS cnt, MIN(user_id) AS min_uid,"
            " MAX(user_id) AS max_uid, MAX(user_id) - MIN(user_id) AS range_uid"
            " FROM events GROUP BY event_type"
        ),
        # CAST(... AS BIGINT): DuckDB types integer SUM as HUGEINT, which
        # pandas materializes as float64 — the value hash then sees 219.0
        # vs Spark's BIGINT 219 (the r01 hash mismatch)
        "analyze_run_lengths": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,"
            " CAST(SUM(CASE WHEN prev IS NULL OR prev <> l_returnflag THEN 1 ELSE 0 END)"
            "   AS BIGINT) AS n_runs"
            " FROM (SELECT l_returnflag,"
            "   LAG(l_returnflag) OVER (ORDER BY l_orderkey, l_linenumber) AS prev"
            "   FROM lineitem)"
        ),
        "analyze_cardinality": (
            "SELECT COUNT(DISTINCT o_orderstatus) AS n_status,"
            " COUNT(DISTINCT o_orderpriority) AS n_priority,"
            " COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_rows FROM orders"
        ),
        "analyze_delta_stats": (
            "SELECT user_id, COUNT(*) AS n_deltas,"
            " CAST(SUM(delta_us) AS BIGINT) AS sum_delta_us,"
            " MAX(delta_us) AS max_delta_us FROM ("
            "   SELECT user_id, epoch_us(ts) - LAG(epoch_us(ts)) OVER"
            "     (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us FROM events)"
            " WHERE delta_us IS NOT NULL GROUP BY user_id"
        ),
        "dedup_exact": (
            "SELECT doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) - 1"
            " AS INT) AS dup_rank FROM"
            " (SELECT doc_id, text FROM documents"
            "  UNION ALL SELECT doc_id + 1000000, text FROM documents)"
        ),
        "text_token_stats": (
            "SELECT doc_id, CAST(length(text) AS INT) AS n_chars,"
            " CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),"
            "   t -> length(t) > 0)) AS INT) AS n_tokens,"
            " round(length(text) / greatest(len(list_filter("
            "   regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)), 1), 6)"
            "   AS avg_tok_len"
            " FROM documents"
        ),
        # Exact all-pairs character-5-gram Jaccard >= 0.8 on the doubled
        # corpus. Sound as an oracle for the LSH+verify pipeline because the
        # LSH stage has empirically-full recall on this data (every true
        # pair has j >= 0.8 where band-hit probability is ~1) — the verify
        # stage then computes the same exact Jaccard. The size-ratio join
        # bound is lossless: j <= min(|A|,|B|)/max(|A|,|B|).
        "dedup_minhash_jaccard": (
            "WITH corpus AS ("
            "  SELECT doc_id, text FROM documents"
            "  WHERE length(text) >= 5 AND length(text) = strlen(text)"
            "  UNION ALL SELECT doc_id + 1000000, text FROM documents"
            "  WHERE length(text) >= 5 AND length(text) = strlen(text)),"
            " shingled AS ("
            "  SELECT doc_id,"
            "    list_sort(list_distinct(list_transform(range(length(text) - 4),"
            "      i -> hash(substr(text, CAST(i + 1 AS INT), 5))))) AS g"
            "  FROM corpus),"
            " pairs AS ("
            "  SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
            "    len(list_intersect(a.g, b.g))::DOUBLE"
            "      / greatest(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)), 1) AS j"
            "  FROM shingled a JOIN shingled b"
            "    ON a.doc_id < b.doc_id"
            "   AND least(len(a.g), len(b.g))::DOUBLE / greatest(len(a.g), len(b.g), 1) >= 0.8)"
            " SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.8"
        ),
        "text_quality_score": (
            "SELECT doc_id,"
            r" round((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))"
            "   / greatest(length(text), 1), 6) AS punct_ratio,"
            " round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))"
            "   / greatest(length(text), 1), 6) AS upper_ratio,"
            r" round(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'),"
            "     t -> length(t) > 0),"
            "     t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t)))"
            r"   / greatest(len(list_filter(regexp_split_to_array(lower(text), '\s+'),"
            "     t -> length(t) > 0)), 1), 6) AS stopword_ratio,"
            " CASE WHEN length(text) BETWEEN 200 AND 20000 THEN 1.0 ELSE 0.0 END AS len_ok"
            " FROM documents"
        ),
        "text_lang_id": _lang_id_oracle(),
        "vocab_top_tokens": (
            r"WITH toks AS (SELECT unnest(list_filter("
            r"regexp_split_to_array(text, '\s+'), t -> length(t) > 0))"
            " AS token FROM documents)"
            " SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks"
            " GROUP BY token ORDER BY n DESC, token LIMIT 50"
        ),
        # checksums of the ORIGINAL table: the JSONL write/read must be
        # lossless for the Spark side to match
        "source_roundtrip_jsonl": (
            "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,"
            " CAST(SUM(doc_id) AS BIGINT) AS sum_ids,"
            " CAST(SUM(length(text)) AS BIGINT) AS sum_chars"
            " FROM documents GROUP BY lang"
        ),
        "source_roundtrip_csv": (
            "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,"
            " CAST(SUM(doc_id) AS BIGINT) AS sum_ids,"
            " CAST(SUM(length(text)) AS BIGINT) AS sum_chars"
            " FROM documents GROUP BY source"
        ),
        # merge correctness replayed from the FULL raw corpus: the
        # batch-split build + merge must reproduce exactly the docs where
        # 'key scan' are adjacent tokens
        "text_index_incremental": (
            "SELECT doc_id FROM documents"
            r" WHERE regexp_matches(text, '(^|\s)key\s+scan(\s|$)')"
        ),
        # both deletes replayed as plain WHERE NOT
        "delete_vectors": (
            "SELECT event_id, user_id, event_type FROM events"
            " WHERE NOT (event_type = 'click')"
            "   AND NOT (event_id BETWEEN 100 AND 1999)"
        ),
        # the commit history replayed in SQL: v2 = batch A minus its
        # errors; latest = that plus batch B with B's errors KEPT
        "time_travel": (
            "SELECT event_id, user_id, event_type, 2 AS snap FROM events"
            " WHERE event_id < 512 AND event_type <> 'error'"
            " UNION ALL"
            " SELECT event_id, user_id, event_type, 3 AS snap FROM events"
            " WHERE (event_id < 512 AND event_type <> 'error')"
            "    OR event_id >= 512"
        ),
        # both versions replayed: v1 = the raw table; v2 = clicks
        # rewritten in place (same key) plus the shifted-id inserts
        "upsert_merge_on_read": (
            "SELECT event_id, user_id, event_type, 1 AS snap FROM events"
            " UNION ALL"
            " SELECT event_id, user_id,"
            " CASE WHEN event_type = 'click' THEN 'click_v2'"
            "      ELSE event_type END AS event_type, 2 AS snap"
            " FROM events"
            " UNION ALL"
            " SELECT event_id + 1000000, user_id,"
            " 'inserted' AS event_type, 2 AS snap FROM events"
            " WHERE event_type = 'purchase'"
        ),
        # the composed pipeline replayed in SQL: ROW_NUMBER dedup, same
        # feature expressions, same filter, same aggregation
        "pipeline_dedup_quality_lang": (
            "WITH kept AS (SELECT doc_id, text FROM ("
            "  SELECT doc_id, text, ROW_NUMBER() OVER"
            "    (PARTITION BY text ORDER BY doc_id) AS rn FROM documents)"
            "  WHERE rn = 1),"
            " feat AS (SELECT doc_id,"
            r"  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),"
            "    t -> length(t) > 0)) AS INT) AS n_tokens,"
            "  CAST(length(text) AS INT) AS n_chars,"
            r"  round((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))"
            "    / greatest(length(text), 1), 6) AS punct_ratio FROM kept),"
            f" lang AS ({_lang_id_oracle('kept')})"
            " SELECT lang.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,"
            "  CAST(SUM(feat.n_tokens) AS BIGINT) AS total_tokens,"
            "  CAST(SUM(feat.n_chars) AS BIGINT) AS total_chars"
            " FROM feat JOIN lang USING (doc_id)"
            " WHERE feat.n_tokens >= 3 AND feat.punct_ratio <= 0.2"
            " GROUP BY lang.lang_pred"
        ),
        "simhash_documents": _simhash_oracle(),
        "simhash_near_dup": _simhash_neardup_oracle(),
        "dedup_incremental": _incremental_oracle(),
        # fake decoder = sha256(payload) bytes / 255; payload = UTF-8 text
        # bytes, so DuckDB's sha256(text) sees identical input. Fold order
        # mirrors Spark's sequential F.aggregate exactly (list_reduce).
        "multimodal_features": (
            "SELECT doc_id AS media_id,"
            " round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            "   list_transform(range(8), i ->"
            "     CAST(('0x' || substr(sha256(text), CAST(i*2+1 AS INT), 2)) AS INT)"
            "     / 255.0)),"
            "   (a, c) -> a + c), 6) AS feature_sum"
            " FROM documents"
        ),
        # real WAV decode: the oracle recomputes the PCM features from the
        # stated sample arithmetic; only the RIFF container bytes and
        # multimodal.decode_wav stand between the two sides
        "multimodal_real_decode": (
            "WITH d AS (SELECT doc_id, length(text) % 64 + 16 AS n"
            "           FROM documents),"
            " s AS (SELECT doc_id, n, unnest(range(n)) AS k FROM d)"
            " SELECT doc_id AS media_id,"
            " CAST(MAX(n) AS BIGINT) AS n_samples,"
            " CAST(SUM(ABS((doc_id*31 + k*7) % 65536 - 32768)) AS BIGINT)"
            "   AS sum_abs,"
            " CAST(MAX(CASE WHEN k = 0 THEN (doc_id*31 + k*7) % 65536 - 32768"
            "          END) AS BIGINT) AS first_sample,"
            " CAST(MAX((doc_id*31 + k*7) % 65536 - 32768) AS BIGINT)"
            "   AS max_sample"
            " FROM s GROUP BY doc_id"
        ),
        # real PPM decode: same oracle design as multimodal_real_decode
        "multimodal_image_decode": (
            "WITH d AS (SELECT doc_id, length(text) % 8 + 2 AS w,"
            "                  doc_id % 6 + 2 AS h FROM documents),"
            " s AS (SELECT doc_id, w, h, unnest(range(w*h*3)) AS i FROM d),"
            " px AS (SELECT doc_id, w, h, i % 3 AS c,"
            "  (doc_id*7 + (i // (w*3))*5 + ((i % (w*3)) // 3)*3 + i % 3) % 256"
            "    AS v FROM s)"
            " SELECT doc_id AS media_id,"
            " CAST(MAX(w) * MAX(h) AS BIGINT) AS n_pixels,"
            " CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_red,"
            " CAST(SUM(v) AS BIGINT) AS sum_all,"
            " CAST(MAX(v) AS BIGINT) AS max_byte"
            " FROM px GROUP BY doc_id"
        ),
        # decode -> 3x3 nearest-neighbor resize -> features, replayed in
        # SQL via the integer index mapping (y*h//3, x*w//3)
        "multimodal_resize_chain": (
            "WITH d AS (SELECT doc_id, length(text) % 8 + 2 AS w,"
            "                  doc_id % 6 + 2 AS h FROM documents),"
            " s AS (SELECT doc_id, w, h, unnest(range(27)) AS i FROM d),"
            " px AS (SELECT doc_id,"
            "  (doc_id*7 + ((i // 9) * h // 3)*5 + (((i % 9) // 3) * w // 3)*3"
            "   + i % 3) % 256 AS v, i FROM s)"
            " SELECT doc_id AS media_id,"
            " CAST(9 AS BIGINT) AS n_rpx,"
            " CAST(SUM(v) AS BIGINT) AS sum_all,"
            " CAST(MAX(v) AS BIGINT) AS max_byte,"
            " CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_r"
            " FROM px GROUP BY doc_id"
        ),
        "fingerprint_documents": _fingerprint_oracle(),
        "similarity_topk": (
            "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings"
            "           ORDER BY vec_id LIMIT 1)"
            " SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 4)"
            "   AS cosine"
            " FROM embeddings, q"
            " ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id"
            " LIMIT 10"
        ),
        "similarity_topk_lsh": _lsh_oracle(),
        # nprobe = k_lists makes the IVF query exhaustive by construction
        # (see _q_similarity_ivf) — brute-force top-k is the exact oracle
        "similarity_topk_ivf": (
            "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings"
            "           ORDER BY vec_id LIMIT 1)"
            " SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 4)"
            "   AS cosine"
            " FROM embeddings, q"
            " ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id"
            " LIMIT 10"
        ),
        # all-pairs exact cosine >= threshold: sound because only injected
        # exact duplicates reach 0.999 on this data (no natural pair >= 0.95)
        # and identical vectors always share every LSH sign bit
        # same double arithmetic, same half-away rounding -> same codes
        "quantize_embeddings": (
            "WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v,"
            "  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx"
            "  FROM embeddings),"
            " c AS (SELECT vec_id, len(v) AS dim,"
            "  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))"
            "  ELSE list_transform(v, x -> CAST(round(x / (mx / 127.0)) AS BIGINT))"
            "  END AS codes FROM q)"
            " SELECT vec_id, CAST(dim AS INT) AS dim,"
            " CAST(list_sum(codes) AS BIGINT) AS sum_codes,"
            " CAST(list_min(codes) AS BIGINT) AS min_code,"
            " CAST(list_max(codes) AS BIGINT) AS max_code FROM c"
        ),
        "embedding_near_dup": (
            "WITH e AS ("
            "  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
            "  UNION ALL SELECT vec_id + 1000000, embedding::DOUBLE[]"
            "    FROM embeddings WHERE vec_id < 20),"
            " p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
            "   list_cosine_similarity(a.v, b.v) AS c"
            "   FROM e a JOIN e b ON a.vec_id < b.vec_id)"
            " SELECT id_a, id_b, round(c, 6) AS cosine FROM p WHERE c >= 0.999"
        ),
        "q6_shipping_revenue": (
            "SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,"
            " CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem"
            " WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'"
            " AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'"
            " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
        ),
        # conjunctive search replayed from raw text: same whitespace
        # tokenization, membership of BOTH terms
        "text_search_postings": (
            "SELECT doc_id FROM documents"
            r" WHERE list_contains(list_filter(regexp_split_to_array(text,"
            r" '\s+'), t -> length(t) > 0), 'join')"
            r" AND list_contains(list_filter(regexp_split_to_array(text,"
            r" '\s+'), t -> length(t) > 0), 'filter')"
        ),
        # every aggregate recomputed from the raw table; DuckDB SUM on
        # BIGINT widens to HUGEINT, so cast back; avg is one double
        # division of exact ints on both sides (IEEE-identical)
        "agg_pushdown_metadata": (
            "SELECT 'event_id' AS \"column\", COUNT(*) AS n_rows,"
            " COUNT(event_id) AS n_nonnull, MIN(event_id) AS min_val,"
            " MAX(event_id) AS max_val,"
            " CAST(SUM(event_id) AS BIGINT) AS sum_val,"
            " CAST(SUM(event_id) AS DOUBLE) / COUNT(event_id) AS avg_val,"
            " CAST(0 AS BIGINT) AS n_sum_missing FROM events"
            " UNION ALL"
            " SELECT 'user_id', COUNT(*), COUNT(user_id), MIN(user_id),"
            " MAX(user_id), CAST(SUM(user_id) AS BIGINT),"
            " CAST(SUM(user_id) AS DOUBLE) / COUNT(user_id),"
            " CAST(0 AS BIGINT) FROM events"
        ),
        # phrase adjacency replayed from raw text: with whitespace
        # tokenization, "key scan query" adjacent in token space is
        # exactly a token-boundary regex over the raw string
        "text_search_phrase": (
            "SELECT doc_id FROM documents"
            r" WHERE regexp_matches(text, '(^|\s)key\s+scan\s+query(\s|$)')"
        ),
        # the metadata/decode split is a partition of the chunk set, so
        # the oracle is the plain GROUP BY
        "groupby_pushdown": (
            "SELECT user_id, COUNT(*) AS n_rows,"
            " COUNT(event_id) AS n_nonnull, MIN(event_id) AS min_val,"
            " MAX(event_id) AS max_val,"
            " CAST(SUM(event_id) AS BIGINT) AS sum_val"
            " FROM events GROUP BY user_id"
        ),
        # exact counts oracle-matched; the sketch-within-5% boolean must
        # come back TRUE or the row goes red
        "approx_distinct_hll": (
            "SELECT 'event_id' AS \"column\","
            " COUNT(DISTINCT event_id) AS n_exact,"
            " TRUE AS within_bound FROM events"
            " UNION ALL"
            " SELECT 'user_id', COUNT(DISTINCT user_id), TRUE FROM events"
        ),
        # zone-map pruning can only change which chunks decode, never the
        # answer: oracle is the plain ORDER BY/LIMIT (event_id unique, so
        # the row set is deterministic)
        "topk_pushdown": (
            "SELECT event_id, user_id, ts FROM events"
            " ORDER BY event_id DESC LIMIT 100"
        ),
        # ordered proximity replayed from raw token positions: a chain
        # a<b<c with both gaps in [1, slop] must exist (1-based positions
        # cancel in the deltas)
        "text_search_near": (
            r"WITH toks AS (SELECT doc_id, unnest(arr) AS tok,"
            r" generate_subscripts(arr, 1) AS pos FROM (SELECT doc_id,"
            r" list_filter(regexp_split_to_array(text, '\s+'),"
            r" t -> length(t) > 0) AS arr FROM documents))"
            " SELECT DISTINCT a.doc_id FROM toks a, toks b, toks c"
            " WHERE a.doc_id = b.doc_id AND b.doc_id = c.doc_id"
            " AND a.tok = 'key' AND b.tok = 'scan' AND c.tok = 'query'"
            " AND b.pos - a.pos BETWEEN 1 AND 3"
            " AND c.pos - b.pos BETWEEN 1 AND 3"
        ),
        "text_search_boolean": (
            r"WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array("
            r"text, '\s+'), x -> length(x) > 0) AS toks FROM documents)"
            " SELECT doc_id FROM t"
            " WHERE (list_contains(toks, 'join') OR list_contains(toks, 'scan'))"
            " AND NOT list_contains(toks, 'filter')"
        ),
        # the z-order layout can only change which chunks ship, never
        # the answer: oracle is the plain two-predicate WHERE
        "zorder_prune": (
            "SELECT event_id, ts, user_id FROM events"
            " WHERE user_id BETWEEN 10 AND 60"
            " AND epoch_us(ts) BETWEEN 1704672000000000 AND 1705536000000000"
        ),
        # the evolved reader schema: pre-evolution rows are NULL
        "schema_evolution": (
            "SELECT doc_id, lang,"
            " CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars"
            " FROM documents"
        ),
        # compaction must be value-lossless: oracle is the original table
        "compact_roundtrip": (
            "SELECT doc_id, lang, source, text FROM documents"
        ),
        # next-fit packing replayed as a recursive CTE: one recursion
        # step per document rank within its source shard
        "pack_sequences": (
            "WITH RECURSIVE t AS ("
            "  SELECT doc_id, source, n_chars,"
            "    row_number() OVER (PARTITION BY source ORDER BY doc_id)"
            "      AS rn FROM documents),"
            " p AS ("
            "  SELECT doc_id, source, rn, n_chars AS fill,"
            "    CAST(0 AS BIGINT) AS bin FROM t WHERE rn = 1"
            "  UNION ALL"
            "  SELECT t.doc_id, t.source, t.rn,"
            "    CASE WHEN p.fill + t.n_chars > 1000 THEN t.n_chars"
            "      ELSE p.fill + t.n_chars END,"
            "    CASE WHEN p.fill + t.n_chars > 1000 THEN p.bin + 1"
            "      ELSE p.bin END"
            "  FROM t JOIN p ON t.source = p.source AND t.rn = p.rn + 1)"
            " SELECT doc_id, source, bin FROM p"
        ),
        "q5_regional_revenue": (
            "SELECT n_name,"
            " ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue"
            " FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " JOIN supplier ON l_suppkey = s_suppkey"
            "   AND c_nationkey = s_nationkey"
            " JOIN nation ON s_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
            " WHERE r_name = 'ASIA'"
            " AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
            " AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
            " GROUP BY n_name ORDER BY revenue DESC, n_name"
        ),
        "q3_segment_top_orders": (
            "SELECT l_orderkey,"
            " ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,"
            " CAST(COUNT(*) AS BIGINT) AS n_items"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            " JOIN customer ON o_custkey = c_custkey"
            " WHERE c_mktsegment = 'BUILDING'"
            " AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
            " AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'"
            " GROUP BY l_orderkey"
            " ORDER BY revenue DESC, l_orderkey LIMIT 10"
        ),
        "q1_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,"
            " ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,"
            " COUNT(*) AS count_order, ROUND(AVG(l_discount), 6) AS avg_disc"
            " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"
            " GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2"
        ),
        "set_ops_bitmap_analog": (
            "WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type='click'),"
            " b AS (SELECT DISTINCT user_id FROM events WHERE event_type='purchase')"
            " SELECT 'and' AS op, (SELECT COUNT(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM b)) AS n"
            " UNION ALL SELECT 'or', (SELECT COUNT(*) FROM (SELECT * FROM c UNION SELECT * FROM b))"
            " UNION ALL SELECT 'andnot', (SELECT COUNT(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM b))"
        ),
        "bitmap_codec_algebra": (
            "WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type='click'),"
            " b AS (SELECT DISTINCT user_id FROM events WHERE event_type='purchase')"
            " SELECT 'and' AS op, CAST((SELECT COUNT(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM b)) AS BIGINT) AS n"
            " UNION ALL SELECT 'or', (SELECT COUNT(*) FROM (SELECT * FROM c UNION SELECT * FROM b))"
            " UNION ALL SELECT 'andnot', (SELECT COUNT(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM b))"
            " UNION ALL SELECT 'xor', (SELECT COUNT(*) FROM ("
            "   SELECT * FROM (SELECT * FROM c UNION SELECT * FROM b)"
            "   EXCEPT SELECT * FROM (SELECT * FROM c INTERSECT SELECT * FROM b)))"
            " UNION ALL SELECT 'range_and',"
            "   (SELECT COUNT(*) FROM c WHERE user_id >= 5 AND user_id < 60)"
            " UNION ALL SELECT 'range_remove',"
            "   (SELECT COUNT(*) FROM c WHERE user_id < 5 OR user_id >= 60)"
        ),
        "topk_per_group": (
            "SELECT o_orderpriority, CAST(rk AS INT) AS rk, o_orderkey FROM ("
            "  SELECT o_orderpriority, o_orderkey, ROW_NUMBER() OVER ("
            "    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk"
            "  FROM orders) WHERE rk <= 3"
        ),
        # rows-only (codec-choice lineage is not SQL-expressible):
        # encode_stats_transcripts, compression_by_column — their decode
        # side is covered by the oracled roundtrip_* queries
    }
