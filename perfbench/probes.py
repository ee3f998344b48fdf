"""Per-layer measurements of a traced run, each taken by timing calls to a
layer's public functions from outside (perfbench/README.md names the
end-to-end metric each one should move and on which workload)."""

from __future__ import annotations

import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OPS = ("ingest", "resume", "scan", "range", "point", "pruned", "agg")
PRUNED_QUERIES = ("range", "point", "pruned")
LAYERS = ("op", "session", "input", "lineage", "engine", "aggregate", "spark")
# the codecs the selector picks on the two tables; the rest count as other
CODECS = ("dict_str", "fsst_str", "plain_str", "plain_int", "leb128_zz", "for", "pfor",
          "delta", "seg_delta", "dod", "rle_int", "dict_int", "f64_xor", "bp128_delta")
REPS = 1  # one timing per Spark probe keeps a traced run short


def _timed(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def encode_probe(bench) -> dict:
    """engine.encode_transcripts into a count sink, and the same plan with
    the codecs replaced by an identity pass (shuffle, Arrow transfer, sort
    and chunk slicing only)."""
    from pyspark.sql import functions as F
    from varint_spark.engine import encode_transcripts, with_partition_keys

    src = bench.source()
    opts = bench.opts
    cols = src.columns

    def substrate_udf(key, table):
        table = table.sort_by([(opts.group_col, "ascending"),
                               (opts.order_col, "ascending")])
        arrays = {c: table.column(c).combine_chunks() for c in cols}
        n = table.num_rows
        rows = []
        for chunk_id, start in enumerate(range(0, n, opts.chunk_rows)):
            m = min(opts.chunk_rows, n - start)
            nbytes = sum(a.slice(start, m).nbytes for a in arrays.values())
            rows.append({"g": f"{key[0].as_py()}:{key[1].as_py()}",
                         "chunk_id": chunk_id, "n": m, "nbytes": nbytes})
        return pa.Table.from_pylist(rows, schema=pa.schema(
            [("g", pa.string()), ("chunk_id", pa.int32()), ("n", pa.int64()),
             ("nbytes", pa.int64())]))

    def substrate():
        return with_partition_keys(src, opts).groupBy("_bucket", "_salt").applyInArrow(
            substrate_udf, "g string, chunk_id int, n long, nbytes long")

    with bench.tr.span("engine.encode_transcripts"):
        encode_s = _timed(lambda: encode_transcripts(src, opts).agg(F.count(F.lit(1))).collect())
    with bench.tr.span("engine.substrate"):
        substrate_s = _timed(lambda: substrate().agg(F.sum("n")).collect())
        chunks = substrate().groupBy("g").agg(F.count(F.lit(1)).alias("c"),
                                              F.sum("n").alias("n")).collect()
    group_rows = [r["n"] for r in chunks]
    return {
        "engine.encode_s": (encode_s, "s"),
        "engine.encode_substrate_s": (substrate_s, "s"),
        "engine.encode_kernel_s": (encode_s - substrate_s, "s"),
        "engine.groups": (len(chunks), "count"),
        "engine.chunks": (sum(r["c"] for r in chunks), "count"),
        "engine.group_rows_max_over_median": (
            max(group_rows) / statistics.median(group_rows), "ratio"),
    }


def selector_probe(bench) -> dict:
    """Decode every block of the committed store in-process, then encode the
    decoded chunk again: the codec kernels on exactly the engine's chunks,
    without Spark. MB are raw (Arrow) bytes."""
    # _run_lengths: the segment boundaries the engine hands the
    # segment-aware delta codec, so the probe encodes exactly as it does
    from varint_spark.engine import _run_lengths, kinds_for_schema
    from varint_spark.selector import decode_column, encode_column

    kinds = kinds_for_schema(bench.source().schema)
    blocks = pq.read_table(bench.store / "blocks",
                           columns=["part_key", "chunk_id", "column", "codec",
                                    "encoded_bytes", "block"])
    secs = {("enc", "str"): 0.0, ("enc", "int"): 0.0,
            ("dec", "str"): 0.0, ("dec", "int"): 0.0}
    raw = {"str": 0, "int": 0}
    enc_bytes = {"str": 0, "int": 0}
    group_col = bench.spec.group_col
    by_chunk: dict[tuple, dict] = {}
    for pk, cid, col, blk in zip(*(blocks.column(c).to_pylist()
                                   for c in ("part_key", "chunk_id", "column", "block"))):
        by_chunk.setdefault((pk, cid), {})[col] = blk
    fsst_cache: dict = {}
    for chunk in by_chunk.values():
        decoded = {}
        for col, blk in chunk.items():
            cls = "str" if kinds[col] == "str" else "int"
            t0 = time.perf_counter()
            decoded[col] = decode_column(blk)
            secs[("dec", cls)] += time.perf_counter() - t0
            enc_bytes[cls] += len(blk)
        segments = _run_lengths(decoded[group_col]) if group_col in decoded else None
        for col, arr in decoded.items():
            kind = kinds[col]
            cls = "str" if kind == "str" else "int"
            if cls == "str":
                raw[cls] += int(pc.sum(pc.binary_length(arr)).as_py() or 0) + 4 * len(arr)
                t0 = time.perf_counter()
                encode_column(arr, "str", fsst_cache=fsst_cache, cache_key=col)
            else:
                raw[cls] += 8 * len(arr)
                t0 = time.perf_counter()
                encode_column(arr, "f64" if kind == "f64" else "int", segments=segments)
            secs[("enc", cls)] += time.perf_counter() - t0
    out = {}
    for (d, cls), s in secs.items():
        name = "encode" if d == "enc" else "decode"
        out[f"selector.{name}_MBps.{cls}"] = (raw[cls] / 2**20 / s if s else 0.0, "MB/s")
    for cls, b in enc_bytes.items():
        out[f"selector.encoded_bytes.{cls}"] = (b, "bytes")
    names = [c.removeprefix("nullable+") for c in blocks.column("codec").to_pylist()]
    for codec in CODECS:
        out[f"selector.codec_chunks.{codec}"] = (names.count(codec), "count")
    out["selector.codec_chunks.other"] = (
        sum(1 for n in names if n not in CODECS), "count")
    store_bytes = sum(f.stat().st_size for f in (bench.store / "blocks").rglob("*.parquet"))
    total_enc = pc.sum(blocks.column("encoded_bytes")).as_py()
    out["lineage.store_bytes_per_encoded_byte"] = (store_bytes / total_enc, "ratio")
    return out


def read_probe(bench) -> dict:
    from pyspark.sql import functions as F
    from varint_spark import aggregate, lineage
    from varint_spark.engine import decode_blocks

    root = str(bench.store)
    with bench.tr.span("lineage.read_blocks"):
        read_s = _timed(lambda: lineage.read_blocks(bench.spark, root), reps=3)
    blocks = lineage.read_blocks(bench.spark, root).drop("pk")
    agg_cols = list(bench.spec.agg_cols)
    with bench.tr.span("aggregate.aggregate_blocks_meta"):
        meta_s = _timed(lambda: aggregate.aggregate_blocks_meta(blocks, agg_cols).collect(),
                        reps=3)
    cached = blocks.cache()
    try:
        cached.count()
        with bench.tr.span("engine.decode_blocks"):
            decode_s = _timed(lambda: decode_blocks(cached, bench.schema_ddl)
                              .agg(F.count(F.lit(1))).collect())
            proj_s = _timed(lambda: decode_blocks(cached, bench.schema_ddl,
                                                  columns=list(bench.spec.proj_cols))
                            .agg(F.count(F.lit(1))).collect())
    finally:
        cached.unpersist()
    out = {"lineage.read_blocks_s": (read_s, "s"), "aggregate.meta_s": (meta_s, "s"),
           "engine.decode_s": (decode_s, "s"), "engine.proj_decode_s": (proj_s, "s")}
    out.update(prune_probe(bench, blocks))
    return out


def prune_probe(bench, blocks) -> dict:
    """Per query kind, on the first query of that kind: chunks kept by
    pruning ÷ all chunks, and rows returned ÷ rows in the kept chunks."""
    from pyspark.sql import functions as F
    from varint_spark import engine

    s = bench.spec
    total = blocks.select("part_key", "chunk_id").distinct().count()
    returned = {q["id"]: got[0] for kind, q, got, _ in bench.results
                if kind in PRUNED_QUERIES and got is not None}
    out = {}
    for kind in PRUNED_QUERIES:
        q = next(q for q in bench.queries if q["kind"] == kind)
        if kind == "range":
            col, kept = s.range_col, engine.prune_chunks(blocks, s.range_col,
                                                         q["lo"], q["hi"])
        elif kind == "point" and s.point_kind == "str":
            col, kept = s.point_col, engine.prune_chunks_str(blocks, s.point_col,
                                                             eq=q["value"])
        elif kind == "point":
            col, kept = s.point_col, engine.prune_chunks(blocks, s.point_col,
                                                         q["value"], q["value"])
        else:
            col, kept = s.tail_col, engine.prune_chunks(blocks, s.tail_col, q["lo"], None)
        n_kept = kept.select("part_key", "chunk_id").distinct().count()
        scanned = kept.filter(F.col("column") == col).agg(F.sum("count")).first()[0] or 0
        out[f"engine.prune_survival.{kind}"] = (n_kept / total, "ratio")
        out[f"random_access.rows_returned_per_row_scanned.{kind}"] = (
            returned.get(q["id"], 0) / scanned if scanned else 0.0, "ratio")
    return out


def spark_probe(bench) -> dict:
    """Jobs of each operation kind, read back from the status tracker by job
    group: mean stages and tasks per operation, and failed tasks."""
    st = bench.sc.statusTracker()
    out = {}
    for kind in OPS:
        groups = bench.groups.get(kind, [])
        stages = tasks = failed = 0
        for g in groups:
            for j in st.getJobIdsForGroup(g):
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        n = max(len(groups), 1)
        out[f"spark.stages.{kind}"] = (stages / n, "count")
        out[f"spark.tasks.{kind}"] = (tasks / n, "count")
        out[f"spark.failed_tasks.{kind}"] = (failed, "count")
    return out


def layer_metrics(bench) -> dict:
    self_s = bench.tr.self_times()  # of set-up and the traced pass, before the probes
    out = {
        "session.get_spark_s": (bench.get_spark_s, "s"),
        "input.generate_s": (bench.generate_s, "s"),
    }
    out.update(spark_probe(bench))  # before the probes add jobs of their own
    bench.tr.op_id = "probes"
    out.update(encode_probe(bench))
    out["lineage.write_commit_s"] = (
        statistics.median(bench.lat["ingest"]) - out["engine.encode_s"][0], "s")
    out["lineage.resume_plan_s"] = (statistics.median(bench.lat["resume"]), "s")
    out.update(read_probe(bench))
    out.update(selector_probe(bench))
    for layer in LAYERS:
        out[f"self_s.{layer}"] = (self_s.get(layer, 0.0), "s")
    return out
