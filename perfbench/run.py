"""Engine benchmark: seeded closed-loop workloads over varint_spark.

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 5 --trace 0

One driver process is the single client of a closed loop: each operation
starts only after the previous one has returned. A run sets up once from
cold (JVM, session, seeded input: ``setup_s``), then spends ``--seconds``
on three phases over that input, each for its share of the time and at
least its minimum rounds:

* ingest    - ``lineage.encode_checkpointed`` into a fresh store (a traced
              run repeats the call against the committed store: a no-op
              resume);
* scan      - ``read_blocks`` -> ``decode_blocks`` of whole rows;
* selective - a seeded mix of a timestamp window, a group-key equality, a
              zone-map-pruned tail and a metadata aggregate, each starting
              from ``read_blocks`` and projecting only what it returns.

Each runs between two runs of its plain-Spark reference: a parquet write of
the same rows, a parquet scan of the source, one aggregate pass over the
source answering the four queries.

Each scan and query result must equal its plain-Spark reference's; a wrong
or failed operation counts in ``failed`` and the exit code is 1.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``
(perfbench/README.md maps each to the end-to-end metric it should move).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import inputs
import tracing

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench"
# (phase, share of --seconds, minimum rounds). The first ingest of a run is
# cold: it starts the Python workers and the JVM compiles its plan, as in a
# one-shot ingest job. The time budget of a run affords one round of each
# phase, two of the short scan; a traced run ingests twice, the second time
# in another row order, to check that the blocks do not depend on it.
PHASES = (("ingest", 0.40, 1), ("scan", 0.15, 2), ("selective", 0.45, 1))
TRACED_ROUNDS = {"ingest": 2, "scan": 1, "selective": 1}
SELECTIVE = ("range", "point", "pruned", "agg")
CHUNK_ROWS = 4096
SALT_SPAN = 2 * CHUNK_ROWS

# Each ingest, scan and round of queries runs between two runs of the
# plain-Spark operation that does the same job on the source parquet (for
# the four queries: one aggregate pass answering all of them). The time
# metrics are engine time over the mean reference time, because a shared
# host slows both alike: over ten seeds on one, absolute times spread
# 0.56-0.72 (quartile distance over median), these ratios 0.11-0.19.
REFERENCE = {"ingest": "parquet_write", "scan": "parquet_scan", "query": "parquet_query"}
E2E_UNITS = {
    "setup_s": "s",
    "ingest_time_vs_parquet_write": "ratio",
    "compression_ratio": "ratio",
    "scan_time_vs_parquet_scan": "ratio",
    "query_time_vs_parquet_query": "ratio",
    "peak_rss_mb": "MB",
}


class BenchError(Exception):
    """A wrong result or a broken precondition of the benchmark itself."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path) -> dict:
    """Fix everything a run depends on before the JVM starts, and return it
    for the record."""
    cpus = nproc()
    driver_mb = min(2048, tracing.total_memory_mb() // 4)
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # the Python workers import varint_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS":
            (f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
             "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    others = tracing.contending_processes()
    for cmd in others:
        print(f"warning: contending process running: {cmd}", file=sys.stderr)
    return {"master": f"local[{cpus}]", "nproc": cpus,
            "driver_memory": f"{driver_mb}m", "local_dirs": str(local),
            "loadavg_1m": os.getloadavg()[0], "contending_processes": len(others)}


class Bench:
    def __init__(self, args, work: Path, rss: tracing.RssSampler):
        from varint_spark.engine import EncodeOptions

        self.args = args
        self.work = work
        self.rss = rss
        self.spec = inputs.SPECS[args.workload]
        self.sizes = inputs.Sizes().scaled(args.scale)
        self.tr = tracing.Tracer(bool(args.trace))
        self.rng = random.Random(args.seed)
        self.opts = EncodeOptions(num_buckets=2 * nproc(), chunk_rows=CHUNK_ROWS,
                                  salt_span=SALT_SPAN, group_col=self.spec.group_col,
                                  order_col=self.spec.order_col)
        self.lat: dict[str, list[float]] = {}
        self.groups: dict[str, list[str]] = {}
        self.attempted = 0
        self.failed = 0
        self.n_ops = 0
        self.store_seq = 0
        self.store: Path | None = None
        self.digest: str | None = None
        self.ratio: float | None = None
        self.results: list[tuple[str, dict | None, object, object]] = []
        self.queries: list[dict] = []
        self.setup_s = self.get_spark_s = self.generate_s = None
        self.spark = None

    # --- set-up ---------------------------------------------------------

    def setup(self) -> None:
        """One cold set-up, timed whole as ``setup_s``: JVM launch and
        session start, seeded input generation and input statistics."""
        from varint_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tr.span("session.get_spark"):
            self.spark = get_spark("perfbench", master=f"local[{nproc()}]",
                                   shuffle_partitions=nproc())
        self.get_spark_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        out = self.work / "input"
        with self.tr.span("input.generate"):
            write = (inputs.write_transcripts if self.spec.name == "transcripts"
                     else inputs.write_lineitem)
            self.src_paths = write(out, self.args.seed, self.sizes)
        self.generate_s = time.perf_counter() - t1
        self.sc = self.spark.sparkContext
        src = self.source()
        self.schema_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                                    for f in src.schema.fields)
        (self.n_rows, self.range_lo, self.range_hi,
         self.tail_min, self.tail_max) = inputs.stats(self.src_paths[0], self.spec)
        self.setup_s = time.perf_counter() - t0

    def source(self):
        return self.spark.read.parquet(self.src_paths[0])

    # --- operations -----------------------------------------------------

    def op(self, kind: str, fn):
        """One timed operation. Returns fn's result, or None when it raised
        (counted as failed)."""
        self.attempted += 1
        self.n_ops += 1
        group = f"{kind}-{self.n_ops}"
        self.sc.setJobGroup(group, kind)
        # CacheManager guard: a cached identical plan would turn the timed
        # call into a cache read
        self.spark.catalog.clearCache()
        self.tr.op_id = group
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{kind}"):
                res = fn()
        except Exception:  # one failed operation must not end the run
            self.fail(kind, traceback.format_exc())
            return None
        self.lat.setdefault(kind, []).append(time.perf_counter() - t0)
        self.groups.setdefault(kind, []).append(group)
        return res

    def fail(self, kind: str, detail) -> None:
        self.failed += 1
        print(f"FAILED {kind}: {detail}", file=sys.stderr)

    def check(self, kind: str, ok: bool, detail) -> None:
        if not ok:
            self.fail(kind, detail)

    def blocks(self):
        from varint_spark import lineage
        with self.tr.span("lineage.read_blocks"):
            return lineage.read_blocks(self.spark, str(self.store)).drop("pk")

    def collect(self, df, cols):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if "InMemoryRelation" in plan:
            raise BenchError("timed read plan contains an InMemoryRelation")
        with self.tr.span("spark.collect"):
            return inputs.count_and_checksum(df, cols)

    def ingest_round(self) -> None:
        """A fresh-store ingest between two plain parquet writes of the same
        rows; in a traced run also a no-op resume."""
        from varint_spark import lineage

        # successive ingests cycle through the input's row orders
        src_path = self.src_paths[self.store_seq % len(self.src_paths)]
        root = self.work / "stores" / f"s{self.store_seq}"
        self.store_seq += 1

        def encode():
            df = self.spark.read.parquet(src_path)
            with self.tr.span("lineage.encode_checkpointed"):
                return lineage.encode_checkpointed(df, str(root), self.opts)

        ref = self.work / "parquet_write"

        def write():
            self.op(REFERENCE["ingest"], lambda: self.spark.read.parquet(src_path)
                    .write.parquet(str(ref)))
            shutil.rmtree(ref, ignore_errors=True)

        write()
        r = self.op("ingest", encode)
        write()
        if r is None:
            return
        self.check("ingest", r["partitions_encoded"] > 0
                   and r["partitions_skipped"] == 0, r)
        self.check_cache_empty("ingest")
        self.check_lineage(root)
        r2 = self.op("resume", encode) if self.args.trace else None
        if r2 is not None:
            self.check("resume", r2["partitions_encoded"] == 0
                       and r2["partitions_skipped"] == r["partitions_encoded"], r2)
        if self.store is not None:
            shutil.rmtree(self.store)
        self.store = root

    def check_cache_empty(self, kind: str) -> None:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        self.check(kind, cm.isEmpty(), "the engine left a cached plan behind")

    def check_lineage(self, root: Path) -> None:
        """Lineage digests must be identical across repeated ingests (for
        lineitem, between the file-order and the permuted input); row counts
        must match the source."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        lin = pq.read_table(root / "lineage").sort_by([("part_key", "ascending"),
                                                       ("column", "ascending")])
        h = hashlib.sha256()
        for pk, col, dg in zip(*(lin.column(c).to_pylist()
                                 for c in ("part_key", "column", "digest"))):
            h.update(f"{pk}|{col}|{dg}\n".encode())
        digest = h.hexdigest()
        if self.digest is None:
            self.digest = digest
        self.check("ingest", digest == self.digest,
                   f"lineage digest {digest[:12]} != first ingest {self.digest[:12]}")
        group_rows = pc.sum(lin.filter(pc.equal(lin["column"], self.spec.group_col))
                            ["values"]).as_py()
        self.check("ingest", group_rows == self.n_rows,
                   f"lineage holds {group_rows} rows, source {self.n_rows}")
        self.ratio = (pc.sum(lin["raw_bytes"]).as_py()
                      / pc.sum(lin["encoded_bytes"]).as_py())

    def scan(self, cols):
        from varint_spark.engine import decode_blocks
        blocks = self.blocks()
        with self.tr.span("engine.decode_blocks"):
            df = decode_blocks(blocks, self.schema_ddl, columns=cols)
        return self.collect(df, cols or df.columns)

    def scan_round(self) -> None:
        src = self.source()

        def reference():
            return self.op(REFERENCE["scan"],
                           lambda: inputs.count_and_checksum(src, src.columns))

        reference()
        res = self.op("scan", lambda: self.scan(None))
        self.results.append(("scan", None, res, reference()))

    def make_query(self, kind: str, qid: int) -> dict:
        s, z, r = self.spec, self.sizes, self.rng
        if kind == "range":
            width = s.range_width_s * inputs.US_PER_S
            lo = r.randrange(self.range_lo, self.range_hi - width)
            return {"kind": kind, "id": qid, "lo": lo, "hi": lo + width,
                    "cols": [s.group_col, s.order_col, s.range_col]}
        if kind == "point":
            value = (f"conv-{r.randrange(z.conversations):08d}" if s.point_kind == "str"
                     else r.randrange(self.tail_min, self.tail_max + 1))
            return {"kind": kind, "id": qid, "value": value,
                    "cols": [s.group_col, s.order_col]}
        if kind == "pruned":
            if s.name == "transcripts":  # only the hot conversations reach it
                lo = r.randrange(z.hot_turns // 6, z.hot_turns - z.hot_turns // 30)
            else:  # the top 3-20% of the window's order keys
                span = self.tail_max - self.tail_min
                lo = r.randrange(self.tail_min + int(span * 0.8),
                                 self.tail_min + int(span * 0.97))
            return {"kind": kind, "id": qid, "lo": lo, "cols": [s.group_col, s.order_col]}
        return {"kind": kind, "id": qid, "cols": list(s.agg_cols)}

    def query(self, q: dict):
        from varint_spark import aggregate, engine

        s = self.spec
        blocks = self.blocks()
        if q["kind"] == "agg":
            with self.tr.span("aggregate.aggregate_blocks_meta"):
                df = aggregate.aggregate_blocks_meta(blocks, q["cols"])
            with self.tr.span("spark.collect"):
                rows = {r["column"]: r for r in df.collect()}
            return tuple((c, rows[c]["n_nonnull"], rows[c]["min_val"],
                          rows[c]["max_val"], rows[c]["sum_val"]) for c in q["cols"])
        col, kw = s.range_col, {}
        if q["kind"] == "range":
            with self.tr.span("engine.prune_chunks"):
                blocks = engine.prune_chunks(blocks, col, q["lo"], q["hi"])
            lo, kw = q["lo"], {"hi": q["hi"]}
        elif q["kind"] == "point" and s.point_kind == "str":
            col, lo, kw = s.point_col, None, {"eq": q["value"]}
            with self.tr.span("engine.prune_chunks_str"):
                blocks = engine.prune_chunks_str(blocks, col, eq=q["value"])
        elif q["kind"] == "point":
            col, lo, kw = s.point_col, q["value"], {"hi": q["value"]}
            with self.tr.span("engine.prune_chunks"):
                blocks = engine.prune_chunks(blocks, col, lo, lo)
        else:
            col, lo = s.tail_col, q["lo"]
            with self.tr.span("engine.prune_chunks"):
                blocks = engine.prune_chunks(blocks, col, lo, None)
        with self.tr.span("engine.decode_blocks_where"):
            df = engine.decode_blocks_where(blocks, self.schema_ddl, col, lo,
                                            columns=q["cols"], **kw)
        return self.collect(df, q["cols"])

    def selective_round(self) -> None:
        kinds = list(SELECTIVE)
        self.rng.shuffle(kinds)
        qs = [self.make_query(kind, len(self.queries) + i) for i, kind in enumerate(kinds)]
        self.queries += qs

        def reference():
            return self.op(REFERENCE["query"],
                           lambda: inputs.query_reference(self.source(), self.spec, qs))

        reference()
        got = [self.op(q["kind"], lambda q=q: self.query(q)) for q in qs]
        want = reference() or {}
        self.results += [(q["kind"], q, res, want.get(q["id"])) for q, res in zip(qs, got)]

    # --- phases ---------------------------------------------------------

    def measure(self, seconds: float, min_rounds: dict | None = None) -> None:
        """Run the three phases in turn, each for its share of ``seconds``
        and at least its minimum rounds."""
        for phase, share, least in PHASES:
            least = least if min_rounds is None else min_rounds[phase]
            t0 = time.perf_counter()
            i = 0
            while i < least or time.perf_counter() < t0 + seconds * share:
                if phase == "ingest":
                    self.ingest_round()
                elif self.store is None:
                    raise BenchError("no committed store to read")
                elif phase == "scan":
                    self.scan_round()
                else:
                    self.selective_round()
                i += 1
            print(f"phase {phase}: {i} rounds in {time.perf_counter() - t0:.1f}s",
                  file=sys.stderr)

    # --- verification ---------------------------------------------------

    def verify(self) -> None:
        """Every scan and query result against the answer of its plain-Spark
        reference operation (a failed operation is counted already)."""
        for n, (kind, q, got, want) in enumerate(self.results):
            if got is None or want is None:
                continue
            if self.args.inject_fault and n == 0:
                got = (got[0] + 1,) + tuple(got[1:])
            self.check(kind, tuple(got) == tuple(want),
                       f"result {got} != reference {want} for {q}")

    # --- driver ---------------------------------------------------------

    def run(self) -> dict:
        self.setup()
        print(f"setup: {self.setup_s:.1f}s, get_spark {self.get_spark_s:.1f}s, "
              f"generate {self.generate_s:.1f}s", file=sys.stderr)
        if not self.args.trace:
            self.measure(self.args.seconds)
            print("latencies_s " + json.dumps(self.lat), file=sys.stderr)
            self.verify()
            metrics = self.e2e_metrics()
        else:
            import probes
            # one round of each phase with spans around every call into a
            # layer, then the probes time each layer on its own
            n_spans = len(self.tr.spans)
            t0 = time.perf_counter()
            self.measure(0, min_rounds=TRACED_ROUNDS)
            traced_wall = time.perf_counter() - t0
            n_spans = len(self.tr.spans) - n_spans
            self.verify()
            metrics = probes.layer_metrics(self)
            metrics["trace.overhead_s"] = (n_spans * tracing.Tracer.span_cost_s(), "s")
            trace_file = WORK_ROOT / "traces" / (
                f"{self.spec.name}-seed{self.args.seed}-{os.getpid()}.json")
            self.tr.write(trace_file, {
                "workload": self.spec.name, "seed": self.args.seed,
                "traced_wall_s": traced_wall, "traced_pass_spans": n_spans,
                "overhead_s": metrics["trace.overhead_s"][0]})
            print(json.dumps({"trace_file": str(trace_file.relative_to(ROOT))}))
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def e2e_metrics(self) -> dict:
        def vs_reference(kinds, ref):
            """Engine time per round over the mean time of its reference."""
            rounds = len(self.lat[kinds[0]])
            engine = sum(sum(self.lat[k]) for k in kinds) / rounds
            return engine / statistics.mean(self.lat[REFERENCE[ref]])

        out = {
            "setup_s": self.setup_s,
            "ingest_time_vs_parquet_write": vs_reference(["ingest"], "ingest"),
            "compression_ratio": self.ratio,
            "scan_time_vs_parquet_scan": vs_reference(["scan"], "scan"),
            "query_time_vs_parquet_query": vs_reference(SELECTIVE, "query"),
            "peak_rss_mb": self.rss.peak / 2**20,
        }
        return {k: (out[k], E2E_UNITS[k]) for k in E2E_UNITS}

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers are gone."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while len(tracing.descendants(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(inputs.SPECS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the self-test runs tiny inputs)")
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt one result before checking it (self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    import varint_spark  # noqa: F401  (fails fast outside a full checkout)

    work = WORK_ROOT / f"run-{os.getpid()}-{time.time_ns()}"
    bench = None
    try:
        print(json.dumps({"env": pin_environment(work), "workload": args.workload,
                          "seed": args.seed}), flush=True)
        with tracing.RssSampler() as rss:
            bench = Bench(args, work, rss)
            try:
                result = bench.run()
            finally:
                bench.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
