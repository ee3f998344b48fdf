"""Seeded inputs of the two workloads, and the plain-Spark reference
operations whose answers the engine's results are checked against.

``transcripts`` is the engine's own synthetic transcript table
(``varint_spark.transcripts.generate_pandas``): text-heavy, with three
hot conversations long enough to be split by salting.

``lineitem`` is the TPC-H sf0.1 ``lineitem`` table shipped in
``perfbench/data`` (9 of its 11 columns are int, f64 or timestamp). The
seed picks a window of order keys; rows repeating an (l_orderkey,
l_linenumber) pair are dropped, keeping the first in file order, so that the
engine's (group, order) sort has no ties and the encoded blocks do not depend
on the order rows arrive in.
"""

from __future__ import annotations

import dataclasses
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM = Path(__file__).resolve().parent / "data" / "lineitem.parquet"
US_PER_S = 1_000_000


@dataclasses.dataclass(frozen=True)
class Sizes:
    """Input sizes. The defaults give ~170k transcript turns (~80k cold
    plus three hot conversations of 30k turns) and ~115k lineitem rows
    (a window of 37.5k order keys)."""
    conversations: int = 4000
    hot: int = 3
    hot_turns: int = 30_000
    order_keys: int = 37_500

    def scaled(self, f: float) -> "Sizes":
        return Sizes(conversations=max(50, int(self.conversations * f)),
                     hot=self.hot, hot_turns=max(600, int(self.hot_turns * f)),
                     order_keys=max(500, int(self.order_keys * f)))


@dataclasses.dataclass(frozen=True)
class Spec:
    """How a workload's table is encoded and queried."""
    name: str
    group_col: str
    order_col: str
    range_col: str          # timestamp column of the window query
    range_width_s: int
    point_col: str          # equality query column
    point_kind: str         # 'str' or 'int'
    tail_col: str           # `tail_col >= t` query column (zone maps prune it)
    agg_cols: tuple         # aggregate_blocks_meta columns
    proj_cols: tuple        # projected decode columns (traced run)


TRANSCRIPTS = Spec("transcripts", group_col="conv_id", order_col="turn_idx",
                   range_col="ts", range_width_s=3600,
                   point_col="conv_id", point_kind="str",
                   tail_col="turn_idx", agg_cols=("turn_idx",),
                   proj_cols=("conv_id", "ts"))
LINEITEM_SPEC = Spec("lineitem", group_col="l_orderkey", order_col="l_linenumber",
                     range_col="l_shipdate", range_width_s=7 * 86_400,
                     point_col="l_orderkey", point_kind="int",
                     tail_col="l_orderkey", agg_cols=("l_linenumber", "l_partkey"),
                     proj_cols=("l_orderkey", "l_shipdate"))
SPECS = {s.name: s for s in (TRANSCRIPTS, LINEITEM_SPEC)}


def write_transcripts(out_dir: Path, seed: int, sizes: Sizes) -> list[str]:
    """Generated in the driver (``generate_pandas`` gives the same rows as
    ``generate_distributed``, without a Spark job in set-up)."""
    from varint_spark import transcripts
    pdf = transcripts.generate_pandas(sizes.conversations, seed=seed, n_hot=sizes.hot,
                                      hot_turns=sizes.hot_turns)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # a zone-less timestamp would read back as TIMESTAMP_NTZ
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", table["ts"].cast(pa.timestamp("us", tz="UTC")))
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "transcripts.parquet"
    pq.write_table(table.replace_schema_metadata(None), path)
    return [str(path)]


def lineitem_window(seed: int, sizes: Sizes) -> pa.Table:
    """The seed's window of order keys, without repeated (l_orderkey,
    l_linenumber) pairs, in file order."""
    table = pq.read_table(LINEITEM)
    keys = table["l_orderkey"].to_numpy()
    pair = keys * 8 + table["l_linenumber"].to_numpy()
    _, first = np.unique(pair, return_index=True)
    first.sort()
    top = int(keys.max()) + 1
    lo = random.Random(seed).randrange(0, max(1, top - sizes.order_keys))
    inside = (keys[first] >= lo) & (keys[first] < lo + sizes.order_keys)
    return table.take(pa.array(first[inside]))


def write_lineitem(out_dir: Path, seed: int, sizes: Sizes) -> list[str]:
    """The window twice: in file order and in a seeded row order. Repeated
    ingests alternate between the two, and the lineage digests of every
    ingest must agree."""
    table = lineitem_window(seed, sizes)
    out_dir.mkdir(parents=True, exist_ok=True)
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    paths = [out_dir / "file_order.parquet", out_dir / "permuted.parquet"]
    pq.write_table(table, paths[0])
    pq.write_table(table.take(pa.array(perm)), paths[1])
    return [str(p) for p in paths]


def stats(path: str, spec: Spec) -> tuple[int, int, int, int, int]:
    """Row count, range of ``range_col`` in epoch-µs and range of
    ``tail_col``, read in the driver."""
    import pyarrow.compute as pc
    t = pq.read_table(path, columns=[spec.range_col, spec.tail_col])
    r = pc.min_max(t[spec.range_col].cast(pa.int64()))
    tail = pc.min_max(t[spec.tail_col])
    return (t.num_rows, r["min"].as_py(), r["max"].as_py(),
            tail["min"].as_py(), tail["max"].as_py())


# --- result checks ---------------------------------------------------------

def checksum_cols(cols, where=None):
    """Order-insensitive row checksum: Σ xxhash64(row) in exact decimal
    arithmetic (an int64 sum overflows under ANSI mode), over the rows
    ``where`` holds on (all rows without it)."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(20,0)")
    if where is not None:
        h = F.when(where, h)
    return F.coalesce(F.sum(h), F.lit(0).cast("decimal(30,0)"))


def count_and_checksum(df, cols) -> tuple[int, int]:
    from pyspark.sql import functions as F
    row = df.agg(F.count(F.lit(1)).alias("n"), checksum_cols(cols).alias("h")).first()
    return int(row["n"]), int(row["h"])


def micros(col: str):
    """Stored int64 domain of a timestamp column (epoch-µs)."""
    from pyspark.sql import functions as F
    return F.unix_micros(F.to_timestamp(F.col(col)))


def query_reference(src, spec: Spec, queries: list[dict]) -> dict:
    """What plain Spark answers to ``queries``, in one aggregate pass over
    the source table: (count, checksum) of the rows a row query selects, and
    exact count/min/max/sum per column for an aggregate query; by query id."""
    from pyspark.sql import functions as F

    t = micros(spec.range_col)
    exprs = []
    for q in queries:
        if q["kind"] == "agg":
            for c in q["cols"]:
                v = F.col(c).cast("long")
                exprs += [F.count(v), F.min(v), F.max(v), F.sum(v.cast("decimal(38,0)"))]
            continue
        if q["kind"] == "range":
            where = (t >= q["lo"]) & (t <= q["hi"])
        elif q["kind"] == "point":
            where = F.col(spec.point_col) == F.lit(q["value"])
        else:
            where = F.col(spec.tail_col) >= q["lo"]
        exprs += [F.count(F.when(where, 1)), checksum_cols(q["cols"], where)]
    values = iter(src.agg(*exprs).first())
    out = {}
    for q in queries:
        if q["kind"] == "agg":
            out[q["id"]] = tuple((c, next(values), next(values), next(values),
                                  int(next(values))) for c in q["cols"])
        else:
            out[q["id"]] = (int(next(values)), int(next(values)))
    return out
