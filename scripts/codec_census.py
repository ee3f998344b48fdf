"""Codec census: which codecs win the cost gate, and what each one saves.

    python scripts/codec_census.py TABLES_DIR [--scale F] [--together a,b,...]

Encodes, in-process and without Spark, through the engine's own per-chunk
encode (``engine._encode_chunk_rows``):

* the perfbench ``transcripts`` and ``lineitem`` inputs at seed 1 (``--scale``
  sizes them as in ``perfbench/run.py``), partitioned as the benchmark's
  ingest partitions them: 8 buckets (a 4-core host), salt groups of 8192,
  4096-row chunks. Buckets hash the group key with crc32, where Spark uses
  murmur3, so the chunk boundaries approximate the engine's;
* every non-empty ``*.parquet`` table in TABLES_DIR, rows in file order,
  in 64 Ki-row chunks;
* ``TABLES_DIR/lineitem.parquet`` sorted by (l_orderkey, l_linenumber), in
  64 Ki-row chunks with the order-key runs as segments.

Each block is decoded once, recording every block the decoders open: the
top-level codec, and the nested ones (NULLABLE inners, DICT_STR codes,
SEG_DELTA streams, F64_LOSSY and MATRIX_F32 sub-blocks).

For each codec the cost gate chooses between, it then re-encodes every
column the codec appears in (top-level or nested) with the codec left out of
the gate, and reports the bytes that adds, as a share of the input's
encoded bytes. A codec that appears nowhere costs nothing to drop: the gate
keeps the first smallest candidate, and removing a losing candidate does not
change that. ``--together`` drops a set of codecs at once.
"""

from __future__ import annotations

import argparse
import contextlib
import sys
import tempfile
import time
import zlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import inputs  # noqa: E402  (perfbench/inputs.py)
from pyspark.sql.pandas.types import from_arrow_schema  # noqa: E402

from varint_spark import engine, selector  # noqa: E402
from varint_spark.codecs import blocks, segdelta, strings  # noqa: E402

BUCKETS = 8
CHUNK_ROWS = 4096
SALT_SPAN = 2 * CHUNK_ROWS
TABLE_CHUNK_ROWS = engine.DEFAULT_CHUNK_ROWS

# codecs the gate cannot drop, and why
ROLES = {
    "plain_int": "floor", "leb128_zz": "floor", "plain_str": "floor",
    "nullable": "wrapper", "matrix_f32": "f32list kind", "f64_lossy": "opt-in",
    "dict_str_shared": "shared tables", "fsst_str_shared": "shared tables",
}


@dataclass
class Input:
    name: str
    groups: list            # pa.Tables, each sorted and chunked on its own
    chunk_rows: int
    group_col: str | None   # run lengths of this column are the segments
    kinds: dict


class _Loses:
    """A dropped built candidate: longer than any block, so it never wins."""

    def __len__(self):
        return sys.maxsize


@contextlib.contextmanager
def gate_without(names):
    """The cost gate with the named codecs left out."""
    ids = {blocks.CODEC_IDS[n] for n in names}
    candidates = selector.candidate_int_codecs
    patches = [(selector, "candidate_int_codecs",
                lambda s: [c for c in candidates(s) if c not in ids])]
    if blocks.SEG_DELTA in ids:
        patches.append((segdelta, "encode", lambda *a, **k: _Loses()))
    if blocks.DICT_STR in ids:
        patches.append((strings, "encode_dict", lambda *a, **k: _Loses()))
    if blocks.FSST_STR in ids:
        patches.append((strings, "encode_fsst", lambda *a, **k: None))
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    for mod, attr, fn in patches:
        setattr(mod, attr, fn)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def block_codecs(block: bytes) -> list[str]:
    """Codec names of ``block`` and of every block nested in it, top-level
    first, recorded while the block decodes."""
    seen: list[str] = []
    column, int_block = selector.decode_column, selector.decode_int_block

    def rec(fn):
        def wrapped(buf, *args, **kwargs):
            seen.append(blocks.CODEC_NAMES[blocks.unpack_block(buf)[0]])
            return fn(buf, *args, **kwargs)
        return wrapped

    selector.decode_column, selector.decode_int_block = rec(column), rec(int_block)
    try:
        selector.decode_column(block)
    finally:
        selector.decode_column, selector.decode_int_block = column, int_block
    return seen


def encode(inp: Input, columns=None) -> dict:
    """(group, chunk, column) -> block bytes."""
    kinds = {c: k for c, k in inp.kinds.items() if columns is None or c in columns}
    out = {}
    for g, table in enumerate(inp.groups):
        cols = {c: table.column(c).combine_chunks() for c in inp.kinds}
        fsst_cache: dict = {}
        for chunk_id, start in enumerate(range(0, table.num_rows, inp.chunk_rows)):
            m = min(inp.chunk_rows, table.num_rows - start)
            chunk = {c: a.slice(start, m) for c, a in cols.items()}
            segments = engine._run_lengths(chunk[inp.group_col]) if inp.group_col else None
            for row in engine._encode_chunk_rows(chunk, m, "", chunk_id, kinds,
                                                 segments=segments, fsst_cache=fsst_cache):
                out[g, chunk_id, row["column"]] = row["block"]
    return out


def _kinds(table: pa.Table) -> dict:
    return engine.kinds_for_schema(from_arrow_schema(table.schema))


def perfbench_input(name: str, table: pa.Table) -> Input:
    """The benchmark's ingest partitions: (bucket, salt) groups, each
    sorted by (group, order)."""
    spec = inputs.SPECS[name]
    keys = table[spec.group_col]
    uniq = pc.unique(keys)
    hashes = np.array([zlib.crc32(str(v).encode()) % BUCKETS for v in uniq.to_pylist()])
    bucket = hashes[pc.index_in(keys, value_set=uniq).to_numpy()]
    salt = table[spec.order_col].to_numpy().astype(np.int64) // SALT_SPAN
    part = bucket * (1 << 40) + salt
    keyed = table.append_column("_part", pa.array(part)).sort_by(
        [("_part", "ascending"), (spec.group_col, "ascending"),
         (spec.order_col, "ascending")])
    parts = keyed["_part"].to_numpy()
    bounds = np.flatnonzero(np.diff(parts)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(parts)]])
    keyed = keyed.drop_columns(["_part"])
    return Input(f"perfbench {name} seed 1",
                 [keyed.slice(s, e - s) for s, e in zip(starts, ends)],
                 CHUNK_ROWS, spec.group_col, _kinds(table))


def census_inputs(tables_dir: Path, scale: float) -> list[Input]:
    sizes = inputs.Sizes().scaled(scale)
    with tempfile.TemporaryDirectory() as tmp:
        transcripts = pq.read_table(inputs.write_transcripts(Path(tmp), 1, sizes)[0])
    out = [perfbench_input("transcripts", transcripts),
           perfbench_input("lineitem", inputs.lineitem_window(1, sizes))]
    for path in sorted(tables_dir.glob("*.parquet")):
        table = pq.read_table(path)
        if table.num_rows:
            out.append(Input(path.stem, [table], TABLE_CHUNK_ROWS, None, _kinds(table)))
    lineitem = tables_dir / "lineitem.parquet"
    if lineitem.exists():
        table = pq.read_table(lineitem).sort_by(
            [("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
        out.append(Input("lineitem sorted by key", [table], TABLE_CHUNK_ROWS,
                         "l_orderkey", _kinds(table)))
    return out


def drop_cost(inp: Input, base: dict, appears: dict, names) -> int:
    """Bytes added to ``inp`` when ``names`` leave the gate."""
    cols = {c for c, seen in appears.items() if seen & set(names)}
    if not cols:
        return 0
    with gate_without(names):
        new = encode(inp, cols)
    return sum(len(b) for b in new.values()) - sum(
        len(b) for k, b in base.items() if k[2] in cols)


def pct(added: int, total: int) -> str:
    return f"{100 * added / total:+.3f}%"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("tables_dir", type=Path)
    p.add_argument("--scale", type=float, default=1.0,
                   help="perfbench input size factor (Sizes.scaled)")
    p.add_argument("--together", default="",
                   help="comma-separated codecs to drop at once as well")
    args = p.parse_args()
    t0 = time.perf_counter()
    together = [n for n in args.together.split(",") if n]
    absent = [n for n in together if n not in blocks.CODEC_IDS]
    together = [n for n in together if n in blocks.CODEC_IDS]
    droppable = [n for n in blocks.CODEC_NAMES.values() if n not in ROLES]

    top = dict.fromkeys(blocks.CODEC_NAMES.values(), 0)
    nested = dict(top)
    costs: dict[str, dict[str, str]] = {n: {} for n in droppable}
    worst: dict[str, tuple[float, str]] = {n: (0.0, "-") for n in droppable}
    rows, together_costs = [], []
    for inp in census_inputs(args.tables_dir, args.scale):
        base = encode(inp)
        total = sum(len(b) for b in base.values())
        appears: dict[str, set] = {c: set() for c in inp.kinds}
        for (_, _, col), block in base.items():
            names = block_codecs(block)
            top[names[0]] += 1
            for n in names[1:]:
                nested[n] += 1
            appears[col].update(names)
        chunks = len({k[:2] for k in base})
        rows.append((inp.name, chunks, len(base), total))
        for n in droppable:
            added = drop_cost(inp, base, appears, [n])
            costs[n][inp.name] = pct(added, total)
            if added / total > worst[n][0]:
                worst[n] = (added / total, inp.name)
        if together:
            together_costs.append(
                (inp.name, pct(drop_cost(inp, base, appears, together), total)))

    print(f"{'input':<30}{'chunks':>8}{'blocks':>8}{'encoded B':>12}")
    for name, chunks, n_blocks, total in rows:
        print(f"{name:<30}{chunks:>8}{n_blocks:>8}{total:>12}")
    print(f"\n{'codec':<17}{'gate role':<15}{'top':>6}{'nested':>8}"
          f"{'worst drop':>12}  on input")
    for n in blocks.CODEC_NAMES.values():
        if n in ROLES:
            print(f"{n:<17}{ROLES[n]:<15}{top[n]:>6}{nested[n]:>8}{'-':>12}")
        else:
            frac, where = worst[n]
            print(f"{n:<17}{'candidate':<15}{top[n]:>6}{nested[n]:>8}"
                  f"{100 * frac:>+11.3f}%  {where}")
    print("\ndrop cost by input (codecs with a cost anywhere):")
    for n in droppable:
        if worst[n][0] > 0:
            print(f"  {n}: " + ", ".join(f"{k} {v}" for k, v in costs[n].items()
                                         if v != pct(0, 1)))
    if together or absent:
        print(f"\nall of {','.join(together + absent)} dropped together:"
              + (f" (not in this build: {','.join(absent)})" if absent else ""))
        for name, cost in together_costs:
            print(f"  {name:<30}{cost}")
    print(f"\n{time.perf_counter() - t0:.0f} s")


if __name__ == "__main__":
    main()
