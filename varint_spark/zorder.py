"""Z-order (Morton) clustering — multi-dimensional chunk locality.

Zone maps prune on the column the data is ORDERED by; a second
predicate column sees near-full-range chunks and prunes nothing.
Interleaving the bits of both columns' normalized ranks (the Morton
curve) makes chunks locally narrow in EVERY interleaved dimension at
once, so `prune_chunks(lo=, hi=)` works for each of them — the same reason
Delta/Iceberg expose Z-ORDER clustering for multi-dim workloads.

Everything is JVM-side Catalyst expressions (shift/mask/sum unrolled
per bit — whole-stage codegen folds it); the only extra job is one tiny
min/max aggregate per dimension to scale values into the bit budget.
At 100 TB that is a metadata-priced re-layout: compute z, use it as the
engine's (group, order) keys, and both predicates' selectivity reaches
the chunk level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _scale_to_bits(c: Column, lo: int, hi: int, bits: int) -> Column:
    """Affine-map [lo, hi] into [0, 2^bits): rank-free normalization —
    monotone, so z-order locality follows value locality. Double math
    (deterministic IEEE, no int64 overflow for epoch-µs × 2^bits); the
    result only shapes LAYOUT, values never flow through it."""
    span = max(hi - lo, 1)
    return F.least(
        F.lit((1 << bits) - 1),
        ((c.cast("long") - F.lit(lo)).cast("double")
         * F.lit(((1 << bits) - 1) / span)).cast("long"))


def zvalue(cols: list[Column | str], los: list[int], his: list[int],
           bits: int = 21) -> Column:
    """Morton value of ``cols`` (2-3 dims practical: 21 bits × 3 = 63 —
    the int64 budget). ``los``/``his`` are the per-column min/max used to
    scale each into ``bits`` bits (compute once with an agg; pass as
    literals so the expression stays deterministic)."""
    n = len(cols)
    if not 1 <= n * bits <= 63:
        raise ValueError(f"{n} dims × {bits} bits exceeds the int64 budget")
    z = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        s = _scale_to_bits(c, los[d], his[d], bits)
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftrightunsigned(s, b).bitwiseAND(F.lit(1)),
                b * n + d).cast("long")
    return z


def with_zorder(df: DataFrame, cols: list[str], bits: int = 21,
                out_col: str = "_z") -> DataFrame:
    """Append the Morton column for ``cols`` (ints / timestamps), scaling
    by the observed min/max (one small agg job). Timestamps enter as
    epoch-µs. Use the result as the engine's order (and a prefix of it
    as the group) to get multi-dim chunk locality:

        zdf = with_zorder(ev, ["user_id", "ts_us"])
        opts = EncodeOptions(group_col="_z_bucket", order_col="_z", ...)
    """
    exprs = []
    for c in cols:
        dt = dict(df.dtypes)[c]
        e = (F.unix_micros(F.to_timestamp(F.col(c)))
             if dt.startswith("timestamp") else F.col(c).cast("long"))
        exprs.append(e.alias(c + "__zsrc"))
    src = df.select("*", *exprs)
    stats = src.agg(*[f(c + "__zsrc").alias(f"{w}_{c}")
                      for c in cols for f, w in ((F.min, "lo"), (F.max, "hi"))]
                    ).collect()[0]
    los = [int(stats[f"lo_{c}"]) for c in cols]
    his = [int(stats[f"hi_{c}"]) for c in cols]
    z = zvalue([c + "__zsrc" for c in cols], los, his, bits)
    return src.withColumn(out_col, z).drop(*[c + "__zsrc" for c in cols])
