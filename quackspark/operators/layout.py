"""Data-layout utilities for write-side clustering — the distributed
replacement for the reference's clustered single-file storage (row-group
zone maps, duckdb-internal.hpp §storage): at 100 TB, scan pruning comes
from HOW the parquet is laid out, and multi-dimensional queries need a
space-filling-curve sort key so that range predicates on EITHER column
prune row groups.

`zorder_key` computes the Morton (Z-order) interleaving of two bucketed
dimensions as a pure codegen expression — no UDF, no shuffle of its own.
The intended use is `df.repartitionByRange(N, zorder_key(...)).sortWithinPartitions(...)
.write.parquet(...)`: each output file then covers a compact rectangle
of the (x, y) space and min/max stats prune on both dimensions.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def zorder_key(x: Column, y: Column, bits: int = 8) -> Column:
    """Morton interleave of the low `bits` of x and y (x even positions,
    y odd): z = Σ_i (x_i << 2i) | (y_i << (2i+1)). Pure shift/mask
    expression — whole-stage-codegen'd, engine-portable (the oracle
    mirrors the identical arithmetic)."""
    xs = x.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    ys = y.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xs, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(ys, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z

