"""Z-order (Morton-curve) multi-column clustering for file skipping.

``sinks.write.write_range_sorted`` makes ONE column's file min/max
stats discriminating; a predicate on any other column still touches
every file. Interleaving the bits of several columns into one Morton
key and range-clustering on THAT gives every listed column partially
disjoint per-file ranges — the standard lakehouse `OPTIMIZE ZORDER BY`
layout (Delta/Hudi), reconstructed for plain parquet + the
``sources.stats_index`` manifest.

This is the engine's only z-order writer (``sinks.write_zordered`` is
this function). :func:`zorder_key` validates before any job runs: 2-4
numeric/timestamp/boolean columns, and a key of fewer than 63 bits so
the interleave cannot overflow a long.

Scale shape: one tiny 2-row aggregate for per-column bounds
(broadcast), a map-side bit-interleave expression (whole-stage
codegen, no UDF), then the same single range exchange + local sort
``write_range_sorted`` does. Nothing driver-side grows with data.

Bucketization is linear between the observed min/max (``width_bucket``
semantics). Heavily skewed columns cluster better after a
rank/quantile transform upstream — same caveat Delta's OPTIMIZE
carries; the zone-map guarantee (every matching row lives in a kept
file) holds regardless of value distribution.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 8
) -> tuple[DataFrame, Column]:
    """Return (df + per-column bounds, Morton key column) where the
    key interleaves ``bits`` bits of each column in ``cols`` (scaled
    linearly between that column's min and max). 2-3 columns at 8-16
    bits is the practical sweet spot; total key width bits*len(cols)
    must stay < 63."""
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError("zorder needs 2-4 columns")
    if bits * n >= 63:
        raise ValueError(f"key width {bits * n} overflows a long")
    from pyspark.sql.types import BooleanType, NumericType, TimestampType

    for c in cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, (NumericType, TimestampType, BooleanType)):
            # a non-castable column would quantize to NULL for EVERY
            # row (non-ANSI cast), silently collapsing the whole Morton
            # key — and the entire dataset — into one unclustered
            # partition with no discriminating file stats
            raise ValueError(
                f"zorder column {c!r} has non-numeric type "
                f"{dt.simpleString()}; cast it to a numeric/timestamp "
                "surrogate upstream (e.g. a dictionary code or "
                "datediff) — strings have no meaningful linear "
                "quantization"
            )
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))
    top = (1 << bits) - 1
    quantized = []
    for c in cols:
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        q = F.floor(
            (F.col(c).cast("double") - lo) / span * F.lit(top + 1)
        ).cast("long")
        quantized.append(F.least(F.greatest(q, F.lit(0)), F.lit(top)))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(quantized):
            z = z + F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return with_bounds, z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int = 32,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered along the Morton curve of ``cols``:
    range-partition + locally sort on the interleaved key, then drop
    it — the layout (and the parquet footer / stats-index min-max per
    file) is the artifact, not the key."""
    with_bounds, z = zorder_key(df, cols, bits=bits)
    keyed = with_bounds.withColumn("__z", z).drop(
        *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
