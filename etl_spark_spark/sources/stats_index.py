"""File-level statistics index + manifest-style file skipping.

What Delta/Iceberg manifests buy — "don't even open files whose
min/max can't match the predicate" — reconstructed for plain parquet
directories. Two pieces:

- :func:`build_stats_index` computes one row PER FILE (path, row
  count, per-column min/max) in a single scan keyed by
  ``input_file_name()`` — the aggregate output is proportional to the
  file count, not the row count, so the index for a 100 TB table with
  100k files is 100k tiny rows.
- :func:`prune` consults the index and returns ONLY the files whose
  [min, max] range overlaps the requested intervals, plus the total
  file count, from one driver action. :func:`_open_pruned` is the one
  "prune, then open the kept files" step; :func:`indexed_read` (closed
  intervals on any columns) and
  ``sources.parquet.read_date_range_indexed`` (a half-open date window)
  both open through it and add their own residual filter. The
  surviving file list is collected to the driver — bounded by file
  count (the same list Spark's own FileIndex holds), never by data.

Works best on range-sorted / Hive-partitioned layouts (see
``sinks.write.write_range_sorted``): sorted layout → disjoint per-file
ranges → most files skipped. On a randomly-laid-out table every file
overlaps and pruning honestly degrades to a full read (correct, just
not faster) — same behavior as any min/max zone map.

The caller must still apply the residual row-level filter; file
skipping is a superset guarantee (every matching row lives in a kept
file), exactly like parquet row-group stats one level up.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_stats_index(
    spark: SparkSession, path: str, columns: Sequence[str]
) -> DataFrame:
    """One row per physical file: (file, n_rows, min_<c>, max_<c>...)."""
    df = spark.read.parquet(path)
    return df.groupBy(F.input_file_name().alias("file")).agg(
        F.count("*").alias("n_rows"),
        *[F.min(c).alias(f"min_{c}") for c in columns],
        *[F.max(c).alias(f"max_{c}") for c in columns],
    )


def prune(index: DataFrame, ranges: dict[str, tuple]) -> tuple[list[str], int]:
    """(kept file paths, total file count) from ONE driver action. A
    file is kept when its [min, max] overlaps EVERY closed ``ranges``
    interval (NULL stats count as overlapping). Every index row comes
    back as (file, keep flag), so the kept list and the total are read
    from the same evaluation of ``index`` without pinning it. Bounded
    by the file count, like Spark's own FileIndex."""
    keep = reduce(
        operator.and_,
        [
            (F.col(f"max_{c}").isNull() | (F.col(f"max_{c}") >= lo))
            & (F.col(f"min_{c}").isNull() | (F.col(f"min_{c}") <= hi))
            for c, (lo, hi) in ranges.items()
        ],
    )
    rows = index.select("file", keep.alias("keep")).collect()
    return [r["file"] for r in rows if r["keep"]], len(rows)


class PrunedScan(NamedTuple):
    """Result of :func:`indexed_read`: the DataFrame already carries
    the residual row filters (exact semantics, not a superset); the
    file counts expose the skipping for tests/telemetry to pin."""

    df: DataFrame
    n_files_read: int
    n_files_total: int


def indexed_read(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple],
    index: DataFrame | None = None,
    columns: Sequence[str] | None = None,
) -> PrunedScan:
    """First-class index-pruned scan — the engine's scan-path entry
    point composing the manifest-style file skip with the residual
    filter, so callers get EXACT range semantics in one call instead
    of orchestrating prune + filter by hand.

    ``ranges`` maps column -> (lo, hi) CLOSED intervals, ANDed: a file
    is read only if its [min, max] overlaps EVERY requested range
    (NULL-stat files conservatively kept), then the same intervals are
    applied row-level. Multi-column ranges are exactly what a
    z-ordered layout (``sinks.zorder.write_zordered``) makes
    discriminating — on a Morton-clustered table each listed column
    skips files independently; on a single-column range-sorted layout
    only that column's range skips.

    Scale shape: the index is file-count-sized (one tiny row per
    file); the kept-file list is driver-side but bounded by file
    count, exactly like Spark's own FileIndex. Pass a persisted
    ``index`` to amortize the stats scan across reads; the residual
    filters still push down to row groups within kept files.
    """
    if not ranges:
        raise ValueError("at least one column range required")
    scan = _open_pruned(spark, path, ranges, index)
    df = scan.df
    for c, (lo, hi) in ranges.items():  # residual: exact, pushes down
        df = df.filter((F.col(c) >= lo) & (F.col(c) <= hi))
    if columns:
        df = df.select(*columns)
    return scan._replace(df=df)


def _open_pruned(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple],
    index: DataFrame | None = None,
) -> PrunedScan:
    """The one index-pruned open behind :func:`indexed_read` and
    ``sources.parquet.read_date_range_indexed``: use ``index`` (or
    build one over the ``ranges`` columns), :func:`prune` it, and open
    only the kept files — or, when none survive, an empty read that
    keeps the table's schema. The returned DataFrame carries NO
    residual filter; each caller applies its own interval semantics."""
    idx = index if index is not None else build_stats_index(
        spark, path, list(ranges)
    )
    files, total = prune(idx, ranges)
    if not files:
        return PrunedScan(spark.read.parquet(path).limit(0), 0, total)
    return PrunedScan(spark.read.parquet(*files), len(files), total)
