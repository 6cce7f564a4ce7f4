"""Production daily loop: the reference's real operating cycle, composed
end-to-end from the engine's own parts.

The reference's daily job is *enumerate the new window's daily files →
scan → superdesconto transform → MERGE into the etiqueta-keyed target*
(reference utils_superdesconto.py:62-66 builds the path list per day;
etl_job.py:79-85 MERGEs the transformed frame into the Iceberg table on
``t.etiqueta = s.etiqueta``). This module is that loop with each stage
swapped for the engine's scale-native form:

- daily-file enumeration → :func:`sources.parquet.read_date_range_indexed`
  over a z-ordered feed layout: manifest-style file skipping + the exact
  half-open residual filter, so an incremental run *opens* only the
  window's files instead of listing paths by hand (and unlike a path
  list, it stays correct when files span days);
- collect-to-driver + Athena write → :func:`sinks.versioned.
  merge_into_versioned`: executor-side COW MERGE with CAS commits and
  time travel (the catalog-less stand-in for Iceberg MERGE INTO).

Scale shape per daily run at 100 TB: the stats index is one
file-count-sized aggregate (refreshed per ingestion batch, reusable
across runs); the scan opens only window-overlapping files; the
transform is one map-side-combinable agg + two broadcast joins; the
MERGE is one union of snapshot and batch, shuffled on the merge key
into one window (``sinks.versioned.keyed_merge``), so the transform
runs once per day. Nothing driver-side grows with history except the
file list.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.versioned import merge_into_versioned, read_versioned
from ..sinks.zorder import write_zordered
from ..sources.parquet import read_date_range_indexed, table
from ..sources.stats_index import build_stats_index
from .superdesconto import best_sale_transform

#: the POS-feed projection the transform needs (column pruning happens
#: at the staging scan, so the feed layout carries nothing else)
FEED_COLUMNS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_extendedprice",
    "l_discount",
    "l_linestatus",
    "l_shipdate",
]


def stage_feed(
    spark: SparkSession, sf_dir: str, feed_path: str, num_files: int = 16
) -> None:
    """Lay the lineitem fixture down as the POS feed, z-ordered on
    (ship day, product key) — the layout a daily-ingested feed
    converges to after an OPTIMIZE ZORDER pass, and what makes the
    loop's date-window file skip (and any product-range read) real.
    ``ship_day`` is the integer day-number surrogate the Morton key
    quantizes (the raw column is NTZ timestamp, which has no linear
    bit quantization); it stays in the layout as documentation of the
    clustering, costing one int32 column."""
    lineitem = table(spark, sf_dir, "lineitem", columns=FEED_COLUMNS)
    feed = lineitem.withColumn(
        "ship_day",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).cast("int"),
    )
    write_zordered(feed, feed_path, ["ship_day", "l_partkey"], num_files=num_files)


def run_daily_loop(
    spark: SparkSession,
    sf_dir: str,
    feed_path: str,
    target_path: str,
    windows: list[tuple[dt.date, dt.date, str]],
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """Run one incremental cycle per ``(start, end, tag)`` window:
    index-pruned date-window read → superdesconto transform (tagged
    ``src_window``) → versioned MERGE on etiqueta. Returns the final
    committed snapshot and, per window, (n_files_read, n_files_total)
    so callers/tests can pin that the incremental read skipped files.

    The stats index is built ONCE and reused across windows — the
    production pattern (refresh per ingestion batch, serve every
    incremental read)."""
    part = table(
        spark,
        sf_dir,
        "part",
        columns=["p_partkey", "p_name", "p_brand", "p_retailprice"],
    )
    supplier = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_name"])
    idx = build_stats_index(spark, feed_path, ["l_shipdate"]).localCheckpoint()
    scans: list[tuple[int, int]] = []
    for start, end, tag in windows:
        scan = read_date_range_indexed(
            spark, feed_path, "l_shipdate", start, end, index=idx
        )
        best = best_sale_transform(scan.df, part, supplier).withColumn(
            "src_window", F.lit(tag)
        )
        merge_into_versioned(spark, best, target_path, ["etiqueta"])
        scans.append((scan.n_files_read, scan.n_files_total))
    return read_versioned(spark, target_path), scans
