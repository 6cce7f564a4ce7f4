"""Sources: parquet scans with optional explicit schema and date pruning.

Covers the reference's scan surface (SURVEY.md §2.1):
- S1/S2 multi-file & single-path parquet scans
  (reference utils_superdesconto.py:78-81,106,121)
- S3 schema-constrained scan — explicit StructType as a projection/type
  contract that also skips footer inference
  (reference utils_ressarcimento.py:33-41,198-207)
- S4 date-range source. The reference enumerates one file per day
  (utils_superdesconto.py:62-66). That works but defeats Catalyst: with a
  Hive-partitioned layout (``dt=YYYY-MM-DD/``) a simple range filter gets
  partition-pruned for free and scales to years of data without building a
  giant path list on the driver. We offer both: ``read_date_range`` emits a
  range predicate (pushdown-friendly — a ``year(c)==y`` style filter would
  NOT prune, see SURVEY.md §4), and ``date_range_paths`` keeps explicit
  enumeration for non-partitioned layouts. ``read_date_range_indexed``
  is the same window read through the file-stats index
  (``sources.stats_index``): it opens only the files whose min/max
  overlap the window, via the index-pruned open ``indexed_read`` uses.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def source(
    spark: SparkSession,
    paths: str | Sequence[str],
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    columns: Sequence[str] | None = None,
    **options: str,
) -> DataFrame:
    """Generic scan. ``schema`` doubles as a column+type pruning contract;
    ``columns`` is a plain projection (Catalyst prunes the scan either way —
    explicit schema additionally skips footer inference on wide tables).
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    if isinstance(paths, str):
        df = reader.load(paths)
    else:
        df = reader.load(list(paths))
    if columns:
        df = df.select(*columns)
    return df


def table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: Sequence[str] | None = None,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Read one fixture table (``{sf_dir}/{name}.parquet``)."""
    return source(spark, f"{sf_dir}/{name}.parquet", schema=schema, columns=columns)


def date_range_paths(
    template: str, start: dt.date, end: dt.date
) -> Iterator[str]:
    """Enumerate one path per day in [start, end] from a strftime template,
    e.g. ``gs://bucket/feed/{d:%Y/%m/%d}.parquet``. Fallback for layouts
    without partition columns (reference utils_superdesconto.py:62-66).
    """
    d = start
    while d <= end:
        yield template.format(d=d)
        d += dt.timedelta(days=1)


def read_date_range(
    df: DataFrame,
    date_col: str,
    start: dt.date,
    end: dt.date,
) -> DataFrame:
    """Range-filter on a date/timestamp column, written as a half-open
    interval so it pushes down to parquet row groups AND prunes Hive
    partitions (a ``year(c) == y`` filter does neither)."""
    lo = F.lit(start.isoformat()).cast("date")
    hi = F.lit((end + dt.timedelta(days=1)).isoformat()).cast("date")
    c = F.col(date_col)
    return df.filter((c >= lo) & (c < hi))


def read_date_range_indexed(
    spark: SparkSession,
    path: str,
    date_col: str,
    start: dt.date,
    end: dt.date,
    index: DataFrame | None = None,
):
    """S4 date-range scan THROUGH the file-stats index: manifest-style
    file skipping (``sources.stats_index``) composed with
    :func:`read_date_range`'s exact half-open residual filter — the
    first-class form of "don't even open files outside the window" for
    non-Hive-partitioned layouts (a range-sorted or z-ordered feed,
    ``sinks.write.write_range_sorted`` / ``sinks.zorder``).

    Pruning keeps every file whose [min, max] overlaps
    [start, end + 1 day] — a superset of the half-open window, so the
    residual filter restores exactness; NULL-stat files are kept.
    Returns a ``stats_index.PrunedScan`` (df, n_files_read,
    n_files_total). The prune-and-open step is the same one
    ``stats_index.indexed_read`` uses; only the residual differs. Pass
    a persisted ``index`` to skip the stats scan: the call then runs
    two jobs, the one-action prune (``stats_index.prune``) and the
    parquet reader's schema inference.
    """
    from .stats_index import _open_pruned

    hi = (end + dt.timedelta(days=1)).isoformat()
    scan = _open_pruned(spark, path, {date_col: (start.isoformat(), hi)}, index)
    return scan._replace(df=read_date_range(scan.df, date_col, start, end))


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-TZ TIMESTAMP,
    whatever physical encoding the feed was written with:

    - INT64 TIMESTAMP(NANOS) read as long (``nanosAsLong``): rebuild a
      microsecond timestamp. Integer DIV, not floor(x/1000): a long/1000
      double division rounds in the 2^53+ range and lands 1 µs off. DIV
      truncates toward zero, so pre-1970 (negative-nanos) timestamps
      would be off by 1 µs vs a flooring engine — fine for event data.
    - TIMESTAMP_NTZ (plain ``timestamp[us]`` parquet): cast to TIMESTAMP.
      Sessions run with ``spark.sql.session.timeZone=UTC`` (session.py),
      so the cast preserves the wall clock and matches what a naive
      engine (the DuckDB oracle) reads from the same file.
    - already TIMESTAMP: pass through.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events(
    spark: SparkSession, sf_dir: str, with_ts: bool = True
) -> DataFrame:
    """Read the events feed. Generated data has carried ``ts`` as either
    INT64 TIMESTAMP(NANOS) (rejected by Spark's reader unless nanos are
    read as long) or plain ``timestamp[us]``; ``normalize_event_ts``
    adapts on the actual scan schema so both layouts work."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = source(spark, f"{sf_dir}/events.parquet")
    if with_ts:
        df = normalize_event_ts(df)
    return df


def read_evolved(
    spark: SparkSession,
    paths: Sequence[str],
    target_schema: StructType | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Schema-evolution read: union parquet directories written at
    different schema versions into one DataFrame.

    ``mergeSchema`` makes the footer union (old files surface added
    columns as NULL); ``target_schema``, when given, is the output
    contract — missing columns are added as typed NULLs, extra columns
    dropped, and every column cast to the contract type, in contract
    order. A decade-old 100 TB table always has schema drift across
    its files; this read makes drift a non-event instead of a failed
    scan. (mergeSchema's footer reconciliation is a distributed
    metadata job over file footers — data is still read once, scan
    pushdown/pruning unaffected.)
    """
    df = spark.read.format(fmt).option("mergeSchema", "true").load(list(paths))
    if target_schema is None:
        return df
    cols = []
    have = {f.name: f for f in df.schema.fields}
    for field in target_schema.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def year_range_filter(df: DataFrame, col: str, year: int) -> DataFrame:
    """Pushdown-friendly rewrite of ``F.year(c) == year``
    (reference utils_ressarcimento.py:115,156,170): a closed-open range
    predicate that reaches parquet min/max stats and partition pruning."""
    c = F.col(col)
    return df.filter(
        (c >= F.lit(f"{year}-01-01").cast("timestamp"))
        & (c < F.lit(f"{year + 1}-01-01").cast("timestamp"))
    )
