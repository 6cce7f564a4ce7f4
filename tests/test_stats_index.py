"""File-skipping via the min/max stats index (sources/stats_index.py):
pruning must be a correctness-preserving superset (same rows as a full
scan + filter) AND actually skip files on a range-sorted layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_spark.sinks.write import write_range_sorted
from etl_spark_spark.sources.stats_index import build_stats_index, indexed_read


def _fixture(spark, path: str) -> None:
    df = spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    write_range_sorted(df, path, ["id"], num_files=8)


def test_pruned_read_equals_full_filter_and_skips_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _fixture(spark, path)
    lo, hi = 2_000, 2_999
    got_rows, n_read, n_total = indexed_read(spark, path, {"id": (lo, hi)})
    want = (
        spark.read.parquet(path).filter(F.col("id").between(lo, hi))
    )
    assert got_rows.count() == want.count() == 1000
    assert (
        got_rows.agg(F.sum("v")).collect()[0][0]
        == want.agg(F.sum("v")).collect()[0][0]
    )
    # range-sorted into 8 files: a 10% slice must not touch all files
    assert n_total >= 4
    assert 1 <= n_read < n_total


def test_pruned_read_empty_range(spark, tmp_path):
    path = str(tmp_path / "t")
    _fixture(spark, path)
    got, n_read, n_total = indexed_read(spark, path, {"id": (50_000, 60_000)})
    assert n_read == 0 and got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "k", "v"]


def test_reusable_index_and_conservative_nulls(spark, tmp_path):
    path = str(tmp_path / "t")
    _fixture(spark, path)
    idx = build_stats_index(spark, path, ["id"]).localCheckpoint()
    # same index reused across reads: no extra stats scans needed
    for lo, hi, n in [(0, 99, 100), (9_900, 9_999, 100), (0, 9_999, 10_000)]:
        df, n_read, n_total = indexed_read(
            spark, path, {"id": (lo, hi)}, index=idx
        )
        assert df.count() == n
    # a file with NULL stats is kept, never skipped
    null_idx = idx.withColumn("min_id", F.lit(None).cast("long")).withColumn(
        "max_id", F.lit(None).cast("long")
    )
    _, n_read, n_total = indexed_read(
        spark, path, {"id": (0, 10)}, index=null_idx
    )
    assert n_read == n_total


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Z-order vs single-column range clustering: after write_zordered
    on (x, y), a 1/8-range predicate on EITHER column must skip files,
    while the range-sorted-by-x layout skips only on x (every file
    spans the full y range). Also pins correctness: pruning + residual
    filter returns exactly the full-scan answer on both layouts."""
    from etl_spark_spark.sinks.zorder import write_zordered
    from etl_spark_spark.sources.stats_index import prune

    df = spark.range(64_000).select(
        F.pmod(F.xxhash64("id"), F.lit(1024)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1024)).alias("y"),
        F.col("id").alias("v"),
    )
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    write_zordered(df, zpath, ["x", "y"], num_files=16, bits=8)
    write_range_sorted(df, rpath, ["x"], num_files=16)

    zidx = build_stats_index(spark, zpath, ["x", "y"]).localCheckpoint()
    ridx = build_stats_index(spark, rpath, ["x", "y"]).localCheckpoint()
    n_files = zidx.count()
    assert n_files == 16 and ridx.count() == 16

    lo, hi = 0, 127  # a 1/8 slice of either dimension
    zx, zy = (prune(zidx, {c: (lo, hi)})[0] for c in ("x", "y"))
    rx, ry = (prune(ridx, {c: (lo, hi)})[0] for c in ("x", "y"))
    # z-order discriminates on BOTH columns
    assert len(zx) <= n_files // 2, f"zorder x kept {len(zx)}/{n_files}"
    assert len(zy) <= n_files // 2, f"zorder y kept {len(zy)}/{n_files}"
    # range-sorted-by-x: strong on x, useless on y (every file kept)
    assert len(rx) <= n_files // 4
    assert len(ry) == n_files
    # pruning is a correctness-preserving superset on the z layout
    want = df.filter(F.col("y").between(lo, hi)).agg(
        F.sum("v"), F.count("*")
    ).collect()[0]
    got = (
        spark.read.parquet(*zy)
        .filter(F.col("y").between(lo, hi))
        .agg(F.sum("v"), F.count("*"))
        .collect()[0]
    )
    assert tuple(got) == tuple(want)


def test_zorder_rejects_non_numeric_columns(spark, tmp_path):
    """A string column would quantize to NULL for every row (non-ANSI
    cast), silently collapsing the Morton key, and five columns leave
    too few bits of a long per column (at 16 bits each the interleave
    overflows) — zorder_key must refuse both up front, before any Spark
    job runs, through every name the writer is exported under."""
    import pytest

    from etl_spark_spark import sinks
    from etl_spark_spark.sinks import zorder

    sc = spark.sparkContext
    df = spark.range(10).select(
        F.col("id"),
        F.concat(F.lit("r"), F.col("id")).alias("name"),
        *[(F.col("id") * i).alias(f"c{i}") for i in range(1, 5)],
    )
    for writer in (zorder.write_zordered, sinks.write_zordered):
        for cols, match in [
            (["name", "id"], "non-numeric"),
            (["id", "c1", "c2", "c3", "c4"], "2-4 columns"),
        ]:
            group = f"zorder-guard-{len(cols)}"
            sc.setJobGroup(group, "zorder guard")
            try:
                with pytest.raises(ValueError, match=match):
                    writer(df, str(tmp_path / "z"), cols)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_indexed_read_skips_files_and_applies_residual(spark, tmp_path):
    """The first-class scan-path entry point (indexed_read): on a
    z-ordered layout, a two-column range must skip files
    (n_files_read < n_files_total) AND return exactly the full-scan
    answer — the residual filter is applied inside the call, not left
    to the caller."""
    from etl_spark_spark.sinks.zorder import write_zordered
    from etl_spark_spark.sources.stats_index import indexed_read

    df = spark.range(64_000).select(
        F.pmod(F.xxhash64("id"), F.lit(1024)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1024)).alias("y"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "z")
    write_zordered(df, path, ["x", "y"], num_files=16, bits=8)

    ranges = {"x": (0, 127), "y": (0, 127)}
    scan = indexed_read(spark, path, ranges)
    assert scan.n_files_total == 16
    assert 1 <= scan.n_files_read < scan.n_files_total
    want = df.filter(
        F.col("x").between(0, 127) & F.col("y").between(0, 127)
    ).agg(F.sum("v"), F.count("*")).collect()[0]
    got = scan.df.agg(F.sum("v"), F.count("*")).collect()[0]
    assert tuple(got) == tuple(want)
    # residual filter must reach the kept-file parquet scan
    from etl_spark_spark.plans import pushed_filters

    pushed = " ".join(pushed_filters(scan.df))
    assert "x" in pushed and "y" in pushed


def test_read_date_range_indexed_prunes_and_is_exact(spark, tmp_path):
    """S4 through the index: a range-sorted-by-date feed read via
    read_date_range_indexed must skip out-of-window files and return
    exactly read_date_range's half-open answer (end date exclusive at
    the +1day boundary)."""
    import datetime as dt

    from etl_spark_spark.sinks.write import write_range_sorted
    from etl_spark_spark.sources import table
    from etl_spark_spark.sources.parquet import (
        read_date_range,
        read_date_range_indexed,
    )

    orders = table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "orders_by_date")
    write_range_sorted(orders, path, ["o_orderdate"], num_files=12)

    start, end = dt.date(1995, 1, 1), dt.date(1995, 6, 30)
    scan = read_date_range_indexed(spark, path, "o_orderdate", start, end)
    assert scan.n_files_total == 12
    assert 1 <= scan.n_files_read < scan.n_files_total
    want = read_date_range(
        spark.read.parquet(path), "o_orderdate", start, end
    )
    assert scan.df.count() == want.count() > 0
    # half-open exactness: nothing at/after end+1day midnight
    assert (
        scan.df.filter(
            F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp")
        ).count()
        == 0
    )


def test_indexed_read_empty_and_validation(spark, tmp_path):
    from pytest import raises

    from etl_spark_spark.sinks.write import write_range_sorted
    from etl_spark_spark.sources.stats_index import indexed_read

    df = spark.range(1_000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    path = str(tmp_path / "t")
    write_range_sorted(df, path, ["id"], num_files=4)
    scan = indexed_read(spark, path, {"id": (5_000, 6_000)})
    assert scan.n_files_read == 0 and scan.df.count() == 0
    assert [f.name for f in scan.df.schema.fields] == ["id", "v"]
    with raises(ValueError, match="range"):
        indexed_read(spark, path, {})


def test_read_date_range_indexed_on_pinned_index_runs_two_jobs(spark, tmp_path):
    """With a pinned index, the indexed read costs one prune action (the
    kept files and the total from one collect) plus the parquet reader's
    schema inference — no re-pin, count or second collect of the index."""
    import datetime as dt
    import time
    import uuid

    from etl_spark_spark.sources.parquet import read_date_range_indexed

    path = str(tmp_path / "feed")
    days = spark.range(2_000).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 120).cast("int"))
        .cast("timestamp")
        .alias("d"),
    )
    write_range_sorted(days, path, ["d"], num_files=8)
    idx = build_stats_index(spark, path, ["d"]).localCheckpoint()

    sc = spark.sparkContext
    group = f"indexed-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_date_range_indexed job count")
    try:
        scan = read_date_range_indexed(
            spark, path, "d", dt.date(2024, 2, 1), dt.date(2024, 2, 10), index=idx
        )
    finally:
        sc._jsc.clearJobGroup()
    assert scan.n_files_total == 8 and 1 <= scan.n_files_read < 8
    time.sleep(1.0)  # job-start events reach the status store asynchronously
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs
