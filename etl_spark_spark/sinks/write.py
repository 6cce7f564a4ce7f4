"""Spark-native sinks.

The reference's write path collects every result to driver pandas and
hands it to a single-node Athena/DuckDB client (etl_job.py:68,100,78-110)
— capped at driver memory, unusable at scale (SURVEY.md §4 hazard 2).
This engine writes with Spark executors:

- ``write``   — replace/append parquet (or saveAsTable), optional
  partitioning and bucketing (bucketing pre-shuffles recurring join keys
  so later joins are exchange-free).
- ``write_range_sorted`` / ``write_sized`` — single-column clustered and
  size-calibrated layouts. The multi-column z-order layout is
  ``sinks.zorder.write_zordered`` (re-exported as ``sinks.write_zordered``).
- ``upsert``  — keyed MERGE. On a Delta/Iceberg catalog this should be
  ``MERGE INTO`` SQL; without one (this test harness) we emulate it with
  ``sinks.versioned.keyed_merge`` (target and source unioned, one window
  on the key decides which rows survive, each input planned once) + an
  atomic directory swap, which preserves the reference's MERGE-on-key
  semantics (etl_job.py:79-85: target rows whose key appears in the
  source are replaced). :func:`_swap_dir` is the one swap with
  backup-and-restore, used for the whole table and for each touched
  partition. The snapshot-versioned MERGE the daily loop commits
  through is ``sinks.versioned.merge_into_versioned``.

The empty-result guard uses ``df.isEmpty()`` — a cheap limit-1 job — not
the reference's collect-then-``.empty`` check (etl_job.py:102).
"""

from __future__ import annotations

import operator
import shutil
import tempfile
from collections.abc import Sequence
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import keyed_merge


def write(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Replace/append a table directory. ``mode`` in {'overwrite','append'}.

    ``partition_by`` produces a Hive layout (``col=value/``) so readers'
    filters on those columns become partition pruning (the scalable
    replacement for the reference's manual daily-path enumeration,
    SURVEY.md S4)."""
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: Sequence[str],
    num_buckets: int = 32,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Save as a bucketed catalog table: rows are pre-shuffled into
    ``num_buckets`` files by hash of ``bucket_by``. Two tables bucketed
    the same way join WITHOUT an exchange — pay the shuffle once at
    write time, reuse it every query. This is the recurring-fact-join
    answer at 100 TB (bucketing needs ``saveAsTable``; plain ``save``
    cannot record bucket metadata)."""
    writer = (
        df.write.format(fmt)
        .mode(mode)
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def write_range_sorted(
    df: DataFrame,
    path: str,
    order_by: Sequence[str],
    num_files: int = 32,
    mode: str = "overwrite",
    fmt: str = "parquet",
    max_records_per_file: int | None = None,
) -> None:
    """Write with a RANGE-CLUSTERED layout: rows are range-partitioned
    on ``order_by`` (sampled split points -> balanced files) and sorted
    within each partition, so every output file covers a narrow,
    (near-)disjoint slice of the key space and its parquet footer
    min/max statistics actually discriminate.

    Why this matters at 100 TB: engines skip parquet row groups (and
    catalog-backed readers skip whole files) by footer min/max. After a
    hash-partitioned write every file spans the full key range and no
    filter can skip anything; after this write a time- or key-range
    query touches only the files that cover it. This is the
    single-column z-order degenerate case — for one predicate column,
    plain range clustering IS the optimal layout (multi-column
    predicates need the bit-interleaved ``sinks.zorder.write_zordered``;
    compose ``order_by`` with the leading column first for the common
    prefix-filter case).

    One shuffle (the range exchange, driven by a sample pass), then a
    partition-local sort that spills gracefully — no global sort, no
    driver involvement.
    """
    clustered = df.repartitionByRange(num_files, *order_by).sortWithinPartitions(
        *order_by
    )
    writer = clustered.write.format(fmt).mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.save(path)


def upsert(
    spark: SparkSession,
    source_df: DataFrame,
    target_path: str,
    keys: Sequence[str],
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
) -> None:
    """MERGE ``source_df`` into the table at ``target_path`` on ``keys``:
    matched target rows are replaced, unmatched source rows appended.

    Emulation for plain-parquet targets: the rows of target ⟕anti
    source ∪ source, computed in one pass by
    :func:`~etl_spark_spark.sinks.versioned.keyed_merge`, written to a
    temp dir then swapped in by :func:`_swap_dir`. With a Delta/Iceberg
    catalog, use ``MERGE INTO`` instead (same interface, engine-managed
    ACID).

    When the target is Hive-partitioned, pass ``partition_by`` and ONLY
    the partitions the source touches are read (literal predicates ->
    partition pruning at the scan), merged, and swapped leaf directory
    by leaf directory — the dynamic-partition-overwrite shape. At
    100 TB this is the difference between rewriting a day and
    rewriting a decade: cost is O(touched partitions), and untouched
    partition directories are never opened (their files keep their
    exact bytes and mtimes). Requirement: rows must not MOVE partitions
    between upserts (the partition columns are effectively part of the
    key, the same contract as Hive/Glue dynamic overwrite);
    partition/key columns must be non-null.
    """
    keys = list(keys)
    pcols = list(partition_by or [])
    target = Path(target_path)
    if not target.exists():
        write(source_df, target_path, partition_by=pcols, fmt=fmt)
        return
    existing = spark.read.format(fmt).load(target_path)
    if pcols:
        # one row per touched partition — bounded by the partition count
        # of the source batch (days/regions, not data volume)
        touched = source_df.select(*pcols).distinct().collect()
        if not touched:
            return
        existing = existing.filter(
            reduce(
                operator.or_,
                [
                    reduce(operator.and_, [F.col(c) == r[c] for c in pcols])
                    for r in touched
                ],
            )
        )
    merged = keyed_merge(existing, source_df, keys)
    tmp = Path(tempfile.mkdtemp(prefix="upsert_", dir=str(target.parent)))
    try:
        write(merged, str(tmp), partition_by=pcols, fmt=fmt)
        if not pcols:
            _swap_dir(tmp, target)
            return
        for leaf in sorted(tmp.glob("/".join("*=*" for _ in pcols))):
            if leaf.is_dir():
                dest = target / leaf.relative_to(tmp)
                dest.parent.mkdir(parents=True, exist_ok=True)
                _swap_dir(leaf, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _swap_dir(staged: Path, dest: Path) -> None:
    """Replace directory ``dest`` (which may not exist yet) with
    ``staged``: back ``dest`` up to ``<dest>.old`` first, then move
    ``staged`` into place and drop the backup. If the swap-in fails
    the backup is moved back, so ``dest`` is never left missing. A
    stale backup from an earlier crash is removed first — ``move``
    would otherwise nest the live table inside it."""
    backup = Path(f"{dest}.old")
    if backup.exists():
        shutil.rmtree(backup)
    moved = False
    try:
        if dest.exists():
            shutil.move(str(dest), str(backup))
            moved = True
        shutil.move(str(staged), str(dest))
        if moved:
            shutil.rmtree(backup)
    except BaseException:
        if moved and not dest.exists():
            shutil.move(str(backup), str(dest))  # restore the backup
        raise


def write_sized(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    target_file_mb: int = 128,
    mode: str = "overwrite",
    fmt: str = "parquet",
    sample_rows: int = 2000,
) -> int:
    """Write with files sized toward ``target_file_mb`` — the fix for
    both halves of the classic operational failure: thousands of tiny
    files (every downstream scan pays per-file open/listing cost) and
    multi-GB monsters (no read parallelism, OOM-prone row groups).

    In-memory row size is a poor proxy for parquet-on-disk size
    (encoding + compression vary per column), so calibration is
    empirical: stage a bounded ``sample_rows`` single file next to the
    target, measure its actual bytes-per-row at this exact schema/
    codec, then repartition to ``ceil(n_rows / rows_per_file)`` and
    write. Costs one bounded sample write + one count + one shuffle —
    the shuffle also heals upstream partition skew, which is usually
    wanted at write time anyway. Returns the partition count written.

    At 100 TB this is the difference between a 800k-file table and an
    800-file-per-partition layout; combine with ``partition_by``-style
    layouts by calling per partition batch (the dynamic-overwrite
    upsert path already scopes writes that way).

    The input is computed three times (count, calibration sample,
    final write), so ``df`` is persisted for the duration — without
    that, nondeterministic lineage (sampling, current-timestamp
    columns) could make the calibration diverge from the written data.
    Assumes the staging parent and the target live on the same
    locally-reachable filesystem (the staging file is sized with
    ``Path.stat``); for object stores, calibrate onto a local scratch
    dir instead."""
    import math

    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = df.count()
        if n == 0:
            write(df.repartition(1), path, mode=mode, fmt=fmt)
            return 1
        stage = tempfile.mkdtemp(
            prefix="sizing_",
            dir=str(Path(path).parent if Path(path).parent.exists() else "."),
        )
        try:
            sample = df.limit(min(sample_rows, n)).repartition(1)
            sample.write.format(fmt).mode("overwrite").save(stage)
            sample_n = min(sample_rows, n)
            sample_bytes = sum(
                f.stat().st_size
                for f in Path(stage).rglob("*")
                if f.is_file() and not f.name.startswith(("_", "."))
            )
            bytes_per_row = max(sample_bytes / sample_n, 1e-6)
            rows_per_file = max(
                int(target_file_mb * 1024 * 1024 / bytes_per_row), 1
            )
            n_files = max(math.ceil(n / rows_per_file), 1)
            write(df.repartition(n_files), path, mode=mode, fmt=fmt)
            return n_files
        finally:
            shutil.rmtree(stage, ignore_errors=True)
    finally:
        df.unpersist()


def export_training_shards(
    df: DataFrame,
    path: str,
    split_col: str,
    shard_key: Sequence[str],
    shards_per_split: int = 4,
) -> dict:
    """Export a curated corpus as training shards: one directory per
    split, ``shards_per_split`` parquet files each, rows assigned to a
    shard by hash of ``shard_key`` (deterministic — re-running the
    export from the same input reproduces byte-identical shard
    membership, independent of partitioning or cluster size), and a
    manifest recording per-shard row counts and an order-insensitive
    content digest (sum + xor of per-row hashes — associative, so the
    digest is reproducible under any execution order).

    The manifest is the consumer contract: a trainer can verify a
    shard it downloaded without re-reading the corpus. Returns the
    manifest dict; writes it as ``_manifest.json`` next to the shards.

    Scale: one pass — shard assignment is an expression, the write is
    ``partitionBy(split, shard)`` (each task streams to its own
    directories), digests are a hash aggregate. No collect of data
    rows; only the tiny manifest comes to the driver.
    """
    import json

    key = F.concat_ws("\x00", *[F.col(c).cast("string") for c in shard_key])
    tagged = df.withColumn(
        "__shard", F.pmod(F.xxhash64(key, F.lit(41)), F.lit(shards_per_split))
    )
    tagged.write.mode("overwrite").partitionBy(split_col, "__shard").parquet(
        path
    )
    back = _spark_of(df).read.parquet(path)
    row_h = F.xxhash64(
        F.concat_ws(
            "\x00", *[F.col(c).cast("string") for c in sorted(df.columns)]
        )
    )
    stats = (
        back.withColumn("__h", row_h)
        .groupBy(split_col, "__shard")
        .agg(
            F.count("*").alias("rows"),
            # decimal(38,0): exact associative sum with no long
            # overflow under ANSI mode
            F.sum(F.col("__h").cast("decimal(38,0)")).alias("hash_sum"),
            F.expr("cast(bit_xor(__h) as long)").alias("hash_xor"),
        )
        .collect()
    )
    shard_rows = [
        {
            "split": r[split_col],
            "shard": int(r["__shard"]),
            "rows": int(r["rows"]),
            "hash_sum": int(r["hash_sum"]),
            "hash_xor": int(r["hash_xor"]),
        }
        for r in stats
    ]
    manifest = {
        "shards": sorted(
            shard_rows, key=lambda s: (str(s["split"]), s["shard"])
        ),
        "total_rows": sum(s["rows"] for s in shard_rows),
        "columns": sorted(df.columns),
        "shards_per_split": shards_per_split,
    }
    (Path(path) / "_manifest.json").write_text(json.dumps(manifest, indent=1))
    return manifest


def _spark_of(df: DataFrame) -> SparkSession:
    return df.sparkSession
