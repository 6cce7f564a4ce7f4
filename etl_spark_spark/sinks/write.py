"""Spark-native sinks.

The reference's write path collects every result to driver pandas and
hands it to a single-node Athena/DuckDB client (etl_job.py:68,100,78-110)
— capped at driver memory, unusable at scale (SURVEY.md §4 hazard 2).
This engine writes with Spark executors:

- ``write``   — replace/append parquet (or saveAsTable), optional
  partitioning and bucketing (bucketing pre-shuffles recurring join keys
  so later joins are exchange-free).
- ``upsert``  — keyed MERGE. On a Delta/Iceberg catalog this should be
  ``MERGE INTO`` SQL; without one (this test harness) we emulate it with
  ``sinks.versioned.keyed_merge`` (target and source unioned, one window
  on the key decides which rows survive, each input planned once) + an
  atomic directory swap, which preserves the reference's MERGE-on-key
  semantics (etl_job.py:79-85: target rows whose key appears in the
  source are replaced).

The empty-result guard uses ``df.isEmpty()`` — a cheap limit-1 job — not
the reference's collect-then-``.empty`` check (etl_job.py:102).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

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
    plain range clustering IS the optimal layout (true multi-column
    z-order needs bit-interleaving; compose ``order_by`` with the
    leading column first for the common prefix-filter case).

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


def zorder_key(
    normalized: Sequence["object"], bits: int = 16
):
    """Interleave the bits of pre-normalized integer columns (each in
    [0, 2**bits)) into one long z-value: bit b of column j lands at
    position ``b * n_cols + j``. 2 cols x 16 bits = a 32-bit z in a
    long — a pure expression, no UDF."""
    from pyspark.sql import functions as F

    n = len(normalized)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(normalized):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + j)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write with a MULTI-column z-order clustered layout (the Delta
    ``OPTIMIZE ZORDER BY`` capability, built from expressions): each
    column is min/max-normalized to ``bits`` bits, the bits are
    interleaved into one z-value, and files are range-partitioned +
    sorted on it. Each output file then covers a small HYPER-RECTANGLE
    of the key space, so footer min/max stats discriminate on EVERY
    ``cols`` member — range clustering on one column can't do that for
    predicates on the others.

    Cost at 100 TB: one tiny min/max aggregate (broadcast back), one
    range exchange, one local sort — same shape as
    ``write_range_sorted``, plus ~``bits * len(cols)`` bitwise ops per
    row (codegen-side). Normalization is value-linear; heavily skewed
    columns cluster better with a rank/quantile transform first
    (compose with ``F.ntile`` or a precomputed CDF if needed).
    """
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    stats = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    normalized = []
    for c in cols:
        mn = F.col(f"__mn_{c}").cast("double")
        mx = F.col(f"__mx_{c}").cast("double")
        span = mx - mn
        scaled = F.when(
            span > 0,
            F.least(
                F.lit(top).cast("long"),
                F.floor(
                    (F.col(c).cast("double") - mn) / span * F.lit(float(1 << bits))
                ).cast("long"),
            ),
        ).otherwise(F.lit(0).cast("long"))
        normalized.append(scaled)
    z = zorder_key(normalized, bits)
    clustered = (
        joined.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols])
    )
    clustered.write.format(fmt).mode(mode).save(path)


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
    temp dir then swapped. With a Delta/Iceberg catalog,
    use ``MERGE INTO`` instead (same interface, engine-managed ACID).

    When the target is Hive-partitioned, pass ``partition_by`` and ONLY
    the partitions the source touches are read, merged, and swapped —
    the dynamic-partition-overwrite shape. At 100 TB this is the
    difference between rewriting a day and rewriting a decade: cost is
    O(touched partitions), and untouched partition directories are
    never opened (their files keep their exact bytes and mtimes).
    Requirement: rows must not MOVE partitions between upserts (the
    partition columns are effectively part of the key, the same
    contract as Hive/Glue dynamic overwrite); partition/key columns
    must be non-null.
    """
    import shutil
    import tempfile
    from pathlib import Path

    keys = list(keys)
    target = Path(target_path)
    if not target.exists():
        write(
            source_df,
            target_path,
            mode="overwrite",
            partition_by=partition_by,
            fmt=fmt,
        )
        return
    if partition_by:
        _upsert_partitions(
            spark, source_df, target, keys, list(partition_by), fmt
        )
        return
    existing = spark.read.format(fmt).load(target_path)
    merged = keyed_merge(existing, source_df, keys)
    tmp = tempfile.mkdtemp(prefix="upsert_", dir=str(target.parent))
    swap = str(target) + ".old"
    if Path(swap).exists():  # stale backup from an earlier crash —
        shutil.rmtree(swap)  # remove it or move() would nest into it
    moved = False
    try:
        write(merged, tmp, mode="overwrite", fmt=fmt)
        shutil.move(str(target), swap)
        moved = True
        shutil.move(tmp, str(target))
        shutil.rmtree(swap)
    except BaseException:
        if moved and not target.exists():
            shutil.move(swap, str(target))  # restore the backup
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def _upsert_partitions(
    spark: SparkSession,
    source_df: DataFrame,
    target,
    keys: Sequence[str],
    pcols: Sequence[str],
    fmt: str,
) -> None:
    """Partition-scoped MERGE: read only the Hive partitions the source
    touches (literal predicates -> partition pruning at the scan), merge
    those rows, write them to a temp dir with the same layout, then swap
    the touched LEAF partition directories one by one with the same
    crash-restore discipline as the whole-table path. Untouched
    partitions are never read or replaced."""
    import operator
    import shutil
    import tempfile
    from functools import reduce
    from pathlib import Path

    from pyspark.sql import functions as F

    # one row per touched partition — bounded by the partition count of
    # the source batch (days/regions, not data volume), safe to collect
    touched = source_df.select(*pcols).distinct().collect()
    if not touched:
        return
    pred = reduce(
        operator.or_,
        [
            reduce(operator.and_, [F.col(c) == r[c] for c in pcols])
            for r in touched
        ],
    )
    existing = spark.read.format(fmt).load(str(target)).filter(pred)
    merged = keyed_merge(existing, source_df, keys)
    tmp = tempfile.mkdtemp(prefix="upsert_", dir=str(target.parent))
    try:
        write(merged, tmp, mode="overwrite", partition_by=pcols, fmt=fmt)
        leaf_glob = "/".join("*=*" for _ in pcols)
        for leaf in sorted(Path(tmp).glob(leaf_glob)):
            if not leaf.is_dir():
                continue
            dest = target / leaf.relative_to(tmp)
            dest.parent.mkdir(parents=True, exist_ok=True)
            swap = str(dest) + ".old"
            if Path(swap).exists():  # stale backup from an earlier crash
                shutil.rmtree(swap)
            moved = False
            try:
                if dest.exists():
                    shutil.move(str(dest), swap)
                    moved = True
                shutil.move(str(leaf), str(dest))
                if moved:
                    shutil.rmtree(swap)
            except BaseException:
                if moved and not dest.exists():
                    shutil.move(swap, str(dest))  # restore the backup
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    import shutil
    import tempfile
    from pathlib import Path

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
    import json as _json
    from pathlib import Path as _Path

    from pyspark.sql import functions as F

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
    (_Path(path) / "_manifest.json").write_text(_json.dumps(manifest, indent=1))
    return manifest


def _spark_of(df: DataFrame) -> SparkSession:
    return df.sparkSession
