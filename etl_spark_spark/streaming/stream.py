"""Structured Streaming ingestion path.

Batch and stream share the same transformations; this module wires the
streaming side: file-source ``readStream`` over the same parquet layout
the batch engine reads, watermarked event-time windows for late data,
and an ``availableNow`` runner that drains everything currently
available and stops (the incremental-batch pattern that replaces the
reference's daily-file enumeration + cron, SURVEY.md §2.9/§7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter


def drain_available_now(
    writer: DataStreamWriter, query_name: str, timeout_sec: int = 120
) -> None:
    """Start ``writer`` as ``query_name`` with an availableNow trigger
    and block until it has drained everything currently available.
    Raises TimeoutError if the drain takes longer than ``timeout_sec``;
    the query is stopped on every exit path, so no stream outlives the
    call. Every availableNow runner in this package goes through here."""
    q = writer.queryName(query_name).trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"stream '{query_name}' did not drain within {timeout_sec}s"
            )
    finally:
        q.stop()


def _events_schema(ts_type: T.DataType) -> T.StructType:
    """Events file-stream schema. ``ts``'s physical type depends on how
    the feed was written (nanos-as-long vs timestamp[us]) — file streams
    require an explicit schema, so the caller peeks at the existing files
    with the batch reader and passes the real type in."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# nanos-as-long default, kept for callers that construct fixtures directly
EVENTS_SCHEMA = _events_schema(T.LongType())


def read_events_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming read of the events feed (explicit schema — required by
    file streams — with the nanosecond ts rebuilt as a timestamp).
    ``path`` must be a directory (file-source contract); use ``glob``
    to select one table out of a multi-table directory.
    ``max_files_per_trigger`` bounds micro-batch size (and is how tests
    force multi-batch runs to exercise watermark advancement)."""
    from etl_spark_spark.sources.parquet import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # file streams need an explicit schema; peek at the files already in
    # place with the batch reader to learn ts's physical type (footer
    # read only — no data scan).
    peek_reader = spark.read
    if glob:
        peek_reader = peek_reader.option("pathGlobFilter", glob)
    ts_type = peek_reader.parquet(path).schema["ts"].dataType
    reader = spark.readStream.schema(_events_schema(ts_type)).option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.parquet(path)
    return normalize_event_ts(df)


def stream_events_tumbling(
    spark: SparkSession,
    path: str,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    glob: str | None = None,
) -> DataFrame:
    """Watermarked tumbling count/sum per event_type over a stream of
    the events feed. Late rows beyond the watermark are dropped;
    state is bounded by watermark horizon × window count."""
    events = read_events_stream(spark, path, glob=glob)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_events(
    spark: SparkSession,
    path: str,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    glob: str | None = None,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming deduplication on ``keys`` (default: event_id) with a
    watermark-bounded state: `dropDuplicatesWithinWatermark` keeps each
    key's state only until the watermark passes it, so state is O(keys
    within the watermark horizon), not O(all keys ever) — the at-least-
    once-source -> exactly-once-pipeline building block. Duplicates
    arriving within the horizon are suppressed; a duplicate arriving
    later than the horizon is by contract not (that's the knob)."""
    events = read_events_stream(
        spark, path, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_enrich_static(
    events: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — attach dimension attributes to a
    stream (the lookup-table pattern: event_type -> category, user ->
    account tier). The static side is re-planned per micro-batch, so a
    refreshed dimension table is picked up without restarting the query.

    Scale shape: Spark broadcasts the (small) static side into every
    micro-batch task — the stream is never shuffled and no streaming
    state is kept (contrast with stream-stream joins, which buffer both
    sides in state against the watermark). Works in append mode with no
    watermark requirement.

    CONTRACT: ``dim`` must be bounded-cardinality by construction (a
    lookup/config table). A dimension that scales with the data does
    not fit a per-micro-batch broadcast — snapshot-join it in batch or
    key the stream by the dimension instead (round-11 broadcast audit,
    PLANS.md).
    """
    return events.join(F.broadcast(dim), on, how)


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    query_name: str = "merge_sink",
    timeout_sec: int = 120,
    partition_by: list[str] | None = None,
) -> None:
    """Streaming MERGE: drain the stream with availableNow, upserting
    each micro-batch into a parquet target via ``sinks.upsert`` inside
    ``foreachBatch`` — the standard Structured Streaming pattern for
    sinks Spark has no native exactly-once writer for. The checkpoint
    records the last COMMITTED batch; on restart after a crash the same
    batch may re-run, and the keyed upsert makes that replay idempotent
    (at-least-once delivery x idempotent merge = effectively-once
    state). With a Hive-partitioned target pass ``partition_by`` so
    each batch rewrites only the partitions it touches."""
    from ..sinks.write import upsert

    def do_merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert(
            batch_df.sparkSession,
            batch_df,
            target_path,
            keys,
            partition_by=partition_by,
        )

    drain_available_now(
        stream_df.writeStream.foreachBatch(do_merge).option(
            "checkpointLocation", checkpoint_dir
        ),
        query_name,
        timeout_sec,
    )


def write_stream_files(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str | None = None,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    query_name: str = "file_sink",
    timeout_sec: int = 120,
) -> None:
    """Production file sink with managed checkpointing: exactly-once
    parquet/orc output under ``path``.

    The checkpoint (source offsets + commit log) defaults to
    ``<path>/_checkpoint`` — underscore-prefixed, so batch readers of
    ``path`` ignore it and the sink is fully self-contained; pass
    ``checkpoint_dir`` to relocate it (e.g. onto faster storage).
    Restarting with the same checkpoint RESUMES after the last
    committed batch: input processed by a previous run is never
    re-emitted, and the sink's ``_spark_metadata`` commit log hides
    files from uncommitted batches, so readers can't observe a torn
    write. File sinks are append-only (Spark contract): aggregations
    must be watermarked so closed windows append.

    availableNow trigger — drain everything currently available and
    stop — which makes this the incremental-batch writer: schedule the
    call (cron/Airflow), and each run picks up exactly the new files.
    """
    writer = (
        stream_df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir or f"{path}/_checkpoint")
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    drain_available_now(writer, query_name, timeout_sec)


def run_available_now(
    stream_df: DataFrame,
    query_name: str = "drain",
    output_mode: str = "complete",
) -> list:
    """Drain the stream with trigger(availableNow) into an in-memory
    table and return the rows — the batch-parity runner used by tests.
    ``output_mode``: complete for full aggregations, update for
    stateful operators, append for watermarked emissions."""
    # a timeout raises before the read, so a partial snapshot is never
    # returned; the memory-sink table stays readable after stop()
    drain_available_now(
        stream_df.writeStream.format("memory").outputMode(output_mode),
        query_name,
    )
    return stream_df.sparkSession.table(query_name).collect()
