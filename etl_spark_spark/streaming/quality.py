"""Streaming data-quality gate: per-micro-batch expectations,
good/bad routing, and a metrics audit trail (extension; composes
operators.quality with Structured Streaming).

The pattern: inside ``foreachBatch``, each micro-batch is split by the
declarative rules — passing rows append to the clean sink, failing
rows (tagged with the rules they broke) go to a quarantine sink, and
one metrics row per rule per batch is appended to an audit table.
Checkpointing makes the whole gate resumable; replayed batches
re-derive the same split (rules are deterministic), so sinks converge.

Scale shape: the batch is cached once and scanned three times (split
twice + one-pass rule aggregate); all three are shuffle-free maps
except the metrics aggregate's single exchange over #rules rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.quality import expectation_metrics, quarantine
from .stream import drain_available_now

__all__ = ["run_stream_quality_gate"]


def run_stream_quality_gate(
    stream_df: DataFrame,
    rules: dict[str, Column],
    good_path: str,
    bad_path: str,
    metrics_path: str,
    checkpoint_dir: str,
    query_name: str = "quality_gate",
    timeout_sec: int = 120,
) -> None:
    """Drain ``stream_df`` with availableNow through the quality gate.

    ``good_path``: rows passing every rule (parquet, append).
    ``bad_path``: failing rows + ``failed_rules`` array (parquet).
    ``metrics_path``: (batch_id, rule, n_rows, n_violations) audit
    rows, one per rule per non-empty batch.
    """

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.cache()
        try:
            good, bad = quarantine(batch_df, rules)
            good.write.mode("append").parquet(good_path)
            bad.write.mode("append").parquet(bad_path)
            (
                expectation_metrics(batch_df, rules)
                .withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.mode("append")
                .parquet(metrics_path)
            )
        finally:
            batch_df.unpersist()

    drain_available_now(
        stream_df.writeStream.foreachBatch(gate).option(
            "checkpointLocation", checkpoint_dir
        ),
        query_name,
        timeout_sec,
    )
