"""Streaming data-quality gate: per-micro-batch expectations,
good/bad routing, and a metrics audit trail (extension; composes
operators.quality with Structured Streaming).

The pattern: inside ``foreachBatch``, each micro-batch is split by the
declarative rules — passing rows append to the clean sink, failing
rows (tagged with the rules they broke) go to a quarantine sink, and
one metrics row per rule per batch is appended to an audit table.
Checkpointing makes the whole gate resumable. ``foreachBatch`` is
at-least-once, so each of the three outputs is written as its own
``__batch_id=<id>`` leaf (``join_mv._append_partition``, as the dedup
index is): a replayed batch re-derives the same split (rules are
deterministic) and overwrites its own leaves instead of appending a
second copy. Readers see the leaf as a ``__batch_id`` column; metrics
rows also keep their ``batch_id`` column.

Scale shape: the batch is cached once and scanned three times (split
twice + one-pass rule aggregate); all three are shuffle-free maps
except the metrics aggregate's single exchange over #rules rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.quality import expectation_metrics, quarantine
from .join_mv import _append_partition
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

    ``good_path``: rows passing every rule (parquet).
    ``bad_path``: failing rows + ``failed_rules`` array (parquet).
    ``metrics_path``: (batch_id, rule, n_rows, n_violations) audit
    rows, one per rule per non-empty batch.
    Each is partitioned by ``__batch_id``, one leaf per batch.
    """

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.cache()
        try:
            good, bad = quarantine(batch_df, rules)
            _append_partition(good, batch_id, good_path)
            _append_partition(bad, batch_id, bad_path)
            metrics = expectation_metrics(batch_df, rules).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            )
            _append_partition(metrics, batch_id, metrics_path)
        finally:
            batch_df.unpersist()

    drain_available_now(
        stream_df.writeStream.foreachBatch(gate).option(
            "checkpointLocation", checkpoint_dir
        ),
        query_name,
        timeout_sec,
    )
