"""Streaming materialized-view maintenance: keep an additive rollup
(`operators.rollup`) fresh from a stream with exactly-once semantics.

The lakehouse "streaming MV" pattern: each micro-batch folds into the
aggregate via ``apply_agg_delta`` (one pass over the BATCH, one outer
join against the compact rollup — the base table is never rescanned),
and the result publishes as a new versioned snapshot directory.

Exactly-once story — the part a naive foreachBatch + append gets
wrong. Structured Streaming replays the last uncommitted batch after a
crash, and a replayed additive update would DOUBLE-COUNT. Writes here
are fenced by batch id:

- each applied batch publishes ``agg_v<batch_id>/`` whose ``_SUCCESS``
  marker (written by Spark's file output committer only on job
  success) is the commit record;
- a replayed batch whose version directory is already committed is a
  NO-OP (the fence); a crash mid-write leaves no marker, so the replay
  legitimately rewrites the same directory with the same content
  (reading from the last COMMITTED predecessor, not the torn one);
- readers (:func:`read_stream_rollup`) only ever see the latest
  committed snapshot — torn writes are invisible;
- once ``agg_v<b>`` commits, every version directory below ``b``'s
  newest committed predecessor is deleted, so the state holds two
  snapshots however long the stream runs: ``b`` and the predecessor a
  concurrent reader may have resolved during the fold. A crash before
  ``_SUCCESS`` never reaches the delete, and a fenced replay skips it.

At-least-once delivery x idempotent fenced publish = exactly-once
rollup state, bit-identical to a batch ``agg_snapshot`` over the full
history (pinned by test).
"""

from __future__ import annotations

import shutil
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rollup import agg_snapshot, apply_agg_delta
from .stream import drain_available_now

_PREFIX = "agg_v"


def _version_dirs(state: Path) -> dict[int, Path]:
    if not state.exists():
        return {}
    return {
        int(p.name[len(_PREFIX):]): p
        for p in state.iterdir()
        if p.name.startswith(_PREFIX)
    }


def _committed_versions(state: Path) -> list[int]:
    return sorted(
        v for v, p in _version_dirs(state).items() if (p / "_SUCCESS").exists()
    )


def apply_stream_batch(
    batch_df: DataFrame,
    batch_id: int,
    keys: Sequence[str],
    measures: dict[str, tuple[str | None, str]],
    state_path: str,
) -> None:
    """Fold ONE micro-batch into the rollup and publish
    ``agg_v<batch_id>``, then delete the versions below its committed
    predecessor. Replay-idempotent via the batch-id fence; safe after
    crashes (torn directories carry no _SUCCESS and are rewritten).

    Batch semantics: a plain batch is treated as INSERTS; a batch that
    already carries a ``change_type`` column (insert/update/delete,
    the ``snapshot_diff(include_old=True)`` CDC schema with
    ``old_<col>`` twins) is folded as a full CDC delta — updates move
    rows between groups and deletes retract them, so the maintained
    rollup tracks a MUTATING source exactly (``operators.rollup.
    apply_agg_delta`` semantics, group-key-changing updates included).
    """
    state = Path(state_path)
    state.mkdir(parents=True, exist_ok=True)
    committed = _committed_versions(state)
    if batch_id in committed:
        return  # fenced: this batch already published
    spark = batch_df.sparkSession
    prev = [v for v in committed if v < batch_id]
    if prev:
        agg = spark.read.parquet(str(state / f"{_PREFIX}{max(prev)}"))
    else:
        agg = agg_snapshot(batch_df.limit(0), list(keys), measures)
    if "change_type" in batch_df.columns:
        delta = batch_df  # CDC feed: fold as-is (updates/deletes too)
    else:
        delta = batch_df.withColumn("change_type", F.lit("insert"))
    for _, (col, kind) in measures.items():
        if kind == "sum_cents" and f"old_{col}" not in delta.columns:
            delta = delta.withColumn(
                f"old_{col}", F.lit(None).cast("double")
            )
    new_agg = apply_agg_delta(agg, delta, list(keys), measures)
    new_agg.write.mode("overwrite").parquet(
        str(state / f"{_PREFIX}{batch_id}")
    )
    if prev:
        for v, p in _version_dirs(state).items():
            if v < max(prev):
                shutil.rmtree(p)


def read_stream_rollup(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest COMMITTED rollup snapshot (torn writes invisible)."""
    committed = _committed_versions(Path(state_path))
    if not committed:
        raise FileNotFoundError(f"no committed rollup under {state_path}")
    return spark.read.parquet(
        str(Path(state_path) / f"{_PREFIX}{committed[-1]}")
    )


def run_stream_rollup(
    stream_df: DataFrame,
    keys: Sequence[str],
    measures: dict[str, tuple[str | None, str]],
    state_path: str,
    checkpoint_dir: str,
    query_name: str = "stream_rollup",
    timeout_sec: int = 120,
) -> None:
    """Drain ``stream_df`` with availableNow, maintaining the rollup
    exactly-once. The resulting state equals a batch ``agg_snapshot``
    over everything the stream delivered."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_stream_batch(batch_df, batch_id, keys, measures, state_path)

    drain_available_now(
        stream_df.writeStream.foreachBatch(_apply).option(
            "checkpointLocation", checkpoint_dir
        ),
        query_name,
        timeout_sec,
    )
