"""Streaming near-duplicate filtering (LLM-data-pipeline extension).

Continuous ingestion form of ``operators.neardup.incremental_near_dup``:
each micro-batch is deduplicated against the minhash-signature index of
every document seen so far, kept rows land in the curated output, and
the batch's signatures join the index. The historical corpus text is
never rescanned — only its compact signature index rides along.

Exactly-once story (the part a naive foreachBatch gets wrong):
Structured Streaming replays the last uncommitted batch after a crash,
so both writes must be replay-idempotent:

- the signature index is partitioned by ``__batch_id``; each batch
  overwrites its own ``__batch_id=<id>`` leaf directory directly (the
  join-MV ``_append_partition``) — a replayed batch rewrites ITS OWN
  partition whole, deleting a crashed attempt's files, instead of
  appending duplicates;
- kept rows go through the keyed ``sinks.upsert`` — replaying a batch
  re-upserts the same ids, a no-op;
- the index is read filtered to ``__batch_id < batch_id`` (STRICTLY
  earlier batches). Without that filter a replayed batch sees its own
  crashed-attempt signatures in the index and every doc "collides"
  with its stale self/siblings — the whole batch would be silently
  dropped on replay. Batch ids are monotonically increasing in
  Structured Streaming, so the filter reconstructs exactly the
  pre-batch index state.

At-least-once delivery x idempotent writes = effectively-once output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from .join_mv import _append_partition, _read_history
from .stream import drain_available_now


def dedup_batch_once(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    shingles_col: Column,
    kept_path: str,
    index_path: str,
    num_perms: int = 8,
    rows_per_band: int = 2,
    min_est: float = 0.5,
) -> None:
    """Process ONE micro-batch: dedup against the signature index of
    strictly earlier batches, upsert kept rows, overwrite this batch's
    index partition. Replay-idempotent: calling again with the same
    (batch_df, batch_id) reproduces the same kept set and index state
    (crash-replay pinned by test)."""
    from ..operators.neardup import incremental_near_dup
    from ..sinks.write import upsert

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    # strictly-earlier batches only: a replayed batch must NOT see its
    # own crashed-attempt signatures (ADVICE r2 high). A missing index
    # is no history; an unreadable partition raises instead of silently
    # keeping every duplicate.
    index = _read_history(spark, index_path, batch_id)
    if index is not None and index.isEmpty():
        index = None
    kept, new_index = incremental_near_dup(
        batch_df,
        index,
        id_col,
        shingles_col,
        num_perms=num_perms,
        rows_per_band=rows_per_band,
        min_est=min_est,
    )
    # persist ONLY this batch's signatures (the index already holds
    # the rest); localCheckpoint pins the dedup decision before the
    # two writes so they can't diverge
    batch_sig = new_index.join(batch_df.select(id_col), id_col, "left_semi")
    kept = kept.localCheckpoint()
    _append_partition(batch_sig, batch_id, index_path)
    upsert(spark, kept, kept_path, [id_col])


def run_stream_near_dup(
    stream_df: DataFrame,
    id_col: str,
    shingles_col: Column,
    kept_path: str,
    index_path: str,
    checkpoint_dir: str,
    num_perms: int = 8,
    rows_per_band: int = 2,
    min_est: float = 0.5,
    query_name: str = "near_dup_ingest",
    timeout_sec: int = 120,
) -> None:
    """Drain ``stream_df`` with availableNow through incremental
    near-dup. ``shingles_col`` is an unbound expression over
    ``stream_df``'s columns (e.g. ``word_shingles(tokens(text), 3)``) —
    callers choose tokenization; kept rows carry every stream column.

    Batch order is the file-source order (modification time), so ids
    should be assigned in ingestion order for the fold-equals-one-shot
    guarantee of the underlying operator to apply."""

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_batch_once(
            batch_df,
            batch_id,
            id_col,
            shingles_col,
            kept_path,
            index_path,
            num_perms=num_perms,
            rows_per_band=rows_per_band,
            min_est=min_est,
        )

    drain_available_now(
        stream_df.writeStream.foreachBatch(dedup_batch).option(
            "checkpointLocation", checkpoint_dir
        ),
        query_name,
        timeout_sec,
    )
