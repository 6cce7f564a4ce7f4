"""Regression pins for the round-7 ADVICE findings.

1. (medium) Temporal join-MV eviction fence: the streaming runner must
   evict BEFORE each fold using a watermark computed from COMMITTED
   batches only — the uncommitted batch's own event times must not
   advance the horizon, or a crash-then-replay folds against less
   history than the first attempt and silently loses view rows.
2. (low) compact_join_mv_history skips the evictable left/right sides
   of a TEMPORAL layout (compacted rows would become unevictable).
3. (low) The local-filesystem maintenance ops refuse object-store
   state paths loudly instead of half-working.
4. (low) sinks.versioned: the writer checks hard-link support before
   staging, and vacuum sweeps orphaned .cmt-* temp files.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F


def _mk_lr(spark, rows, ts_col, ids):
    """rows: [(k, id, ts_string)] -> DataFrame with timestamp col."""
    df = spark.createDataFrame(
        rows, f"k long, {ids} long, {ts_col} string"
    )
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def test_evict_then_replay_window_is_lossless(spark, tmp_path):
    """The exact crash window from ADVICE r7: batch 1 advances the
    stream's max event time far past batch 0, then crashes before the
    checkpoint commits. The replay of batch 1 must see batch 0's
    history exactly as the first attempt did — eviction fenced at
    committed_below=1 may not use batch 1's own stats to evict
    batch 0."""
    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch_temporal,
        evict_join_mv_state,
    )

    state = str(tmp_path / "st")
    band = 3600

    # batch 0: one left row, day 1
    b0l = _mk_lr(spark, [(1, 10, "2026-05-01 10:00:00")], "lts", "lid")
    b0r = spark.createDataFrame([], "k long, rid long, rts timestamp")
    apply_join_batch_temporal(b0l, b0r, 0, ["k"], "lts", "rts", band, state)

    # batch 1: the in-band right partner for batch 0's left, PLUS a
    # row a month later that advances max event time far past
    # day 1 + band
    b1l = spark.createDataFrame([], "k long, lid long, lts timestamp")
    b1r = _mk_lr(
        spark,
        [(1, 20, "2026-05-01 10:30:00"), (2, 21, "2026-05-30 09:00:00")],
        "rts",
        "rid",
    )

    def fold_batch_1():
        # runner order: evict (fenced to committed) THEN fold
        evicted = evict_join_mv_state(state, band, committed_below=1)
        apply_join_batch_temporal(
            b1l, b1r, 1, ["k"], "lts", "rts", band, state
        )
        return evicted

    ev1 = fold_batch_1()
    # committed watermark comes from batch 0 only -> no row is
    # evictable; only batch 0's empty right leaf goes (it holds none)
    assert ev1 == [("right", 0)]
    first = sorted(
        (r["lid"], r["rid"])
        for r in spark.read.parquet(f"{state}/view").collect()
    )
    assert first == [(10, 20)]

    # crash before checkpoint commit -> batch 1 replays end-to-end.
    # The crashed attempt's _ts_stats entry for batch 1 exists, but
    # the committed fence must keep ignoring it.
    ev2 = fold_batch_1()
    assert ev2 == []
    assert (Path(state) / "left" / "__batch_id=0").exists()
    replayed = sorted(
        (r["lid"], r["rid"])
        for r in spark.read.parquet(f"{state}/view").collect()
    )
    assert replayed == first == [(10, 20)]

    # once batch 1 IS committed, its day-30 event time may advance the
    # horizon and batch 0 becomes evictable — bounded state still holds
    ev3 = evict_join_mv_state(state, band, committed_below=2)
    assert ("left", 0) in ev3
    assert not (Path(state) / "left" / "__batch_id=0").exists()


def test_committed_watermark_is_monotone_across_tombstones(
    spark, tmp_path
):
    """After eviction consumes a batch's stats (tombstone), the
    committed watermark must not regress on the next eviction pass."""
    import json

    from etl_spark_spark.streaming.join_mv import (
        _ts_stats_path,
        apply_join_batch_temporal,
        evict_join_mv_state,
    )

    state = str(tmp_path / "st")
    band = 3600
    empty_r = spark.createDataFrame([], "k long, rid long, rts timestamp")
    apply_join_batch_temporal(
        _mk_lr(spark, [(1, 1, "2026-05-01 10:00:00")], "lts", "lid"),
        empty_r, 0, ["k"], "lts", "rts", band, state,
    )
    apply_join_batch_temporal(
        _mk_lr(spark, [(2, 2, "2026-05-20 10:00:00")], "lts", "lid"),
        empty_r, 1, ["k"], "lts", "rts", band, state,
    )
    ev = evict_join_mv_state(state, band, committed_below=2)
    assert ("left", 0) in ev
    stats = json.loads(Path(_ts_stats_path(state)).read_text())
    wm1 = stats["committed_max_ts"]
    # another pass with the same fence: tombstoned entries are gone but
    # the high-water mark survives in the manifest
    evict_join_mv_state(state, band, committed_below=2)
    stats2 = json.loads(Path(_ts_stats_path(state)).read_text())
    assert stats2["committed_max_ts"] == wm1


def test_compaction_skips_evictable_sides_of_temporal_layout(
    spark, tmp_path
):
    """Compacting a temporal join-MV must leave the accumulated
    left/right sides in partition form (evictable); only the view —
    output, never evicted — is consolidated."""
    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch_temporal,
        compact_join_mv_history,
        evict_join_mv_state,
        read_join_view,
    )

    state = str(tmp_path / "st")
    band = 3600
    for b, (lday, rday) in enumerate([(1, 1), (20, 20)]):
        apply_join_batch_temporal(
            _mk_lr(spark, [(b, b, f"2026-05-{lday:02d} 10:00:00")], "lts", "lid"),
            _mk_lr(spark, [(b, 100 + b, f"2026-05-{rday:02d} 10:30:00")], "rts", "rid"),
            b, ["k"], "lts", "rts", band, state,
        )
    out = compact_join_mv_history(spark, state, upto_batch_id=2)
    assert set(out) <= {"view"}
    # sides keep their batch partitions -> still evictable
    assert (Path(state) / "left" / "__batch_id=0").exists()
    ev = evict_join_mv_state(state, band, committed_below=2)
    assert ("left", 0) in ev
    # the compacted view still reads fully
    got = sorted(
        (r["lid"], r["rid"])
        for r in read_join_view(spark, state).collect()
    )
    assert got == [(0, 100), (1, 101)]


def test_maintenance_ops_refuse_object_store_paths(spark, tmp_path):
    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch_temporal,
        compact_join_mv_history,
        evict_join_mv_state,
    )

    uri = "s3a://bucket/state"
    with pytest.raises(ValueError, match="local"):
        compact_join_mv_history(spark, uri, upto_batch_id=2)
    with pytest.raises(ValueError, match="local"):
        evict_join_mv_state(uri, 3600)
    L = _mk_lr(spark, [(1, 1, "2026-05-01 10:00:00")], "lts", "lid")
    R = spark.createDataFrame([], "k long, rid long, rts timestamp")
    with pytest.raises(ValueError, match="local"):
        apply_join_batch_temporal(L, R, 0, ["k"], "lts", "rts", 3600, uri)


def test_layout_probe_fails_fast_without_links(
    spark, tmp_path, monkeypatch
):
    """A filesystem without hard links must fail the writer's hard-link
    check BEFORE any staging data is written, with a message pointing
    at the conditional-PUT shape — not a raw OSError after a full
    staged write."""
    import os as _os

    from etl_spark_spark.sinks import versioned as V

    def _no(*a, **kw):
        raise OSError(1, "Operation not permitted")

    monkeypatch.setattr(_os, "link", _no)
    root = tmp_path / "tbl"
    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(OSError, match="conditional PUT"):
        V.write_version(spark, df, root)
    assert [p.name for p in (root / "_v").iterdir()] == []


def test_vacuum_sweeps_orphaned_cmt_temps(spark, tmp_path):
    """A crash between the marker temp's write_text and its os.link
    orphans a hidden .cmt-* file; vacuum_versions sweeps it."""
    from etl_spark_spark.sinks.versioned import (
        read_versioned,
        vacuum_versions,
        write_version,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "k")
    write_version(spark, df, tbl)
    orphan = tmp_path / "tbl" / "_v" / ".cmt-deadbeef"
    orphan.write_text(".staging-nonexistent\n")
    vacuum_versions(tbl)
    assert not orphan.exists()
    # the committed snapshot is untouched
    assert read_versioned(spark, tbl).count() == 5
