"""Regression pins for the round-8 ADVICE findings (all low).

1. sinks.versioned: vacuum sweeps orphaned .probe-* hard-link-check
   files (a crash between the check's write_text/os.link and its
   finally).
2. compact_join_mv_history: an EXPLICITLY requested left/right side on
   a temporal layout raises instead of silently no-oping; the default
   (sides omitted) still skips them automatically.
3. evict_join_mv_state: the replay-unsafe unfenced watermark (no
   committed_below) is now an explicit opt-in
   (allow_uncommitted_watermark=True); the default refuses loudly.
4. entry_queries.maintenance._scratch_dir reaper: liveness short-circuits on the
   first fresh mtime anywhere in the tree — a dead-pid dir with ONE
   fresh nested file is kept, a fully-stale dead-pid dir is reaped.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F


def _mk_lr(spark, rows, ts_col, ids):
    df = spark.createDataFrame(
        rows, f"k long, {ids} long, {ts_col} string"
    )
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def _temporal_state(spark, tmp_path):
    from etl_spark_spark.streaming.join_mv import apply_join_batch_temporal

    state = str(tmp_path / "st")
    for b, day in enumerate([1, 20]):
        apply_join_batch_temporal(
            _mk_lr(
                spark, [(b, b, f"2026-05-{day:02d} 10:00:00")], "lts", "lid"
            ),
            _mk_lr(
                spark,
                [(b, 100 + b, f"2026-05-{day:02d} 10:30:00")],
                "rts",
                "rid",
            ),
            b,
            ["k"],
            "lts",
            "rts",
            3600,
            state,
        )
    return state


def test_vacuum_sweeps_orphaned_probe_temps(spark, tmp_path):
    """A crash inside the hard-link check (between write_text/os.link
    and the finally) leaves .probe-* files in _v/; vacuum sweeps them like
    the .cmt-* temps."""
    from etl_spark_spark.sinks.versioned import (
        read_versioned,
        vacuum_versions,
        write_version,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "k")
    write_version(spark, df, tbl)
    orphan = tmp_path / "tbl" / "_v" / ".probe-deadbeef"
    orphan.write_text("probe\n")
    vacuum_versions(tbl)
    assert not orphan.exists()
    assert read_versioned(spark, tbl).count() == 5


def test_compaction_raises_on_explicit_evictable_side(spark, tmp_path):
    from etl_spark_spark.streaming.join_mv import compact_join_mv_history

    state = _temporal_state(spark, tmp_path)
    with pytest.raises(ValueError, match="temporal layout"):
        compact_join_mv_history(
            spark, state, upto_batch_id=2, sides=("left",)
        )
    # explicit 'view' alone is fine on a temporal layout
    out = compact_join_mv_history(
        spark, state, upto_batch_id=2, sides=("view",)
    )
    assert set(out) == {"view"}
    # the default still auto-skips left/right without raising
    out2 = compact_join_mv_history(spark, state, upto_batch_id=2)
    assert set(out2) <= {"view"}
    assert (Path(state) / "left" / "__batch_id=0").exists()


def test_unfenced_eviction_watermark_is_explicit_opt_in(spark, tmp_path):
    from etl_spark_spark.streaming.join_mv import evict_join_mv_state

    state = _temporal_state(spark, tmp_path)
    with pytest.raises(ValueError, match="committed_below"):
        evict_join_mv_state(state, band_seconds=3600)
    # fenced call works as before
    ev = evict_join_mv_state(state, 3600, committed_below=2)
    assert ("left", 0) in ev
    # the opt-in reproduces the old unfenced behavior (safe here: no
    # fold can replay in this test)
    again = evict_join_mv_state(
        state, 3600, allow_uncommitted_watermark=True
    )
    assert ("left", 0) not in again  # tombstoned, idempotent


def test_scratch_reaper_keeps_tree_with_fresh_nested_file(tmp_path):
    """The reaper's liveness probe must detect a fresh mtime ANYWHERE
    in the tree (short-circuiting there), not just the top level — a
    dead-pid dir with one fresh nested file survives; a fully-stale
    dead-pid dir is reaped."""
    import tempfile
    import time

    from entry_queries.maintenance import _scratch_dir

    tmp = tempfile.gettempdir()
    old = time.time() - 7200  # TTL is 3600s

    def _mk(name: str, fresh_nested: bool) -> Path:
        root = Path(tmp) / name
        nested = root / "t" / "__batch_id=0"
        nested.mkdir(parents=True)
        f = nested / "part-0.parquet"
        f.write_text("x")
        if not fresh_nested:
            os.utime(f, (old, old))
        # stale everything above the leaf either way
        for p in (nested, root / "t", root):
            os.utime(p, (old, old))
        return root

    # pid 4194304 is above the default kernel pid_max -> never alive
    live = _mk("spark_graft_advicer9live_p4194304_x", fresh_nested=True)
    dead = _mk("spark_graft_advicer9dead_p4194304_x", fresh_nested=False)
    try:
        _scratch_dir("advicer9probe")
        assert live.exists(), "fresh nested file must keep the tree"
        assert not dead.exists(), "fully-stale dead-pid tree is reaped"
    finally:
        import shutil

        shutil.rmtree(live, ignore_errors=True)
        shutil.rmtree(dead, ignore_errors=True)
