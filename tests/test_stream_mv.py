"""Streaming materialized-view maintenance (streaming/mv.py):
exactly-once fenced rollup updates — end state equals a batch
recompute, replays are no-ops, torn writes are invisible and
recoverable."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_spark_spark.operators.rollup import agg_snapshot
from etl_spark_spark.streaming.mv import (
    apply_stream_batch,
    read_stream_rollup,
    run_stream_rollup,
)

KEYS = ["event_type"]
MEASURES = {"cents": ("value", "sum_cents"), "n": (None, "count")}


def _rollup_dict(df):
    return {
        r["event_type"]: (r["cents"], r["n"]) for r in df.collect()
    }


def _make_stream_dir(spark, sf_dir, path: Path, n_files: int = 3):
    from etl_spark_spark.sources import read_events

    ev = read_events(spark, sf_dir, with_ts=False).select(
        "event_type", "value"
    )
    # n_files arrival chunks -> several micro-batches under availableNow
    parts = ev.randomSplit([1.0] * n_files, seed=7)
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(str(path / f"chunk{i}"))
    return ev


def test_stream_rollup_equals_batch_snapshot(spark, sf_dir, tmp_path):
    src = tmp_path / "src"
    ev = _make_stream_dir(spark, sf_dir, src)
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "chunk*"))
    )
    state = str(tmp_path / "state")
    run_stream_rollup(
        stream, KEYS, MEASURES, state, str(tmp_path / "ckpt"),
        query_name="t_mv",
    )
    got = _rollup_dict(read_stream_rollup(spark, state))
    want = _rollup_dict(agg_snapshot(ev, KEYS, MEASURES))
    assert got == want  # integer partials -> bit-identical to recompute
    # multiple fenced versions were published (one per micro-batch)
    versions = [p for p in Path(state).iterdir() if p.name.startswith("agg_v")]
    assert len(versions) >= 2


def test_replay_is_fenced_and_crash_rewrite_recovers(spark, sf_dir, tmp_path):
    from etl_spark_spark.sources import read_events

    ev = read_events(spark, sf_dir, with_ts=False).select(
        "event_type", "value"
    )
    half_a = ev.filter(F.col("value") < 50)
    half_b = ev.filter(F.col("value") >= 50)
    state = str(tmp_path / "state")
    apply_stream_batch(half_a, 0, KEYS, MEASURES, state)
    apply_stream_batch(half_b, 1, KEYS, MEASURES, state)
    want = _rollup_dict(read_stream_rollup(spark, state))
    assert want == _rollup_dict(agg_snapshot(ev, KEYS, MEASURES))

    # replay of a committed batch: fenced no-op, state unchanged
    apply_stream_batch(half_b, 1, KEYS, MEASURES, state)
    assert _rollup_dict(read_stream_rollup(spark, state)) == want

    # crash simulation: batch 1's publish tore (no _SUCCESS marker) ->
    # readers fall back to v0, and the replay rewrites v1 identically
    (Path(state) / "agg_v1" / "_SUCCESS").unlink()
    v0 = _rollup_dict(read_stream_rollup(spark, state))
    assert v0 == _rollup_dict(agg_snapshot(half_a, KEYS, MEASURES))
    apply_stream_batch(half_b, 1, KEYS, MEASURES, state)
    assert _rollup_dict(read_stream_rollup(spark, state)) == want


def test_rollup_keeps_two_versions(spark, sf_dir, tmp_path):
    """Each fold deletes the versions below its committed predecessor:
    after five batches only agg_v3 and agg_v4 remain, and the rollup
    still equals the batch snapshot over all five."""
    from etl_spark_spark.sources import read_events

    ev = read_events(spark, sf_dir, with_ts=False).select(
        "event_type", "value"
    )
    part = F.pmod(F.xxhash64("event_type", "value"), F.lit(5))
    state = str(tmp_path / "state")
    for b in range(5):
        apply_stream_batch(ev.filter(part == b), b, KEYS, MEASURES, state)
    versions = sorted(
        p.name for p in Path(state).iterdir() if p.name.startswith("agg_v")
    )
    assert versions == ["agg_v3", "agg_v4"]
    got = _rollup_dict(read_stream_rollup(spark, state))
    assert got == _rollup_dict(agg_snapshot(ev, KEYS, MEASURES))


def test_join_view_fold_equals_batch_join_and_replay_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Incremental join-view maintenance (streaming/join_mv.py): three
    independently-sliced insert batches reconstruct the one-shot join
    exactly (cross-batch matches included), and replaying a committed
    batch changes nothing — each batch overwrites only its own
    partition."""
    from pyspark.sql import functions as F

    from etl_spark_spark.sources import table
    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch,
        read_join_view,
    )

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_extendedprice", "l_suppkey"],
    ).withColumnRenamed("l_orderkey", "k")
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"]
    ).withColumnRenamed("o_orderkey", "k")
    state = str(tmp_path / "jv")

    for b in range(3):
        apply_join_batch(
            li.filter(F.col("l_suppkey") % 3 == b),
            orders.filter(F.col("o_custkey") % 3 == b),
            b,
            ["k"],
            state,
        )
    got = read_join_view(spark, state)
    want = li.join(orders, "k")
    assert got.count() == want.count()
    assert (
        got.exceptAll(want.select(*got.columns)).count() == 0
        and want.select(*got.columns).exceptAll(got).count() == 0
    )
    # cross-batch matches really occurred: the view is strictly bigger
    # than the sum of the within-batch-only joins
    within = sum(
        li.filter(F.col("l_suppkey") % 3 == b)
        .join(orders.filter(F.col("o_custkey") % 3 == b), "k")
        .count()
        for b in range(3)
    )
    assert got.count() > within

    # replay of a committed middle batch: byte-identical partitions,
    # view unchanged
    apply_join_batch(
        li.filter(F.col("l_suppkey") % 3 == 1),
        orders.filter(F.col("o_custkey") % 3 == 1),
        1,
        ["k"],
        state,
    )
    again = read_join_view(spark, state)
    assert again.count() == want.count()
    assert again.exceptAll(want.select(*again.columns)).count() == 0


def test_bucketed_join_view_equals_plain_fold(spark, sf_dir, tmp_path):
    """The bucketed scale form of join-view maintenance produces the
    same view as the one-shot join, survives a replay, and leaves the
    history side of its delta joins exchange-free (the whole point of
    paying the bucketed write)."""
    import uuid

    from pyspark.sql import functions as F

    from etl_spark_spark.sources import table
    from etl_spark_spark.streaming.join_mv import apply_join_batch_bucketed

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_suppkey"],
    ).withColumnRenamed("l_orderkey", "k")
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"]
    ).withColumnRenamed("o_orderkey", "k")
    pfx = f"jv_test_{uuid.uuid4().hex[:8]}"
    view = str(tmp_path / "view")
    try:
        for b in range(3):
            apply_join_batch_bucketed(
                li.filter(F.col("l_suppkey") % 3 == b),
                orders.filter(F.col("o_custkey") % 3 == b),
                b, ["k"], pfx, view,
            )
        got = spark.read.parquet(view).drop("__batch_id")
        want = li.join(orders, "k")
        assert got.count() == want.count()
        assert got.exceptAll(want.select(*got.columns)).count() == 0

        # replay batch 1: its partition overwrites keep everything identical
        apply_join_batch_bucketed(
            li.filter(F.col("l_suppkey") % 3 == 1),
            orders.filter(F.col("o_custkey") % 3 == 1),
            1, ["k"], pfx, view,
        )
        again = spark.read.parquet(view).drop("__batch_id")
        assert again.count() == want.count()
        assert again.exceptAll(want.select(*again.columns)).count() == 0

        # plan: a merge-join of a delta against the bucketed history
        # shuffles ONLY the delta — one Exchange in the whole plan
        hist = spark.table(f"{pfx}_right").filter(
            F.col("__batch_id") < 99
        ).drop("__batch_id")
        plan = (
            li.hint("merge").join(hist, "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 1, plan
    finally:
        for t in (f"{pfx}_left", f"{pfx}_right"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_zset_join_view_updates_and_replay(spark, tmp_path):
    """Z-set join maintenance: a retract+reinsert batch UPDATES the
    view (old row nets to multiplicity 0 and vanishes, new row
    appears), a retraction without history nets negative and is
    dropped, and replaying the correction batch changes nothing."""
    from pyspark.sql import functions as F

    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch_z,
        read_join_view_z,
    )

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k long, lv string"
    )
    right = spark.createDataFrame([(1, "old"), (2, "keep")], "k long, rv string")
    state = str(tmp_path / "z")
    apply_join_batch_z(left, right, 0, ["k"], state)

    correction = spark.createDataFrame(
        [(1, "old", -1), (1, "new", 1), (9, "ghost", -1)],
        "k long, rv string, __mult long",
    )
    empty_left = left.filter(F.lit(False))
    apply_join_batch_z(empty_left, correction, 1, ["k"], state)

    rows = {
        (r["k"], r["lv"], r["rv"]): r["mult"]
        for r in read_join_view_z(spark, state).collect()
    }
    assert rows == {
        (1, "a", "new"): 1,
        (1, "b", "new"): 1,
        (2, "c", "keep"): 1,
    }  # 'old' netted to 0; ghost retraction dropped; update visible

    apply_join_batch_z(empty_left, correction, 1, ["k"], state)  # replay
    again = {
        (r["k"], r["lv"], r["rv"]): r["mult"]
        for r in read_join_view_z(spark, state).collect()
    }
    assert again == rows


def test_stream_rollup_accepts_cdc_batches(spark, tmp_path):
    """A micro-batch carrying change_type (the CDC schema) folds as
    updates/deletes, not blind inserts: the maintained rollup equals a
    recompute over the source's FINAL logical state, including a
    group-key-changing update and a delete."""
    from etl_spark_spark.operators.rollup import agg_snapshot
    from etl_spark_spark.streaming.mv import (
        apply_stream_batch,
        read_stream_rollup,
    )

    keys = ["g"]
    measures = {"cents": ("v", "sum_cents"), "n": (None, "count")}
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, g string, v double",
    )
    state = str(tmp_path / "mvcdc")
    apply_stream_batch(base, 0, keys, measures, state)

    # CDC batch: row 2 moves a -> b with a new value; row 3 deleted
    cdc = spark.createDataFrame(
        [
            ("update", 2, "b", 25.0, "a", 20.0),
            ("delete", 3, None, None, "b", 30.0),
        ],
        "change_type string, id long, g string, v double, "
        "old_g string, old_v double",
    )
    apply_stream_batch(cdc, 1, keys, measures, state)

    got = {
        r["g"]: (r["cents"], r["n"])
        for r in read_stream_rollup(spark, state).collect()
    }
    final = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0)], "id long, g string, v double"
    )
    want = {
        r["g"]: (r["cents"], r["n"])
        for r in agg_snapshot(final, keys, measures).collect()
    }
    assert got == want == {"a": (1000, 1), "b": (2500, 1)}


def test_join_mv_bucket_metadata_survives_session_restart(
    spark, sf_dir, tmp_path
):
    """Round-7: with location_root, the bucketed side tables are
    EXTERNAL and described by an on-disk manifest, so a NEW session
    (simulated by dropping the catalog entries — external data stays)
    re-registers them with register_join_mv_tables and gets back
    (a) the exact same history rows, (b) the exchange-free history
    side of the delta join, (c) a continuing maintenance loop."""
    import uuid

    from pyspark.sql import functions as F

    from etl_spark_spark.sources import table
    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch_bucketed,
        register_join_mv_tables,
    )

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_suppkey"],
    ).withColumnRenamed("l_orderkey", "k")
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"]
    ).withColumnRenamed("o_orderkey", "k")
    pfx = f"jv_meta_{uuid.uuid4().hex[:8]}"
    loc = str(tmp_path / "warehouse")
    view = str(tmp_path / "view")
    tables = (f"{pfx}_left", f"{pfx}_right")
    try:
        for b in range(2):
            apply_join_batch_bucketed(
                li.filter(F.col("l_suppkey") % 3 == b),
                orders.filter(F.col("o_custkey") % 3 == b),
                b, ["k"], pfx, view, location_root=loc,
            )
        before = {
            t: spark.table(t).count() for t in tables
        }
        # "restart": the in-session catalog forgets the tables; the
        # external data and the manifest survive on disk
        for t in tables:
            spark.sql(f"DROP TABLE {t}")
            assert not spark.catalog.tableExists(t)
        created = register_join_mv_tables(spark, loc)
        assert sorted(created) == sorted(tables)
        for t in tables:
            assert spark.table(t).count() == before[t]

        # the re-registered history side still joins exchange-free:
        # only the delta shuffles
        hist = spark.table(f"{pfx}_right").filter(
            F.col("__batch_id") < 99
        ).drop("__batch_id")
        plan = (
            li.hint("merge").join(hist, "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 1, plan

        # maintenance continues across the restart: batch 2 folds in
        # through the re-registered tables and the view equals the
        # one-shot join over everything delivered
        apply_join_batch_bucketed(
            li.filter(F.col("l_suppkey") % 3 == 2),
            orders.filter(F.col("o_custkey") % 3 == 2),
            2, ["k"], pfx, view, location_root=loc,
        )
        got = spark.read.parquet(view).drop("__batch_id")
        want = li.join(orders, "k")
        assert got.count() == want.count()
        assert got.exceptAll(want.select(*got.columns)).count() == 0

        # idempotent: re-registering with tables present is a no-op
        assert register_join_mv_tables(spark, loc) == []
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_readstream_join_mv_end_to_end_with_late_batch(spark, tmp_path):
    """Round-7: true readStream -> apply_join_batch_bucketed ->
    availableNow, two drains. The SECOND drain delivers an event-time
    LATE batch (older ts than anything in the first drain, past the
    declared watermark delay); the maintained view must still equal a
    batch join over everything delivered — the join MV is total, and
    the delta rule is order-independent."""
    import uuid

    from pyspark.sql import functions as F

    from etl_spark_spark.streaming.join_mv import run_stream_join_mv

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = (
        "side string, k long, ts timestamp, lv string, rv string"
    )

    def rows_df(rows):
        return spark.createDataFrame(
            rows, schema
        )

    # drain 1: two files -> two micro-batches (maxFilesPerTrigger=1)
    rows_df(
        [
            ("left", 1, None, "a1", None),
            ("left", 2, None, "a2", None),
            ("right", 1, None, None, "b1"),
        ]
    ).withColumn("ts", F.lit("2026-01-10 00:00:00").cast("timestamp")).coalesce(
        1
    ).write.mode("overwrite").parquet(str(feed / "f0"))
    rows_df(
        [
            ("right", 2, None, None, "b2"),
            ("left", 1, None, "a3", None),
        ]
    ).withColumn("ts", F.lit("2026-01-11 00:00:00").cast("timestamp")).coalesce(
        1
    ).write.mode("overwrite").parquet(str(feed / "f1"))

    pfx = f"jv_stream_{uuid.uuid4().hex[:8]}"
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        run_stream_join_mv(
            stream,
            ["k"],
            "side",
            ["ts", "lv"],
            ["rv"],
            pfx,
            view,
            ckpt,
            watermark=("ts", "1 hour"),
        )

    try:
        drain()
        got1 = {
            (r["k"], r["lv"], r["rv"])
            for r in spark.read.parquet(view).collect()
        }
        assert got1 == {(1, "a1", "b1"), (1, "a3", "b1"), (2, "a2", "b2")}

        # drain 2: ONE new file, event-time 5 days older than drain 1
        # (far past the 1h watermark) — late rows must still fold in
        rows_df(
            [
                ("right", 1, None, None, "late_b"),
                ("left", 3, None, "late_a", None),
                ("right", 3, None, None, "b3"),
            ]
        ).withColumn(
            "ts", F.lit("2026-01-05 00:00:00").cast("timestamp")
        ).coalesce(1).write.mode("overwrite").parquet(str(feed / "f2"))
        drain()

        got2 = {
            (r["k"], r["lv"], r["rv"])
            for r in spark.read.parquet(view).collect()
        }
        # end state == batch recompute over EVERYTHING delivered
        assert got2 == got1 | {
            (1, "a1", "late_b"),
            (1, "a3", "late_b"),
            (3, "late_a", "b3"),
        }
    finally:
        for t in (f"{pfx}_left", f"{pfx}_right"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_temporal_join_mv_bounded_state(spark, tmp_path):
    """Banded delta joins with watermark eviction: time-ordered folds
    equal the one-shot interval join, eviction physically drops
    never-joinable partitions, and folding AFTER eviction still equals
    the full recompute (eviction is lossless by the band argument)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch_temporal,
        evict_join_mv_state,
        stream_watermark,
    )

    def ts(day, hour, minute=0):
        return f"2026-03-{day:02d} {hour:02d}:{minute:02d}:00"

    left_rows = [
        (1, 10, ts(1, 10)),   # batch 0
        (1, 11, ts(1, 23)),   # batch 0, pairs with right across batches? no: day 1
        (2, 12, ts(5, 9)),    # batch 1
        (1, 13, ts(9, 12)),   # batch 2
    ]
    right_rows = [
        (1, 20, ts(1, 10, 30)),  # batch 0: joins (1,10) within 1h
        (2, 21, ts(5, 10)),      # batch 1: joins (2,12) within 1h
        (1, 22, ts(9, 11, 30)),  # batch 2: joins (1,13) within 1h
        (1, 23, ts(9, 14)),      # batch 2: outside the band of (1,13)
    ]
    L = spark.createDataFrame(left_rows, "k long, lid long, lts string").withColumn(
        "lts", F.col("lts").cast("timestamp")
    )
    R = spark.createDataFrame(right_rows, "k long, rid long, rts string").withColumn(
        "rts", F.col("rts").cast("timestamp")
    )
    state = str(tmp_path / "tj")
    windows = [(1, 3), (3, 7), (7, 31)]
    for b, (lo, hi) in enumerate(windows):
        lw = L.filter(
            (F.dayofmonth("lts") >= lo) & (F.dayofmonth("lts") < hi)
        )
        rw = R.filter(
            (F.dayofmonth("rts") >= lo) & (F.dayofmonth("rts") < hi)
        )
        if b == 2:
            # before the last fold: batches 0-1 committed, watermark is
            # day 5 -> day-1 partitions are behind wm - band and drop
            evicted = evict_join_mv_state(
                state, band_seconds=3600, committed_below=2
            )
            assert ("left", 0) in evicted and ("right", 0) in evicted
            assert not (
                Path(state) / "left" / "__batch_id=0"
            ).exists()
        apply_join_batch_temporal(
            lw, rw, b, ["k"], "lts", "rts", 3600, state
        )

    got = {
        (r["lid"], r["rid"])
        for r in spark.read.parquet(f"{state}/view").collect()
    }
    # one-shot banded recompute over everything delivered
    want = {
        (r["lid"], r["rid"])
        for r in L.join(R, "k")
        .filter(
            F.abs(
                F.col("lts").cast("long") - F.col("rts").cast("long")
            )
            <= 3600
        )
        .collect()
    }
    assert got == want == {(10, 20), (12, 21), (13, 22)}

    # watermark is monotone and survived the eviction tombstones
    wm = stream_watermark(state)
    assert wm is not None and wm >= int(
        L.agg(F.max(F.col("lts").cast("long"))).collect()[0][0]
    )

    # a second eviction pass is a no-op for already-dropped partitions
    # (stream fully folded here, so the unfenced watermark is safe and
    # must be explicitly opted into — the default now refuses)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="committed_below"):
        evict_join_mv_state(state, band_seconds=3600)
    again = evict_join_mv_state(
        state, band_seconds=3600, allow_uncommitted_watermark=True
    )
    assert ("left", 0) not in again


def test_temporal_join_mv_rejects_null_event_time(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_spark_spark.streaming.join_mv import apply_join_batch_temporal

    L = spark.createDataFrame(
        [(1, 1, None)], "k long, lid long, lts timestamp"
    )
    R = spark.createDataFrame(
        [(1, 2, "2026-01-01 00:00:00")], "k long, rid long, rts string"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-null"):
        apply_join_batch_temporal(
            L, R, 0, ["k"], "lts", "rts", 3600, str(tmp_path / "x")
        )


def test_temporal_join_mv_replay_idempotent(spark, tmp_path):
    """Replaying a committed batch rewrites its own partitions with
    identical content — the view is unchanged (same fence as the equi
    form)."""
    from pyspark.sql import functions as F

    from etl_spark_spark.streaming.join_mv import apply_join_batch_temporal

    L = spark.createDataFrame(
        [(1, 1, "2026-01-01 10:00:00"), (1, 2, "2026-01-02 10:00:00")],
        "k long, lid long, lts string",
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    R = spark.createDataFrame(
        [(1, 3, "2026-01-01 10:30:00"), (1, 4, "2026-01-02 10:30:00")],
        "k long, rid long, rts string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    state = str(tmp_path / "rj")
    b0l = L.filter(F.dayofmonth("lts") == 1)
    b0r = R.filter(F.dayofmonth("rts") == 1)
    apply_join_batch_temporal(b0l, b0r, 0, ["k"], "lts", "rts", 3600, state)
    apply_join_batch_temporal(
        L.filter(F.dayofmonth("lts") == 2),
        R.filter(F.dayofmonth("rts") == 2),
        1, ["k"], "lts", "rts", 3600, state,
    )
    before = sorted(
        (r["lid"], r["rid"])
        for r in spark.read.parquet(f"{state}/view").collect()
    )
    # replay batch 0
    apply_join_batch_temporal(b0l, b0r, 0, ["k"], "lts", "rts", 3600, state)
    after = sorted(
        (r["lid"], r["rid"])
        for r in spark.read.parquet(f"{state}/view").collect()
    )
    assert after == before == [(1, 3), (2, 4)]


def test_readstream_temporal_join_mv_evicts_and_honors_delay(
    spark, tmp_path
):
    """The full bounded-state streaming loop: readStream drains
    time-ordered files, eviction trims state after each fold, a
    WITHIN-delay late row still pairs, and a BEYOND-delay late row
    against evicted state does not (the watermark loss contract)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from etl_spark_spark.streaming.join_mv import (
        run_stream_join_mv_temporal,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = "side string, k long, ts timestamp, lp string, rp string"

    def write_file(name, rows):
        spark.createDataFrame(
            rows, "side string, k long, ts string, lp string, rp string"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.mode("overwrite").parquet(str(feed / name))

    def t(day, hour, minute=0):
        return f"2026-04-{day:02d} {hour:02d}:{minute:02d}:00"

    # f0: day 1 — one in-band pair
    write_file("f0", [
        ("left", 1, t(1, 10), "L1", None),
        ("right", 1, t(1, 10, 20), None, "R1"),
    ])
    # f1: day 8 — advances the watermark far past day 1 + band + delay
    write_file("f1", [
        ("left", 2, t(8, 9), "L2", None),
        ("right", 2, t(8, 9, 30), None, "R2"),
    ])

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        run_stream_join_mv_temporal(
            stream, ["k"], "side", "ts", ["lp"], ["rp"],
            band_seconds=3600, state_path=state, checkpoint_dir=ckpt,
            delay_seconds=7200,
        )

    drain()
    # day-1 state is far behind watermark(day 8) - band - delay: evicted
    l_parts = sorted(p.name for p in (Path(state) / "left").iterdir()
                     if p.name.startswith("__batch_id="))
    assert "__batch_id=0" not in l_parts
    pairs = {
        (r["k"], r["lp"], r["rp"])
        for r in spark.read.parquet(f"{state}/view").collect()
    }
    assert pairs == {(1, "L1", "R1"), (2, "L2", "R2")}

    # f2: a WITHIN-delay late right row (inside day 8's 2h lateness)
    # pairs with the still-retained day-8 left; a BEYOND-delay one for
    # k=1 finds its counterpart evicted and yields nothing
    write_file("f2", [
        ("right", 2, t(8, 8, 45), None, "R2_late_ok"),
        ("right", 1, t(1, 10, 40), None, "R1_too_late"),
    ])
    drain()
    pairs2 = {
        (r["k"], r["lp"], r["rp"])
        for r in spark.read.parquet(f"{state}/view").collect()
    }
    assert pairs2 == {
        (1, "L1", "R1"),
        (2, "L2", "R2"),
        (2, "L2", "R2_late_ok"),
    }


def test_join_mv_history_compaction(spark, sf_dir, tmp_path):
    """Compacting batches below the fence consolidates them into one
    staging dir, deletes their partition dirs, leaves every read
    identical, keeps the maintenance loop folding, and refuses a
    replay below the fence."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch,
        compact_join_mv_history,
        read_join_view,
    )
    from etl_spark_spark.sources import table

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_suppkey"],
    ).withColumnRenamed("l_orderkey", "k")
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"]
    ).withColumnRenamed("o_orderkey", "k")
    state = str(tmp_path / "state")
    for b in range(3):
        apply_join_batch(
            li.filter(F.col("l_suppkey") % 4 == b),
            orders.filter(F.col("o_custkey") % 4 == b),
            b, ["k"], state,
        )
    before = read_join_view(spark, state)
    n_before = before.count()

    rows = compact_join_mv_history(spark, state, upto_batch_id=2)
    assert set(rows) == {"left", "right", "view"}
    # old partition dirs physically gone, one hidden staging instead
    for side in ("left", "right", "view"):
        names = os.listdir(f"{state}/{side}")
        assert not any(
            n.startswith("__batch_id=") and int(n.split("=")[1]) < 2
            for n in names
        ), names
        assert sum(1 for n in names if n.startswith(".compact-")) == 1

    # reads identical through the manifest
    assert read_join_view(spark, state).count() == n_before

    # the loop continues: batch 3 folds against compacted history
    apply_join_batch(
        li.filter(F.col("l_suppkey") % 4 == 3),
        orders.filter(F.col("o_custkey") % 4 == 3),
        3, ["k"], state,
    )
    want = li.join(orders, "k")
    got = read_join_view(spark, state)
    assert got.count() == want.count()
    assert got.exceptAll(want.select(*got.columns)).count() == 0

    # replay of a committed batch AT/ABOVE the fence still works ...
    apply_join_batch(
        li.filter(F.col("l_suppkey") % 4 == 2),
        orders.filter(F.col("o_custkey") % 4 == 2),
        2, ["k"], state,
    )
    assert read_join_view(spark, state).count() == want.count()
    # ... and below the fence raises instead of silently corrupting
    with _pytest.raises(ValueError, match="compaction fence"):
        apply_join_batch(
            li.filter(F.col("l_suppkey") % 4 == 1),
            orders.filter(F.col("o_custkey") % 4 == 1),
            1, ["k"], state,
        )

    # re-compaction folds the previous staging forward
    rows2 = compact_join_mv_history(spark, state, upto_batch_id=4)
    assert read_join_view(spark, state).count() == want.count()


def test_join_mv_compaction_crash_before_manifest_is_invisible(
    spark, tmp_path, monkeypatch
):
    """Kill the compactor between staging write and manifest publish:
    readers see the original partitions; the orphan staging is swept
    by the next successful compaction."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch,
        compact_join_mv_history,
        read_join_view,
    )

    L = spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string")
    R = spark.createDataFrame([(1, "x"), (2, "y")], "k long, rv string")
    state = str(tmp_path / "state")
    apply_join_batch(L.filter("k = 1"), R.filter("k = 1"), 0, ["k"], state)
    apply_join_batch(L.filter("k = 2"), R.filter("k = 2"), 1, ["k"], state)
    n = read_join_view(spark, state).count()

    real_replace = os.replace

    def die(src, dst, **kw):
        if "_compact.json" in str(dst):
            raise RuntimeError("simulated crash before manifest publish")
        return real_replace(src, dst, **kw)

    monkeypatch.setattr(os, "replace", die)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        compact_join_mv_history(spark, state, upto_batch_id=2)
    monkeypatch.undo()

    # no manifest -> readers unchanged, partitions intact
    assert read_join_view(spark, state).count() == n
    assert os.path.isdir(f"{state}/left/__batch_id=0")
    # orphan staging exists but is invisible (dot-dir)
    orphans = [
        x for x in os.listdir(f"{state}/left") if x.startswith(".compact-")
    ]
    assert orphans
    # the next successful compaction supersedes and sweeps it
    compact_join_mv_history(spark, state, upto_batch_id=2)
    assert read_join_view(spark, state).count() == n
    left_stagings = [
        x for x in os.listdir(f"{state}/left") if x.startswith(".compact-")
    ]
    assert len(left_stagings) == 1

def test_temporal_join_mv_checkpoint_restart_recovers(
    spark, tmp_path, monkeypatch
):
    """Kill-and-resume across a REAL checkpoint (verdict-r7 task 4),
    on the exact ADVICE-r7 crash window: batch 1 carries both the
    in-band partner for batch 0's history AND a row that advances the
    stream's max event time far past batch 0 + band. The injected
    crash lands AFTER the fold (state + _ts_stats written), BEFORE the
    checkpoint commits — the worst replay window. The restarted runner
    must replay batch 1 against the SAME pre-state (no eviction driven
    by the uncommitted batch's stats) and converge to the one-shot
    recompute, without duplicates."""
    import etl_spark_spark.streaming.join_mv as JM
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = "side string, k long, ts timestamp, lp string, rp string"

    def write_file(name, rows):
        spark.createDataFrame(
            rows, "side string, k long, ts string, lp string, rp string"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.mode("overwrite").parquet(str(feed / name))

    # batch 0: a lone left row, day 1
    write_file("f0", [("left", 1, "2026-06-01 10:00:00", "L1", None)])
    # batch 1: its in-band right partner + a day-30 watermark-advancer
    write_file("f1", [
        ("right", 1, "2026-06-01 10:30:00", None, "R1"),
        ("right", 2, "2026-06-30 09:00:00", None, "R2"),
    ])

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        JM.run_stream_join_mv_temporal(
            stream, ["k"], "side", "ts", ["lp"], ["rp"],
            band_seconds=3600, state_path=state, checkpoint_dir=ckpt,
        )

    real_apply = JM.apply_join_batch_temporal
    armed = {"on": True}

    def crash_after_fold(bl, br, batch_id, *a, **kw):
        real_apply(bl, br, batch_id, *a, **kw)
        if batch_id == 1 and armed["on"]:
            armed["on"] = False
            raise RuntimeError("injected crash after fold, before commit")

    monkeypatch.setattr(JM, "apply_join_batch_temporal", crash_after_fold)
    with pytest.raises((StreamingQueryException, RuntimeError)):
        drain()
    # the crashed attempt DID write batch 1's partitions and stats
    assert (Path(state) / "view" / "__batch_id=1").exists()
    assert (Path(state) / "left" / "__batch_id=0").exists()

    # restart from the checkpoint through the pristine runner
    monkeypatch.setattr(JM, "apply_join_batch_temporal", real_apply)
    drain()

    rows = spark.read.parquet(f"{state}/view").collect()
    pairs = sorted((r["lp"], r["rp"]) for r in rows)
    # one pair, present exactly ONCE: the replay neither lost the
    # batch-0 history join (the ADVICE-r7 silent-loss window) nor
    # double-counted it
    assert pairs == [("L1", "R1")]


def test_bucketed_join_mv_checkpoint_restart_recovers(
    spark, tmp_path, monkeypatch
):
    """Same kill-and-resume for the equi/bucketed readStream runner:
    crash after the batch-1 fold, restart from the checkpoint, final
    view == batch join over everything delivered (replay-idempotent
    partition overwrite across a real process... process boundary is
    the checkpoint; the session survives, the query does not)."""
    import uuid

    import etl_spark_spark.streaming.join_mv as JM
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = "side string, k long, lv string, rv string"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(feed / name))

    write_file("f0", [("left", 1, "a1", None), ("right", 2, None, "b2")])
    write_file("f1", [("right", 1, None, "b1"), ("left", 2, "a2", None)])

    pfx = f"jv_restart_{uuid.uuid4().hex[:8]}"
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        JM.run_stream_join_mv(
            stream, ["k"], "side", ["lv"], ["rv"], pfx, view, ckpt
        )

    real_apply = JM.apply_join_batch_bucketed
    armed = {"on": True}

    def crash_after_fold(bl, br, batch_id, *a, **kw):
        real_apply(bl, br, batch_id, *a, **kw)
        if batch_id == 1 and armed["on"]:
            armed["on"] = False
            raise RuntimeError("injected crash after fold, before commit")

    try:
        monkeypatch.setattr(JM, "apply_join_batch_bucketed", crash_after_fold)
        with pytest.raises((StreamingQueryException, RuntimeError)):
            drain()
        monkeypatch.setattr(JM, "apply_join_batch_bucketed", real_apply)
        drain()
        got = sorted(
            (r["k"], r["lv"], r["rv"])
            for r in spark.read.parquet(view).drop("__batch_id").collect()
        )
        assert got == [(1, "a1", "b1"), (2, "a2", "b2")]
    finally:
        for t in (f"{pfx}_left", f"{pfx}_right"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rollup_checkpoint_restart_fence_prevents_double_count(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill-and-resume for the rollup runner across a REAL checkpoint:
    the injected crash lands AFTER batch 1's snapshot publishes (with
    _SUCCESS) but BEFORE the checkpoint commits — the replay window
    where a naive additive fold double-counts. The batch-id fence must
    make the replay a no-op and the final rollup equal the batch
    recompute."""
    import etl_spark_spark.streaming.mv as MV
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "src"
    ev = _make_stream_dir(spark, sf_dir, src)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "chunk*"))
        )
        MV.run_stream_rollup(stream, KEYS, MEASURES, state, ckpt)

    real_apply = MV.apply_stream_batch
    armed = {"on": True}

    def crash_after_publish(batch_df, batch_id, *a, **kw):
        real_apply(batch_df, batch_id, *a, **kw)
        if batch_id == 1 and armed["on"]:
            armed["on"] = False
            raise RuntimeError("injected crash after publish, before commit")

    monkeypatch.setattr(MV, "apply_stream_batch", crash_after_publish)
    with pytest.raises((StreamingQueryException, RuntimeError)):
        drain()
    # the crashed attempt DID publish batch 1's committed snapshot
    assert (Path(state) / "agg_v1" / "_SUCCESS").exists()

    monkeypatch.setattr(MV, "apply_stream_batch", real_apply)
    drain()

    got = _rollup_dict(MV.read_stream_rollup(spark, state))
    want = _rollup_dict(agg_snapshot(ev, KEYS, MEASURES))
    assert got == want


def test_join_folds_leave_session_partition_overwrite_mode(spark, tmp_path):
    """The join-MV folds overwrite only their own batch partitions
    without switching the caller's session to dynamic partition
    overwrite: after path-based and bucketed folds the session conf is
    unchanged, and a partitioned overwrite through ``sinks.write.write``
    still replaces the whole table (the stale partition is dropped)."""
    import uuid

    from etl_spark_spark.sinks.write import write
    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch,
        apply_join_batch_bucketed,
        apply_join_batch_temporal,
        apply_join_batch_z,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    left = spark.createDataFrame([(1, "a", 10)], "k long, l string, lt long")
    right = spark.createDataFrame([(1, "x", 12)], "k long, r string, rt long")
    pfx = f"jv_conf_{uuid.uuid4().hex[:8]}"
    try:
        for b in range(2):
            apply_join_batch(left, right, b, ["k"], str(tmp_path / "eq"))
            apply_join_batch_z(left, right, b, ["k"], str(tmp_path / "z"))
            apply_join_batch_temporal(
                left, right, b, ["k"], "lt", "rt", 5, str(tmp_path / "tmp")
            )
            # batch 0 creates the side tables, batch 1 uses insertInto
            apply_join_batch_bucketed(
                left, right, b, ["k"], pfx, str(tmp_path / "bview")
            )
    finally:
        for t in (f"{pfx}_left", f"{pfx}_right"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert spark.conf.get(key) == before

    out = str(tmp_path / "out")
    schema = "p string, v long"
    write(spark.createDataFrame([("a", 1), ("b", 2)], schema), out,
          mode="overwrite", partition_by=["p"])
    write(spark.createDataFrame([("a", 3)], schema), out,
          mode="overwrite", partition_by=["p"])
    got = [(r["p"], r["v"]) for r in spark.read.parquet(out).collect()]
    assert got == [("a", 3)]


def test_dedup_batch_raises_on_corrupt_index_partition(spark, tmp_path):
    """A torn signature-index partition must fail the dedup batch, not
    read as 'no history' (which would keep every duplicate)."""
    from etl_spark_spark.functions.text import tokens, word_shingles
    from etl_spark_spark.streaming.dedup import dedup_batch_once

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over"), (2, "the quick brown fox jumps over")],
        "doc_id long, text string",
    ).withColumn("t", tokens("text"))
    part = tmp_path / "index" / "__batch_id=0"
    part.mkdir(parents=True)
    # parquet magic prefix but a truncated footer
    (part / "part-00000.parquet").write_bytes(b"PAR1\x00\x01broken")
    with pytest.raises(Exception):
        dedup_batch_once(
            docs, 1, "doc_id", word_shingles("t", 3),
            str(tmp_path / "kept"), str(tmp_path / "index"),
        )


def test_drain_timeout_raises_and_stops_query(spark, tmp_path, monkeypatch):
    """A runner whose micro-batch outlasts ``timeout_sec`` raises
    TimeoutError, and the query is stopped — no stream stays active."""
    import time

    from etl_spark_spark.streaming import mv

    src = tmp_path / "src"
    spark.createDataFrame(
        [("view", 1.0)], "event_type string, value double"
    ).write.parquet(str(src))
    monkeypatch.setattr(
        mv, "apply_stream_batch", lambda *args, **kwargs: time.sleep(4)
    )
    stream = spark.readStream.schema("event_type string, value double").parquet(
        str(src)
    )
    with pytest.raises(TimeoutError, match="t_drain_timeout"):
        run_stream_rollup(
            stream, KEYS, MEASURES, str(tmp_path / "state"),
            str(tmp_path / "ckpt"), query_name="t_drain_timeout",
            timeout_sec=1,
        )
    assert spark.streams.active == []


def _temporal_batch(spark, b: int, right: bool = True):
    """Batch ``b`` of a small banded feed: 20 left rows (``lid = 100 *
    b + k``) stamped within hour ``b`` and, unless ``right`` is False,
    a right row with ``rid = lid`` for every other key 7 minutes later
    (in band); an empty right side keeps the schema."""
    def side(rows, schema, ts):
        return spark.createDataFrame(rows, schema).withColumn(
            ts, F.col(ts).cast("timestamp")
        )

    def at(k: int) -> str:
        return f"2026-03-01 {b:02d}:{k:02d}:00"

    left = [(k, 100 * b + k, at(k)) for k in range(20)]
    rows = [(k, 100 * b + k, at(k + 7)) for k in range(0, 20, 2)] if right else []
    return (
        side(left, "k long, lid long, lts string", "lts"),
        side(rows, "k long, rid long, rts string", "rts"),
    )


@pytest.fixture(scope="module")
def steady_temporal_fold(spark, tmp_path_factory):
    """Fold batches 0-2 of a temporal join MV, then fold batch 3 under
    its own job group; returns (Janino compiles, job ids) of fold 3."""
    import time
    import uuid

    from etl_spark_spark.streaming.join_mv import apply_join_batch_temporal

    state = str(tmp_path_factory.mktemp("steady") / "tj")
    for b in range(3):
        apply_join_batch_temporal(
            *_temporal_batch(spark, b), b, ["k"], "lts", "rts", 3600, state
        )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    sc = spark.sparkContext
    group = f"steady-fold-{uuid.uuid4().hex}"
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    sc.setJobGroup(group, "steady temporal fold")
    try:
        apply_join_batch_temporal(
            *_temporal_batch(spark, 3), 3, ["k"], "lts", "rts", 3600, state
        )
    finally:
        sc._jsc.clearJobGroup()
    compiles = codegen.METRIC_COMPILATION_TIME().getCount() - before
    time.sleep(1.0)  # job-start events reach the status store asynchronously
    return compiles, sc.statusTracker().getJobIdsForGroup(group)


def test_steady_temporal_fold_compiles_no_new_classes(steady_temporal_fold):
    """A fold whose plan shapes the previous folds already ran reuses
    their generated classes: nothing in the plan varies per batch (no
    batch-id literal inlined into generated code)."""
    compiles, _ = steady_temporal_fold
    assert compiles == 0


def test_steady_temporal_fold_job_count(steady_temporal_fold):
    """A steady temporal fold runs at most 11 jobs: one checkpoint per
    pinned side (its stats ride that job as an Observation), the two
    history reads, and the three appends with their AQE stages."""
    _, jobs = steady_temporal_fold
    assert 1 <= len(jobs) <= 11, jobs


def test_temporal_fold_empty_side_and_replay_over_crash_residue(spark, tmp_path):
    """A batch with an empty right side leaves an empty partition (one
    schema-only file, ``_SUCCESS`` in the leaf); replaying a batch
    whose leaves hold a crashed attempt's ``_temporary`` residue
    rewrites them whole, and a first batch that finds only its own
    crashed leaf reads it as no history. The view equals the one-shot
    banded join, without duplicate rows."""
    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch_temporal,
        read_join_view,
    )

    def plant_residue(leaf: Path) -> None:
        attempt = leaf / "_temporary" / "0" / "_temporary" / "attempt_0"
        attempt.mkdir(parents=True)
        (attempt / "part-00000.parquet").write_bytes(b"PAR1\x00torn")

    state = tmp_path / "tj"
    # a crashed first attempt of batch 0 left only hidden residue
    plant_residue(state / "left" / "__batch_id=0")
    batches = [_temporal_batch(spark, 0), _temporal_batch(spark, 1, right=False),
               _temporal_batch(spark, 2)]
    fold = lambda b: apply_join_batch_temporal(  # noqa: E731
        *batches[b], b, ["k"], "lts", "rts", 3600, str(state)
    )
    fold(0)
    fold(1)
    empty = state / "right" / "__batch_id=1"
    assert len(list(empty.glob("*.parquet"))) == 1
    assert spark.read.parquet(str(empty)).count() == 0
    assert (state / "view" / "__batch_id=1" / "_SUCCESS").exists()
    assert not (state / "view" / "_SUCCESS").exists()

    # replay batch 1 over a crashed attempt's residue in its leaves
    for side in ("left", "right", "view"):
        plant_residue(state / side / "__batch_id=1")
    fold(1)
    for side in ("left", "right", "view"):
        assert not (state / side / "__batch_id=1" / "_temporary").exists()
    fold(2)

    left = batches[0][0].unionByName(batches[1][0]).unionByName(batches[2][0])
    right = batches[0][1].unionByName(batches[2][1])
    want = sorted(
        tuple(r) for r in left.join(right, "k")
        .filter(F.abs(F.col("lts").cast("long") - F.col("rts").cast("long")) <= 3600)
        .select("lid", "rid").collect()
    )
    got = sorted(
        tuple(r) for r in read_join_view(spark, str(state)).select("lid", "rid").collect()
    )
    # batch-1 left rows pair with batch-0 right rows across batches
    assert got == want and any(lid // 100 != rid // 100 for lid, rid in want)


def test_eviction_drops_committed_empty_side_leaves(spark, tmp_path):
    """An empty fold side leaves a schema-only leaf. Eviction drops
    that leaf once its batch is committed, whatever the horizon (it
    holds no row), so a stream whose right side is often empty does not
    keep one leaf per such batch; an uncommitted batch's empty leaf and
    every leaf holding rows inside the band stay."""
    import json

    from etl_spark_spark.streaming.join_mv import (
        apply_join_batch_temporal,
        evict_join_mv_state,
        read_join_view,
    )

    state = tmp_path / "tj"
    band = 86400
    batches = [_temporal_batch(spark, b, right=b == 0) for b in range(4)]
    for b, (left, right) in enumerate(batches):
        apply_join_batch_temporal(left, right, b, ["k"], "lts", "rts", band, str(state))
    assert (state / "right" / "__batch_id=1").is_dir()

    # every row is inside the one-day band: only empty leaves may go
    evicted = evict_join_mv_state(str(state), band, committed_below=3)
    assert sorted(evicted) == [("right", 1), ("right", 2)]
    right = sorted(p.name for p in (state / "right").iterdir() if p.name.startswith("__batch_id="))
    assert right == ["__batch_id=0", "__batch_id=3"]
    assert len(list((state / "left").glob("__batch_id=*"))) == 4
    # consumed stats leave the manifest; the uncommitted batch keeps both
    stats = json.loads((state / "_ts_stats.json").read_text())["batches"]
    assert [sorted(stats[b]) for b in ("1", "2", "3")] == [["left"], ["left"], ["left", "right"]]
    # every left row pairs with batch 0's right row of its key
    assert read_join_view(spark, str(state)).count() == 40
    assert evict_join_mv_state(str(state), band, committed_below=3) == []


def test_quality_model_scores_after_a_temporal_fold(spark, steady_temporal_fold):
    """The temporal pin's ``Observation`` leaves the session holding a
    non-serializable ObservationManager. The quality model must still
    score in that session: the fitted model must not carry the session
    into its scoring tasks (a model that kept its training summary
    failed them with "Task not serializable")."""
    from etl_spark_spark.operators.classify import (
        score_quality,
        train_quality_model,
    )

    good = "good clean prose about the river bank"
    rows = [(i, good, 1.0) for i in range(20)]
    rows += [(100 + i, f"zqx zqx k{i} zqx", 0.0) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, text string, y double")
    model = train_quality_model(df, "text", "y", n_features=256)
    scored = score_quality(model, df, "text")
    assert scored.filter(F.col("quality_pred") == F.col("y")).count() == 40
