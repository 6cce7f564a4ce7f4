"""Scale-path operators: salted aggregation exactness, Hive-partitioned
write → partition-pruned read, bucketed tables joining without an
exchange, and custom stateful streaming."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_spark.functions.money import money_sum
from etl_spark_spark.operators.skew import salted_join, salted_sum
from etl_spark_spark.plans import explain_str
from etl_spark_spark.sinks import write, write_bucketed
from etl_spark_spark.sources import read_events, table
from etl_spark_spark.streaming import sessionize_batch
from etl_spark_spark.streaming.stateful import (
    stream_session_agg,
    stream_user_totals,
)
from etl_spark_spark.streaming.stream import run_available_now


def test_salted_sum_exact(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    plain = {
        (r.l_returnflag): (r.s, r.n)
        for r in li.groupBy("l_returnflag")
        .agg(money_sum("l_extendedprice").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    salted = salted_sum(
        li,
        ["l_returnflag"],
        {"s_cents": F.sum(cents), "n": F.count("*")},
        buckets=8,
    )
    got = {
        r.l_returnflag: (r.s_cents / 100.0, r.n) for r in salted.collect()
    }
    assert got == plain


def test_salted_join_exact_and_spreads_hot_key(spark, sf_dir):
    """salted_join must equal the plain join bit-for-bit (inner and
    left) on a skewed fact, and its shuffle must partition on
    (keys..., salt) so a hot key spreads over `buckets` reducers."""
    import pytest

    # skewed fact: one hot key (~50% of rows) + long tail
    fact = spark.range(0, 4000).select(
        F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id") % 40).alias("k"),
        (F.col("id") * 3).alias("val"),
    )
    dim = spark.range(0, 40).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    dim_missing = dim.filter(F.col("k") < 30)  # some fact keys unmatched
    for how in ("inner", "left"):
        plain = sorted(
            (r.k, r.val, r.name)
            for r in fact.join(dim_missing, ["k"], how).collect()
        )
        salted = sorted(
            (r.k, r.val, r.name)
            for r in salted_join(fact, dim_missing, ["k"], buckets=8, how=how).collect()
        )
        assert salted == plain, f"salted_join({how}) diverges from plain join"
    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], how="full")
    # plan shape: with broadcast off, the exchange must hash on the salt
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # simple mode keeps "Exchange hashpartitioning(...)" on one line
        plan = explain_str(salted_join(fact, dim, ["k"], buckets=8), mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchanges and all("__salt" in ln for ln in exchanges), (
        "salted_join shuffle must partition on (keys..., __salt):\n" + plan
    )


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "events_part")
    events = read_events(spark, "/root/testdata/sf0.001").withColumn(
        "dt", F.col("ts").cast("date").cast("string")
    )
    write(events, path, partition_by=["dt"])
    back = spark.read.parquet(path).filter(F.col("dt") == "2024-01-05")
    plan = explain_str(back)
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters")[1][:200]
    n_direct = spark.read.parquet(f"{path}/dt=2024-01-05").count()
    assert back.count() == n_direct > 0


def test_bucketed_join_no_exchange(spark, tmp_path):
    # tables land in the session's default warehouse dir (gitignored)
    orders = table(spark, "/root/testdata/sf0.001", "orders")
    customer = table(spark, "/root/testdata/sf0.001", "customer")
    write_bucketed(orders, "b_orders", ["o_custkey"], num_buckets=8)
    write_bucketed(customer, "b_customer", ["c_custkey"], num_buckets=8)
    try:
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            # simple mode keeps "Exchange hashpartitioning(...)" on one
            # line (formatted mode splits node name from arguments, which
            # made this a vacuous assertion before)
            plan = explain_str(j, mode="simple")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed tables must join without a shuffle"
        )
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_stream_file_sink_checkpoint_and_watermark_drop(spark, tmp_path):
    """write_stream_files end-to-end: (a) a late row beyond the
    watermark is dropped from an already-closed window, (b) re-running
    with the same checkpoint and no new input appends nothing, (c) a
    new file resumes from the checkpoint — old windows are not
    re-emitted."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_spark_spark.streaming.stream import (
        read_events_stream,
        write_stream_files,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    MIN_NS = 60 * 1_000_000_000

    def wfile(name, rows, mtime):
        cols = {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] * MIN_NS for r in rows], pa.int64()),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["a"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
        p = src / name
        pq.write_table(pa.table(cols), p)
        os.utime(p, (mtime, mtime))  # file-source batch order is mtime

    # minutes since epoch: window hour H covers [60H, 60H+60). The
    # watermark advances at END of each batch and takes effect (for
    # both eviction and late-drop) from the NEXT batch — so the late
    # row must arrive two batches after the row that advanced the
    # watermark past its window.
    wfile("f1.parquet", [(1, 9 * 60 + 30), (2, 12 * 60)], 1_000)
    wfile("f2.parquet", [(3, 13 * 60)], 2_000)
    wfile("f3.parquet", [(4, 9 * 60 + 40), (5, 16 * 60)], 3_000)

    def agg():
        events = read_events_stream(spark, str(src), max_files_per_trigger=1)
        return (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.unix_timestamp("w.start").alias("ws"), "n")
        )

    write_stream_files(agg(), out, query_name="t_fsink1")
    first = {r.ws: r.n for r in spark.read.parquet(out).collect()}
    # [9,10) was evicted at watermark 11:00 with only the 9:30 row;
    # f3's 9:40 row arrived behind the watermark -> dropped
    assert first[9 * 3600] == 1, f"late row must be dropped, got {first}"
    assert first[12 * 3600] == 1 and first[13 * 3600] == 1

    write_stream_files(agg(), out, query_name="t_fsink2")
    again = {r.ws: r.n for r in spark.read.parquet(out).collect()}
    assert again == first, "re-run with same checkpoint must append nothing"

    wfile("f4.parquet", [(6, 19 * 60)], 4_000)
    write_stream_files(agg(), out, query_name="t_fsink3")
    rows = spark.read.parquet(out).collect()
    final = {r.ws: r.n for r in rows}
    # f4 pushed the watermark to 18:00 -> [16,17) closed; only new rows
    assert final[16 * 3600] == 1 and final[9 * 3600] == 1
    assert len(rows) == len(final), "windows must not be re-emitted on resume"


def _write_event_file(src, name, rows, mtime):
    """rows: (event_id, minute, value). Writes one events-schema parquet
    file with a controlled mtime (file-source batch order)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    MIN_NS = 60 * 1_000_000_000
    cols = {
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] * MIN_NS for r in rows], pa.int64()),
        "user_id": pa.array([1] * len(rows), pa.int64()),
        "event_type": pa.array(["a"] * len(rows), pa.string()),
        "value": pa.array([float(r[2]) for r in rows], pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }
    p = src / name
    pq.write_table(pa.table(cols), p)
    os.utime(p, (mtime, mtime))


def test_stream_dedup_within_watermark(spark, tmp_path):
    """A duplicate event_id arriving within the watermark horizon is
    suppressed; each unique id is emitted exactly once."""
    from etl_spark_spark.streaming.stream import stream_dedup_events
    from etl_spark_spark.streaming.stream import run_available_now

    src = tmp_path / "src"
    src.mkdir()
    _write_event_file(src, "f1.parquet", [(1, 600, 1.0), (2, 605, 2.0)], 1000)
    _write_event_file(src, "f2.parquet", [(1, 600, 1.0), (3, 610, 3.0)], 2000)
    rows = run_available_now(
        stream_dedup_events(spark, str(src), max_files_per_trigger=1),
        query_name="t_dedup_stream",
        output_mode="append",
    )
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3], f"duplicate not suppressed: {ids}"


def test_stream_foreach_batch_upsert(spark, tmp_path):
    """foreachBatch + keyed upsert = streaming MERGE: a restarted drain
    picks up only new files (checkpoint) and replayed/overlapping keys
    update in place instead of duplicating."""
    from etl_spark_spark.streaming.stream import (
        read_events_stream,
        run_foreach_batch_upsert,
    )

    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    _write_event_file(src, "f1.parquet", [(1, 600, 1.0), (2, 605, 2.0)], 1000)
    stream = read_events_stream(spark, str(src)).select(
        "event_id", "user_id", "value"
    )
    run_foreach_batch_upsert(stream, target, ["event_id"], ckpt, "t_fbu1")
    got = {r.event_id: r.value for r in spark.read.parquet(target).collect()}
    assert got == {1: 1.0, 2: 2.0}
    # key 2 updated + key 3 new; key 1 untouched by the new batch
    _write_event_file(src, "f2.parquet", [(2, 700, 20.0), (3, 705, 3.0)], 2000)
    stream2 = read_events_stream(spark, str(src)).select(
        "event_id", "user_id", "value"
    )
    run_foreach_batch_upsert(stream2, target, ["event_id"], ckpt, "t_fbu2")
    got = {r.event_id: r.value for r in spark.read.parquet(target).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0}


def test_stream_user_totals_matches_batch(spark, sf_dir):
    rows = run_available_now(
        stream_user_totals(spark, sf_dir, glob="events.parquet"),
        query_name="t_user_totals",
        output_mode="update",
    )
    # update-mode memory sink: last emitted row per user is the total
    finals = {}
    for r in rows:
        finals[r.user_id] = r.n_events
    batch = {
        r.user_id: r.n
        for r in read_events(spark, sf_dir, with_ts=False)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert finals == batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream purchase←click interval join equals the same join
    run in batch over the same files."""
    from etl_spark_spark.streaming.stateful import stream_purchase_click_join

    emitted = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in run_available_now(
            stream_purchase_click_join(spark, sf_dir, glob="events.parquet"),
            query_name="t_ssj",
            output_mode="append",
        )
    }
    ev = read_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in purchases.join(
            clicks,
            (purchases.user_id == clicks.user_id)
            & (clicks.click_ts <= purchases.purchase_ts)
            & (
                clicks.click_ts
                >= purchases.purchase_ts - F.expr("INTERVAL 30 minutes")
            ),
        ).collect()
    }
    assert emitted, "stream-stream join should emit matches"
    assert emitted <= batch
    # with availableNow + watermark the stream may retain only the tail;
    # require substantial agreement, not mere overlap
    assert len(emitted) >= len(batch) * 0.5


def test_stream_sessions_subset_of_batch(spark, sf_dir):
    """Sessions emitted by the watermarked stream must match batch
    sessions exactly (the stream may hold back the newest sessions
    still inside the watermark horizon)."""
    emitted = run_available_now(
        stream_session_agg(spark, sf_dir, glob="events.parquet"),
        query_name="t_sessions",
        output_mode="append",
    )
    batch = (
        sessionize_batch(read_events(spark, sf_dir), "ts", ["user_id"], 300)
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("session_start_us"),
            F.count("*").alias("n_events"),
        )
        .collect()
    )
    batch_set = {(r.user_id, r.session_start_us, r.n_events) for r in batch}
    assert emitted, "watermark should have closed at least one session"
    for r in emitted:
        assert (r.user_id, r.session_start_us, r.n_events) in batch_set


def test_stream_enrich_static_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment: every micro-batch row picks
    up its dimension attributes; left semantics keep unmatched stream
    rows (NULL category) instead of dropping events."""
    from etl_spark_spark.streaming.stream import (
        read_events_stream,
        run_available_now,
        stream_enrich_static,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_event_file(
        src, "f1.parquet", [(1, 600, 1.0), (2, 605, 2.0), (3, 610, 3.0)], 1000
    )
    dim = spark.createDataFrame([("a", "alpha")], ["event_type", "category"])
    stream = read_events_stream(spark, str(src))
    rows = run_available_now(
        stream_enrich_static(stream, dim, "event_type"),
        "t_enrich1",
        output_mode="append",
    )
    assert {(r.event_id, r.category) for r in rows} == {
        (1, "alpha"), (2, "alpha"), (3, "alpha")
    }
    miss = spark.createDataFrame([("zzz", "none")], ["event_type", "category"])
    rows2 = run_available_now(
        stream_enrich_static(stream, miss, "event_type"),
        "t_enrich2",
        output_mode="append",
    )
    assert len(rows2) == 3 and {r.category for r in rows2} == {None}


def test_stream_quality_gate_routes_and_audits(spark, tmp_path):
    """The streaming quality gate splits each micro-batch into
    good/quarantine sinks and appends per-rule audit metrics; totals
    must equal the batch-mode quarantine over the same files."""
    from etl_spark_spark.operators.quality import quarantine
    from etl_spark_spark.sources import read_events
    from etl_spark_spark.streaming.quality import run_stream_quality_gate
    from etl_spark_spark.streaming.stream import read_events_stream

    src = tmp_path / "src"
    src.mkdir()
    _write_event_file(src, "a.parquet", [(1, 10, 5.0), (2, 20, -1.0)], 1_000)
    _write_event_file(src, "b.parquet", [(3, 30, 2.0), (4, 40, -9.0)], 2_000)

    def rules():
        return {"value_nonneg": F.col("value") >= 0}

    good_p, bad_p, met_p = (
        str(tmp_path / "good"), str(tmp_path / "bad"), str(tmp_path / "metrics"),
    )
    run_stream_quality_gate(
        read_events_stream(spark, str(src), max_files_per_trigger=1),
        rules(), good_p, bad_p, met_p,
        checkpoint_dir=str(tmp_path / "ckpt"), query_name="t_qgate",
    )
    good_ids = {r.event_id for r in spark.read.parquet(good_p).collect()}
    bad = {r.event_id: list(r.failed_rules) for r in spark.read.parquet(bad_p).collect()}
    assert good_ids == {1, 3}
    assert bad == {2: ["value_nonneg"], 4: ["value_nonneg"]}

    metrics = spark.read.parquet(met_p).collect()
    # one metrics row per rule per batch (2 batches, 1 rule)
    assert len(metrics) == 2
    assert sum(r.n_violations for r in metrics) == 2
    assert sum(r.n_rows for r in metrics) == 4

    # idempotent re-run: same checkpoint, no new input -> no appends
    run_stream_quality_gate(
        read_events_stream(spark, str(src), max_files_per_trigger=1),
        rules(), good_p, bad_p, met_p,
        checkpoint_dir=str(tmp_path / "ckpt"), query_name="t_qgate2",
    )
    assert {r.event_id for r in spark.read.parquet(good_p).collect()} == {1, 3}
    assert len(spark.read.parquet(met_p).collect()) == 2


def test_stream_quality_gate_replay_writes_once(spark, tmp_path, monkeypatch):
    """foreachBatch is at-least-once: a batch that fails after its good
    and bad rows are written, before the checkpoint commits, is
    replayed. The replay must rewrite that batch's rows, not append a
    second copy."""
    import pytest
    from pyspark.errors import StreamingQueryException

    import etl_spark_spark.streaming.quality as Q
    from etl_spark_spark.streaming.stream import read_events_stream

    src = tmp_path / "src"
    src.mkdir()
    _write_event_file(src, "a.parquet", [(1, 10, 5.0), (2, 20, -1.0)], 1_000)
    _write_event_file(src, "b.parquet", [(3, 30, 2.0), (4, 40, -9.0)], 2_000)
    good_p, bad_p, met_p = (
        str(tmp_path / "good"), str(tmp_path / "bad"), str(tmp_path / "metrics"),
    )

    real_metrics = Q.expectation_metrics
    calls = {"n": 0}

    def crash_on_second_batch(batch_df, rules):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash after the good/bad writes")
        return real_metrics(batch_df, rules)

    monkeypatch.setattr(Q, "expectation_metrics", crash_on_second_batch)

    def drain(name):
        Q.run_stream_quality_gate(
            read_events_stream(spark, str(src), max_files_per_trigger=1),
            {"value_nonneg": F.col("value") >= 0}, good_p, bad_p, met_p,
            checkpoint_dir=str(tmp_path / "ckpt"), query_name=name,
        )

    with pytest.raises((StreamingQueryException, RuntimeError)):
        drain("t_qgate_crash")
    drain("t_qgate_replay")

    good = spark.read.parquet(good_p).collect()
    assert sorted(r.event_id for r in good) == [1, 3]
    assert len(spark.read.parquet(bad_p).collect()) == 2
    assert len(spark.read.parquet(met_p).collect()) == 2


def test_stream_near_dup_matches_one_shot(spark, sf_dir, tmp_path):
    """availableNow streaming ingestion through run_stream_near_dup
    (one file per micro-batch, mtime-ordered) must keep exactly the
    docs the one-shot estimator pass keeps, and the persisted
    signature index must cover every seen doc."""
    import os

    from etl_spark_spark.functions.text import tokens, word_shingles
    from etl_spark_spark.operators.neardup import near_dup_drop_ids
    from etl_spark_spark.streaming.dedup import run_stream_near_dup

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    src = tmp_path / "src"
    src.mkdir()
    bounds = [(0, hi // 3), (hi // 3, 2 * hi // 3), (2 * hi // 3, hi + 1)]
    for i, (lo, up) in enumerate(bounds):
        p = str(src / f"b{i}.parquet")
        (
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
            .toPandas().to_parquet(p)
        )
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withColumn("t", tokens("text"))
    )
    kept_path = str(tmp_path / "kept")
    index_path = str(tmp_path / "index")
    run_stream_near_dup(
        stream,
        "doc_id",
        word_shingles("t", 3),
        kept_path,
        index_path,
        checkpoint_dir=str(tmp_path / "ck"),
    )

    one_shot_drop = {
        r.doc_id
        for r in near_dup_drop_ids(
            docs.select("doc_id", tokens("text").alias("t")),
            "doc_id",
            word_shingles("t", 3),
        ).collect()
    }
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    kept_ids = {
        r.doc_id for r in spark.read.parquet(kept_path).select("doc_id").collect()
    }
    assert kept_ids == all_ids - one_shot_drop
    # collapsed-index contract: one min-id representative per distinct
    # full signature, and the representable signature SET covers every
    # doc ever seen (a rep evicts exactly what any member would)
    from etl_spark_spark.operators.neardup import minhash_signature, shingle_set

    idx = spark.read.parquet(index_path)
    sig_cols = sorted(c for c in idx.columns if c.startswith("mh"))
    full_sig = minhash_signature(
        shingle_set(
            docs.select("doc_id", tokens("text").alias("t")),
            "doc_id",
            word_shingles("t", 3),
        ),
        "doc_id",
    )
    expected = {
        tuple(r[c] for c in sig_cols) for r in full_sig.collect()
    }
    got_rows = idx.collect()
    got = {tuple(r[c] for c in sig_cols) for r in got_rows}
    assert got == expected
    assert len(got_rows) == len(got), "one row per distinct signature"
    assert {r.doc_id for r in got_rows} <= all_ids


def test_stream_near_dup_crash_replay_keeps_rows(spark, sf_dir, tmp_path):
    """Crash-replay idempotency of the streaming dedup batch function:
    after a batch's index write lands but before (or after) the upsert,
    Structured Streaming replays the SAME batch id. The replay must
    keep exactly the same rows — historically the index read included
    the crashed attempt's own signatures and the entire batch matched
    its stale self/siblings and was dropped (ADVICE r2 high)."""
    from etl_spark_spark.functions.text import tokens, word_shingles
    from etl_spark_spark.operators.neardup import near_dup_drop_ids
    from etl_spark_spark.streaming.dedup import dedup_batch_once

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("t", tokens("text"))
    )
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    b0 = docs.filter(F.col("doc_id") < hi // 2)
    b1 = docs.filter(F.col("doc_id") >= hi // 2)
    kept_path = str(tmp_path / "kept")
    index_path = str(tmp_path / "index")

    def run(batch, bid):
        dedup_batch_once(
            batch, bid, "doc_id", word_shingles("t", 3), kept_path, index_path
        )

    run(b0, 0)
    run(b1, 1)
    first_kept = {
        r.doc_id for r in spark.read.parquet(kept_path).select("doc_id").collect()
    }
    assert first_kept, "sanity: some rows kept on first pass"

    # replay batch 1 (simulates crash between index write and commit)
    run(b1, 1)
    replay_kept = {
        r.doc_id for r in spark.read.parquet(kept_path).select("doc_id").collect()
    }
    assert replay_kept == first_kept

    # and the fold still equals the one-shot decision
    one_shot_drop = {
        r.doc_id
        for r in near_dup_drop_ids(docs, "doc_id", word_shingles("t", 3)).collect()
    }
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert replay_kept == all_ids - one_shot_drop
    # index state after replay: collapsed — one row per distinct full
    # signature, covering the corpus signature set, ids from the corpus
    from etl_spark_spark.operators.neardup import minhash_signature, shingle_set

    idx = spark.read.parquet(index_path)
    sig_cols = sorted(c for c in idx.columns if c.startswith("mh"))
    full_sig = minhash_signature(
        shingle_set(docs, "doc_id", word_shingles("t", 3)), "doc_id"
    )
    expected = {tuple(r[c] for c in sig_cols) for r in full_sig.collect()}
    got_rows = idx.collect()
    got = {tuple(r[c] for c in sig_cols) for r in got_rows}
    assert got == expected
    assert len(got_rows) == len(got)
    assert {r.doc_id for r in got_rows} <= all_ids


def test_stream_stream_left_join_null_extension(spark, sf_dir):
    """Left-outer stream-stream join: matched rows must be a subset of
    the batch inner join; null-extended rows must appear, and only for
    purchases the BATCH inner join also leaves unmatched (the engine
    may withhold tail purchases whose range is not yet
    watermark-closed, but must never invent a null row for a purchase
    that has a click in range)."""
    from etl_spark_spark.streaming.stateful import (
        stream_purchase_click_left_join,
    )

    rows = run_available_now(
        stream_purchase_click_left_join(spark, sf_dir, glob="events.parquet"),
        query_name="t_ssj_left",
        output_mode="append",
    )
    ev = read_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch_inner = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in purchases.join(
            clicks,
            (purchases.user_id == clicks.user_id)
            & (clicks.click_ts <= purchases.purchase_ts)
            & (
                clicks.click_ts
                >= purchases.purchase_ts - F.expr("INTERVAL 30 minutes")
            ),
        ).collect()
    }
    matched_purchases = {p for (_, p, _) in batch_inner}
    got_matched = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in rows
        if r.click_id is not None
    }
    got_nulls = {r.purchase_id for r in rows if r.click_id is None}
    assert got_matched and got_matched <= batch_inner
    assert got_nulls, "some unmatched purchase should be null-extended"
    assert not (got_nulls & matched_purchases), (
        "null-extended a purchase that has an in-range click"
    )
