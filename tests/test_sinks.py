"""Sinks: Spark-native write/append and keyed upsert (MERGE emulation),
plus the incremental-run orchestration helpers — the replacements for
the reference's collect-to-pandas write path (SURVEY.md §4 hazard 2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_spark_spark.pipelines.incremental import (
    backfill_years,
    date_window,
    run_guarded,
    should_run_monthly,
)
from etl_spark_spark.sinks import upsert, write


def test_write_replace_append(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write(df, path, mode="overwrite")
    assert spark.read.parquet(path).count() == 2
    write(df, path, mode="append")
    assert spark.read.parquet(path).count() == 4
    write(df, path, mode="overwrite")
    assert spark.read.parquet(path).count() == 2


def test_upsert_merge_semantics(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], ["k", "v"]
    )
    write(base, path, mode="overwrite")
    src = spark.createDataFrame([(2, "NEW2"), (9, "NEW9")], ["k", "v"])
    upsert(spark, src, path, keys=["k"])
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "old1", 2: "NEW2", 3: "old3", 9: "NEW9"}


def test_upsert_recovers_from_stale_backup(spark, tmp_path):
    """A leftover '<target>.old' from a crashed run must not corrupt
    the next upsert (shutil.move would otherwise nest the live table
    inside it and the cleanup would delete live data)."""
    import os

    path = str(tmp_path / "t")
    write(spark.createDataFrame([(1, "a")], ["k", "v"]), path)
    os.makedirs(path + ".old")
    upsert(spark, spark.createDataFrame([(2, "b")], ["k", "v"]), path, ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b")}
    assert not os.path.exists(path + ".old")


def test_upsert_restores_backup_on_failure(spark, tmp_path, monkeypatch):
    """If the swap fails midway, the original table is restored — for
    the whole table and, with partition_by, for the touched partition
    whose swap failed. No backup or staging directory is left behind."""
    import os
    import shutil as _shutil

    import pytest as _pytest

    real_move = _shutil.move
    calls = {"n": 0}

    def flaky_move(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # fail on staged -> target (after the backup)
            raise OSError("disk full")
        return real_move(src, dst)

    # the swap calls shutil.move through the module attribute
    monkeypatch.setattr("shutil.move", flaky_move)

    for name, partition_by in [("t", None), ("tp", ["p"])]:
        path = str(tmp_path / name)
        base = spark.createDataFrame([("a", 1, "a"), ("b", 3, "b")], ["p", "k", "v"])
        write(base, path, partition_by=partition_by)
        calls["n"] = 0
        with _pytest.raises(OSError):
            upsert(
                spark,
                spark.createDataFrame([("a", 2, "new")], ["p", "k", "v"]),
                path,
                ["k"],
                partition_by=partition_by,
            )
        got = {(r.p, r.k, r.v) for r in spark.read.parquet(path).collect()}
        assert got == {("a", 1, "a"), ("b", 3, "b")}, (
            "original table must survive a failed swap"
        )
        leftovers = [
            d for d in os.listdir(tmp_path)
            if d.startswith("upsert_") or d.endswith(".old")
        ]
        assert leftovers == []
        assert not os.path.exists(path + "/p=a.old")


def test_upsert_partition_scoped_rewrites_only_touched(spark, tmp_path):
    """With partition_by, an upsert must rewrite ONLY the partitions the
    source touches: untouched partition directories keep their exact
    files (same paths, bytes, and mtimes), while touched partitions get
    merged rows and brand-new partitions appear."""
    import os
    from pathlib import Path

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("a", 1, "a1"), ("a", 2, "a2"), ("b", 3, "b3"), ("c", 4, "c4")],
        ["p", "k", "v"],
    )
    write(base, path, mode="overwrite", partition_by=["p"])

    def snapshot(part):
        d = Path(path) / f"p={part}"
        return {
            f.name: (f.stat().st_mtime_ns, f.read_bytes())
            for f in d.rglob("*")
            if f.is_file()
        }

    before_b, before_c = snapshot("b"), snapshot("c")
    src = spark.createDataFrame(
        [("a", 2, "A2_NEW"), ("a", 9, "A9"), ("d", 7, "d7")], ["p", "k", "v"]
    )
    upsert(spark, src, path, keys=["k"], partition_by=["p"])

    got = {r.k: (r.p, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("a", "a1"),
        2: ("a", "A2_NEW"),
        3: ("b", "b3"),
        4: ("c", "c4"),
        7: ("d", "d7"),
        9: ("a", "A9"),
    }
    # untouched partitions: identical files, bytes, and mtimes
    assert snapshot("b") == before_b
    assert snapshot("c") == before_c
    assert not os.path.exists(path + "/p=a.old")


def test_upsert_creates_missing_target(spark, tmp_path):
    path = str(tmp_path / "fresh")
    src = spark.createDataFrame([(1, "a")], ["k", "v"])
    upsert(spark, src, path, keys=["k"])
    assert spark.read.parquet(path).count() == 1


def test_date_window_month_rollback():
    # mid-month: month-to-date
    assert date_window(dt.date(2024, 3, 15)) == (dt.date(2024, 3, 1), dt.date(2024, 3, 15))
    # first days of month: roll back to cover previous month
    assert date_window(dt.date(2024, 3, 4)) == (dt.date(2024, 2, 1), dt.date(2024, 3, 4))
    # january rollback crosses the year
    assert date_window(dt.date(2024, 1, 2)) == (dt.date(2023, 12, 1), dt.date(2024, 1, 2))
    assert date_window(dt.date(2024, 3, 6)) == (dt.date(2024, 3, 1), dt.date(2024, 3, 6))


def test_monthly_gate_and_backfill():
    assert should_run_monthly(dt.date(2024, 3, 5))
    assert not should_run_monthly(dt.date(2024, 3, 6))
    assert list(backfill_years(2023, dt.date(2025, 3, 1))) == [2023, 2024, 2025]


def test_run_guarded_skips_empty(spark, tmp_path):
    written = []
    df = spark.createDataFrame([(1,)], ["x"])
    assert run_guarded(df, lambda d: written.append(d.count()))
    assert written == [1]
    empty = df.filter("x > 99")
    assert not run_guarded(empty, lambda d: written.append(d.count()))
    assert written == [1]


def test_range_sorted_layout_is_file_skippable(spark, sf_dir, tmp_path):
    """After write_range_sorted on l_shipdate, each output file's
    parquet footer min/max covers a narrow, non-overlapping slice of
    the key space — the property min/max file skipping needs. (A plain
    hash-partitioned write fails this: every file spans the full
    range.)"""
    import pyarrow.parquet as pq

    from etl_spark_spark.sinks import write_range_sorted
    from etl_spark_spark.sources import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    out = str(tmp_path / "li_sorted")
    write_range_sorted(li, out, ["l_shipdate"], num_files=8)

    ranges = []
    for f in sorted((tmp_path / "li_sorted").glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)  # l_shipdate
            assert col.statistics is not None
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # range partitioner actually split
    ranges.sort()
    # consecutive files must not interleave: file i's max <= file i+1's
    # min (ties allowed on the boundary value itself)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {hi1} > {lo2}"


def test_zorder_layout_bounds_both_dims(spark, sf_dir, tmp_path):
    """After write_zordered on (l_partkey, l_suppkey), each file's
    footer bounding box must be small on BOTH columns — the property a
    single-column sort cannot give: sorting by partkey alone leaves
    every file spanning the full suppkey range."""
    import pyarrow.parquet as pq

    from etl_spark_spark.sinks import write_zordered
    from etl_spark_spark.sources import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    out = str(tmp_path / "li_z")
    write_zordered(li, out, ["l_partkey", "l_suppkey"], num_files=16)

    gmin = {c: None for c in ("l_partkey", "l_suppkey")}
    gmax = dict(gmin)
    boxes = []
    for f in sorted((tmp_path / "li_z").glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        lo, hi = {}, {}
        for rg in range(md.num_row_groups):
            for c in ("l_partkey", "l_suppkey"):
                st = md.row_group(rg).column(names.index(c)).statistics
                lo[c] = min(lo.get(c, st.min), st.min)
                hi[c] = max(hi.get(c, st.max), st.max)
        boxes.append((lo, hi))
        for c in ("l_partkey", "l_suppkey"):
            gmin[c] = lo[c] if gmin[c] is None else min(gmin[c], lo[c])
            gmax[c] = hi[c] if gmax[c] is None else max(gmax[c], hi[c])

    assert len(boxes) >= 8
    g_area = (gmax["l_partkey"] - gmin["l_partkey"]) * (
        gmax["l_suppkey"] - gmin["l_suppkey"]
    )
    areas = [
        (hi["l_partkey"] - lo["l_partkey"]) * (hi["l_suppkey"] - lo["l_suppkey"])
        for lo, hi in boxes
    ]
    # each file's box must cover a small fraction of the key plane
    # (perfect 16-file z-order -> 1/16 each; allow generous slack)
    assert max(areas) < g_area / 3, (max(areas), g_area)
    # the property single-column sorting CANNOT give: most files are
    # bounded to < half the global range in BOTH dimensions (a
    # partkey-sorted layout leaves every file spanning the full
    # suppkey range)
    bounded_both = sum(
        1
        for lo, hi in boxes
        if all(
            hi[c] - lo[c] < (gmax[c] - gmin[c]) / 2
            for c in ("l_partkey", "l_suppkey")
        )
    )
    assert bounded_both >= 0.75 * len(boxes), (bounded_both, len(boxes))


def test_orc_round_trip(spark, tmp_path, sf_dir):
    """fmt is a real knob, not parquet-only: ORC (Spark-native, no
    external jar) writes through the same sink and reads back through
    the same source with identical contents and pushdown-capable
    layout."""
    from etl_spark_spark.sinks.write import write
    from etl_spark_spark.sources.parquet import source, table

    nation = table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    write(nation, path, mode="overwrite", fmt="orc")
    back = source(spark, path, fmt="orc")
    assert sorted(back.columns) == sorted(nation.columns)
    a = {tuple(r) for r in nation.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b
    # predicate pushdown reaches the ORC scan
    plan = back.filter(back.n_nationkey == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_nationkey), EqualTo(n_nationkey,3)" in plan


def test_versioned_merge_time_travel_and_clauses(spark, tmp_path):
    """Copy-on-write MERGE semantics on the snapshot store: update /
    delete / insert clauses, time travel to any committed version."""
    from etl_spark_spark.sinks.versioned import (
        current_version,
        merge_into_versioned,
        read_versioned,
    )

    t = tmp_path / "tbl"
    v1 = merge_into_versioned(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        t, ["k"],
    )
    v2 = merge_into_versioned(
        spark,
        spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
        t, ["k"],
    )
    assert (v1, v2) == (1, 2) and current_version(t) == 2
    assert {tuple(r) for r in read_versioned(spark, t).collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    # time travel: v1 still intact
    assert {tuple(r) for r in read_versioned(spark, t, version=1).collect()} == {
        (1, "a"), (2, "b")
    }
    # delete-matched clause, no inserts
    merge_into_versioned(
        spark,
        spark.createDataFrame([(1, "x"), (9, "y")], "k long, v string"),
        t, ["k"], when_matched="delete", insert_unmatched=False,
    )
    assert {r.k for r in read_versioned(spark, t).collect()} == {2, 3}
    # update-only merge never inserts
    merge_into_versioned(
        spark,
        spark.createDataFrame([(3, "C"), (9, "y")], "k long, v string"),
        t, ["k"], insert_unmatched=False,
    )
    assert {tuple(r) for r in read_versioned(spark, t).collect()} == {
        (2, "B"), (3, "C")
    }


def test_versioned_crash_isolation_and_vacuum(spark, tmp_path):
    """An orphaned (never-published) version directory — the crash
    residue — is invisible to readers, does not collide with the next
    commit, and vacuum sweeps it while keeping the current version."""
    from etl_spark_spark.sinks.versioned import (
        current_version,
        list_versions,
        merge_into_versioned,
        read_versioned,
        vacuum_versions,
        write_version,
    )

    t = tmp_path / "tbl"
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    write_version(spark, df1, t)
    # simulate a crash: stage v2's data but never publish the manifest
    df2 = spark.createDataFrame([(2, "b")], "k long, v string")
    df2.write.parquet(str(t / "_v" / "v00000002"))
    assert current_version(t) == 1
    assert {r.k for r in read_versioned(spark, t).collect()} == {1}
    # next commit skips the orphaned slot
    v = merge_into_versioned(spark, df2, t, ["k"])
    assert v == 3 and {r.k for r in read_versioned(spark, t).collect()} == {1, 2}
    removed = vacuum_versions(t, keep=1)
    assert removed == [1, 2]
    assert list_versions(t) == [3]
    assert {r.k for r in read_versioned(spark, t).collect()} == {1, 2}


def test_versioned_cas_detects_concurrent_commit(spark, tmp_path):
    """The CAS primitive: a writer whose expected version went stale
    (someone committed under it) must get ConcurrentWriteError and
    leave no new version behind; the orphaned crash directory is never
    readable via time travel, even after later commits publish past
    it or a vacuum removes the commits around it."""
    import pytest

    from etl_spark_spark.sinks.versioned import (
        ConcurrentWriteError,
        committed_versions,
        current_version,
        read_versioned,
        vacuum_versions,
        write_version,
    )

    t = tmp_path / "tbl"
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    v1 = write_version(spark, df, t, expected_current=None)
    assert v1 == 1
    # writer A reads cur=1; writer B commits 2; A's CAS must fail
    write_version(spark, spark.createDataFrame([(2, "b")], "k long, v string"), t)
    with pytest.raises(ConcurrentWriteError):
        write_version(
            spark,
            spark.createDataFrame([(3, "c")], "k long, v string"),
            t,
            expected_current=1,
        )
    assert current_version(t) == 2 and committed_versions(t) == [1, 2]
    # crash residue (a real directory at a version slot) is orphaned
    spark.createDataFrame([(9, "junk")], "k long, v string").write.parquet(
        str(t / "_v" / "v00000005")
    )
    write_version(spark, spark.createDataFrame([(4, "d")], "k long, v string"), t)
    assert committed_versions(t) == [1, 2, 3]
    with pytest.raises(FileNotFoundError, match="not a committed snapshot"):
        read_versioned(spark, t, version=5)
    # residue left below the newest commit after a vacuum stays orphaned
    assert vacuum_versions(t, keep=1) == [1, 2, 5]
    spark.createDataFrame([(8, "junk")], "k long, v string").write.parquet(
        str(t / "_v" / "v00000002")
    )
    assert committed_versions(t) == [3]
    with pytest.raises(FileNotFoundError, match="not a committed snapshot"):
        read_versioned(spark, t, version=2)


def test_versioned_concurrent_merges_no_lost_update(spark, tmp_path):
    """Two merge cycles interleaved (each computed against the same
    base version) must BOTH land: the second's CAS fails, it re-reads
    the first's commit and re-merges — the optimistic loop, no lost
    update."""
    import threading

    from etl_spark_spark.sinks.versioned import (
        merge_into_versioned,
        read_versioned,
    )

    t = tmp_path / "tbl"
    merge_into_versioned(
        spark,
        spark.createDataFrame([(1, "base"), (2, "base")], "k long, v string"),
        t, ["k"],
    )
    errs = []

    def do_merge(rows):
        try:
            merge_into_versioned(
                spark,
                spark.createDataFrame(rows, "k long, v string"),
                t, ["k"],
            )
        except Exception as e:  # surfaced below
            errs.append(e)

    t1 = threading.Thread(target=do_merge, args=([(1, "w1"), (10, "w1")],))
    t2 = threading.Thread(target=do_merge, args=([(2, "w2"), (20, "w2")],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = {r.k: r.v for r in read_versioned(spark, t).collect()}
    assert got == {1: "w1", 2: "w2", 10: "w1", 20: "w2"}


def test_snapshot_diff_cdc(spark, tmp_path):
    """CDC between versions: inserts/updates/deletes classified, with
    to-version payloads (NULL payloads for deletes); unchanged rows —
    including NULL-payload ones — never appear in the delta."""
    from etl_spark_spark.sinks.versioned import (
        merge_into_versioned,
        snapshot_diff,
    )

    t = tmp_path / "tbl"
    merge_into_versioned(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
        ),
        t, ["k"],
    )
    merge_into_versioned(
        spark,
        spark.createDataFrame([(2, "B"), (5, "e"), (3, None)], "k long, v string"),
        t, ["k"],
    )
    merge_into_versioned(
        spark,
        spark.createDataFrame([(4, "gone")], "k long, v string"),
        t, ["k"], when_matched="delete", insert_unmatched=False,
    )
    got = {
        r.k: (r.v, r.change_type)
        for r in snapshot_diff(spark, t, 1, 3, ["k"]).collect()
    }
    # 1 unchanged, 3 unchanged (NULL==NULL), 2 updated, 4 deleted, 5 inserted
    assert got == {
        2: ("B", "update"),
        4: (None, "delete"),
        5: ("e", "insert"),
    }


def test_snapshot_diff_null_key_and_type_guard(spark, tmp_path):
    """A row whose KEY column is legitimately NULL and matches across
    versions (eqNullSafe) must classify by presence markers — update,
    never a phantom insert; and a column TYPE change between versions
    must be rejected, not silently row-diffed."""
    import pytest

    from etl_spark_spark.sinks.versioned import snapshot_diff, write_version
    from pyspark.sql import functions as F2

    t = tmp_path / "tbl"
    write_version(
        spark,
        spark.createDataFrame([(None, "x"), (1, "a")], "k long, v string"),
        t,
    )
    write_version(
        spark,
        spark.createDataFrame([(None, "y"), (1, "a")], "k long, v string"),
        t,
    )
    got = {
        r.k: (r.v, r.change_type)
        for r in snapshot_diff(spark, t, 1, 2, ["k"]).collect()
    }
    assert got == {None: ("y", "update")}

    t2 = tmp_path / "tbl2"
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    write_version(spark, df, t2)
    write_version(spark, df.withColumn("v", F2.col("v").cast("binary")), t2)
    with pytest.raises(ValueError, match="schema changed"):
        snapshot_diff(spark, t2, 1, 2, ["k"])


def test_write_sized_hits_target_file_size(spark, tmp_path):
    """Files land near the requested size: a ~6 MB dataset at a 1 MB
    target must split into several files, each within a small factor of
    the target (parquet framing overhead aside), and round-trip
    contents exactly."""
    from pathlib import Path

    from etl_spark_spark.sinks.write import write_sized

    df = spark.range(60_000).selectExpr(
        "id", "repeat(uuid(), 4) AS payload"
    ).cache()
    df.count()
    out = tmp_path / "sized"
    n_files = write_sized(spark, df, str(out), target_file_mb=1)
    files = [
        f for f in Path(out).rglob("*.parquet") if not f.name.startswith("_")
    ]
    assert n_files > 1 and len(files) == n_files
    sizes = sorted(f.stat().st_size for f in files)
    target = 1024 * 1024
    assert sizes[0] > 0.3 * target, f"file too small: {sizes[0]}"
    assert sizes[-1] < 3 * target, f"file too big: {sizes[-1]}"
    assert spark.read.parquet(str(out)).count() == 60_000
    df.unpersist()


def test_apply_snapshot_delta_follower_converges(spark, tmp_path):
    """CDC round trip: a follower seeded at leader v1 and fed
    snapshot_diff(1, 3) must equal the leader's v3 exactly — including
    NULL-keyed rows (null-safe apply) and deletes."""
    from etl_spark_spark.sinks.versioned import (
        apply_snapshot_delta,
        merge_into_versioned,
        read_versioned,
        snapshot_diff,
        write_version,
    )

    leader = tmp_path / "leader"
    follower = tmp_path / "follower"
    # full-snapshot writes: a NULL-key value change is only expressible
    # this way (MERGE never matches NULL keys, by standard semantics)
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "n0"), (4, "d")], "k long, v string"
    )
    write_version(spark, v1, leader)
    write_version(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (None, "n1"), (5, "e")], "k long, v string"
        ),
        leader,
    )
    # and one MERGE on top for the mixed-provenance case
    merge_into_versioned(
        spark,
        spark.createDataFrame([(5, "gone")], "k long, v string"),
        leader, ["k"], when_matched="delete", insert_unmatched=False,
    )
    write_version(spark, v1, follower)  # follower == leader v1
    delta = snapshot_diff(spark, leader, 1, 3, ["k"])
    apply_snapshot_delta(spark, delta, follower, ["k"])
    want = {
        (r.k, r.v) for r in read_versioned(spark, leader).collect()
    }
    got = {
        (r.k, r.v) for r in read_versioned(spark, follower).collect()
    }
    assert got == want
    assert (None, "n1") in got and (4, "d") not in got


def test_apply_snapshot_delta_retries_on_top_of_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """A commit that lands between the delta apply's read and its CAS
    makes the CAS fail; the apply re-reads and lands on top of that
    commit, so both changes survive and nothing is lost."""
    from etl_spark_spark.sinks import versioned as vmod

    schema = "k long, v string"
    follower = tmp_path / "follower"
    vmod.write_version(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], schema), follower
    )
    delta = spark.createDataFrame(
        [(1, None, "delete"), (2, "B", "update"), (3, "c", "insert")],
        schema + ", change_type string",
    )
    real_read = vmod.read_versioned
    reads = []

    def read_then_commit(spark_, path, version=None):
        out = real_read(spark_, path, version)
        reads.append(version)
        if len(reads) == 1:  # another writer commits after our read
            vmod.write_version(
                spark,
                spark.createDataFrame([(1, "a"), (2, "b"), (7, "x")], schema),
                follower,
            )
        return out

    monkeypatch.setattr(vmod, "read_versioned", read_then_commit)
    v = vmod.apply_snapshot_delta(spark, delta, follower, ["k"])
    monkeypatch.undo()

    assert reads == [1, 2]  # the retry re-read the concurrent commit
    assert v == 3 and vmod.committed_versions(follower) == [1, 2, 3]
    got = {(r.k, r.v) for r in vmod.read_versioned(spark, follower).collect()}
    assert got == {(2, "B"), (3, "c"), (7, "x")}


def test_incremental_agg_maintenance_matches_recompute(spark, tmp_path):
    """Rollup maintenance from a CDC delta must equal a full recompute
    BIT-for-bit: inserts add, deletes retract, updates retract+add,
    groups draining to zero disappear, brand-new groups appear."""
    from etl_spark_spark.operators.rollup import agg_snapshot, apply_agg_delta
    from etl_spark_spark.sinks.versioned import snapshot_diff, write_version

    t = tmp_path / "base"
    v1 = spark.createDataFrame(
        [
            (1, "east", 10.50), (2, "east", 5.25), (3, "west", 7.00),
            (4, "west", 1.99), (5, "north", 3.33),
        ],
        "id long, region string, amount double",
    )
    v2 = spark.createDataFrame(
        [
            (1, "east", 12.00),            # update (amount changed)
            (2, "east", 5.25),             # unchanged
            (4, "east", 1.99),             # GROUP-CHANGING update west->east
            (6, "south", 8.88),            # insert, new group
            # 3, 5 deleted -> west and north drain to zero and vanish
        ],
        "id long, region string, amount double",
    )
    write_version(spark, v1, t)
    write_version(spark, v2, t)
    measures = {"n": (None, "count"), "cents": ("amount", "sum_cents")}
    base = agg_snapshot(v1, ["region"], measures)
    delta = snapshot_diff(spark, t, 1, 2, ["id"], include_old=True)
    assert "old_amount" in delta.columns
    got = {
        r.region: (r.n, r.cents)
        for r in apply_agg_delta(base, delta, ["region"], measures).collect()
    }
    want = {
        r.region: (r.n, r.cents)
        for r in agg_snapshot(v2, ["region"], measures).collect()
    }
    assert got == want
    assert "north" not in got and "west" not in got
    assert got["south"] == (1, 888) and got["east"] == (3, 1924)


def test_compact_table_shrinks_files_data_identical(spark, tmp_path):
    """Compaction: many-small-file snapshot -> few files in a NEW
    version, rows bit-identical, prior versions untouched, and a stale
    compaction (merge landed in between) refuses to clobber."""
    import pytest

    from etl_spark_spark.sinks.versioned import (
        ConcurrentWriteError,
        compact_table,
        current_version,
        merge_into_versioned,
        read_versioned,
        snapshot_diff,
        write_version,
        _snapshot_data_dir,
    )

    t = tmp_path / "tbl"
    from pyspark.sql import functions as F

    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    write_version(spark, df.repartition(32), t)
    v1_files = [
        p for p in _snapshot_data_dir(t, 1).iterdir() if p.name.endswith(".parquet")
    ]
    assert len(v1_files) > 16

    v2 = compact_table(spark, t, target_file_bytes=1 << 30)
    assert v2 == 2 and current_version(t) == 2
    v2_files = [
        p for p in _snapshot_data_dir(t, 2).iterdir() if p.name.endswith(".parquet")
    ]
    assert len(v2_files) == 1
    # identical data, and the CDC diff between the versions is empty
    assert read_versioned(spark, t, 2).exceptAll(df).isEmpty()
    assert df.exceptAll(read_versioned(spark, t, 2)).isEmpty()
    assert snapshot_diff(spark, t, 1, 2, ["k"]).isEmpty()
    # old version still time-travelable with its old layout
    assert len(v1_files) == len(
        [p for p in _snapshot_data_dir(t, 1).iterdir() if p.name.endswith(".parquet")]
    )

    # stale compaction: a merge commits after the compactor read v2
    class _Racer:
        def __init__(self):
            self.fired = False

    # simulate by compacting against a table whose current version
    # advances first: read_versioned sees v2, then a merge lands v3,
    # then the compactor's CAS (expected v2) must fail
    from etl_spark_spark.sinks import versioned as vmod

    real_read = vmod.read_versioned
    racer = _Racer()

    def read_then_merge(spark_, path, version=None):
        out = real_read(spark_, path, version)
        if not racer.fired:
            racer.fired = True
            merge_into_versioned(
                spark,
                spark.createDataFrame([(1, 99)], "k long, v long"),
                t, ["k"],
            )
        return out

    vmod_read = vmod.read_versioned
    try:
        vmod.read_versioned = read_then_merge
        with pytest.raises(ConcurrentWriteError):
            compact_table(spark, t, target_file_bytes=1 << 30)
    finally:
        vmod.read_versioned = vmod_read
    # the interleaved merge's row survived
    assert read_versioned(spark, t).filter("k = 1 and v = 99").count() == 1


def test_bucket_digests_and_scoped_diff(spark):
    """Merkle diff: identical replicas diverge nowhere; a modified /
    missing / extra key is classified; an even-times-duplicated row
    (the XOR blind spot) is still caught by the bucket row count."""
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.reconcile import (
        bucket_digests,
        bucket_scoped_diff,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 31).alias("v")
    )
    cols = ["k", "v"]
    same = bucket_digests(df, "k", cols).alias("l").join(
        bucket_digests(df, "k", cols).alias("r"), "bucket"
    ).filter(
        (F.col("l.n_rows") != F.col("r.n_rows"))
        | (F.col("l.digest") != F.col("r.digest"))
    )
    assert same.count() == 0

    replica = (
        df.filter(F.col("k") != 500)                      # missing
        .withColumn(
            "v", F.when(F.col("k") == 7, F.lit(999)).otherwise(F.col("v"))
        )                                                  # modified
        .unionByName(df.filter(F.col("k") == 3))           # duplicated twice
    )
    got = {
        (r["key"], r["change_type"])
        for r in bucket_scoped_diff(df, replica, "k", cols).collect()
    }
    assert (500, "left_only") in got
    assert (7, "modified") in got
    # k=3 exists on both sides with equal fp -> not in the key diff,
    # but its bucket MUST be flagged divergent by row count
    bad_buckets = {
        r["bucket"]
        for r in bucket_digests(df, "k", cols).alias("l")
        .join(bucket_digests(replica, "k", cols).alias("r"), "bucket", "full_outer")
        .filter(
            ~(
                F.col("l.n_rows").eqNullSafe(F.col("r.n_rows"))
                & F.col("l.digest").eqNullSafe(F.col("r.digest"))
            )
        )
        .collect()
    }
    assert 3 % 64 in bad_buckets


def test_export_training_shards_manifest_reproducible(spark, tmp_path):
    """Shard membership and manifest digests must be deterministic
    functions of the DATA — identical across re-exports under
    different partitionings — and totals must reconcile."""
    from pyspark.sql import functions as F

    from etl_spark_spark.sinks.write import export_training_shards
    from etl_spark_spark.sources import table

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "source",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "c",
            F.lit("train"),
        ).otherwise(F.lit("val")).alias("split"),
    )
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = export_training_shards(docs, p1, "split", ["doc_id"], 3)
    m2 = export_training_shards(
        docs.repartition(13), p2, "split", ["doc_id"], 3
    )
    assert m1 == m2
    assert m1["total_rows"] == docs.count()
    assert {s["split"] for s in m1["shards"]} == {"train", "val"}
    assert all(s["rows"] > 0 for s in m1["shards"])
    import json
    from pathlib import Path

    on_disk = json.loads((Path(p1) / "_manifest.json").read_text())
    assert on_disk["total_rows"] == m1["total_rows"]
    # every shard directory exists and holds parquet
    back = spark.read.parquet(p1)
    assert back.count() == m1["total_rows"]


def test_compact_table_clustered_layout_discriminates(spark, sf_dir, tmp_path):
    """compact_table(order_by=...) range-clusters the rewrite: rows
    stay bit-identical and the new files carry DISJOINT per-file
    min/max ranges on the cluster key — the property that makes the
    stats-index / row-group skippers actually skip."""
    from etl_spark_spark.sinks.versioned import (
        _snapshot_data_dir,
        committed_versions,
        compact_table,
        read_versioned,
        write_version,
    )
    from etl_spark_spark.sources import table

    cust = table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_acctbal"]
    )
    root = str(tmp_path / "t")
    write_version(spark, cust.repartition(16), root)  # fragmented + unclustered
    v0 = committed_versions(root)[-1]
    v1 = compact_table(
        spark, root, target_file_bytes=4 * 1024, order_by=["c_custkey"]
    )
    assert v1 > v0
    got = read_versioned(spark, root)
    assert got.count() == cust.count()
    assert got.exceptAll(cust).count() == 0 and cust.exceptAll(got).count() == 0

    def parquet_files(version):
        d = _snapshot_data_dir(root, version)
        return [p for p in d.iterdir() if p.suffix == ".parquet"]

    assert len(parquet_files(v0)) == 16
    files = parquet_files(v1)
    assert 2 <= len(files) < 16

    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        idx = [
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "c_custkey"
        ][0]
        lo = min(md.row_group(g).column(idx).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max
                 for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo  # disjoint = stats actually discriminate


def _anti_join_union_merge(target, source, keys, when_matched, insert_unmatched):
    """The reference MERGE expansion: target ⟕anti source keys ∪ the
    source rows each clause admits (semi/anti-joined on target keys)."""
    untouched = target.join(source.select(*keys).distinct(), keys, "left_anti")
    tgt_keys = target.select(*keys).distinct()
    if when_matched == "update":
        admitted = source
        if not insert_unmatched:
            admitted = source.join(tgt_keys, keys, "left_semi")
    elif insert_unmatched:
        admitted = source.join(tgt_keys, keys, "left_anti")
    else:
        return untouched
    return untouched.unionByName(admitted, allowMissingColumns=True)


@pytest.mark.parametrize("insert_unmatched", [True, False])
@pytest.mark.parametrize("when_matched", ["update", "delete"])
def test_versioned_merge_equals_anti_join_union(
    spark, tmp_path, when_matched, insert_unmatched
):
    """merge_into_versioned's one-pass merge leaves exactly the rows and
    columns of the anti-join + union expansion, for every clause pair:
    NULL key parts never match (on either side), duplicate keys on
    either side all follow their clause, and a source-only column is
    appended after the target's columns."""
    from etl_spark_spark.sinks.versioned import (
        merge_into_versioned,
        read_versioned,
        write_version,
    )

    target = spark.createDataFrame(
        [
            (1, "a", "t1"),
            (2, "a", "t2"),
            (2, "a", "t2-dup"),  # duplicate target key, matched
            (3, "a", "t3"),
            (4, "a", "t4"),  # duplicate target key, unmatched
            (4, "a", "t4-dup"),
            (None, "a", "t-null1"),
            (5, None, "t-null2"),
            (None, None, "t-null3"),
        ],
        "k1 int, k2 string, v string",
    )
    source = spark.createDataFrame(
        [
            (2, "a", "s2", 20),
            (3, "a", "s3", 30),
            (3, "a", "s3-dup", 31),  # duplicate source key, matched
            (7, "a", "s7", 70),
            (7, "a", "s7-dup", 71),  # duplicate source key, unmatched
            (None, "a", "s-null1", 80),  # same NULL-bearing keys as target
            (5, None, "s-null2", 90),
            (None, None, "s-null3", 99),
        ],
        "k1 int, k2 string, v string, extra int",
    )
    keys = ["k1", "k2"]
    t = tmp_path / "tbl"
    write_version(spark, target, t)
    merge_into_versioned(
        spark, source, t, keys,
        when_matched=when_matched, insert_unmatched=insert_unmatched,
    )
    got = read_versioned(spark, t)
    want = _anti_join_union_merge(
        target, source, keys, when_matched, insert_unmatched
    )
    assert got.columns == want.columns
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_upsert_matches_versioned_merge(spark, tmp_path):
    """Both upsert paths (whole-table and partition-scoped) and the
    versioned MERGE share one keyed merge: same rows for the same
    inputs, duplicate source keys included."""
    from etl_spark_spark.sinks.versioned import (
        merge_into_versioned,
        read_versioned,
    )

    base = spark.createDataFrame(
        [(1, "p", "old1"), (2, "p", "old2"), (3, "q", "old3")],
        "k int, p string, v string",
    )
    src = spark.createDataFrame(
        [(2, "p", "new2"), (2, "p", "new2b"), (9, "q", "new9")],
        "k int, p string, v string",
    )
    whole, parted, ver = (str(tmp_path / n) for n in ("w", "p", "v"))
    write(base, whole)
    write(base, parted, partition_by=["p"])
    merge_into_versioned(spark, base, ver, ["k"])
    upsert(spark, src, whole, keys=["k"])
    upsert(spark, src, parted, keys=["k"], partition_by=["p"])
    merge_into_versioned(spark, src, ver, ["k"])

    def rows(df):
        return sorted((r.k, r.p, r.v) for r in df.collect())

    want = rows(read_versioned(spark, ver))
    assert want == [
        (1, "p", "old1"), (2, "p", "new2"), (2, "p", "new2b"),
        (3, "q", "old3"), (9, "q", "new9"),
    ]
    assert rows(spark.read.parquet(whole)) == want
    assert rows(spark.read.parquet(parted)) == want


def test_versioned_merge_scans_source_once(spark, tmp_path, monkeypatch):
    """The snapshot merge_into_versioned writes plans its source ONCE:
    a costly source (scan + aggregate) must not be re-executed for a
    key list and again for the rows."""
    from etl_spark_spark.plans import explain_str
    from etl_spark_spark.sinks import versioned

    src_path = tmp_path / "feed_src"
    spark.createDataFrame(
        [(i % 5, i) for i in range(50)], "k int, x int"
    ).write.parquet(str(src_path))
    t = tmp_path / "tbl"
    versioned.merge_into_versioned(
        spark, spark.createDataFrame([(0, 0), (9, 9)], "k int, x int"), t, ["k"]
    )
    source = (
        spark.read.parquet(str(src_path)).groupBy("k").agg(F.max("x").alias("x"))
    )
    plans = []
    real_write = versioned.write_version

    def spy(spark_, df, *args, **kwargs):
        plans.append(explain_str(df))
        return real_write(spark_, df, *args, **kwargs)

    monkeypatch.setattr(versioned, "write_version", spy)
    versioned.merge_into_versioned(spark, source, t, ["k"])
    (plan,) = plans
    scans = [
        line for line in plan.splitlines()
        if line.lstrip().startswith("Location:") and src_path.name in line
    ]
    assert len(scans) == 1, plan
    got = {(r.k, r.x) for r in versioned.read_versioned(spark, t).collect()}
    assert got == {(k, 45 + k) for k in range(5)} | {(9, 9)}
