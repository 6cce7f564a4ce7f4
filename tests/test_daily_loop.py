"""Production daily loop (pipelines/daily_loop.py): the reference's
incremental cycle — window-pruned read → superdesconto transform →
versioned MERGE (reference utils_superdesconto.py:62-66 +
etl_job.py:79-85). Pins the two properties the composite adds on top
of its already-tested parts:

1. the incremental read SKIPS files (n_files_read < n_files_total on
   the z-ordered feed) — the VERDICT-r5 done-criterion for the loop;
2. the MERGE sequence yields exactly window-2 rows + anti-joined
   window-1 rows, with one committed version per window (time travel
   back to the bootstrap works);
3. rerunning a window is idempotent and etiqueta stays unique.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_spark_spark.pipelines.daily_loop import run_daily_loop, stage_feed
from etl_spark_spark.pipelines.superdesconto import best_sale_pipeline
from etl_spark_spark.sinks.versioned import committed_versions, read_versioned

W1 = (dt.date(1995, 1, 1), dt.date(1995, 1, 31), "w1")
W2 = (dt.date(1995, 2, 1), dt.date(1995, 2, 28), "w2")


def _run(spark, sf_dir, tmp_path):
    feed = str(tmp_path / "pos_feed")
    target = str(tmp_path / "best_sales")
    stage_feed(spark, sf_dir, feed, num_files=16)
    snap, scans = run_daily_loop(
        spark, sf_dir, feed, target, windows=[W1, W2]
    )
    return feed, target, snap, scans


def test_incremental_read_skips_files(spark, sf_dir, tmp_path):
    _, _, _, scans = _run(spark, sf_dir, tmp_path)
    for n_read, n_total in scans:
        assert n_total == 16
        # one month out of ~7 years on a (ship_day, partkey) z-order:
        # the window must not open the whole feed
        assert 1 <= n_read < n_total


def test_merge_semantics_and_time_travel(spark, sf_dir, tmp_path):
    _, target, snap, _ = _run(spark, sf_dir, tmp_path)

    w1 = best_sale_pipeline(spark, sf_dir, W1[0], W1[1])
    w2 = best_sale_pipeline(spark, sf_dir, W2[0], W2[1])
    expected = w2.withColumn("src_window", F.lit("w2")).unionByName(
        w1.join(w2.select("etiqueta"), "etiqueta", "left_anti").withColumn(
            "src_window", F.lit("w1")
        )
    )
    assert snap.count() == expected.count()
    assert (
        snap.exceptAll(expected.select(*snap.columns)).count() == 0
        and expected.select(*snap.columns).exceptAll(snap).count() == 0
    )

    # one commit per window; the first version is the Jan bootstrap
    versions = committed_versions(target)
    assert len(versions) == 2
    v0 = read_versioned(spark, target, versions[0])
    assert v0.count() == w1.count()
    assert v0.filter(F.col("src_window") != "w1").count() == 0


def test_superdesconto_job_merges(spark, sf_dir, tmp_path):
    """The daily MERGE across reruns: re-running the same window is
    idempotent (MERGE, not append), a later window replaces the labels
    it overlaps and adds new ones, and etiqueta stays unique."""
    feed = str(tmp_path / "pos_feed")
    target = str(tmp_path / "best_sales")
    stage_feed(spark, sf_dir, feed, num_files=16)
    snap, _ = run_daily_loop(spark, sf_dir, feed, target, windows=[W1, W1, W2])

    v1, v2, _ = committed_versions(target)
    first = read_versioned(spark, target, v1)
    rerun = read_versioned(spark, target, v2)
    n1 = first.count()
    assert n1 > 0
    assert rerun.count() == n1
    assert first.exceptAll(rerun).isEmpty() and rerun.exceptAll(first).isEmpty()

    n3 = best_sale_pipeline(spark, sf_dir, W2[0], W2[1]).count()
    assert snap.select("etiqueta").distinct().count() == snap.count()
    assert snap.count() >= max(n1, n3)
    assert snap.filter(F.col("src_window") == "w2").count() == n3
