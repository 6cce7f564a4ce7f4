"""End-to-end job tests: the ressarcimento backfill runs compute →
Spark-native sink with its scheduling semantics (gate, backfill
modes), and the example driver runs both pipelines. The daily
superdesconto MERGE is tested in test_daily_loop.py."""

from __future__ import annotations

import datetime as dt

from etl_spark_spark.pipelines.jobs import run_ressarcimento_backfill


def test_ressarcimento_backfill_gate_and_modes(spark, sf_dir, tmp_path):
    target = str(tmp_path / "ressarc")
    # gate: day 20 -> no run
    assert run_ressarcimento_backfill(
        spark, sf_dir, target, today=dt.date(2025, 3, 20), start_year=2024
    ) == []
    # day 3 -> backfills 2024..2025; first replaces, second appends
    years = run_ressarcimento_backfill(
        spark, sf_dir, target, today=dt.date(2025, 3, 3), start_year=2024
    )
    assert years == [2024, 2025]
    df = spark.read.parquet(target)
    per_year = dict(
        df.groupBy("ano").count().rdd.map(lambda r: (r.ano, r["count"])).collect()
    )
    assert set(per_year) == {2024, 2025}
    assert per_year[2024] == per_year[2025] > 0


def test_example_daily_job_runs_end_to_end(sf_dir, tmp_path):
    """examples/daily_job.py (the reference-driver migration example)
    must run green out of the box: window rollback applied, pruned
    superdesconto MERGE committed, ressarcimento backfills written."""
    import subprocess
    import sys
    from pathlib import Path

    out = str(tmp_path / "job")
    r = subprocess.run(
        [sys.executable, "examples/daily_job.py", sf_dir, out,
         "--date", "1995-02-03"],
        capture_output=True, text=True, timeout=600,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "window: 1995-01-01 .. 1995-02-03" in r.stdout  # rollback rule
    assert "superdesconto: merged window" in r.stdout
    assert (Path(out) / "best_sales" / "_v").exists()
    assert (Path(out) / "ressarcimento_1995").exists()
