"""Regression pins for the round-6 ADVICE findings.

1. join_mv._read_history distinguishes 'table absent' (None) from
   'table unreadable' (raise) — a torn footer must NOT be treated as
   empty history (would silently drop delta terms).
2. ks_drift_by_group drops groups where either variant is empty
   (D undefined; previously NULL-vs-inf cross-engine divergence).
3. embedding_covariance_blocked detects int64 overflow and falls back
   to exact object-dtype accumulation instead of wrapping silently.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F


def test_read_prior_none_on_missing_raises_on_corrupt(spark, tmp_path):
    from etl_spark_spark.streaming.join_mv import _read_history

    missing = str(tmp_path / "nope")
    assert _read_history(spark, missing, 5) is None

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    # a torn file: parquet magic prefix but truncated footer
    (corrupt / "part-00000.parquet").write_bytes(b"PAR1\x00\x01broken")
    with pytest.raises(Exception):
        df = _read_history(spark, str(corrupt), 5)
        # some codepaths defer the failure to the first action
        if df is not None:
            df.count()
        else:  # pragma: no cover - None here IS the bug
            raise AssertionError("corrupt existing path returned None")


def test_ks_drift_drops_single_variant_groups(spark):
    from etl_spark_spark.operators.stats import ks_drift_by_group

    rows = [
        ("both", "A", 1),
        ("both", "A", 2),
        ("both", "B", 2),
        ("both", "B", 3),
        ("only_a", "A", 1),
        ("only_a", "A", 7),
    ]
    df = spark.createDataFrame(rows, "grp string, variant string, v long")
    out = ks_drift_by_group(df, ["grp"], "v", "variant").collect()
    got = {r["grp"]: r for r in out}
    assert set(got) == {"both"}  # one-variant group dropped
    assert got["both"]["n_a"] == 2 and got["both"]["n_b"] == 2
    assert got["both"]["d_stat"] is not None


def test_covariance_blocked_overflow_fallback_exact(spark):
    from etl_spark_spark.operators.stats import (
        embedding_covariance,
        embedding_covariance_blocked,
    )

    # |x| ~ 4000 at scale=1e6 → per-cell partial ~ rows*(4e9)^2 >> 2^63:
    # the int64 fast path would wrap; the object-dtype fallback must
    # not. scale=10 keeps the CELL sums inside int64 so the operator
    # can still emit, while the default-scale run exercises detection.
    rows = [(i, [float((-1) ** i * (i + 1) * 1000.0), float(i)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "id long, emb array<double>")

    exact = {
        (r["dim_i"], r["dim_j"]): r["cov_q2"]
        for r in embedding_covariance(emb, "emb", scale=10).collect()
    }
    blocked = {
        (r["dim_i"], r["dim_j"]): r["cov_q2"]
        for r in embedding_covariance_blocked(emb, "emb", scale=10).collect()
    }
    assert exact.keys() == blocked.keys()
    for k in exact:
        assert blocked[k] == exact[k], k

    # when even the exact cell sums cannot fit int64, fail loudly
    big = spark.createDataFrame(
        [(i, [4.0e9, 4.0e9]) for i in range(64)],
        "id long, emb array<double>",
    )
    with pytest.raises(Exception):
        embedding_covariance_blocked(big, "emb", scale=1_000_000).collect()


def test_scratch_reaper_spares_fresh_dirs():
    import tempfile

    from entry_queries.maintenance import _scratch_dir

    # a freshly-touched dir with a dead pid must survive (TTL guard:
    # could be a live sibling in another PID namespace sharing /tmp)
    fresh = tempfile.mkdtemp(prefix="spark_graft_ttltest_p999999_")
    try:
        _scratch_dir("ttlprobe")
        assert os.path.isdir(fresh)
    finally:
        import shutil

        shutil.rmtree(fresh, ignore_errors=True)
