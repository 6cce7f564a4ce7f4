"""Data-quality expectations: fail-closed NULL semantics, quarantine
routing, referential orphan counting, and the one-pass plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_spark.operators.quality import (
    expectation_metrics,
    fk_violation_count,
    quarantine,
)


def _dirty(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, -5.0, "A"),     # qty violation
            (3, None, "N"),     # NULL qty -> fail-closed violation
            (4, 20.0, "X"),     # domain violation
            (5, 30.0, None),    # NULL flag -> fail-closed violation
        ],
        "id long, qty double, flag string",
    )


def _rules():
    return {
        "qty_positive": F.col("qty") > 0,
        "flag_domain": F.col("flag").isin("A", "N", "R"),
    }


def test_expectations_fail_closed(spark):
    got = {
        r["rule"]: (r["n_rows"], r["n_violations"])
        for r in expectation_metrics(_dirty(spark), _rules()).collect()
    }
    assert got == {"qty_positive": (5, 2), "flag_domain": (5, 2)}


def test_quarantine_partitions_rows(spark):
    good, bad = quarantine(_dirty(spark), _rules())
    assert sorted(r["id"] for r in good.collect()) == [1]
    failed = {r["id"]: list(r["failed_rules"]) for r in bad.collect()}
    assert failed == {
        2: ["qty_positive"],
        3: ["qty_positive"],
        4: ["flag_domain"],
        5: ["flag_domain"],
    }


def test_fk_orphans_counts_nulls(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 11), (3, None), (4, 99)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (11,)], "pk long")
    n = fk_violation_count(child, "fk", parent, "pk").collect()[0]["n_violations"]
    assert n == 2  # NULL fk and 99 are both orphans


def test_expectations_single_scan(spark, sf_dir):
    """All rules fold into ONE aggregate over ONE scan — no
    rule-per-pass re-reads."""
    from etl_spark_spark.sources import table

    li = table(spark, sf_dir, "lineitem")
    plan = expectation_metrics(
        li, {"a": F.col("l_quantity") > 0, "b": F.col("l_discount") >= 0}
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_profile_drift_statuses_and_stats(spark):
    """Added/removed/type-changed columns classified from the schemas;
    shared columns carry both sides' null/distinct/row counts."""
    from etl_spark_spark.functions.profile import profile_drift

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "c", 2.0)],
        "k long, v string, gone double",
    )
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (4, "d", None), (5, None, "z")],
        "k long, v string, fresh string",
    )
    got = {r.column_name: r for r in profile_drift(old, new).collect()}
    assert got["gone"].status == "removed" and got["fresh"].status == "added"
    assert got["k"].status == "present" and got["v"].status == "present"
    r = got["v"]
    assert (r.old_n_nulls, r.new_n_nulls) == (1, 1)
    assert (r.old_n_distinct, r.new_n_distinct) == (2, 3)
    assert (r.old_n_rows, r.new_n_rows) == (3, 4)
    # type change detected even though the name is shared
    old2 = old.withColumn("v", F.lit(7))
    got2 = {r.column_name: r for r in profile_drift(old2, new).collect()}
    assert got2["v"].status == "type_changed"
    assert (got2["v"].old_type, got2["v"].new_type) == ("int", "string")


def test_write_with_metrics_single_pass(spark, sf_dir, tmp_path):
    """Observation metrics must describe exactly the written rows —
    collected during the write job, no second scan — and match
    independently recomputed values."""
    from pyspark.sql import functions as F2

    from etl_spark_spark.operators.quality import write_with_metrics
    from etl_spark_spark.sources import table

    li = table(spark, sf_dir, "lineitem").filter(F2.col("l_returnflag") == "R")
    out = str(tmp_path / "out")
    cents = F2.round(F2.col("l_extendedprice") * 100).cast("long")
    got = write_with_metrics(
        li,
        out,
        {
            "n_rows": F2.count(F2.lit(1)),
            "n_null_qty": F2.count_if(F2.col("l_quantity").isNull()),
            "revenue_cents": F2.sum(cents),
        },
    )
    back = spark.read.parquet(out)
    want_n = back.count()
    want_rev = back.agg(F2.sum(cents).alias("s")).collect()[0].s
    assert got["n_rows"] == want_n > 0
    assert got["n_null_qty"] == 0
    assert got["revenue_cents"] == want_rev
