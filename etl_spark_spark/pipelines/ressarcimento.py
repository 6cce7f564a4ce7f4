"""Allocation composite: the reference's ressarcimento shape over fixtures.

Reference pipeline (utils_ressarcimento.py:187-278): per-product losses,
two grouped credit sources unioned and re-aggregated, a windowed group
total as the allocation denominator, the coalesce-cascade allocation
``coalesce(perdas/grupo_perda × credito, credito, 0)``, and a
full-outer reconciliation (matched ∪ credit-only ∪ loss-only, built as
a left join ∪ one anti-join) with final null-fill.

Fixture mapping: supplier-level "losses" = discounts given on lineitem;
group hierarchy = supplier's nation; "credits" come from two sources
(customer and supplier account balances per nation), pre-aggregated then
re-aggregated after union — exactly the reference's partial/final shape
(utils_ressarcimento.py:153-184).

Determinism at scale: every money measure is carried as integer cents
(functions.money) so sums are order-independent; the allocation division
uses ``nullif`` so div-by-zero → NULL → fallback holds under ANSI mode.
The semantics pinned by tests (SURVEY.md §4 hazard 4):
  - matched group with zero/NULL total loss → credit passes through whole
  - credit with no losses (orphan) → passes through whole
  - loss with no credit → allocation 0
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.nulls import fill_nulls_by_type
from ..operators.joins import broadcast_join
from ..operators.reconcile import allocate_proportional, reconcile_full_outer
from ..operators.setops import union_strict
from ..operators.windows import partitioned_sum
from ..sources import table

_CENTS = lambda c: F.round(c * 100).cast("long")  # noqa: E731


def _losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss per (nation, supplier): total discount given, in cents."""
    lineitem = table(
        spark, sf_dir, "lineitem",
        columns=["l_suppkey", "l_extendedprice", "l_discount"],
    )
    supplier = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    enriched = broadcast_join(
        lineitem, supplier, F.col("l_suppkey") == F.col("s_suppkey")
    )
    return (
        enriched.groupBy(
            F.col("s_nationkey").alias("nation_key"),
            F.col("l_suppkey").alias("supp_key"),
        )
        .agg(
            F.sum(_CENTS(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "perdas_cents"
            )
        )
    )


def _credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit per nation from two pre-aggregated sources, union + re-agg
    (the reference's partial/final aggregate shape)."""
    customer = table(spark, sf_dir, "customer", columns=["c_nationkey", "c_acctbal"])
    supplier = table(spark, sf_dir, "supplier", columns=["s_nationkey", "s_acctbal"])
    cred_cust = (
        customer.filter(F.col("c_acctbal") > 0)
        .groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(F.sum(_CENTS(F.col("c_acctbal"))).alias("credito_cents"))
    )
    cred_supp = (
        supplier.filter(F.col("s_acctbal") > 0)
        .groupBy(F.col("s_nationkey").alias("nation_key"))
        .agg(F.sum(_CENTS(F.col("s_acctbal"))).alias("credito_cents"))
    )
    return (
        union_strict(cred_cust, cred_supp)
        .groupBy("nation_key")
        .agg(F.sum("credito_cents").alias("credito_cents"))
    )


def allocation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    losses = _losses(spark, sf_dir)
    # window form is deliberate HERE: it runs over the already-
    # aggregated (nation, supplier) table, so a partition is bounded by
    # suppliers-per-nation, not raw rows. For fact-scale denominators
    # under a dominant group use partitioned_sum_agg (map-side-partial
    # aggregate; 2.9x on the 62%-hot-key replica, scripts/bench_skew.py
    # + BASELINE.md round-10) — exercised by q_part_share_alloc.
    losses = partitioned_sum(
        losses, ["nation_key"], "perdas_cents", "grupo_perda_cents"
    )
    credits = _credits(spark, sf_dir)

    combined = reconcile_full_outer(
        losses, credits, ["nation_key"], style="anti_union"
    )
    combined = combined.withColumn("credito", F.col("credito_cents") / 100.0)
    allocated = allocate_proportional(
        combined,
        weight="perdas_cents",
        total="grupo_perda_cents",
        amount="credito",
        alias="rateio",
    )
    out = allocated.select(
        "nation_key",
        "supp_key",
        (F.col("perdas_cents") / 100.0).alias("perdas"),
        (F.col("grupo_perda_cents") / 100.0).alias("grupo_perda"),
        "credito",
        "rateio",
    )
    return fill_nulls_by_type(out)
