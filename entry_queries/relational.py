"""The relational query family. Each ``q_<name>`` function here is registry
entry ``<name>``, and ``ORACLES`` at the end maps ``<name>`` to its DuckDB
oracle SQL. See ``__spark_entry__.py`` for the driver contract."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark_spark.functions.money import money_sum, money_sum_sql
from etl_spark_spark.operators.stats import checked_measure_sql
from etl_spark_spark.functions.normalize import (
    _ACCENTS_DST,
    _ACCENTS_SRC,
    cnpj_normalize,
    etiqueta,
    strip_normalize,
    upper_trim,
)
from etl_spark_spark.operators.dedup import dedup_any, dedup_latest
from etl_spark_spark.operators.quality import (
    expectation_metrics,
    fk_violation_count,
    functional_dependencies,
)
from etl_spark_spark.operators.reconcile import reconcile_full_outer
from etl_spark_spark.operators.windows import top_k_per_group
from etl_spark_spark.pipelines.ressarcimento import allocation_pipeline
from etl_spark_spark.pipelines.superdesconto import best_sale_pipeline
from etl_spark_spark.sources import read_events, table, year_range_filter

from ._shared import _FEED_SQL


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped sums/averages with computed measures
    (SURVEY.md A1-A4; reference utils_ressarcimento.py:114-126)."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            (money_sum("l_quantity") / F.count("*")).alias("avg_qty"),
            (money_sum("l_extendedprice") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )



def q_dedup_latest_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-latest dedup (fixes SURVEY.md §4 hazard 1;
    reference's intent at utils_ressarcimento.py:54-55,145-146)."""
    li = table(spark, sf_dir, "lineitem")
    latest = dedup_latest(
        li,
        keys=["l_partkey"],
        order_by=[
            F.col("l_shipdate").desc(),
            F.col("l_orderkey").desc(),
            F.col("l_linenumber").desc(),
        ],
    )
    return latest.select(
        "l_partkey",
        F.col("l_shipdate").cast("date").cast("string").alias("last_ship_date"),
        F.col("l_orderkey").alias("last_orderkey"),
        F.col("l_extendedprice").alias("last_price"),
    )



def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (W1 generalized to k=3)."""
    orders = table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders,
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
        rank_col="rank_in_cust",
        keep_rank=True,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")



def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J6; reference utils_ressarcimento.py:260,266):
    customers with no orders in 1995 (scoped to a year so the result is
    non-trivially non-empty at every sf)."""
    customer = table(spark, sf_dir, "customer")
    orders = year_range_filter(
        table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"]),
        "o_orderdate",
        1995,
    )
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")



def q_orders_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + coalesce null-default + IN-list and NOT NULL filters
    (J5, F5, P11, P12)."""
    orders = table(spark, sf_dir, "orders")
    customer = table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_name", "c_mktsegment"]
    )
    return (
        orders.filter(F.col("o_orderstatus").isin("O", "F"))
        .filter(F.col("o_orderpriority").isNotNull())
        .join(customer, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.coalesce(F.col("c_name"), F.lit("UNKNOWN")).alias("cust_name"),
            # ifnull ≡ coalesce/2 — both null-default forms the reference
            # uses (F5 at utils_superdesconto.py:110-112, F7 at
            # utils_ressarcimento.py:251) are part of the surface
            F.ifnull(F.col("c_mktsegment"), F.lit("NONE")).alias("segment"),
            "o_totalprice",
        )
    )



def q_normalize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-builder normalization library (F1-F4), never UDFs.
    Reads with an explicit StructType (S3: schema as a projection/type
    contract — skips footer inference, reads only declared columns;
    reference utils_ressarcimento.py:33-41)."""
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
        ]
    )
    part = table(spark, sf_dir, "part", schema=schema)
    return part.select(
        "p_partkey",
        etiqueta("p_partkey").alias("etiqueta"),
        strip_normalize("p_name").alias("nome_norm"),
        cnpj_normalize("p_type").alias("tipo_norm"),
        upper_trim("p_brand").alias("marca_norm"),
    )



def q_monthly_orders_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year filter rewritten as a pushdown-friendly range predicate
    (SURVEY.md §4) + date_trunc month rollup (F10/F11, A1)."""
    orders = table(spark, sf_dir, "orders")
    return (
        year_range_filter(orders, "o_orderdate", 1995)
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .cast("string")
            .alias("mes")
        )
        .agg(
            money_sum("o_totalprice").alias("total_mes"),
            F.count("*").alias("num_pedidos"),
        )
    )



def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filter on both sides of the date,
    grouped revenue, global top-10 (TakeOrdered)."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    customer = table(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment"])
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(money_sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )



def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join through the region/nation hierarchy
    with the local-supplier condition (customer and supplier in the
    same nation), grouped revenue per nation. Bounded dims (nation,
    region) broadcast; SF-scaling sides (customer, supplier) join
    unhinted — AQE broadcasts them only while actually small;
    the two fact tables join on their keys."""
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    customer = table(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"])
    orders = table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate"])
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    supplier = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        year_range_filter(orders, "o_orderdate", 1996)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(money_sum(revenue).alias("revenue"), F.count("*").alias("n_items"))
    )



def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (F.percentile — the sort-based exact
    form; both engines use linear interpolation so results are
    bit-identical; for 100 TB use approx_percentile instead, traded
    deliberately: sketch outputs are engine-specific)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.95).alias("p95"),
        F.min("l_extendedprice").alias("p_min"),
        F.max("l_extendedprice").alias("p_max"),
    )



def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated correlated-subquery shape: orders above their
    customer's average order value. The per-customer average is a
    window over the fact (one shuffle) rather than a self-join; the
    average is cents-exact so the > comparison is engine-portable."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    avg = F.sum(cents).over(w) / 100.0 / F.count("*").over(w)
    return (
        orders.withColumn("cust_avg", avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )



def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-driven profiling (§1 reflection pattern as a user op):
    per-column null/distinct counts of orders in one aggregate pass."""
    from etl_spark_spark.functions.profile import profile_columns

    return profile_columns(table(spark, sf_dir, "orders"))



def q_nation_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation as a single join (J8's idiomatic form,
    one shuffle): per-nation customer and supplier headcounts, nations
    present on either side, missing sides zero-filled."""
    customer = table(spark, sf_dir, "customer", columns=["c_nationkey"])
    supplier = table(spark, sf_dir, "supplier", columns=["s_nationkey"])
    c = customer.groupBy(F.col("c_nationkey").alias("nation_key")).agg(
        F.count("*").alias("n_customers")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nation_key")).agg(
        F.count("*").alias("n_suppliers")
    )
    out = reconcile_full_outer(c, s, ["nation_key"], style="full_outer")
    return out.select(
        "nation_key",
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )



def q_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL surface: the engine accepts SQL text over registered
    views (spark.sql), not just the DataFrame API — the same statement
    runs on Spark and the oracle verbatim."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c_mktsegment AS segment,
               o_orderstatus AS status,
               count(*) AS n_orders,
               sum(cast(round(o_totalprice * 100) as bigint)) / 100.0D AS total
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_orderstatus
        """
    )



def q_dedup_any_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_any (A6 — arbitrary row per key) exposed through its
    deterministic projection: the per-flag distinct-key count. The kept
    row is arbitrary (hash-aggregate first()), so only key-derived
    outputs are comparable across engines."""
    li = table(spark, sf_dir, "lineitem")
    deduped = dedup_any(li, ["l_returnflag", "l_partkey"])
    return deduped.groupBy("l_returnflag").agg(
        F.count("*").alias("n_distinct_parts")
    )



def q_global_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (top-k). The reference has no global top-k
    (SURVEY.md §2.6) — added for completeness. Spark plans this as
    TakeOrderedAndProject: per-partition top-k then a k-row merge on
    the driver side — no full global sort at any scale. Tiebreak on
    o_orderkey makes the k-set deterministic."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )



def q_custkeys_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics) — set-op completeness beyond
    the reference's unions (SURVEY.md §2.7)."""
    orders = table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    y95 = year_range_filter(orders, "o_orderdate", 1995).select("o_custkey")
    y96 = year_range_filter(orders, "o_orderdate", 1996).select("o_custkey")
    return y95.intersect(y96)



def q_custkeys_only_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set semantics)."""
    orders = table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    y95 = year_range_filter(orders, "o_orderdate", 1995).select("o_custkey")
    y96 = year_range_filter(orders, "o_orderdate", 1996).select("o_custkey")
    return y95.subtract(y96)



def q_rollup_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — the idiomatic generalization of the
    reference's manual coarser re-group (A5,
    utils_ressarcimento.py:234-248)."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_suppkey", "l_extendedprice", "l_discount"],
    )
    sup = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    joined = li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
    return (
        joined.rollup(
            F.col("s_nationkey").alias("nation_key"),
            F.col("l_suppkey").alias("supp_key"),
        )
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "perdas"
            ),
            F.count("*").alias("n_rows"),
        )
    )



def q_supplier_share_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string surface parity: F.expr join condition (J4) +
    selectExpr projection with an inline window (P3/W2 — the
    reference's selectExpr window at utils_ressarcimento.py:223-230)."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    return (
        li.join(sup, F.expr("l_suppkey = s_suppkey"))
        .selectExpr(
            "s_nationkey AS nation_key",
            "l_suppkey AS supp_key",
            # 100.0D: Spark SQL parses a bare 100.0 as DECIMAL(3,1),
            # which would make the division decimal-typed; D forces double
            "sum(cast(round(l_extendedprice * 100) as bigint)) "
            "over (partition by l_suppkey) / 100.0D AS supp_total",
        )
        .distinct()
    )



def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS rewritten as a LEFT SEMI join (the only
    join type Spark offers for decorrelated EXISTS — new shape vs the
    anti-join in customers_without_orders). The semi join keeps the
    orders side unduplicated however many lineitems match, and the
    lineitem side is reduced to the join key before shuffling."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_returnflag"])
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    return (
        window.join(
            returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )



def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part argmin over a computed measure (unit
    price), then join back to dimensions. Window row_number with a
    full deterministic tiebreak (unit, suppkey) — identical ORDER BY in
    the oracle — so ties cannot flap. Division happens before the
    window (same IEEE op in both engines)."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"],
    )
    part = table(spark, sf_dir, "part", columns=["p_partkey", "p_brand", "p_size"])
    sup = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_name"])
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit")
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit"), F.col("l_suppkey")
    )
    # dimension filter BEFORE the window: per-part windows are
    # independent, so pre-joining the filtered part dim (AQE picks
    # broadcast while it is small; the side scales with SF, so no hint)
    # shrinks the window's shuffle input ~10x with identical results
    best = (
        li.select("l_partkey", "l_suppkey", unit)
        .join(
            part.filter(F.col("p_size") <= 5),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        best.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("p_partkey").alias("part_key"),
            F.col("p_brand").alias("brand"),
            F.col("s_suppkey").alias("supp_key"),
            F.col("s_name").alias("supp_name"),
            F.col("unit").alias("best_unit_price"),
        )
    )



def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping levels in
    one pass (rollup_losses covers ROLLUP; this pins the full lattice).
    Money sums in integer cents -> bit-stable at any parallelism."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_linestatus", "l_extendedprice", "l_discount"],
    )
    return li.cube(
        F.col("l_returnflag").alias("flag"),
        F.col("l_linestatus").alias("status"),
    ).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )



def q_priority_return_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide) — TPC-H Q12 flavor: per order priority, count
    lineitems by return flag as columns. Spark's groupBy().pivot() with
    an EXPLICIT value list (no extra distinct job, stable columns),
    mirrored in SQL as conditional aggregation. Absent combinations are
    coalesced to 0 so both sides agree."""
    orders = table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"])
    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_returnflag"])
    pivoted = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "priority",
        F.coalesce(F.col("A"), F.lit(0)).alias("n_a"),
        F.coalesce(F.col("N"), F.lit(0)).alias("n_n"),
        F.coalesce(F.col("R"), F.lit(0)).alias("n_r"),
    )



def q_daily_dense_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: per-priority daily order counts for
    1995-01, DENSIFIED — days with no orders appear with n_orders=0.
    The spine is generated with sequence()+explode (no driver loop)
    and cross-joined against the distinct priorities (both sides tiny:
    days x priorities), then the actual counts left-join in. The gap
    row a naive groupBy silently drops is exactly what trend/anomaly
    jobs need present."""
    orders = table(spark, sf_dir, "orders", columns=["o_orderdate", "o_orderpriority"])
    jan = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-02-01").cast("timestamp_ntz"))
    )
    counts = jan.groupBy(
        F.col("o_orderdate").cast("date").cast("string").alias("day"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count("*").cast("long").alias("n_orders"))
    spine_days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-01-31").cast("date"),
            )
        ).alias("__d")
    ).select(F.col("__d").cast("string").alias("day"))
    priorities = jan.select(
        F.col("o_orderpriority").alias("priority")
    ).distinct()
    spine = spine_days.crossJoin(F.broadcast(priorities))
    return spine.join(counts, ["day", "priority"], "left").select(
        "day",
        "priority",
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
    )



def q_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier flagging: median + MAD (median absolute
    deviation) per return flag, flag rows with |x - median| > 10 * MAD.
    Both medians run through exact_group_quantiles (distribution agg +
    window over the COMPACT per-distinct-value distribution) rather
    than F.percentile, whose TypedImperativeAggregate buffers every
    group value in the aggregation buffer — 3 groups x 2B rows at
    100x is an executor-OOM aggregate; the distribution form shrinks
    to distinct values first. Discrete-quantile semantics (smallest v
    with cum >= ceil(q*n)), same as q_exact_price_quartiles. Scale
    escape for groups with cluster-scale distinct-value counts:
    q_price_outliers_scalable runs both medians through the
    decomposed path and shares this query's oracle verbatim.

    Eager at construction: building the DataFrame pins the per-group
    median and MAD tables (``localCheckpoint``), so it runs Spark jobs
    over the full median/MAD lineage even for explain-only callers."""
    from etl_spark_spark.operators.stats import exact_group_quantiles

    li = table(spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"])
    med = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", qs=(0.5,)
    ).select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.col("q50").alias("median_price"),
    )
    # pin the per-group medians (3 rows): med feeds the deviation join,
    # the MAD pipeline, the outlier count AND the final select — without
    # a materialization each reference re-executes the whole
    # distribution+window quantile lineage from the fact scan (round-13
    # plan audit: 34 scans / 0 ReusedExchange in the scalable twin; the
    # same §5 move as the round-12 curation pin). Values unchanged —
    # this truncates lineage only.
    med = med.localCheckpoint()
    with_dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "__dev", F.abs(F.col("l_extendedprice") - F.col("median_price"))
    )
    mad = exact_group_quantiles(
        with_dev, ["l_returnflag"], "__dev", qs=(0.5,)
    ).select("l_returnflag", F.col("q50").alias("mad"))
    mad = mad.localCheckpoint()  # same pin: feeds flagged + final
    flagged = (
        with_dev.join(F.broadcast(mad), "l_returnflag")
        .filter(F.col("__dev") > 10 * F.col("mad"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_outliers"))
    )
    return (
        med.join(F.broadcast(mad), "l_returnflag")
        # flagged is <= one row per group: broadcast it so the pinned
        # 3-row med side does not plan a SortMergeJoin (round-13)
        .join(F.broadcast(flagged), "l_returnflag", "left")
        .select(
            "l_returnflag",
            "n_rows",
            "median_price",
            "mad",
            F.coalesce(F.col("n_outliers"), F.lit(0))
            .cast("long")
            .alias("n_outliers"),
        )
    )



def q_price_outliers_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_price_outliers with BOTH medians (value median and MAD)
    through the decomposed cumulative-count path
    (operators/stats.py:scalable_group_quantiles) — the robust-
    outlier composite free of per-group single-task windows end to
    end. Value buckets: floor(price/100); deviation buckets:
    floor(dev/100) (both monotone by construction, guards enforced).
    Bit-identical to the plain composite — this query's oracle IS
    q_price_outliers' oracle, verbatim.

    Eager at construction, like q_price_outliers: building the
    DataFrame pins the median and MAD tables (``localCheckpoint``), so
    it runs Spark jobs even for explain-only callers."""
    from etl_spark_spark.operators.stats import scalable_group_quantiles

    li = table(
        spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"]
    )
    med = scalable_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        bucket_of=F.floor(F.col("l_extendedprice") / 100), qs=(0.5,),
    ).select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.col("q50").alias("median_price"),
    )
    # pin the 3-row medians/MAD exactly as in q_price_outliers — the
    # decomposed pipeline is DEEPER than the plain one, so its
    # re-execution per reference was costlier still (round-13 profile:
    # 34.2 task-seconds for a 10.2 task-second computation; 34 fact
    # scans, 0 ReusedExchange). Lineage truncation only; values
    # unchanged (shares q_price_outliers' oracle verbatim).
    med = med.localCheckpoint()
    with_dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "__dev", F.abs(F.col("l_extendedprice") - F.col("median_price"))
    )
    mad = scalable_group_quantiles(
        with_dev, ["l_returnflag"], "__dev",
        bucket_of=F.floor(F.col("__dev") / 100), qs=(0.5,),
    ).select("l_returnflag", F.col("q50").alias("mad"))
    mad = mad.localCheckpoint()
    flagged = (
        with_dev.join(F.broadcast(mad), "l_returnflag")
        .filter(F.col("__dev") > 10 * F.col("mad"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_outliers"))
    )
    return (
        med.join(F.broadcast(mad), "l_returnflag")
        # flagged is <= one row per group: broadcast it so the pinned
        # 3-row med side does not plan a SortMergeJoin (round-13)
        .join(F.broadcast(flagged), "l_returnflag", "left")
        .select(
            "l_returnflag",
            "n_rows",
            "median_price",
            "mad",
            F.coalesce(F.col("n_outliers"), F.lit(0))
            .cast("long")
            .alias("n_outliers"),
        )
    )



def q_returns_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long, the melt/stack operator family): the
    per-returnflag wide aggregate (sum qty / revenue cents / row count)
    melted to (l_returnflag, metric, value) rows with ``stack`` — a
    Generate node that multiplies rows MAP-SIDE next to the aggregate,
    no extra shuffle. Values are integer-exact (cents / counts) so the
    melted doubles compare bit-identically."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    wide = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        (F.sum(cents) / 100.0).alias("revenue"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return wide.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'sum_qty', sum_qty, 'revenue', revenue, "
            "'n_rows', n_rows) AS (metric, value)"
        ),
    )



def q_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT Pearson correlation (quantity vs price) per
    return flag: both measures fixed-pointed to integer cents, the five
    sufficient statistics summed exactly (long / decimal(38,0) — both
    associative, so any shuffle order gives the same bits), and the
    final double math a fixed IEEE sequence mirrored by the oracle
    (DuckDB HUGEINT sums; int->double via VARCHAR for correct
    rounding). The built-in corr() is a float accumulation — order-
    dependent and not portable; this shape is, at any scale."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_quantity", "l_extendedprice"],
    )
    d = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    s = d.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (dec("n") * F.col("sxy") - dec("sx") * dec("sy")).cast("double")
    denx = (dec("n") * F.col("sxx") - dec("sx") * dec("sx")).cast("double")
    deny = (dec("n") * F.col("syy") - dec("sy") * dec("sy")).cast("double")
    return s.select(
        "l_returnflag",
        "n",
        (num / F.nullif(F.sqrt(denx * deny), F.lit(0.0))).alias(
            "corr_qty_price"
        ),
    )



def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window breadth: lag (days since the customer's previous
    order), ntile quartile and percent_rank of order value per
    customer. Every window has a full deterministic tiebreak, so
    rank-family outputs can't flap; dates leave as ISO strings."""
    orders = table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    )
    wd = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    wv = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").cast("string").alias("order_date"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(wd)
        ).alias("gap_days"),
        F.ntile(4).over(wv).alias("value_quartile"),
        F.percent_rank().over(wv).alias("value_prank"),
    )



def q_customer_year_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order breadth: per customer, the sorted distinct
    order years as a CSV string (arrays never leave as array columns —
    the driver canonicalizer can't sort list cells), the year count,
    and a filter() over the array (years >= 1996). collect_set order is
    nondeterministic; sort_array canonicalizes before any use."""
    orders = table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    years = orders.groupBy("o_custkey").agg(
        F.sort_array(F.collect_set(F.year("o_orderdate"))).alias("ys")
    )
    return years.select(
        "o_custkey",
        F.array_join(
            F.transform(F.col("ys"), lambda y: y.cast("string")), ","
        ).alias("years_csv"),
        F.size("ys").alias("n_years"),
        F.size(F.filter(F.col("ys"), lambda y: y >= 1996)).alias(
            "n_years_since_1996"
        ),
    )



def q_returns_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the generalization cube/rollup are
    sugar for): per-(flag,status), per-flag, and per-status revenue in
    ONE pass — Spark expands the sets map-side and aggregates once
    instead of scanning per grouping. grouping() indicators
    disambiguate aggregated-away NULLs."""
    li = table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count("*").alias("n_items"),
            money_sum(revenue).alias("revenue"),
        )
    )



def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped national market share: 7-table join with the
    nation dimension in TWO roles (customer nation -> region scope,
    supplier nation -> share numerator). The deepest join tree in the
    suite — bounded dims broadcast, scaling dims unhinted (AQE), the
    fact never shuffled until
    the final per-year aggregate; volumes summed in integer cents so
    the share ratio is bit-reproducible at any parallelism."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")

    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    n1 = nation.alias("n1")
    n2 = nation.alias("n2")
    scoped = (
        li.join(
            part.filter(F.col("p_type") == "ECONOMY"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            F.col("n1.n_regionkey") == F.col("r_regionkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
    )
    return (
        scoped.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .withColumn("__c", cents)
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("n2.n_name") == "NATION_7", F.col("__c")).otherwise(
                    F.lit(0)
                )
            ).alias("__num"),
            F.sum("__c").alias("__den"),
        )
        .select(
            "o_year",
            (F.col("__den") / 100.0).alias("total_vol"),
            (F.col("__num") / 100.0).alias("share_vol"),
            F.round(F.col("__num") / F.col("__den"), 6).alias("mkt_share"),
        )
    )



def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over lineitem: range +
    domain rules folded into ONE aggregate pass (map-side partial
    sums — 50 rules cost the same scan as 1), plus a referential rule
    (orphan l_orderkey) as a left-anti join. Fail-closed on NULL."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    rules = {
        "qty_range": (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
        "price_positive": F.col("l_extendedprice") > 0,
        "discount_range": (F.col("l_discount") >= 0)
        & (F.col("l_discount") <= 0.1),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        "linestatus_domain": F.col("l_linestatus").isin("O", "F"),
    }
    metrics = expectation_metrics(li, rules)
    n_li = li.agg(F.count("*").cast("long").alias("n_rows"))
    fk = (
        fk_violation_count(li, "l_orderkey", orders, "o_orderkey")
        .crossJoin(n_li)
        .select(
            F.lit("orderkey_fk").alias("rule"), "n_rows", "n_violations"
        )
    )
    return metrics.unionByName(fk)



def q_customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-ranking windows (ntile quartiles, percent_rank,
    cume_dist) over per-customer spend, PARTITIONED BY NATION — the
    scale-correct shape: a global ntile would serialize the whole
    ranking onto one task; per-nation windows rank in parallel and the
    shape survives 100x data. Spend is the order-independent
    integer-cents sum; ties break on custkey."""
    cust = table(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"])
    nation = table(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    orders = table(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    spend = (
        orders.groupBy("o_custkey")
        .agg(money_sum("o_totalprice").alias("total_spend"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("o_custkey", "n_name", "total_spend")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("total_spend"), F.asc("o_custkey")
    )
    return spend.select(
        "o_custkey",
        "n_name",
        "total_spend",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )



def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    both join sides (brand/size from part, quantity from lineitem).
    The disjunction cannot be pushed as a whole, but Catalyst's CNF
    conversion extracts the per-table residuals (size range, quantity
    range) down to each scan; the part join is unhinted (part scales
    with SF — AQE broadcasts while small). One
    row out, summed in integer cents."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_quantity", "l_extendedprice", "l_discount"],
    )
    part = table(spark, sf_dir, "part", columns=["p_partkey", "p_brand", "p_size"])
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    b, s, q = F.col("p_brand"), F.col("p_size"), F.col("l_quantity")
    cond = (
        ((b == "Brand#1") & s.between(1, 10) & q.between(1, 20))
        | ((b == "Brand#7") & s.between(1, 20) & q.between(10, 30))
        | ((b == "Brand#13") & s.between(5, 30) & q.between(20, 40))
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return j.filter(cond).agg(
        (F.sum(cents) / 100.0).alias("revenue"),
        F.count("*").cast("long").alias("n_lines"),
    )



def q_exclusive_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (double correlation): orders that have at least
    one line from a low-nation supplier (EXISTS -> LEFT SEMI) and NO
    line from any other supplier (NOT EXISTS -> LEFT ANTI), counted
    per priority. Both correlated subqueries decorrelate to key-only
    join sides — the lineitem side is reduced to l_orderkey before
    either shuffle; the supplier lookup is unhinted (supplier scales
    with SF — AQE broadcasts while small)."""
    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    sup = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    orders = table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"])
    li_n = li.join(
        sup, F.col("l_suppkey") == F.col("s_suppkey")
    ).select("l_orderkey", "s_nationkey")
    in_a = li_n.filter(F.col("s_nationkey") < 5).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    out_a = li_n.filter(F.col("s_nationkey") >= 5).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.join(in_a, "o_orderkey", "left_semi")
        .join(out_a, "o_orderkey", "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )



def q_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, size),
    excluding complaint suppliers (NOT IN -> LEFT ANTI on a tiny
    filtered side). count_distinct plans as the two-phase distinct
    aggregate (partial distinct map-side); part/supplier joins are
    unhinted (both scale with SF — AQE decides)."""
    li = table(spark, sf_dir, "lineitem", columns=["l_partkey", "l_suppkey"])
    part = table(spark, sf_dir, "part", columns=["p_partkey", "p_brand", "p_size"])
    bad = (
        table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_acctbal"])
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(bad, "l_suppkey", "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )



def q_rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers in target segments whose balance
    beats the average positive balance (scalar subquery -> 1-row
    broadcast crossJoin) and who have gone IDLE — no order since
    2000-06-01 (NOT EXISTS -> LEFT ANTI on the key-only projection of
    the date-filtered orders; the date filter pushes to the scan),
    grouped per segment. Balance sums in integer cents; the average
    threshold is computed as an exact cents-sum / count so the
    comparison double is partition-order independent."""
    cust = table(
        spark, sf_dir, "customer",
        columns=["c_custkey", "c_acctbal", "c_mktsegment"],
    )
    orders = (
        table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
        .filter(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp_ntz"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    # exact average: integer-cents sum / count, so the threshold double
    # is bit-identical regardless of partitioning (a plain F.avg would
    # sum doubles in shuffle order)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            / (F.count("*") * 100.0)
        ).alias("__avg_bal")
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            (F.sum(cents) / 100.0).alias("total_bal"),
        )
    )



def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of the part's average quantity, per brand. The correlated
    scalar subquery (per-part avg) is DECORRELATED by hand into an
    aggregate + join — on Spark that means one partial+final hash
    aggregate over lineitem and an AQE-joinable per-part threshold
    table, instead of a re-executed subquery per row. The threshold
    avg is exact in IEEE double (integral quantities, sum < 2^53), so
    the boundary comparison is engine-portable; revenue is summed in
    integer cents."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    thresholds = li.groupBy("l_partkey").agg(
        ((F.sum("l_quantity") / F.count("*")) * 0.2).alias("qty_cap")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .groupBy("p_brand")
        .agg(
            (F.sum(cents) / 100.0).alias("small_qty_revenue"),
            F.count("*").cast("long").alias("n_lineitems"),
        )
    )



def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals in 20 bins — the profiling
    primitive. Bin edges come from one global min/max aggregate
    (broadcast back as a 1-row literal join); binning is a pure map
    expression, so the corpus is scanned once and shuffles only the
    (bin -> count) partials. The bin formula uses one double multiply
    +floor identical in both engines; the max value is clamped into the
    last bin (the standard right-closed final interval)."""
    orders = table(spark, sf_dir, "orders")
    rng = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    n_bins = 20
    binned = orders.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / n_bins)
            ).cast("long"),
            F.lit(n_bins - 1).cast("long"),
        ).alias("bin")
    )
    return binned.groupBy("bin").agg(F.count("*").cast("long").alias("n_orders"))



def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation in two roles joined through DIFFERENT
    fact paths (supplier side via lineitem, customer side via orders)
    with a disjunctive cross-pair predicate that can only be applied
    AFTER both roles are attached. Both (bounded) nation copies
    broadcast; supplier is unhinted (scales with SF); the
    pair filter collapses the fact stream before the per-year
    aggregate; revenue in integer cents for bit-stable sums."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
                 "l_shipdate"],
    )
    orders = table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    customer = table(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"])
    supplier = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    nation = table(spark, sf_dir, "nation")
    n1 = nation.alias("n1")
    n2 = nation.alias("n2")
    shipped = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    joined = (
        shipped.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .filter(
            (
                (F.col("n1.n_name") == "NATION_1")
                & (F.col("n2.n_name") == "NATION_2")
            )
            | (
                (F.col("n1.n_name") == "NATION_2")
                & (F.col("n2.n_name") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )



def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table in the corpus, so
    supply cost is the part's retail price — same plan shape, different
    constant). Profit per supplier-nation per order-year over a
    p_name LIKE-filtered part subset. The LIKE filter lands in the
    parquet scan via the filtered part dim (unhinted — scales with
    SF); profit is computed
    row-wise in cents before the aggregate."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_discount"],
    )
    orders = table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    supplier = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    part = table(spark, sf_dir, "part", columns=["p_partkey", "p_name", "p_retailprice"])
    nation = table(spark, sf_dir, "nation")
    cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        li.join(
            part.filter(F.col("p_name").like("%widget%")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("__c", cents)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum("__c") / 100.0).alias("profit"))
    )



def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in one
    quarter, top 20. ORDER BY revenue DESC with a custkey tiebreak and
    the revenue computed in exact cents, so the LIMIT frontier is
    deterministic on both engines. Plans TakeOrderedAndProject — never
    a global sort of the full aggregate."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"],
    )
    orders = table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate"])
    customer = table(
        spark, sf_dir, "customer",
        columns=["c_custkey", "c_name", "c_acctbal", "c_nationkey"],
    )
    nation = table(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    q4_1995 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(q4_1995, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("__c", cents)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg((F.sum("__c") / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )



def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value vs a SCALAR-SUBQUERY fraction
    of the global total. Decorrelated the Spark way: the per-part
    aggregate is computed once, the global total is a 1-row re-aggregate
    of it, and the threshold joins back via a broadcast crossJoin — the
    per-part aggregate is NOT computed twice and never round-trips the
    driver. Values in integer cents so share comparisons are exact."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    supplier = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    nation = table(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_part = (
        li.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .withColumn("__c", cents)
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(F.sum("__c").alias("__val_c"))
    )
    total = per_part.agg(
        F.sum("__val_c").alias("__total_c"), F.count("*").alias("__n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        # scale-free threshold (value > 2x the mean part value) as an
        # integer cross-multiply — no float edge, and unlike a fixed
        # global fraction the selectivity survives any corpus size
        # (TPC-H itself rescales Q11's fraction by 1/SF for the same
        # reason); identical arithmetic in the oracle
        .filter(F.col("__val_c") * F.col("__n_parts") > F.col("__total_c") * 2)
        .select("part_key", (F.col("__val_c") / 100.0).alias("value"))
    )



def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count
    INCLUDING zero-order customers — a left outer join into a
    two-level aggregate (count per customer, then customers per
    count). The filtered orders side is aggregated to (custkey, n)
    BEFORE joining so the second aggregate's input is one row per
    customer, not one per order."""
    customer = table(spark, sf_dir, "customer", columns=["c_custkey"])
    orders = table(spark, sf_dir, "orders", columns=["o_custkey", "o_orderpriority"])
    per_cust = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("__n"))
    )
    return (
        customer.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )



def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue
    share for one ship-month) in a single pass — numerator and
    denominator as two conditional cent-sums in ONE aggregate, ratio
    taken once at the end (round 6 pins the float)."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    part = table(spark, sf_dir, "part", columns=["p_partkey", "p_type"])
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    month = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp_ntz"))
    )
    return (
        month.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("__c", cents)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("__c")).otherwise(F.lit(0))
            ).alias("__promo"),
            F.sum("__c").alias("__all"),
        )
        .select(
            (F.col("__promo") / 100.0).alias("promo_revenue"),
            (F.col("__all") / 100.0).alias("total_revenue"),
            F.round(100.0 * F.col("__promo") / F.col("__all"), 6).alias(
                "promo_pct"
            ),
        )
    )



def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the
    global max — the classic view + scalar-max pattern. Revenue stays
    in integer cents through the max comparison, so 'equals the max'
    is an exact integer predicate (no float-equality flake); the max is
    a 1-row broadcast, not a driver collect."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    supplier = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_name"])
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .withColumn("__c", cents)
        .groupBy("l_suppkey")
        .agg(F.sum("__c").alias("__rev_c"))
    )
    best = revenue.agg(F.max("__rev_c").alias("__max_c"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("__rev_c") == F.col("__max_c"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("supp_key"),
            F.col("s_name").alias("supp_name"),
            (F.col("__rev_c") / 100.0).alias("total_revenue"),
        )
    )



def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a HAVING
    threshold, joined back to header + customer. The lineitem side is
    fully aggregated (one row per order) before any join; order header
    and customer attach afterwards (customer unhinted — scales with
    SF, AQE decides). Quantity summed
    as integer units (whole-unit quantities) -> exact HAVING edge."""
    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_quantity"])
    orders = table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    )
    customer = table(spark, sf_dir, "customer", columns=["c_custkey", "c_name"])
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").cast("date").cast("string").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
            "total_qty",
        )
    )



def q_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: the correlated 'availqty > 1/2 of
    shipped qty' subquery becomes 'this supplier shipped > 30% of the
    part's 1995 volume'). Two-level decorrelation: per-(part, supplier)
    aggregate joined to the per-part re-aggregate (derived from the
    first — the fact is scanned ONCE), then a LEFT SEMI join collapses
    qualifying parts into the supplier dimension. Nation-scoped."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_partkey", "l_suppkey", "l_quantity", "l_shipdate"],
    )
    part = table(spark, sf_dir, "part", columns=["p_partkey", "p_name"])
    supplier = table(
        spark, sf_dir, "supplier", columns=["s_suppkey", "s_name", "s_nationkey"]
    )
    nation = table(spark, sf_dir, "nation")
    bolts_1995 = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .join(
            part.filter(F.col("p_name").like("%bolt%")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .withColumn("__q", F.round("l_quantity").cast("long"))
    )
    per_sp = bolts_1995.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("__q").alias("__sp_qty")
    )
    per_part = per_sp.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum("__sp_qty").alias("__p_qty")
    )
    dominant = (
        per_sp.join(per_part, F.col("l_partkey") == F.col("__pk"))
        # integer cross-multiply for the 30% edge: 10*sp > 3*total
        .filter(F.col("__sp_qty") * 10 > F.col("__p_qty") * 3)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_5")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select(
            F.col("s_suppkey").alias("supp_key"),
            F.col("s_name").alias("supp_name"),
        )
    )



def q_ks_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented distribution-drift monitor: one exact KS D per
    event_type between the deterministic A/B user-hash halves of the
    value distribution — the per-segment form of ks_test_ab that
    catches a single feed shifting where the global statistic would
    dilute it. Per-group CDFs are plain group-partitioned windows over
    compact distributions (parallel by construction; no prefix-sum
    machinery needed), integer counts + exact-int divisions only
    (operators/stats.py:ks_drift_by_group)."""
    from etl_spark_spark.operators.stats import ks_drift_by_group

    ev = (
        read_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8",
                F.lit("A"),
            ).otherwise(F.lit("B")).alias("variant"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return ks_drift_by_group(ev, ["event_type"], "cents", "variant")


def q_ks_drift_by_type_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ks_drift_by_type through the DECOMPOSED cumulative-count path
    (bucket_of=cents div 1000): within-bucket windows in parallel, the
    serial-per-group window over bucket totals only — the escape for a
    group whose distinct-value distribution is itself cluster-scale.
    Bit-identical to the plain path for any valid bucketing, so this
    query's oracle IS q_ks_drift_by_type's oracle, verbatim
    (operators/stats.py:ks_drift_by_group)."""
    from etl_spark_spark.operators.stats import ks_drift_by_group

    ev = (
        read_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8",
                F.lit("A"),
            ).otherwise(F.lit("B")).alias("variant"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return ks_drift_by_group(
        ev,
        ["event_type"],
        "cents",
        "variant",
        bucket_of=F.expr("cents div 1000"),
    )



def q_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed iterative PageRank (5 exact fixed-point iterations)
    over the customer<->supplier trade graph (distinct order-derived
    pairs, both directions, so the walk mixes). The ONLY iterative
    numeric algorithm family in the suite beyond label propagation —
    and because the recurrence is pure integer arithmetic
    (operators/graph.py:pagerank_exact), even this has a bit-exact SQL
    oracle (5 unrolled CTE stages). Output restricted to the supplier
    side of the bipartite graph. ``rank`` is rank_fp/scale — both
    operands exactly representable, so the IEEE division is identical
    on both engines (no rounding needed, none applied)."""
    from etl_spark_spark.operators.graph import pagerank_exact

    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate"]
    ).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    pairs = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("a"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("b"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranks = pagerank_exact(edges, iters=5)
    return ranks.filter(F.col("node").startswith("S")).select(
        "node", "rank_fp", "rank"
    )



def q_part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-CORE of the part co-occurrence graph (parts sharing >= 2
    orders, undirected): iterative peeling to the maximal subgraph
    where every part keeps >= 3 co-occurrence partners — the dense
    backbone community detectors and graph features start from. The
    peeling loop runs to the TRUE fixpoint driver-side (loud failure
    past max_iters=16); the oracle unrolls 16 rounds of the identical
    rule, which agrees because peeling is idempotent at the fixpoint
    (operators/graph.py:k_core). At sf0.01: 935 of 1880 parts survive
    — genuine multi-round peeling, not a no-op."""
    from etl_spark_spark.operators.graph import k_core

    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
    pk = li.select("l_orderkey", "l_partkey").distinct()
    a, b = pk.alias("a"), pk.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )
    und = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).union(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    return k_core(und, k=3, max_iters=16)


def _part_kcore_oracle() -> str:
    from etl_spark_spark.operators.graph import k_core_sql

    edges = """WITH pk AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pr AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM pk a JOIN pk b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT pa AS src, pb AS dst FROM pr
UNION ALL
SELECT pb AS src, pa AS dst FROM pr"""
    return k_core_sql(edges, k=3, rounds=16)


def q_supplier_co_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection (co-occurrence mining): suppliers linked by
    the number of 1995 customers they share — the item-item shape
    behind co-purchase / co-citation / co-click graphs. One distinct
    edge list, self-joined per customer with s1 < s2, aggregated per
    pair; kept pairs need >= 3 shared customers. Scale note: pair fanout
    is sum(deg_c^2) over customers — bounded here (a customer touches
    few suppliers); for power-law degree data cap or sample per-key
    like doc_source_cap does, because one hub customer is a quadratic
    bomb."""
    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate"]
    ).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    a = edges.alias("a")
    b = edges.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("supp_a"),
            F.col("b.l_suppkey").alias("supp_b"),
        )
        .agg(F.count("*").alias("shared_customers"))
        .filter(F.col("shared_customers") >= 3)
    )



def q_supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle membership in the 1995 co-purchase graph
    (pairs sharing >= 5 customers) via degree-ordered wedge joins
    (operators/graph.py:triangle_counts). The orientation caps every
    node's wedge fanout at O(sqrt(m)) regardless of hubs — the property
    that keeps the self-join alive on power-law graphs; the oracle
    enumerates triangles with a brute 3-way join instead."""
    from etl_spark_spark.operators.graph import triangle_counts

    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate"]
    ).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    bip = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    a = bip.alias("a")
    b = bip.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 5)
        .select("src", "dst")
    )
    return triangle_counts(edges, "src", "dst").withColumnsRenamed(
        {"node": "suppkey"}
    )



def q_global_spend_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact GLOBAL row_number for EVERY row — the ranking a naive
    Window.orderBy() serializes onto one task — via the distributed
    prefix-sum operator: running count of 1s in (spend DESC, custkey)
    order, bucketed by negated spend-cents decade so the bucket is
    monotone in the ordering. Every customer gets its exact global
    rank in parallel; ties break on custkey identically in the
    oracle."""
    from etl_spark_spark.operators.windows import bucketed_scan

    orders = table(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("__cents")
    )
    ranked = bucketed_scan(
        spend.withColumn("__one", F.lit(1)),
        -F.expr("__cents div 100000"),
        # negated-cents ascending == cents descending, expressed as a
        # plain expression so the monotone-bucket guard can compare
        # order keys across buckets (round-12)
        [(-F.col("__cents")), F.col("o_custkey")],
        [("global_rank", "__one", "sum")],
    )
    return ranked.select(
        "o_custkey",
        (F.col("__cents") / 100.0).alias("total_spend"),
        F.col("global_rank").cast("long").alias("global_rank"),
    )



def q_customer_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-document build + higher-order functions: each customer's
    orders become a SORTED array of (order_key, cents) structs — the
    denormalized 'document' layout columnar engines serve to APIs —
    then F.filter / F.exists / F.aggregate compute per-customer
    answers WITHOUT re-exploding (one aggregation shuffle total; the
    HOFs are codegen'd array folds). Struct array sorted by order_key
    so the build is deterministic; all money in integer cents."""
    orders = table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"],
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    docs = (
        orders.withColumn("__c", cents)
        .groupBy("o_custkey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("o_orderkey").alias("k"),
                                        F.col("__c").alias("c")))
            ).alias("orders"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).cast("long").alias("n_urgent"),
        )
    )
    big = F.filter("orders", lambda o: o["c"] > 30_000_00)
    return docs.select(
        "o_custkey",
        F.size("orders").alias("n_orders"),
        F.size(big).alias("n_big_orders"),
        F.exists("orders", lambda o: o["c"] > 50_000_00).alias("has_jumbo"),
        (
            F.aggregate(
                "orders", F.lit(0).cast("long"), lambda acc, o: acc + o["c"]
            )
            / 100.0
        ).alias("total_spend"),
        F.element_at("orders", 1)["k"].alias("first_order_key"),
        "n_urgent",
    )



def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure filter-and-aggregate scan — every
    predicate (date range, discount band, quantity cap) pushed to the
    parquet scan, zero joins, one exchange for the single-row global
    sum. The simplest query in the set and the sharpest pushdown test:
    if ANY of the three predicates misses PushedFilters, the scan reads
    10x the rows."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_shipdate", "l_discount", "l_quantity", "l_extendedprice"],
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue_effect"
            ),
            F.count("*").alias("n_lines"),
        )
    )



def q_superdesconto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return best_sale_pipeline(spark, sf_dir)



def q_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return allocation_pipeline(spark, sf_dir)



def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT Welch two-sample t-test per event type
    between a deterministic 50/50 user hash split: integer-cents
    sufficient statistics (associative — bit-stable under any shuffle
    order), then a fixed IEEE double sequence the oracle mirrors
    term-for-term (operators/grouped.py:welch_t_test). The
    experimentation-analytics shape: at 100 TB it is one map-side-
    combinable aggregate, never a per-variant collect."""
    from etl_spark_spark.operators.grouped import welch_t_test

    ev = read_events(spark, sf_dir).select(
        "event_type",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        ).otherwise(F.lit("B")).alias("variant"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return welch_t_test(ev, ["event_type"], "cents", "variant")



def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: parts not dominated on (size, retailprice) —
    maximal in both dimensions (operators/windows.py:pareto_frontier_2d,
    the distributed exclusive-prefix-max sweep; the oracle is the
    obviously-correct quadratic NOT EXISTS dominance test)."""
    from etl_spark_spark.operators.windows import pareto_frontier_2d

    part = table(
        spark, sf_dir, "part", columns=["p_partkey", "p_size", "p_retailprice"]
    )
    return pareto_frontier_2d(part, "p_size", "p_retailprice")



def q_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed leading-digit
    shares vs the Benford expectation — the forensic data-quality
    screen for fabricated numeric columns. Counts are exact integers;
    the expected shares are Python-computed literals embedded
    identically in both engines, so every double matches bitwise."""
    import math

    orders = table(spark, sf_dir, "orders", columns=["o_totalprice"])
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    )
    counts = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    expected = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        expected = F.when(
            F.col("digit") == str(d), F.lit(math.log10(1 + 1 / d))
        ).otherwise(expected)
    total = counts.agg(F.sum("n").alias("__total"))
    share = F.col("n").cast("double") / F.col("__total").cast("double")
    counts = counts.crossJoin(F.broadcast(total))
    return counts.select(
        "digit",
        "n",
        share.alias("share"),
        expected.alias("expected"),
        F.abs(share - expected).alias("abs_dev"),
    )



def q_exact_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quartiles (no approx_percentile error bound, no
    global sort): distribution aggregate + one per-group window over
    distinct values (operators/stats.py:exact_group_quantiles); the
    smallest-v-with-cum>=ceil(q*n) semantics are pinned by a plain-SQL
    window oracle, not an engine quantile builtin. Scale caveat: the
    per-group window puts one GROUP's whole distinct-value
    distribution on one task — at the 100 TB design point (millions of
    distinct prices under 3 return flags) use the decomposed form,
    q_price_quartiles_scalable, which shares this query's oracle and
    is bit-identical by construction."""
    from etl_spark_spark.operators.stats import exact_group_quantiles

    li = table(
        spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"]
    )
    return exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", qs=(0.25, 0.5, 0.75)
    )



def q_price_quartiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_exact_price_quartiles through the DECOMPOSED cumulative-count
    path (operators/stats.py:scalable_group_quantiles): within-bucket
    windows in parallel + an exclusive prefix over the tiny per-group
    bucket-totals table — no task ever holds a full group's
    distinct-value distribution, so the plan survives groups with
    millions of distinct values where the plain per-group window is a
    single-task straggler. Bucket = floor(price/100) (~1k monotone
    price bands; monotonicity ENFORCED). Bit-identical to the plain
    form for any valid bucketing — this query's oracle IS
    q_exact_price_quartiles' oracle, verbatim."""
    from etl_spark_spark.operators.stats import scalable_group_quantiles

    li = table(
        spark, sf_dir, "lineitem", columns=["l_returnflag", "l_extendedprice"]
    )
    return scalable_group_quantiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        bucket_of=F.floor(F.col("l_extendedprice") / 100),
        qs=(0.25, 0.5, 0.75),
    )



def q_price_quartile_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable quantile sketch, SELF-EVALUATED: build the
    deterministic 1/16 md5-Bernoulli sample distribution of lineitem
    prices per return flag (operators/sketches.py:
    quantile_sketch_build — the quantile leg of the HLL/CMS portable
    family), estimate the quartiles from the sketch, and MEASURE each
    estimate's realized rank error against the exact full-data
    distribution: rank_err_milli = |F_exact(est) - q|·1000. The
    sketch hash, the sample quantile, the exact CDF lookup, and the
    error arithmetic are all mirrored in the oracle, so the driver
    hash-checks the whole evaluation, not just the estimates. One
    long-format row per (flag, quartile)."""
    from etl_spark_spark.operators.sketches import (
        quantile_sketch_build,
        quantile_sketch_quantiles,
    )

    li = table(
        spark, sf_dir, "lineitem",
        columns=[
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
        ],
    )
    row_key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("#"),
        F.col("l_linenumber").cast("string"),
    )
    sk = quantile_sketch_build(
        li, row_key, "l_extendedprice", ["l_returnflag"], sample_mod=16
    )
    est = quantile_sketch_quantiles(
        sk, ["l_returnflag"], "l_extendedprice", qs=(0.25, 0.5, 0.75)
    )
    est_long = None
    for qm, col in ((250, "wq25"), (500, "wq50"), (750, "wq75")):
        part = est.select(
            "l_returnflag",
            F.lit(qm).cast("long").alias("q_milli"),
            F.col("total_weight").alias("n_sampled"),
            F.col(col).alias("est"),
        )
        est_long = part if est_long is None else est_long.unionByName(part)
    # exact distribution CDF (the eval side: full-data, fixture-scale)
    dist = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count("*").alias("__c")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dist.withColumn("cum", F.sum("__c").over(w)).withColumn(
        "n", F.sum("__c").over(Window.partitionBy("l_returnflag"))
    )
    joined = est_long.join(cum, "l_returnflag").filter(
        F.col("l_extendedprice") <= F.col("est")
    )
    return (
        joined.groupBy("l_returnflag", "q_milli", "n_sampled", "est")
        .agg(F.max("cum").alias("__cum_at"), F.max("n").alias("__n"))
        .select(
            "l_returnflag",
            "q_milli",
            "n_sampled",
            "est",
            F.round(
                F.abs(
                    F.col("__cum_at").cast("double")
                    / F.col("__n").cast("double")
                    - F.col("q_milli").cast("double") / 1000.0
                )
                * 1000.0
            ).cast("long").alias("rank_err_milli"),
        )
    )


def q_quantile_sketch_stream_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch maintenance, quantile leg (the
    q_hll_stream_fold discipline): lineitem arrives as three
    orderkey-ranged batches and the sketch distribution is FOLDED per
    batch (cnt-sum merge into the running state, checkpointed between
    folds — the foreachBatch maintenance shape). The oracle is the
    ONE-SHOT sketch SQL, so the value-hash match is a standing proof
    that per-batch cnt-folding loses nothing — what makes the
    quantile sketch deployable as continuously-maintained state.
    Output = quantile_sketch_quantiles over the folded state."""
    from etl_spark_spark.operators.sketches import (
        quantile_sketch_build,
        quantile_sketch_merge,
        quantile_sketch_quantiles,
    )

    li = table(
        spark, sf_dir, "lineitem",
        columns=[
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
        ],
    )
    row_key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("#"),
        F.col("l_linenumber").cast("string"),
    )
    hi = li.agg(F.max("l_orderkey")).collect()[0][0]
    bounds = [(0, hi // 3), (hi // 3, 2 * hi // 3), (2 * hi // 3, hi + 1)]
    state = None
    for lo, up in bounds:
        batch = li.filter(
            (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < up)
        )
        sk_b = quantile_sketch_build(
            batch, row_key, "l_extendedprice", ["l_returnflag"],
            sample_mod=16,
        )
        if state is None:
            state = sk_b
        else:
            state = quantile_sketch_merge(
                state.unionByName(sk_b),
                "l_extendedprice",
                ["l_returnflag"],
            )
        state = state.localCheckpoint(eager=True)
    return quantile_sketch_quantiles(
        state, ["l_returnflag"], "l_extendedprice", qs=(0.25, 0.5, 0.75)
    )


_QUANTILE_SKETCH_FOLD_SQL_TEMPLATE = """
WITH {sketch_cte}
SELECT l_returnflag,
       CAST(max(tw) AS BIGINT) AS total_weight,
       min(CASE WHEN cumw >= ceil(0.25 * tw) THEN v END) AS wq25,
       min(CASE WHEN cumw >= ceil(0.5 * tw) THEN v END) AS wq50,
       min(CASE WHEN cumw >= ceil(0.75 * tw) THEN v END) AS wq75
FROM (
  SELECT l_returnflag, v, cnt,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cumw,
         sum(cnt) OVER (PARTITION BY l_returnflag) AS tw
  FROM qsk
) GROUP BY 1
"""


def _quantile_sketch_fold_oracle() -> str:
    from etl_spark_spark.operators.sketches import quantile_sketch_sql_cte

    cte = quantile_sketch_sql_cte(
        "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice "
        "FROM lineitem",
        "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)",
        "l_extendedprice",
        group_cols=["l_returnflag"],
        sample_mod=16,
    )
    return _QUANTILE_SKETCH_FOLD_SQL_TEMPLATE.format(sketch_cte=cte)


_PRICE_QUARTILE_SKETCH_EVAL_SQL_TEMPLATE = """
WITH {sketch_cte},
est AS (
  SELECT l_returnflag,
         CAST(sum(cnt) AS BIGINT) AS n_sampled,
         min(CASE WHEN cumw >= ceil(0.25 * tw) THEN v END) AS wq25,
         min(CASE WHEN cumw >= ceil(0.5 * tw) THEN v END) AS wq50,
         min(CASE WHEN cumw >= ceil(0.75 * tw) THEN v END) AS wq75
  FROM (
    SELECT l_returnflag, v, cnt,
           sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumw,
           sum(cnt) OVER (PARTITION BY l_returnflag) AS tw
    FROM qsk
  ) GROUP BY 1
), est_long AS (
  SELECT l_returnflag, CAST(250 AS BIGINT) AS q_milli, n_sampled,
         wq25 AS est FROM est
  UNION ALL
  SELECT l_returnflag, 500, n_sampled, wq50 FROM est
  UNION ALL
  SELECT l_returnflag, 750, n_sampled, wq75 FROM est
), dist AS (
  SELECT l_returnflag, l_extendedprice AS v, count(*) AS c
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, v, c,
         sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY l_returnflag) AS n
  FROM dist
)
SELECT e.l_returnflag, e.q_milli, e.n_sampled, e.est,
       CAST(round(abs(CAST(max(c.cum) AS DOUBLE) / CAST(max(c.n) AS DOUBLE)
                      - CAST(e.q_milli AS DOUBLE) / 1000.0) * 1000.0)
            AS BIGINT) AS rank_err_milli
FROM est_long e JOIN cum c
  ON c.l_returnflag = e.l_returnflag AND c.v <= e.est
GROUP BY 1, 2, 3, 4
"""


def _price_quartile_sketch_eval_oracle() -> str:
    from etl_spark_spark.operators.sketches import quantile_sketch_sql_cte

    cte = quantile_sketch_sql_cte(
        "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice "
        "FROM lineitem",
        "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)",
        "l_extendedprice",
        group_cols=["l_returnflag"],
        sample_mod=16,
    )
    return _PRICE_QUARTILE_SKETCH_EVAL_SQL_TEMPLATE.format(sketch_cte=cte)


def q_ks_test_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov D between the A/B user-hash
    purchase-value distributions — the distribution-free counterpart
    to ab_test_welch. CDFs evaluated at every distinct cents value via
    the distributed prefix-sum decomposition (bucketed by cents/1000,
    so the serial window sees only bucket totals)
    (operators/stats.py:ks_two_sample)."""
    from etl_spark_spark.operators.stats import ks_two_sample

    ev = read_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        ).otherwise(F.lit("B")).alias("variant"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return ks_two_sample(
        ev, "cents", "variant", bucket=F.expr("cents div 1000")
    )



def q_did_purchase_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse quasi-experimental
    uplift estimator: cohort B's purchase-value change across the
    mid-month cut, net of cohort A's change (A = control absorbs the
    seasonal trend both cohorts share). One conditional aggregation
    pass; every mean is one IEEE division over exact integer cents,
    and the DiD is a fixed tree of those doubles mirrored
    operator-for-operator in the oracle (ORACLE_NOTES rung 3 — no
    rounding needed, none applied)."""
    ev = read_events(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        ).otherwise(F.lit("B")).alias("cohort"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).alias(
            "post"
        ),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def _n(c, p):
        return F.sum(
            F.when((F.col("cohort") == c) & (F.col("post") == F.lit(p)), 1)
            .otherwise(0)
        )

    def _s(c, p):
        return F.sum(
            F.when(
                (F.col("cohort") == c) & (F.col("post") == F.lit(p)),
                F.col("cents"),
            ).otherwise(0)
        )

    agg = ev.agg(
        _n("A", False).alias("n_a_pre"),
        _s("A", False).alias("cents_a_pre"),
        _n("A", True).alias("n_a_post"),
        _s("A", True).alias("cents_a_post"),
        _n("B", False).alias("n_b_pre"),
        _s("B", False).alias("cents_b_pre"),
        _n("B", True).alias("n_b_post"),
        _s("B", True).alias("cents_b_post"),
    )
    d = lambda s, n: F.col(s).cast("double") / F.col(n).cast("double")  # noqa: E731
    return agg.select(
        "*",
        (
            (d("cents_b_post", "n_b_post") - d("cents_b_pre", "n_b_pre"))
            - (d("cents_a_post", "n_a_post") - d("cents_a_pre", "n_a_pre"))
        ).alias("did_cents"),
    )


_DID_SQL = """
WITH ev AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS cohort,
         (ts >= TIMESTAMP '2024-01-16') AS post,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
), agg AS (
  SELECT
    CAST(sum(CASE WHEN cohort = 'A' AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_a_pre,
    CAST(sum(CASE WHEN cohort = 'A' AND NOT post THEN cents ELSE 0 END) AS BIGINT) AS cents_a_pre,
    CAST(sum(CASE WHEN cohort = 'A' AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_a_post,
    CAST(sum(CASE WHEN cohort = 'A' AND post THEN cents ELSE 0 END) AS BIGINT) AS cents_a_post,
    CAST(sum(CASE WHEN cohort = 'B' AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_b_pre,
    CAST(sum(CASE WHEN cohort = 'B' AND NOT post THEN cents ELSE 0 END) AS BIGINT) AS cents_b_pre,
    CAST(sum(CASE WHEN cohort = 'B' AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_b_post,
    CAST(sum(CASE WHEN cohort = 'B' AND post THEN cents ELSE 0 END) AS BIGINT) AS cents_b_post
  FROM ev
)
SELECT *,
       (CAST(cents_b_post AS DOUBLE) / CAST(n_b_post AS DOUBLE)
        - CAST(cents_b_pre AS DOUBLE) / CAST(n_b_pre AS DOUBLE))
       - (CAST(cents_a_post AS DOUBLE) / CAST(n_a_post AS DOUBLE)
          - CAST(cents_a_pre AS DOUBLE) / CAST(n_a_pre AS DOUBLE))
         AS did_cents
FROM agg
"""


def q_psi_drift_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the A/B
    user-hash cohorts — the banked-score drift convention (PSI > 0.2
    = retrain alarm) completing the monitoring trio next to
    chi2_type_variant (categorical) and ks_test_ab (max CDF gap).
    Bin edges are cohort A's deciles with pure integer targets; both
    cohorts count into those fixed bins; the 10-term Σ(Δp·ln ratio)
    is milli-quantized (operators/stats.py:psi_drift)."""
    from etl_spark_spark.operators.stats import psi_drift

    ev = read_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        ).otherwise(F.lit("B")).alias("variant"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return psi_drift(ev, ["event_type"], "cents", "variant")


def _psi_drift_oracle() -> str:
    edges = ",\n         ".join(
        f"min(CASE WHEN cum >= ({i} * n + 9) // 10 THEN cents END) AS e{i}"
        for i in range(1, 10)
    )
    bin_case = "CASE " + " ".join(
        f"WHEN cents <= e{i} THEN {i}" for i in range(1, 10)
    ) + " ELSE 10 END"
    return f"""
WITH ev AS (
  SELECT event_type,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS variant,
         {checked_measure_sql('CAST(round(value * 100) AS BIGINT)', 'psi_drift', 'cents')} AS cents
  FROM events WHERE value IS NOT NULL
), ref AS (SELECT * FROM ev WHERE variant = 'A'),
cur AS (SELECT * FROM ev WHERE variant <> 'A'),
dist AS (
  SELECT event_type, cents, count(*) AS c FROM ref GROUP BY 1, 2
), cum AS (
  SELECT event_type, cents, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM dist
), edges AS (
  SELECT event_type,
         {edges}
  FROM cum GROUP BY 1
), ca AS (
  SELECT r.event_type, {bin_case} AS bin, count(*) AS ca
  FROM ref r JOIN edges USING (event_type) GROUP BY 1, 2
), cb AS (
  SELECT r.event_type, {bin_case} AS bin, count(*) AS cb
  FROM cur r JOIN edges USING (event_type) GROUP BY 1, 2
), spine AS (
  SELECT event_type, unnest(range(1, 11)) AS bin FROM edges
), binned AS (
  SELECT s.event_type, s.bin,
         coalesce(a.ca, 0) + 1 AS a,
         coalesce(b.cb, 0) + 1 AS b
  FROM spine s
  LEFT JOIN ca a ON a.event_type = s.event_type AND a.bin = s.bin
  LEFT JOIN cb b ON b.event_type = s.event_type AND b.bin = s.bin
), totals AS (
  SELECT event_type, sum(a) AS na, sum(b) AS nb
  FROM binned GROUP BY 1
)
SELECT b.event_type,
       CAST(max(t.na) - 10 AS BIGINT) AS n_ref,
       CAST(max(t.nb) - 10 AS BIGINT) AS n_cur,
       CAST(round(sum(
         (CAST(b.a AS DOUBLE) / CAST(t.na AS DOUBLE)
          - CAST(b.b AS DOUBLE) / CAST(t.nb AS DOUBLE))
         * ln(CAST(b.a * t.nb AS DOUBLE) / CAST(b.b * t.na AS DOUBLE))
       ) * 1000.0) AS BIGINT) AS psi_milli
FROM binned b JOIN totals t USING (event_type)
GROUP BY 1
UNION ALL
SELECT c.event_type,
       CAST(0 AS BIGINT) AS n_ref,
       CAST(count(*) AS BIGINT) AS n_cur,
       CAST(NULL AS BIGINT) AS psi_milli
FROM cur c LEFT JOIN edges e USING (event_type)
WHERE e.event_type IS NULL
GROUP BY 1
"""


def q_part_share_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-scale proportional allocation via the SKEW-IMMUNE group
    denominator: every lineitem of the promo parts gets the part's
    per-unit promo budget allocated proportionally to its revenue share
    — the ressarcimento rateio cascade run over RAW fact rows, where
    the windowed ``sum over (partition by part)`` would ship each hot
    part's full row set to one task (AQE cannot split window
    partitions). partitioned_sum_agg computes totals as a map-side-
    partial hash aggregate joined back with AQE choosing the strategy
    (operators/windows.py:partitioned_sum_agg; 2.9x on the 62%-hot-key
    replica, scripts/bench_skew.py). No forced broadcast: l_partkey
    group cardinality scales with the data, so the totals table is
    itself fact-scaling — AQE broadcasts while it is genuinely small
    and falls back to a splittable shuffle join past the threshold
    (round-11 broadcast audit, PLANS.md). Shares are micro-quantized
    so the double cascade hashes identically cross-engine."""
    from etl_spark_spark.operators.reconcile import allocate_proportional
    from etl_spark_spark.operators.windows import partitioned_sum_agg

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_partkey",
                 "l_extendedprice"],
    ).filter(F.col("l_partkey") % 50 == 0)
    cents = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    withtot = partitioned_sum_agg(
        cents, ["l_partkey"], "cents", "part_total_cents"
    )
    alloc = allocate_proportional(
        withtot,
        weight="cents",
        total="part_total_cents",
        amount=F.lit(100000.0),
        alias="rateio",
    )
    return alloc.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "cents",
        "part_total_cents",
        F.round(F.col("rateio") * 1e6).cast("long").alias("rateio_micros"),
    )


_PART_SHARE_ALLOC_SQL = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_partkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_partkey % 50 = 0
), tot AS (
  SELECT l_partkey, sum(cents) AS part_total_cents
  FROM li GROUP BY 1
)
SELECT li.l_orderkey, li.l_linenumber, li.l_partkey, li.cents,
       CAST(t.part_total_cents AS BIGINT) AS part_total_cents,
       CAST(round(coalesce(
         CAST(li.cents AS DOUBLE) / nullif(t.part_total_cents, 0)
           * 100000.0,
         100000.0) * 1e6) AS BIGINT) AS rateio_micros
FROM li JOIN tot t USING (l_partkey)
"""


def q_supplier_qty_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier EWMA (alpha=0.25) of daily shipped quantity — the
    exponential-smoothing recurrence a window cannot express
    (multiplicative state), run over the CALENDAR-BOUNDED daily
    aggregate per supplier so the in-group fold is bounded while group
    count scales with data. The fold is a fixed left-to-right IEEE
    chain, milli-quantized — bit-identical cross-engine, no
    transcendentals (operators/recurrence.py:ewma_grouped)."""
    from etl_spark_spark.operators.recurrence import ewma_grouped

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_suppkey", "l_shipdate", "l_quantity"],
    ).filter(F.col("l_suppkey") <= 20)
    daily = li.groupBy(
        "l_suppkey",
        F.date_format(F.to_date("l_shipdate"), "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(F.round("l_quantity").cast("long")).alias("qty"))
    return ewma_grouped(daily, ["l_suppkey"], "day", "qty", alpha=0.25)


def _supplier_qty_ewma_oracle() -> str:
    from etl_spark_spark.operators.recurrence import ewma_grouped_sql

    return ewma_grouped_sql(
        """SELECT l_suppkey,
                  strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS day,
                  sum(CAST(round(l_quantity) AS BIGINT)) AS qty
           FROM lineitem WHERE l_suppkey <= 20 GROUP BY 1, 2""",
        ["l_suppkey"],
        "day",
        "qty",
        alpha=0.25,
    )


def q_nation_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Theil–Sen ROBUST trend of MONTHLY revenue (cents)
    against the month index — the high-breakdown companion to
    nation_revenue_trend's OLS screen: one corrupted month cannot move
    the median-of-pairwise-slopes, so the two trends disagreeing IS
    the outlier alarm. Monthly grain keeps n_points calendar-bounded
    (~84 at any SF, ~3.5k pairs per nation — the enforced O(n²)
    contract; the per-order grain would blow the guard at sf0.1, by
    design). Discrete-median semantics pinned in plain SQL
    (operators/stats.py:theil_sen_trend)."""
    from etl_spark_spark.operators.stats import theil_sen_trend

    orders = table(
        spark, sf_dir, "orders",
        columns=["o_custkey", "o_orderdate", "o_totalprice"],
    )
    cust = table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"]
    )
    nation = table(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1992)) * 12
                + F.month("o_orderdate")
                - 1
            ).cast("long").alias("month_idx"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "month_cents"
            )
        )
    )
    return theil_sen_trend(monthly, ["n_name"], "month_idx", "month_cents")


def q_nation_theil_sen_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_nation_theil_sen_trend through the BLOCK-DECOMPOSED pair
    path (pair_block_size=16): points are blocked in x-order and
    pairs generate per (block_i, block_j) tile joined on
    (group, i, j), so per-task pair generation is bounded by 16²
    instead of n² — the scale escape for the round-11-noted
    single-task pair join — and the slope median runs through
    scalable_group_quantiles bucketed by signed log2 band. The pair
    SET is identical to the plain path by construction, so this
    query's oracle IS q_nation_theil_sen_trend's oracle, verbatim
    (operators/stats.py:theil_sen_trend)."""
    from etl_spark_spark.operators.stats import theil_sen_trend

    orders = table(
        spark, sf_dir, "orders",
        columns=["o_custkey", "o_orderdate", "o_totalprice"],
    )
    cust = table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"]
    )
    nation = table(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1992)) * 12
                + F.month("o_orderdate")
                - 1
            ).cast("long").alias("month_idx"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "month_cents"
            )
        )
    )
    return theil_sen_trend(
        monthly,
        ["n_name"],
        "month_idx",
        "month_cents",
        pair_block_size=16,
    )


def _nation_theil_sen_oracle() -> str:
    from etl_spark_spark.operators.stats import theil_sen_trend_sql

    return theil_sen_trend_sql(
        """SELECT n.n_name,
                  (year(CAST(o.o_orderdate AS DATE)) - 1992) * 12
                    + month(CAST(o.o_orderdate AS DATE)) - 1 AS month_idx,
                  sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS month_cents
           FROM orders o
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           GROUP BY 1, 2""",
        ["n_name"],
        "month_idx",
        "month_cents",
    )


def q_supplier_qty_ewma_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same per-supplier daily-quantity EWMA computed by the
    UNBOUNDED-series path: month buckets, per-bucket affine prefix
    maps, one bucket-count-sized carry fold per group, rows recombined
    as A_t·s_in + B_t (operators/recurrence.py:ewma_scalable — the
    affine-composition law the round-10 module docstring promised,
    now implemented). Oracled against the SEQUENTIAL fold SQL: the
    two forms agree milli-exactly on the fixture (0 mismatches across
    11,240 rows at sf0.01 — the equivalence pin; first buckets are
    bit-identical by construction, later buckets differ only by ulp
    association below the quantum here)."""
    from etl_spark_spark.operators.recurrence import ewma_scalable

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_suppkey", "l_shipdate", "l_quantity"],
    )
    daily = (
        li.filter(F.col("l_suppkey") <= 20)
        .groupBy(
            "l_suppkey",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("qty"))
    )
    return ewma_scalable(
        daily,
        ["l_suppkey"],
        F.substring("day", 1, 7),
        "day",
        "qty",
        alpha=0.25,
    )


def q_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS revenue trend: slope/intercept/R² of order value
    (cents) against order date (day index from 1992-01-01) — the
    metric-drift screen ("whose daily revenue is decaying?") as ONE
    map-side-combining aggregate of integer sufficient statistics;
    nothing row-scale after it. Micro-quantized outputs make the fixed
    double expression hash-exact cross-engine
    (operators/stats.py:grouped_ols_trend)."""
    from etl_spark_spark.operators.stats import grouped_ols_trend

    orders = table(
        spark, sf_dir, "orders",
        columns=["o_custkey", "o_orderdate", "o_totalprice"],
    )
    cust = table(
        spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"]
    )
    nation = table(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    src = (
        orders.join(
            cust,
            orders["o_custkey"] == cust["c_custkey"],
        )
        .join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .select(
            "n_name",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
            ).cast("long").alias("day_idx"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return grouped_ols_trend(src, ["n_name"], "day_idx", "cents")


def _nation_revenue_trend_oracle() -> str:
    from etl_spark_spark.operators.stats import grouped_ols_trend_sql

    return grouped_ols_trend_sql(
        """SELECT n.n_name,
                  date_diff('day', DATE '1992-01-01',
                            CAST(o.o_orderdate AS DATE)) AS day_idx,
                  CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
           FROM orders o
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey""",
        ["n_name"],
        "day_idx",
        "cents",
    )


def q_pyds_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the custom Python DataSource (partition-parallel
    pure-Python reader, sources/pydatasource.py): 5000 synthetic rows
    in 8 planned slices, aggregated per source. The oracle regenerates
    the corpus with SQL range() + the same integer arithmetic — the
    whole custom-connector read path is value-checked."""
    from etl_spark_spark.sources.pydatasource import register_synthdocs

    register_synthdocs(spark)
    df = (
        spark.read.format("synthdocs")
        .option("rows", 5000)
        .option("parts", 8)
        .load()
    )
    return df.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("chars_sum"),
        F.min("doc_id").alias("first_id"),
        F.max("doc_id").alias("last_id"),
    )



def q_monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue report: per-month integer-cents totals
    (one hash aggregate over the fact), then lag/delta/pct over the
    TINY month table — the serial window is sized by the number of
    months, never the fact row count."""
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"]
    )
    from pyspark.sql import Window as W

    monthly = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("month")
        .agg(F.sum("cents").alias("revenue_cents"))
    )
    w = W.orderBy("month")
    return monthly.select(
        "month",
        "revenue_cents",
        F.lag("revenue_cents").over(w).alias("prev_cents"),
        (
            F.col("revenue_cents") - F.lag("revenue_cents").over(w)
        ).alias("delta_cents"),
        (
            (
                F.col("revenue_cents") - F.lag("revenue_cents").over(w)
            ).cast("double")
            / F.lag("revenue_cents").over(w).cast("double")
        ).alias("mom_pct"),
    )



def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory analysis: parts ranked by revenue, classified by
    cumulative revenue share (A < 80%, B < 95%, C rest). The cumulative
    sum over the revenue-descending global order runs through the
    distributed prefix-sum decomposition bucketed by revenue band —
    the one serial window sees only band totals
    (operators/windows.py:bucketed_scan)."""
    from etl_spark_spark.operators.windows import bucketed_scan

    li = table(
        spark, sf_dir, "lineitem", columns=["l_partkey", "l_extendedprice"]
    )
    rev = (
        li.select(
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("revenue_cents"))
    )
    cum = bucketed_scan(
        rev,
        -F.expr("revenue_cents div 100000000"),
        # negated-cents ascending == cents descending (plain
        # expression for the monotone-bucket guard, round-12)
        [(-F.col("revenue_cents")), F.col("l_partkey")],
        [("cum_cents", "revenue_cents", "sum")],
    )
    total = rev.agg(F.sum("revenue_cents").alias("__total"))
    share = F.col("cum_cents").cast("double") / F.col("__total").cast("double")
    return cum.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        "revenue_cents",
        "cum_cents",
        share.alias("cum_share"),
        F.when(share < 0.8, F.lit("A"))
        .when(share < 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )



def q_part_cooccurrence_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering scores: parts co-ordered by
    the same customer, scored by cosine over the customer-incidence
    vectors — shared / sqrt(n_a * n_b), the association normalization
    that makes hub items comparable to niche ones. Exact integer
    inputs; pairs need >= 3 shared customers (the support floor that
    also bounds the pair fanout).

    Hub-basket cap (standard co-occurrence practice): customers with
    more than MAX_BASKET distinct parts are dropped BEFORE the pair
    self-join — the per-key pair fanout is quadratic in basket size,
    so one reseller account with 1e5 parts would otherwise generate
    5e9 pairs on a single join key at 100x scale. The size filter is
    a count window over the incidence partitioned by o_custkey: ONE
    pass over a single incidence lineage (an aggregate + anti-join
    formulation recomputes the lineitem-orders join for the hub set),
    and it leaves the capped incidence already hash-partitioned by
    the self-join key. The degree normalization uses the SAME capped
    incidence so cosine stays internally consistent. Documented bias:
    hub baskets carry near-zero association signal per pair anyway
    (see scripts/bench_skew.py replica numbers in BASELINE.md)."""
    max_basket = 200
    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
    orders = table(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    inc_all = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    wb = Window.partitionBy("o_custkey")
    inc = (
        inc_all.withColumn("__bsz", F.count("*").over(wb))
        .filter(F.col("__bsz") <= max_basket)
        .drop("__bsz")
    )
    deg = inc.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a = inc.alias("a")
    b = inc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 3)
    )
    da = deg.withColumnsRenamed({"l_partkey": "part_a", "n": "n_a"})
    db = deg.withColumnsRenamed({"l_partkey": "part_b", "n": "n_b"})
    return (
        pairs.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "shared",
            (
                F.col("shared").cast("double")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
            ).alias("cosine"),
        )
    )



def q_chi2_type_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (event type x A/B variant) with
    Cramér's V — the categorical counterpart to ab_test_welch. Every
    per-cell contribution is an exact-integer IEEE division, and the
    cross-cell sum folds a SORTED cell array sequentially
    (F.aggregate, mirrored by the oracle's list_reduce) so the float
    total is bit-identical regardless of partitioning — a parallel
    float SUM() would be order-dependent."""
    ev = read_events(spark, sf_dir).select(
        "event_type",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        ).otherwise(F.lit("B")).alias("variant"),
    )
    cells = ev.groupBy("event_type", "variant").agg(
        F.count("*").alias("o")
    )
    rows_t = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_t = cells.groupBy("variant").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("N"),
        F.count_distinct("event_type").alias("n_rows"),
        F.count_distinct("variant").alias("n_cols"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    j = (
        cells.join(rows_t, "event_type")
        .join(F.broadcast(cols_t), "variant")
        .crossJoin(F.broadcast(tot))
    )
    # cast each FACTOR to decimal BEFORE multiplying: o*N and N*r*c in
    # long overflow once counts reach ~1e7 (N*r*c ~ 1e21 at the 100x
    # replica — found by the full-registry 100x sweep). The squared
    # numerator is NEVER materialized in decimal (num^2 <= N^4 would
    # halve the safe exponent to N ~ 3e9 and Spark's non-ANSI decimal
    # overflow is a silent NULL): contrib factors as (num/den)*num
    # over correctly-rounded decimal->double casts — three IEEE ops,
    # mirrored operation-for-operation by the oracle, exact-input
    # bounds num <= N^2 < 1e38 (always) and den = N*r*c <= N^3 < 1e38
    # (N < 4.6e12 events — beyond 100 TB row counts).
    num = (
        dec(F.col("o")) * dec(F.col("N"))
        - dec(F.col("r")) * dec(F.col("c"))
    ).cast("double")
    den = (
        dec(F.col("N")) * dec(F.col("r")) * dec(F.col("c"))
    ).cast("double")
    contrib = (num / den) * num
    folded = j.select(
        F.concat_ws("|", "event_type", "variant").alias("k"),
        contrib.alias("ct"),
        "N",
        "n_rows",
        "n_cols",
    ).agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("k", "ct"))),
            F.lit(0.0),
            lambda acc, x: acc + x.getField("ct"),
        ).alias("chi2"),
        F.max("N").alias("n"),
        F.max("n_rows").alias("n_rows"),
        F.max("n_cols").alias("n_cols"),
    )
    return folded.select(
        "n",
        "chi2",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
        F.sqrt(
            F.col("chi2")
            / (
                F.col("n")
                * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
            ).cast("double")
        ).alias("cramers_v"),
    )



def q_customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — concentration analytics
    with the exact rank-weighted formula G = (2*sum(i*x_i) - (n+1)*
    sum(x)) / (n*sum(x)) over ascending spend. The global rank comes
    from the distributed prefix-sum (never a single-task window), the
    rank-weighted sum is exact decimal, and only the final division is
    float — one deterministic row."""
    from etl_spark_spark.operators.windows import bucketed_scan

    orders = table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"]
    )
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    ranked = bucketed_scan(
        spend.withColumn("__one", F.lit(1)),
        F.expr("cents div 100000"),
        [F.col("cents"), F.col("o_custkey")],
        [("rk", "__one", "sum")],
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(dec(F.col("rk") * F.col("cents"))).alias("six"),
    )
    return s.select(
        "n",
        "sx",
        (
            (
                F.lit(2) * dec(F.col("six"))
                - dec((F.col("n") + 1)) * dec(F.col("sx"))
            ).cast("double")
            / (dec(F.col("n")) * dec(F.col("sx"))).cast("double")
        ).alias("gini"),
    )



_SUPPLIER_TRIANGLES_SQL = """
WITH bip AS (
  SELECT DISTINCT o_custkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1996-01-01'
), g AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v
  FROM bip a JOIN bip b
    ON a.o_custkey = b.o_custkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2 HAVING count(*) >= 5
), tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM g e1
  JOIN g e2 ON e2.u = e1.u AND e1.v < e2.v
  JOIN g e3 ON e3.u = e1.v AND e3.v = e2.v
), members AS (
  SELECT x AS suppkey FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT suppkey, count(*) AS n_triangles FROM members GROUP BY suppkey
"""


# mirrors welch_t_test's IEEE sequence term-for-term; int -> double via
# VARCHAR (strtod is correctly rounded, matching Spark's decimal->double)
_AB_TEST_WELCH_SQL = """
WITH d AS (
  SELECT event_type,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS variant,
         CAST(round(value * 100) AS HUGEINT) AS x
  FROM events
), s AS (
  SELECT event_type,
         count(*) FILTER (variant = 'A') AS n_a,
         count(*) FILTER (variant <> 'A') AS n_b,
         coalesce(sum(x) FILTER (variant = 'A'), 0) AS sa,
         coalesce(sum(x) FILTER (variant <> 'A'), 0) AS sb,
         coalesce(sum(x * x) FILTER (variant = 'A'), 0) AS ssa,
         coalesce(sum(x * x) FILTER (variant <> 'A'), 0) AS ssb
  FROM d GROUP BY event_type
), c AS (
  SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(CAST(sa AS VARCHAR) AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
         CAST(CAST(sb AS VARCHAR) AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
         CAST(CAST(n_a * ssa - sa * sa AS VARCHAR) AS DOUBLE)
           / CAST(n_a * (n_a - 1) AS DOUBLE) AS var_a,
         CAST(CAST(n_b * ssb - sb * sb AS VARCHAR) AS DOUBLE)
           / CAST(n_b * (n_b - 1) AS DOUBLE) AS var_b
  FROM s
), e AS (
  SELECT event_type, n_a, n_b, mean_a, mean_b,
         var_a / CAST(n_a AS DOUBLE) AS se_a,
         var_b / CAST(n_b AS DOUBLE) AS se_b
  FROM c
)
SELECT event_type, n_a, n_b, mean_a, mean_b,
       (mean_a - mean_b) / sqrt(se_a + se_b) AS t_stat,
       ((se_a + se_b) * (se_a + se_b))
         / ((se_a * se_a) / CAST(n_a - 1 AS DOUBLE)
            + (se_b * se_b) / CAST(n_b - 1 AS DOUBLE)) AS welch_df
FROM e WHERE n_a > 1 AND n_b > 1
"""



def q_mann_whitney_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) A/B test on purchase values with tie
    correction — the nonparametric sibling of ab_test_welch/ks_test_ab,
    same deterministic variant split. Integer rank statistics from a
    distribution aggregate + distributed prefix sum; z is IEEE-exact
    (sqrt only — no transcendentals) (operators/stats.py)."""
    from etl_spark_spark.operators.stats import mann_whitney_u

    ev = table(spark, sf_dir, "events", columns=["user_id", "event_type", "value"])
    d = ev.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("variant"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return mann_whitney_u(d, "cents", "variant", variant_a="A")



def q_supplier_reach_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS (hop-bounded reachability) over the supplier
    co-purchase graph: how far supplier 1's influence reaches within 3
    hops. Frontier-expansion joins, one shuffle per hop, pinned by a
    bounded-depth recursive-CTE oracle (operators/graph.py:bfs_hops)."""
    from etl_spark_spark.operators.graph import bfs_hops

    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey"])
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate"]
    ).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    bip = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    a, b = bip.alias("a"), bip.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 2)
        .select("src", "dst")
    )
    return bfs_hops(edges, F.lit(1).cast("long"), max_hops=3)



def q_priority_lines_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode-priority two-level aggregate, keyed on
    l_linestatus since this dataset carries no shipmode): lines shipped
    in 1995, conditional counts of urgent/high vs lower order
    priorities per status. Join prunes to 3 columns; CASE-sum partial
    aggregates map-side."""
    li = table(
        spark, sf_dir, "lineitem", columns=["l_orderkey", "l_linestatus", "l_shipdate"]
    ).filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"]
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )



def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finished multi-supplier orders, suppliers whose lineitem shipped
    late (>60 days after order date) while EVERY other supplier shipped
    on time. The exists/not-exists pair is expressed as one per-(order,
    supplier) aggregate + one per-order aggregate — two hash shuffles
    on keys that can't skew, instead of correlated subqueries."""
    li = table(
        spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey", "l_shipdate"]
    )
    orders = table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_orderstatus", "o_orderdate"],
    ).filter(F.col("o_orderstatus") == "F")
    supplier = table(spark, sf_dir, "supplier", columns=["s_suppkey", "s_name"])
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("long")
    per_os = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late")
    )
    waiting = per_os.filter(F.col("late") == 1).join(
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
        "l_orderkey",
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )



def q_cumulative_new_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-acquisition curve: per month, first-time customers and
    the running total of customers acquired so far. First-order month
    via one hash aggregate; the running total uses the distributed
    prefix-sum decomposition (year bucket), not a single-task global
    window."""
    from etl_spark_spark.operators.windows import bucketed_scan

    orders = table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"]
    )
    first = orders.groupBy("o_custkey").agg(
        F.min(F.date_format("o_orderdate", "yyyy-MM")).alias("month")
    )
    monthly = first.groupBy("month").agg(F.count("*").alias("n_new"))
    out = bucketed_scan(
        monthly,
        F.substring("month", 1, 4),
        ["month"],
        [("cum_customers", "n_new", "sum")],
    )
    return out.select("month", "n_new", "cum_customers")



def q_order_value_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions (percent_rank + cume_dist):
    where every 1995-H1 order sits inside its month's value
    distribution. Both statistics are exact integer-ratio divisions —
    bit-stable at any parallelism. One shuffle on the month key."""
    orders = table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_orderdate", "o_totalprice"],
    ).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp_ntz"))
    )
    w = Window.partitionBy(
        F.date_format("o_orderdate", "yyyy-MM")
    ).orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )



def q_weighted_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted EXACT quartiles: per return flag, the price
    points below which 25/50/75% of the QUANTITY moved — the weighted
    generalization of exact_price_quartiles, same
    distribution-aggregate scale path with integer cumulative weights
    (operators/stats.py:exact_weighted_quantiles)."""
    from etl_spark_spark.operators.stats import exact_weighted_quantiles

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_extendedprice", "l_quantity"],
    ).withColumn("qty", F.round("l_quantity").cast("long"))
    return exact_weighted_quantiles(
        li, ["l_returnflag"], "l_extendedprice", "qty"
    )


def q_weighted_price_quartiles_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q_weighted_price_quartiles through the DECOMPOSED cumulative-
    weight path (scalable_group_quantiles with weight_col): the
    weighted form has the identical per-group single-task window
    ceiling as the unweighted one, decomposed the identical way.
    Bit-identical for any valid bucketing — this query's oracle IS
    q_weighted_price_quartiles' oracle, verbatim
    (operators/stats.py:scalable_group_quantiles)."""
    from etl_spark_spark.operators.stats import scalable_group_quantiles

    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_returnflag", "l_extendedprice", "l_quantity"],
    ).withColumn("qty", F.round("l_quantity").cast("long"))
    return scalable_group_quantiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        bucket_of=F.floor(F.col("l_extendedprice") / 100),
        qs=(0.25, 0.5, 0.75),
        weight_col="qty",
    )



def q_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day autocorrelation of daily order revenue — the
    persistence screen for a time series (is a big day followed by a
    big day?). Daily integer-cents totals, consecutive-calendar-day
    pairs via an equi-join on day+1 (distributed; no single-task global
    lag window), then the exact-Pearson shape of corr_exact: decimal
    sufficient statistics and one fixed IEEE tail."""
    orders = table(
        spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"]
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    nxt = daily.select(
        F.date_sub(F.col("day"), 1).alias("day"), F.col("cents").alias("y")
    )
    pairs = daily.select("day", F.col("cents").alias("x")).join(nxt, "day")
    # Cast BEFORE multiplying: x,y are daily cents (already ~1.2e10/day
    # at sf1), so long*long would silently overflow int64 at scale.
    # decimal(19,0)*decimal(19,0) -> decimal(38,0), exact like the
    # oracle's HUGEINT path.
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    s = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("sxx"),
        F.sum((xd * yd).cast("decimal(38,0)")).alias("sxy"),
        F.sum((yd * yd).cast("decimal(38,0)")).alias("syy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (dec("n") * F.col("sxy") - dec("sx") * dec("sy")).cast("double")
    denx = (dec("n") * F.col("sxx") - dec("sx") * dec("sx")).cast("double")
    deny = (dec("n") * F.col("syy") - dec("sy") * dec("sy")).cast("double")
    return s.select(
        "n",
        (num / F.nullif(F.sqrt(denx * deny), F.lit(0.0))).alias("autocorr_1d"),
    )



def q_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection (binary-segmentation first split) on the
    daily-revenue series: the split day maximizing the between-segment
    variance reduction G(t) = t(n-t)/n * (mean_left - mean_right)^2 —
    the level-shift detector behind regression alerts. Integer daily
    cents + the distributed prefix sum give exact cumulative sums;
    G is pure rational arithmetic on them (no transcendentals), so the
    doubles are bit-identical in any engine and the argmax is pinned
    with a day tie-break. TakeOrdered top-1, no global sort. Both
    cumulative sums and both totals come from one two-measure
    bucketed scan (operators/windows.py:bucketed_scan)."""
    from etl_spark_spark.operators.windows import bucketed_scan

    orders = table(
        spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"]
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    cum = bucketed_scan(
        daily.withColumn("__one", F.lit(1).cast("long")),
        F.year("day"),
        ["day"],
        [("__scum", "cents", "sum", "__s"), ("__t", "__one", "sum", "__n")],
    )
    x = cum.filter(F.col("__t") < F.col("__n"))
    t = F.col("__t").cast("double")
    n = F.col("__n").cast("double")
    ml = F.col("__scum").cast("double") / t
    mr = (F.col("__s") - F.col("__scum")).cast("double") / (n - t)
    g = t * (n - t) / n * (ml - mr) * (ml - mr)
    return (
        x.select(
            F.date_format("day", "yyyy-MM-dd").alias("split_day"),
            F.col("__t").alias("n_left"),
            (F.col("__n") - F.col("__t")).alias("n_right"),
            ml.alias("mean_left_cents"),
            mr.alias("mean_right_cents"),
            g.alias("g_stat"),
        )
        .orderBy(F.desc("g_stat"), "split_day")
        .limit(1)
    )



def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order contents: for
    frequently co-ordered part pairs (support >= 3 orders), both
    directed rules with confidence = support/n(antecedent) and lift =
    support*N / (n(antecedent)*n(consequent)) — all exact integer
    ratios. Distinct incidence + one self-join per order + item-count
    broadcasts; the basket total rides a 1-row crossJoin."""
    li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
    b = li.distinct()
    totals = b.agg(F.countDistinct("l_orderkey").alias("__nb"))
    items = b.groupBy("l_partkey").agg(F.count("*").alias("n"))
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("pa"), F.col("y.l_partkey").alias("pb")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 3)
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "support"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "support",
        )
    )
    na = items.withColumnsRenamed({"l_partkey": "antecedent", "n": "n_ant"})
    nc = items.withColumnsRenamed({"l_partkey": "consequent", "n": "n_con"})
    out = (
        rules.join(na, "antecedent")
        .join(nc, "consequent")
        .crossJoin(F.broadcast(totals))
    )
    conf = F.col("support").cast("double") / F.col("n_ant").cast("double")
    lift = (F.col("support") * F.col("__nb")).cast("double") / (
        F.col("n_ant") * F.col("n_con")
    ).cast("double")
    return out.select(
        "antecedent",
        "consequent",
        "support",
        "n_ant",
        "n_con",
        conf.alias("confidence"),
        lift.alias("lift"),
    )



def q_stock_balance_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance clamped at zero (the warehouse-stock / cash-
    register recurrence b_t = max(0, b_{t-1} + x_t)) — NOT a plain
    prefix sum, and naively sequential. Distributed exactly via the
    identity b_t = S_t - min(0, min_{k<=t} S_k): one prefix SUM and one
    prefix MIN per supplier partition, both integer, both associative.
    Daily net = returned quantity in minus shipped quantity out."""
    li = table(
        spark, sf_dir, "lineitem",
        columns=["l_suppkey", "l_shipdate", "l_quantity", "l_returnflag"],
    ).filter(F.col("l_suppkey") <= 20)
    sign = F.when(F.col("l_returnflag") == "R", 1).otherwise(-1)
    daily = li.groupBy(
        "l_suppkey", F.to_date("l_shipdate").alias("day")
    ).agg(F.sum(F.round("l_quantity").cast("long") * sign).alias("net"))
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.withColumn("s", F.sum("net").over(w))
    cum = cum.withColumn("m", F.min("s").over(w))
    balance = F.col("s") - F.least(F.lit(0).cast("long"), F.col("m"))
    return cum.select(
        "l_suppkey",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "net",
        balance.alias("balance"),
    )



def q_ab_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing the A/B time-to-first-purchase survival
    curves (the hypothesis test that pairs with purchase_survival_km;
    same deterministic md5 variant split as the other A/B shapes). Per
    distinct day: integer death/at-risk counts via one two-measure
    distributed prefix sum that also carries the totals; the statistic folds hypergeometric expectations and
    variances — micro-scaled because the final sums are short
    order-dependent float folds."""
    from etl_spark_spark.operators.windows import bucketed_scan

    ev = read_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("fp"),
    )
    obs = per_user.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_a"),
        F.when(
            F.col("fp").isNotNull(),
            F.datediff(F.to_date("fp"), F.to_date("first_ts")),
        )
        .otherwise(F.datediff(F.to_date("last_ts"), F.to_date("first_ts")))
        .alias("t"),
        F.col("fp").isNotNull().cast("long").alias("event"),
    )
    dist = obs.groupBy("t").agg(
        F.sum(F.col("event") * F.col("is_a")).alias("d_a"),
        F.sum("event").alias("d"),
        F.sum("is_a").alias("rm_a"),
        F.count("*").alias("rm"),
    )
    cum = bucketed_scan(
        dist,
        F.col("t"),
        ["t"],
        [("__ca", "rm_a", "sum", "__na"), ("__c", "rm", "sum", "__n")],
    )
    k = cum.select(
        "t",
        "d_a",
        "d",
        (F.col("__na") - (F.col("__ca") - F.col("rm_a"))).alias("n_a"),
        (F.col("__n") - (F.col("__c") - F.col("rm"))).alias("n"),
    ).filter((F.col("d") > 0) & (F.col("n") > 1))
    p = F.col("n_a").cast("double") / F.col("n").cast("double")
    e_a = F.col("d").cast("double") * p
    v = (
        F.col("d").cast("double")
        * p
        * (1.0 - p)
        * (F.col("n") - F.col("d")).cast("double")
        / (F.col("n") - 1).cast("double")
    )
    agg = k.agg(
        F.sum("d_a").alias("o_a"),
        F.sum(e_a).alias("__e"),
        F.sum(v).alias("__v"),
    )
    z = (F.col("o_a").cast("double") - F.col("__e")) / F.sqrt("__v")
    return agg.select(
        "o_a",
        F.round(F.col("__e") * 1e6).cast("long").alias("e_a_micro"),
        F.round(F.col("__v") * 1e6).cast("long").alias("v_micro"),
        F.round(z * 1e6).cast("long").alias("z_micro"),
    )



def q_revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% CI for the mean order value, single-pass Poisson
    style (per-(row, replicate) Poisson(1) weights from md5-uniforms
    against embedded integer CDF thresholds — no resampling shuffle,
    deterministic across engines). 100 replicates; CI = 3rd/98th
    order-statistic replicate means
    (operators/stats.py:poisson_bootstrap_mean_ci)."""
    from etl_spark_spark.operators.stats import poisson_bootstrap_mean_ci

    orders = table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice"]
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return poisson_bootstrap_mean_ci(orders, "o_orderkey", "cents", b=100)



def q_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 10% two-sided trimmed mean of order values — the robust
    location estimate outliers can't drag. No sort of the data: the
    k lowest/highest observations are removed ARITHMETICALLY from the
    per-distinct-value distribution (clamped tie-aware effective
    counts over the distributed prefix sum), so every intermediate is
    an exact integer and the final mean one exact division."""
    from etl_spark_spark.operators.windows import bucketed_scan

    orders = table(spark, sf_dir, "orders", columns=["o_totalprice"])
    vals = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    dist = vals.groupBy("v").agg(F.count("*").alias("c"))
    cum = bucketed_scan(dist, F.col("v"), ["v"], [("cumc", "c", "sum")])
    totals = dist.agg(
        F.sum("c").alias("n"), F.sum(F.col("c") * F.col("v")).alias("s")
    )
    x = cum.crossJoin(F.broadcast(totals))
    k = F.floor(F.col("n") / 10).cast("long")
    cum_before = F.col("cumc") - F.col("c")
    low_eff = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("c"), k - cum_before),
    )
    above = F.col("n") - F.col("cumc")
    high_eff = F.greatest(
        F.lit(0).cast("long"), F.least(F.col("c"), k - above)
    )
    agg = x.groupBy("n", "s").agg(
        F.sum(low_eff * F.col("v")).alias("__slow"),
        F.sum(high_eff * F.col("v")).alias("__shigh"),
    )
    kk = F.floor(F.col("n") / 10).cast("long")
    tmean = (
        (F.col("s") - F.col("__slow") - F.col("__shigh")).cast("double")
        / (F.col("n") - 2 * kk).cast("double")
    )
    return agg.select(
        "n",
        kk.alias("k_trimmed_each_side"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "mean_cents"
        ),
        tmean.alias("trimmed_mean_cents"),
    )



def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (TANE-family schema discovery,
    public method) across four tables: does lhs determine rhs? One
    hash aggregate per candidate, no joins (extension: data-quality /
    schema profiling; operators/quality.py)."""
    fd = functional_dependencies
    return (
        fd(table(spark, sf_dir, "part"),
           [("p_brand", "p_type"), ("p_name", "p_brand")], "part")
        .union(fd(table(spark, sf_dir, "orders"),
                  [("o_custkey", "o_orderpriority")], "orders"))
        .union(fd(table(spark, sf_dir, "customer"),
                  [("c_name", "c_nationkey")], "customer"))
        .union(fd(table(spark, sf_dir, "nation"),
                  [("n_nationkey", "n_regionkey"),
                   ("n_regionkey", "n_nationkey")], "nation"))
    )


_SUPERDESCONTO_SQL = f"""
WITH cupom AS ({_FEED_SQL.format(st="O")} UNION ALL {_FEED_SQL.format(st="F")}),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY etiqueta
        ORDER BY venda_desconto DESC, src_ordem, src_linha
    ) AS rn
    FROM cupom
)
SELECT r.etiqueta, r.filial, r.cod_prod, r.periodo, r.venda,
       r.venda_desconto, r.perc_dsc_cupom,
       p.p_name AS produto_nome, p.p_brand AS produto_marca,
       p.p_retailprice AS preco_tabela, s.s_name AS fornecedor_nome
FROM ranked r
JOIN part p ON r.cod_prod = p.p_partkey
JOIN supplier s ON r.filial = s.s_suppkey
WHERE r.rn = 1
"""


_ALLOCATION_SQL = """
WITH losses AS (
    SELECT s_nationkey AS nation_key, l_suppkey AS supp_key,
           sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS perdas_cents
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1, 2
),
losses_w AS (
    SELECT *, sum(perdas_cents) OVER (PARTITION BY nation_key) AS grupo_perda_cents
    FROM losses
),
credits AS (
    SELECT nation_key, sum(credito_cents) AS credito_cents FROM (
        SELECT c_nationkey AS nation_key,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS credito_cents
        FROM customer WHERE c_acctbal > 0 GROUP BY 1
        UNION ALL
        SELECT s_nationkey AS nation_key,
               sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS credito_cents
        FROM supplier WHERE s_acctbal > 0 GROUP BY 1
    ) u GROUP BY 1
),
combined AS (
    SELECT l.nation_key, l.supp_key, l.perdas_cents, l.grupo_perda_cents,
           c.credito_cents
    FROM losses_w l JOIN credits c ON l.nation_key = c.nation_key
    UNION ALL
    SELECT l.nation_key, l.supp_key, l.perdas_cents, l.grupo_perda_cents,
           NULL AS credito_cents
    FROM losses_w l
    WHERE NOT EXISTS (SELECT 1 FROM credits c WHERE c.nation_key = l.nation_key)
    UNION ALL
    SELECT c.nation_key, NULL AS supp_key, NULL AS perdas_cents,
           NULL AS grupo_perda_cents, c.credito_cents
    FROM credits c
    WHERE NOT EXISTS (SELECT 1 FROM losses_w l WHERE l.nation_key = c.nation_key)
)
SELECT nation_key, supp_key,
       coalesce(perdas_cents / 100.0, 0.0) AS perdas,
       coalesce(grupo_perda_cents / 100.0, 0.0) AS grupo_perda,
       coalesce(credito_cents / 100.0, 0.0) AS credito,
       coalesce(perdas_cents / nullif(grupo_perda_cents, 0) * (credito_cents / 100.0),
                credito_cents / 100.0, 0.0) AS rateio
FROM combined
"""


_PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {money_sum_sql("l_quantity")} AS sum_qty,
       {money_sum_sql("l_extendedprice")} AS sum_base_price,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {money_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {money_sum_sql("l_quantity")} / count(*) AS avg_qty,
       {money_sum_sql("l_extendedprice")} / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


_DEDUP_LATEST_SQL = """
SELECT l_partkey,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS last_ship_date,
       l_orderkey AS last_orderkey,
       l_extendedprice AS last_price
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY l_partkey
        ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC
    ) AS rn
    FROM lineitem
) t WHERE rn = 1
"""


_TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust FROM (
    SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) AS rank_in_cust
    FROM orders
) t WHERE rank_in_cust <= 3
"""


_CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
)
"""


_ORDERS_ENRICHED_SQL = """
SELECT o_orderkey, o_custkey,
       coalesce(c_name, 'UNKNOWN') AS cust_name,
       coalesce(c_mktsegment, 'NONE') AS segment,
       o_totalprice
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus IN ('O', 'F') AND o_orderpriority IS NOT NULL
"""


_NORMALIZE_KEYS_SQL = f"""
SELECT p_partkey,
       lpad(trim(CAST(p_partkey AS VARCHAR)), 30, '0') AS etiqueta,
       upper(regexp_replace(
           translate(trim(p_name), '{_ACCENTS_SRC}', '{_ACCENTS_DST}'),
           ' +', ' ', 'g')) AS nome_norm,
       lpad(regexp_replace(trim(CAST(p_type AS VARCHAR)),
                           '[^0-9a-zA-Z]', '', 'g'), 15, '0') AS tipo_norm,
       upper(trim(p_brand)) AS marca_norm
FROM part
"""


_MONTHLY_ORDERS_SQL = f"""
SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS mes,
       {money_sum_sql("o_totalprice")} AS total_mes,
       count(*) AS num_pedidos
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY 1
"""



_SHIPPING_PRIORITY_SQL = f"""
SELECT l_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       o_orderpriority,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


_LOCAL_SUPPLIER_SQL = f"""
SELECT r_name AS region_name, n_name AS nation_name,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_items
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1, 2
"""


_PRICE_QUANTILES_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.95) AS p95,
       min(l_extendedprice) AS p_min,
       max(l_extendedprice) AS p_max
FROM lineitem GROUP BY 1
"""


_ABOVE_AVG_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM (
    SELECT o_orderkey, o_custkey, o_totalprice,
           sum(cast(round(o_totalprice * 100) as bigint))
               OVER (PARTITION BY o_custkey) / 100.0
               / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
    FROM orders
) t WHERE o_totalprice > cust_avg
"""


_ORDERS_PROFILE_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS column_name, "
    f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
    f"count(DISTINCT {c}) AS n_distinct FROM orders"
    for c in [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
)


_NATION_RECONCILE_SQL = """
WITH c AS (
    SELECT c_nationkey AS nation_key, count(*) AS n_customers
    FROM customer GROUP BY 1
),
s AS (
    SELECT s_nationkey AS nation_key, count(*) AS n_suppliers
    FROM supplier GROUP BY 1
)
SELECT coalesce(c.nation_key, s.nation_key) AS nation_key,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nation_key = s.nation_key
"""


_SQL_FRONTEND_SQL = """
SELECT c_mktsegment AS segment,
       o_orderstatus AS status,
       count(*) AS n_orders,
       sum(cast(round(o_totalprice * 100) as bigint)) / 100.0 AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderstatus
"""


_DEDUP_ANY_COUNT_SQL = """
SELECT l_returnflag, count(*) AS n_distinct_parts FROM (
    SELECT DISTINCT l_returnflag, l_partkey FROM lineitem
) t GROUP BY 1
"""


_GLOBAL_TOP_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


_Y95 = "o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'"

_Y96 = "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"


_CUSTKEYS_BOTH_SQL = f"""
SELECT o_custkey FROM orders WHERE {_Y95}
INTERSECT
SELECT o_custkey FROM orders WHERE {_Y96}
"""


_CUSTKEYS_ONLY_1995_SQL = f"""
SELECT o_custkey FROM orders WHERE {_Y95}
EXCEPT
SELECT o_custkey FROM orders WHERE {_Y96}
"""


_ROLLUP_LOSSES_SQL = f"""
SELECT s_nationkey AS nation_key, l_suppkey AS supp_key,
       {money_sum_sql("l_extendedprice * l_discount")} AS perdas,
       count(*) AS n_rows
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY ROLLUP (nation_key, supp_key)
"""


_SUPPLIER_SHARE_EXPR_SQL = """
SELECT DISTINCT s_nationkey AS nation_key, l_suppkey AS supp_key,
       sum(cast(round(l_extendedprice * 100) as bigint))
           over (partition by l_suppkey) / 100.0 AS supp_total
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
"""



_DAILY_DENSE_ORDERS_SQL = """
WITH jan AS (
    SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
           o_orderpriority AS priority
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1995-02-01'
),
counts AS (SELECT day, priority, count(*) AS n_orders FROM jan GROUP BY 1, 2),
spine AS (
    SELECT CAST(CAST(d AS DATE) AS VARCHAR) AS day, p.priority
    FROM generate_series(DATE '1995-01-01', DATE '1995-01-31',
                         INTERVAL 1 DAY) s(d)
    CROSS JOIN (SELECT DISTINCT priority FROM jan) p
)
SELECT s.day, s.priority, coalesce(c.n_orders, 0) AS n_orders
FROM spine s LEFT JOIN counts c USING (day, priority)
"""


_PRICE_OUTLIERS_SQL = f"""
WITH dist AS (
  SELECT l_returnflag,
         {checked_measure_sql('l_extendedprice', 'exact_group_quantiles', 'l_extendedprice')} AS v,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, v, c,
         sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY l_returnflag) AS n
  FROM dist
), med AS (
  SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
         min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS median_price
  FROM cum GROUP BY 1
), dev AS (
  SELECT l.l_returnflag, abs(l.l_extendedprice - m.median_price) AS d
  FROM lineitem l JOIN med m USING (l_returnflag)
), ddist AS (
  SELECT l_returnflag,
         {checked_measure_sql('d', 'exact_group_quantiles', '__dev')} AS d,
         count(*) AS c
  FROM dev GROUP BY 1, 2
), dcum AS (
  SELECT l_returnflag, d, c,
         sum(c) OVER (PARTITION BY l_returnflag ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY l_returnflag) AS n
  FROM ddist
), mad AS (
  SELECT l_returnflag,
         min(CASE WHEN cum >= ceil(0.5 * n) THEN d END) AS mad
  FROM dcum GROUP BY 1
)
SELECT m.l_returnflag, m.n_rows, m.median_price, a.mad,
       coalesce((SELECT count(*) FROM dev
                 WHERE dev.l_returnflag = m.l_returnflag
                   AND dev.d > 10 * a.mad), 0) AS n_outliers
FROM med m JOIN mad a USING (l_returnflag)
"""


_RETURNS_UNPIVOT_SQL = """
WITH wide AS (
    SELECT l_returnflag,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
               AS revenue,
           CAST(count(*) AS DOUBLE) AS n_rows
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'revenue', revenue FROM wide
UNION ALL
SELECT l_returnflag, 'n_rows', n_rows FROM wide
"""


_DISJUNCTIVE_REVENUE_SQL = """
SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
           AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 5 AND 30
       AND l_quantity BETWEEN 20 AND 40)
"""


_EXCLUSIVE_SUPPLIER_ORDERS_SQL = """
WITH li_n AS (
    SELECT l_orderkey, s_nationkey
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
)
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM li_n WHERE s_nationkey < 5)
  AND o_orderkey NOT IN (SELECT l_orderkey FROM li_n
                         WHERE s_nationkey >= 5 AND l_orderkey IS NOT NULL)
GROUP BY o_orderpriority
"""


_PART_SUPPLIER_COUNTS_SQL = """
SELECT p_brand, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


_RICH_IDLE_CUSTOMERS_SQL = """
WITH avg_bal AS (
    SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) / (count(*) * 100.0)
               AS ab
    FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, count(*) AS n_customers,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal
FROM customer, avg_bal
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
  AND c_acctbal > ab
  -- IS NOT NULL guard: o_custkey carries NULLs, and a NULL-poisoned
  -- NOT IN silently empties the result (anti-join semantics intended)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_custkey IS NOT NULL
                          AND o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY c_mktsegment
"""


_CUSTOMER_ORDER_GAPS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       date_diff('day',
                 CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS DATE),
                 CAST(o_orderdate AS DATE)) AS gap_days,
       ntile(4) OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice, o_orderkey) AS value_quartile,
       percent_rank() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice, o_orderkey) AS value_prank
FROM orders
"""


_CUSTOMER_YEAR_ARRAYS_SQL = """
WITH ys AS (
  SELECT o_custkey,
         list_sort(list(DISTINCT year(o_orderdate))) AS ys
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey,
       array_to_string(ys, ',') AS years_csv,
       CAST(len(ys) AS INT) AS n_years,
       CAST(len(list_filter(ys, y -> y >= 1996)) AS INT) AS n_years_since_1996
FROM ys
"""



_SMALL_QTY_REVENUE_SQL = """
WITH caps AS (
  SELECT l_partkey, (sum(l_quantity) / count(*)) * 0.2 AS qty_cap
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
           AS small_qty_revenue,
       count(*)::BIGINT AS n_lineitems
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN caps USING (l_partkey)
WHERE l_quantity < qty_cap
GROUP BY p_brand
"""



_PRICE_HISTOGRAM_SQL = """
WITH rng AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
SELECT least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 20)) AS BIGINT), 19)
           AS bin,
       count(*)::BIGINT AS n_orders
FROM orders, rng
GROUP BY 1
"""


_RETURNS_GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       count(*)::BIGINT AS n_items,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
"""


_MARKET_SHARE_SQL = """
WITH scoped AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS c,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders ON l_orderkey = o_orderkey
   AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
)
SELECT CAST(o_year AS BIGINT) AS o_year,
       sum(c)::BIGINT / 100.0 AS total_vol,
       sum(CASE WHEN supp_nation = 'NATION_7' THEN c ELSE 0 END)::BIGINT / 100.0
           AS share_vol,
       round(sum(CASE WHEN supp_nation = 'NATION_7' THEN c ELSE 0 END)::BIGINT
             / CAST(sum(c)::BIGINT AS DOUBLE), 6) AS mkt_share
FROM scoped GROUP BY o_year
"""


_DATA_QUALITY_SQL = """
WITH one_pass AS (
  SELECT count(*)::BIGINT AS n_rows,
         sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 0 ELSE 1 END)::BIGINT AS v_qty,
         sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)::BIGINT AS v_price,
         sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 0 ELSE 1 END)::BIGINT AS v_disc,
         sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END)::BIGINT AS v_rf,
         sum(CASE WHEN l_linestatus IN ('O','F') THEN 0 ELSE 1 END)::BIGINT AS v_ls
  FROM lineitem
)
SELECT 'qty_range' AS rule, n_rows, v_qty AS n_violations FROM one_pass
UNION ALL SELECT 'price_positive', n_rows, v_price FROM one_pass
UNION ALL SELECT 'discount_range', n_rows, v_disc FROM one_pass
UNION ALL SELECT 'returnflag_domain', n_rows, v_rf FROM one_pass
UNION ALL SELECT 'linestatus_domain', n_rows, v_ls FROM one_pass
UNION ALL SELECT 'orderkey_fk',
       (SELECT count(*)::BIGINT FROM lineitem),
       (SELECT count(*)::BIGINT FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
"""


_CUSTOMER_SPEND_DECILES_SQL = f"""
WITH spend AS (
    SELECT o_custkey, n_name,
           {money_sum_sql('o_totalprice')} AS total_spend
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
)
SELECT o_custkey, n_name, total_spend,
       ntile(4) OVER w AS spend_quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM spend
WINDOW w AS (PARTITION BY n_name ORDER BY total_spend DESC, o_custkey)
"""


_ORDER_PRIORITY_COUNTS_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-07-01'
  AND o_orderdate <  TIMESTAMP '1995-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


_MIN_COST_SUPPLIER_SQL = """
WITH r AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY l_extendedprice / l_quantity, l_suppkey
                           ) AS rn
  FROM lineitem
)
SELECT p_partkey AS part_key, p_brand AS brand,
       s_suppkey AS supp_key, s_name AS supp_name,
       unit AS best_unit_price
FROM r
JOIN part ON l_partkey = p_partkey AND p_size <= 5
JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1
"""


_VOLUME_SHIPPING_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
"""


_PRODUCT_PROFIT_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       sum(CAST(round((l_extendedprice * (1 - l_discount)
                       - p_retailprice * l_quantity) * 100) AS BIGINT)
          ) / 100.0 AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, o_year
"""


_RETURNED_TOP_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          ) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-10-01'
  AND o_orderdate <  TIMESTAMP '1996-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


_IMPORTANT_PARTS_SQL = """
WITH v AS (
  SELECT l_partkey AS part_key,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
            ) AS val_c
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY part_key
)
SELECT part_key, val_c / 100.0 AS value
FROM v
WHERE val_c * (SELECT count(*) FROM v) > (SELECT sum(val_c) FROM v) * 2
"""


_CUSTDIST_SQL = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n
  FROM orders
  WHERE o_orderpriority <> '1-URGENT'
  GROUP BY o_custkey
)
SELECT CAST(coalesce(n, 0) AS BIGINT) AS c_count,
       count(*) AS custdist
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY c_count
"""


_PROMO_REVENUE_SQL = """
WITH s AS (
  SELECT
    sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             ELSE 0 END) AS promo_c,
    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS all_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-09-01'
    AND l_shipdate <  TIMESTAMP '1995-10-01'
)
SELECT promo_c / 100.0 AS promo_revenue,
       all_c / 100.0 AS total_revenue,
       round(100.0 * promo_c / all_c, 6) AS promo_pct
FROM s
"""


_TOP_SUPPLIER_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
            ) AS rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey AS supp_key, s_name AS supp_name, rev_c / 100.0 AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_c = (SELECT max(rev_c) FROM revenue)
"""


_LARGE_ORDERS_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(CAST(round(l_quantity) AS BIGINT)) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING total_qty > 250
)
SELECT c_custkey, c_name, o_orderkey AS order_key,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice AS total_price, CAST(total_qty AS BIGINT) AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


_PART_PROMOTION_SUPPLIERS_SQL = """
WITH sp AS (
  SELECT l_partkey, l_suppkey, sum(CAST(round(l_quantity) AS BIGINT)) AS sp_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <  TIMESTAMP '1996-01-01'
  GROUP BY l_partkey, l_suppkey
), pt AS (
  SELECT l_partkey AS pk, sum(sp_qty) AS p_qty FROM sp GROUP BY pk
)
SELECT s_suppkey AS supp_key, s_name AS supp_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
WHERE s_suppkey IN (
  SELECT l_suppkey FROM sp JOIN pt ON l_partkey = pk
  WHERE sp_qty * 10 > p_qty * 3
)
"""




def _pagerank_oracle_sql(iters: int = 5, scale: int = 10**12) -> str:
    """Unrolled-CTE mirror of operators.graph.pagerank_exact: one
    (contrib, rank) CTE pair per iteration, same integer recurrence.
    Generated, not handwritten, so the iteration count stays in one
    place."""
    parts = [f"""
WITH pairs AS (
  SELECT DISTINCT 'C' || o_custkey AS a, 'S' || l_suppkey AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1996-01-01'
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
consts AS (SELECT {scale} // count(*) AS init FROM nodes),
r0 AS (SELECT node, CAST((SELECT init FROM consts) AS BIGINT) AS rank_fp
       FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
c{i} AS (
  SELECT e.dst AS node, sum(r.rank_fp // d.deg) AS inc
  FROM edges e
  JOIN r{i-1} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         CAST((SELECT (15 * init) // 100 FROM consts)
              + (85 * coalesce(c.inc, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
)""")
    parts.append(f"""
SELECT node, rank_fp, rank_fp / {scale} AS rank
FROM r{iters}
WHERE node LIKE 'S%'
""")
    return "".join(parts)



_TRADE_PAGERANK_SQL = _pagerank_oracle_sql()


_SUPPLIER_CO_PURCHASE_SQL = """
WITH edges AS (
  SELECT DISTINCT o_custkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1996-01-01'
)
SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
       count(*) AS shared_customers
FROM edges a
JOIN edges b ON a.o_custkey = b.o_custkey AND a.l_suppkey < b.l_suppkey
GROUP BY supp_a, supp_b
HAVING count(*) >= 3
"""


_GLOBAL_SPEND_RANK_SQL = """
WITH spend AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, cents / 100.0 AS total_spend,
       row_number() OVER (ORDER BY cents DESC, o_custkey) AS global_rank
FROM spend
"""


_CUSTOMER_ORDER_DOCS_SQL = """
WITH docs AS (
  SELECT o_custkey,
         list_sort(list(struct_pack(
             k := o_orderkey,
             c := CAST(round(o_totalprice * 100) AS BIGINT)))) AS orders,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_urgent
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey,
       len(orders) AS n_orders,
       len(list_filter(orders, o -> o.c > 3000000)) AS n_big_orders,
       len(list_filter(orders, o -> o.c > 5000000)) > 0 AS has_jumbo,
       list_sum(list_transform(orders, o -> o.c)) / 100.0 AS total_spend,
       orders[1].k AS first_order_key,
       n_urgent
FROM docs
"""


_FORECAST_REVENUE_SQL = """
SELECT sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0
           AS revenue_effect,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


_REVENUE_CUBE_SQL = f"""
SELECT l_returnflag AS flag, l_linestatus AS status,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (flag, status)
"""


_PRIORITY_RETURN_PIVOT_SQL = """
SELECT o_orderpriority AS priority,
       -- BIGINT cast: DuckDB integer sums widen to HUGEINT, which pandas
       -- renders as float and would break the stringified value hash
       CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_n,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY priority
"""


_CORR_EXACT_SQL = """
WITH d AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 100) AS HUGEINT) AS x,
         CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
  FROM lineitem
), s AS (
  SELECT l_returnflag, count(*)::HUGEINT AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM d GROUP BY l_returnflag
), c AS (
  -- int -> double via VARCHAR: strtod is correctly rounded, matching
  -- Spark's decimal->double cast; DuckDB's direct HUGEINT->DOUBLE is not
  SELECT l_returnflag, n::BIGINT AS n,
         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS numd,
         CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS denxd,
         CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE) AS denyd
  FROM s
)
SELECT l_returnflag, n,
       numd / nullif(sqrt(denxd * denyd), 0.0) AS corr_qty_price
FROM c
"""



_PARETO_PARTS_SQL = """
SELECT p_size, p_partkey, p_retailprice FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_size >= p.p_size AND q.p_retailprice >= p.p_retailprice
    AND (q.p_size > p.p_size OR q.p_retailprice > p.p_retailprice)
)
"""



def _benford_expected_sql() -> str:
    import math

    whens = " ".join(
        f"WHEN digit = '{d}' THEN {math.log10(1 + 1 / d)!r}"
        for d in range(1, 10)
    )
    return f"CASE {whens} END"



_BENFORD_TOTALPRICE_SQL = f"""
WITH c AS (
  SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit,
         count(*) AS n
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1
), s AS (
  SELECT digit, CAST(n AS BIGINT) AS n,
         CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS share,
         {_benford_expected_sql()} AS expected
  FROM c
)
SELECT digit, n, share, expected, abs(share - expected) AS abs_dev FROM s
"""


_EXACT_PRICE_QUARTILES_SQL = f"""
WITH dist AS (
  SELECT l_returnflag,
         {checked_measure_sql('l_extendedprice', 'exact_group_quantiles', 'l_extendedprice')} AS v,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, v, c,
         sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY l_returnflag) AS n
  FROM dist
)
SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
       min(CASE WHEN cum >= ceil(0.25 * n) THEN v END) AS q25,
       min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS q50,
       min(CASE WHEN cum >= ceil(0.75 * n) THEN v END) AS q75
FROM cum GROUP BY l_returnflag
"""


_KS_TEST_AB_SQL = f"""
WITH d AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS variant,
         {checked_measure_sql('CAST(round(value * 100) AS BIGINT)', 'ks_two_sample', 'cents')} AS cents
  FROM events WHERE event_type = 'purchase'
), dist AS (
  SELECT cents,
         count(*) FILTER (variant = 'A') AS ca,
         count(*) FILTER (variant <> 'A') AS cb
  FROM d GROUP BY 1
), cum AS (
  SELECT cents,
         sum(ca) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
         sum(cb) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
  FROM dist
), t AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
  FROM dist
)
SELECT n_a, n_b,
       max(abs(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE)
               - CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE))) AS d_stat
FROM cum, t GROUP BY n_a, n_b
"""


# regenerates the synthetic DataSource corpus: same integer arithmetic
# as sources/pydatasource.py (_MULT/_MOD)
_PYDS_SOURCE_STATS_SQL = """
WITH ids AS (SELECT range AS doc_id FROM range(5000)),
d AS (
  SELECT doc_id, 's' || CAST(doc_id % 5 AS VARCHAR) AS source,
         (doc_id * 2654435761) % 997 AS n_chars
  FROM ids
)
SELECT source, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       min(doc_id) AS first_id, max(doc_id) AS last_id
FROM d GROUP BY source
"""


_MONTHLY_REVENUE_MOM_SQL = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders GROUP BY 1
)
SELECT month, revenue_cents,
       lag(revenue_cents) OVER (ORDER BY month) AS prev_cents,
       revenue_cents - lag(revenue_cents) OVER (ORDER BY month)
         AS delta_cents,
       CAST(revenue_cents - lag(revenue_cents) OVER (ORDER BY month)
            AS DOUBLE)
         / CAST(lag(revenue_cents) OVER (ORDER BY month) AS DOUBLE)
         AS mom_pct
FROM m
"""


_ABC_CLASSIFICATION_SQL = """
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT l_partkey, revenue_cents,
         CAST(sum(revenue_cents) OVER (
           ORDER BY revenue_cents DESC, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_cents,
         (SELECT CAST(sum(revenue_cents) AS BIGINT) FROM rev) AS total
  FROM rev
)
SELECT l_partkey, revenue_cents, cum_cents,
       CAST(cum_cents AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
       CASE WHEN CAST(cum_cents AS DOUBLE) / CAST(total AS DOUBLE) < 0.8
              THEN 'A'
            WHEN CAST(cum_cents AS DOUBLE) / CAST(total AS DOUBLE) < 0.95
              THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
"""


_PART_COOCCURRENCE_COSINE_SQL = """
WITH inc_all AS (
  SELECT DISTINCT o_custkey, l_partkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), inc AS (
  SELECT o_custkey, l_partkey FROM inc_all
  WHERE o_custkey NOT IN (
    SELECT o_custkey FROM inc_all GROUP BY 1 HAVING count(*) > 200
  )
), deg AS (
  SELECT l_partkey, count(*) AS n FROM inc GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM inc a JOIN inc b
    ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT part_a, part_b, shared,
       CAST(shared AS DOUBLE)
         / sqrt(CAST(da.n * db.n AS DOUBLE)) AS cosine
FROM pairs
JOIN deg da ON da.l_partkey = part_a
JOIN deg db ON db.l_partkey = part_b
"""



_CHI2_TYPE_VARIANT_SQL = """
WITH d AS (
  SELECT event_type,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS variant
  FROM events
), cells AS (
  SELECT event_type, variant, count(*) AS o FROM d GROUP BY 1, 2
), r AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
c AS (SELECT variant, sum(o) AS c FROM cells GROUP BY 1),
t AS (
  SELECT sum(o) AS N, count(DISTINCT event_type) AS n_rows,
         count(DISTINCT variant) AS n_cols
  FROM cells
), j AS (
  -- factored (num/den)*num, never num^2 in integer: mirrors the Spark
  -- side op-for-op (VARCHAR route = correctly-rounded HUGEINT->DOUBLE)
  SELECT cells.event_type || '|' || cells.variant AS k,
         (CAST(CAST(o * N - r.r * c.c AS VARCHAR) AS DOUBLE)
           / CAST(CAST(N * r.r * c.c AS VARCHAR) AS DOUBLE))
           * CAST(CAST(o * N - r.r * c.c AS VARCHAR) AS DOUBLE) AS ct,
         N, n_rows, n_cols
  FROM cells JOIN r USING (event_type) JOIN c USING (variant), t
), f AS (
  SELECT list_reduce(
           list_transform(list_sort(list({'k': k, 'ct': ct})), x -> x.ct),
           (a, b) -> a + b
         ) AS chi2,
         CAST(max(N) AS BIGINT) AS n,
         max(n_rows) AS n_rows, max(n_cols) AS n_cols
  FROM j
)
SELECT n, chi2,
       CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
       sqrt(chi2 / CAST(n * least(n_rows - 1, n_cols - 1) AS DOUBLE))
         AS cramers_v
FROM f
"""


_CUSTOMER_SPEND_GINI_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS rk
  FROM spend
), s AS (
  SELECT count(*) AS n, sum(cents) AS sx, sum(rk * cents) AS six
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
       CAST(CAST(2 * six - (n + 1) * sx AS VARCHAR) AS DOUBLE)
         / CAST(CAST(n * sx AS VARCHAR) AS DOUBLE) AS gini
FROM s
"""



_MANN_WHITNEY_AB_SQL = f"""
WITH d AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS variant,
         {checked_measure_sql('CAST(round(value * 100) AS BIGINT)', 'mann_whitney_u', 'cents')} AS cents
  FROM events WHERE event_type = 'purchase'
), dist AS (
  SELECT cents,
         count(*) FILTER (variant = 'A') AS ca,
         count(*) FILTER (variant <> 'A') AS cb
  FROM d GROUP BY 1
), cum AS (
  SELECT ca, cb, ca + cb AS nv,
         sum(ca + cb) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumn
  FROM dist
), agg AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b,
         CAST(sum(ca * (2 * (cumn - nv) + nv + 1)) AS BIGINT) AS ra2,
         CAST(sum(nv * nv * nv - nv) AS BIGINT) AS tie_term
  FROM cum
)
SELECT n_a, n_b,
       CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
       tie_term,
       (CAST(ra2 - n_a * (n_a + 1) AS DOUBLE)
        - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
       / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
            * (CAST(n_a + n_b + 1 AS DOUBLE)
               - CAST(tie_term AS DOUBLE)
                 / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))) AS z
FROM agg
"""



_SUPPLIER_REACH_BFS_SQL = """
WITH RECURSIVE bip AS (
  SELECT DISTINCT o.o_custkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1996-01-01'
), e AS (
  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM bip a JOIN bip b
    ON a.o_custkey = b.o_custkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), und AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT dst AS a, src AS b FROM e
), walk(node, hops) AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS hops
  UNION ALL
  SELECT u.b AS node, w.hops + 1 AS hops
  FROM walk w JOIN und u ON u.a = w.node
  WHERE w.hops < 3
)
SELECT node, CAST(min(hops) AS INTEGER) AS hops FROM walk GROUP BY 1
"""



_PRIORITY_LINES_BY_STATUS_SQL = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY 1
"""



_WAITING_SUPPLIERS_SQL = """
WITH per_os AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY 1, 2
), per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
  FROM per_os GROUP BY 1
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_os p
JOIN per_order q ON p.l_orderkey = q.l_orderkey
JOIN supplier s ON s.s_suppkey = p.l_suppkey
WHERE p.late = 1 AND q.n_supp >= 2 AND q.n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 10
"""



_CUMULATIVE_NEW_CUSTOMERS_SQL = """
WITH first AS (
  SELECT o_custkey, min(strftime(o_orderdate, '%Y-%m')) AS month
  FROM orders GROUP BY 1
), monthly AS (
  SELECT month, CAST(count(*) AS BIGINT) AS n_new FROM first GROUP BY 1
)
SELECT month, n_new,
       CAST(sum(n_new) OVER (ORDER BY month
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cum_customers
FROM monthly
"""



_ORDER_VALUE_POSITION_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume_dist
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-07-01'
WINDOW w AS (PARTITION BY strftime(o_orderdate, '%Y-%m')
             ORDER BY o_totalprice)
"""



_WEIGHTED_PRICE_QUARTILES_SQL = f"""
WITH d AS (
  SELECT l_returnflag,
         {checked_measure_sql('l_extendedprice', 'exact_weighted_quantiles', 'l_extendedprice')} AS v,
         {checked_measure_sql('CAST(round(l_quantity) AS BIGINT)', 'exact_weighted_quantiles', 'qty')} AS w
  FROM lineitem
), dist AS (
  SELECT l_returnflag, v, sum(w) AS w FROM d GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, v,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cumw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM dist
)
SELECT l_returnflag, CAST(max(tw) AS BIGINT) AS total_weight,
       min(CASE WHEN cumw >= ceil(0.25 * tw) THEN v END) AS wq25,
       min(CASE WHEN cumw >= ceil(0.5 * tw) THEN v END) AS wq50,
       min(CASE WHEN cumw >= ceil(0.75 * tw) THEN v END) AS wq75
FROM cum GROUP BY 1
"""



_REVENUE_AUTOCORR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS cents
  FROM orders GROUP BY 1
), pairs AS (
  SELECT a.cents AS x, b.cents AS y
  FROM daily a JOIN daily b ON b.day = a.day + 1
), s AS (
  SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM pairs
), c AS (
  -- int -> double via VARCHAR: strtod is correctly rounded, matching
  -- Spark's decimal->double cast
  SELECT n::BIGINT AS n,
         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS numd,
         CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS denxd,
         CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE) AS denyd
  FROM s
)
SELECT n, numd / nullif(sqrt(denxd * denyd), 0.0) AS autocorr_1d FROM c
"""



_REVENUE_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), cum AS (
  SELECT day,
         sum(cents) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS scum,
         row_number() OVER (ORDER BY day) AS t
  FROM daily
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS s, count(*) AS n FROM daily
), g AS (
  SELECT strftime(day, '%Y-%m-%d') AS split_day,
         CAST(t AS BIGINT) AS n_left,
         CAST(n - t AS BIGINT) AS n_right,
         CAST(scum AS DOUBLE) / CAST(t AS DOUBLE) AS mean_left_cents,
         CAST(s - scum AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))
           AS mean_right_cents,
         CAST(t AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))
           / CAST(n AS DOUBLE)
           * (CAST(scum AS DOUBLE) / CAST(t AS DOUBLE)
              - CAST(s - scum AS DOUBLE)
                / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)))
           * (CAST(scum AS DOUBLE) / CAST(t AS DOUBLE)
              - CAST(s - scum AS DOUBLE)
                / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))) AS g_stat
  FROM cum, tot WHERE t < n
)
SELECT * FROM g ORDER BY g_stat DESC, split_day LIMIT 1
"""



_BASKET_RULES_SQL = """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
totals AS (SELECT count(DISTINCT l_orderkey) AS nb FROM b),
items AS (SELECT l_partkey, count(*) AS n FROM b GROUP BY 1),
pairs AS (
  SELECT x.l_partkey AS pa, y.l_partkey AS pb, count(*) AS support
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, support FROM pairs
  UNION ALL
  SELECT pb AS antecedent, pa AS consequent, support FROM pairs
)
SELECT r.antecedent, r.consequent, CAST(r.support AS BIGINT) AS support,
       CAST(na.n AS BIGINT) AS n_ant, CAST(nc.n AS BIGINT) AS n_con,
       CAST(r.support AS DOUBLE) / CAST(na.n AS DOUBLE) AS confidence,
       CAST(r.support * t.nb AS DOUBLE) / CAST(na.n * nc.n AS DOUBLE)
         AS lift
FROM rules r
JOIN items na ON na.l_partkey = r.antecedent
JOIN items nc ON nc.l_partkey = r.consequent
CROSS JOIN totals t
"""



_STOCK_BALANCE_FLOOR_SQL = """
WITH daily AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)
                  * CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END)
              AS BIGINT) AS net
  FROM lineitem WHERE l_suppkey <= 20
  GROUP BY 1, 2
), cum AS (
  SELECT l_suppkey, day, net,
         sum(net) OVER (PARTITION BY l_suppkey ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS s
  FROM daily
), cum2 AS (
  SELECT l_suppkey, day, net, s,
         min(s) OVER (PARTITION BY l_suppkey ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS m
  FROM cum
)
SELECT l_suppkey, strftime(day, '%Y-%m-%d') AS day, net,
       CAST(s - least(CAST(0 AS BIGINT), m) AS BIGINT) AS balance
FROM cum2
"""



_AB_LOGRANK_TEST_SQL = """
WITH per_user AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
  FROM events GROUP BY 1
), obs AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS is_a,
         CASE WHEN fp IS NOT NULL
              THEN date_diff('day', CAST(first_ts AS DATE), CAST(fp AS DATE))
              ELSE date_diff('day', CAST(first_ts AS DATE),
                             CAST(last_ts AS DATE)) END AS t,
         CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM per_user
), dist AS (
  SELECT t, sum(event * is_a) AS d_a, sum(event) AS d,
         sum(is_a) AS rm_a, count(*) AS rm
  FROM obs GROUP BY 1
), cum AS (
  SELECT t, d_a, d, rm_a, rm,
         sum(rm_a) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS ca,
         sum(rm) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS c,
         sum(rm_a) OVER () AS na, sum(rm) OVER () AS n_tot
  FROM dist
), k AS (
  SELECT t, d_a, d,
         na - (ca - rm_a) AS n_a,
         n_tot - (c - rm) AS n
  FROM cum WHERE d > 0 AND n_tot - (c - rm) > 1
), s AS (
  SELECT CAST(sum(d_a) AS BIGINT) AS o_a,
         sum(CAST(d AS DOUBLE)
             * (CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE))) AS e,
         sum(CAST(d AS DOUBLE)
             * (CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0 - CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE))
             * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)) AS v
  FROM k
)
SELECT o_a,
       CAST(round(e * 1e6) AS BIGINT) AS e_a_micro,
       CAST(round(v * 1e6) AS BIGINT) AS v_micro,
       CAST(round((CAST(o_a AS DOUBLE) - e) / sqrt(v) * 1e6) AS BIGINT)
         AS z_micro
FROM s
"""



def _revenue_bootstrap_ci_oracle() -> str:
    from etl_spark_spark.operators.stats import (
        LEHMER_M,
        POISSON1_THRESHOLDS,
        lehmer_multipliers,
    )

    w_case = "CASE " + " ".join(
        f"WHEN uu < {t} THEN {k}"
        for k, t in enumerate(POISSON1_THRESHOLDS)
    ) + f" ELSE {len(POISSON1_THRESHOLDS)} END"
    mults = ", ".join(
        f"({r}, {m})" for r, m in enumerate(lehmer_multipliers(100))
    )
    return f"""
WITH d AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), seeded AS (
  SELECT v,
         ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT
           % {LEHMER_M - 1} + 1 AS s
  FROM d
), u AS (
  SELECT m.r AS r, v, (s * m.m) % {LEHMER_M} AS uu
  FROM seeded CROSS JOIN (VALUES {mults}) AS m(r, m)
), wts AS (
  SELECT r, v, {w_case} AS w FROM u
), per AS (
  SELECT r, CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS mean
  FROM wts GROUP BY r
), ranked AS (
  SELECT mean, row_number() OVER (ORDER BY mean, r) AS rn FROM per
), ci AS (
  SELECT min(CASE WHEN rn = 3 THEN mean END) AS ci_lo,
         min(CASE WHEN rn = 98 THEN mean END) AS ci_hi
  FROM ranked
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_value
  FROM d
)
SELECT t.n, CAST(100 AS INTEGER) AS b_replicates, t.mean_value,
       ci.ci_lo, ci.ci_hi
FROM t, ci
"""



_TRIMMED_MEAN_PRICE_SQL = """
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
), dist AS (
  SELECT v, count(*) AS c FROM vals GROUP BY 1
), cum AS (
  SELECT v, c,
         sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cumc,
         sum(c) OVER () AS n, sum(c * v) OVER () AS s
  FROM dist
), eff AS (
  SELECT n, s,
         greatest(0, least(c, CAST(floor(n / 10) AS BIGINT)
                              - (cumc - c))) * v AS lowv,
         greatest(0, least(c, CAST(floor(n / 10) AS BIGINT)
                              - (n - cumc))) * v AS highv
  FROM cum
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(floor(n / 10) AS BIGINT) AS k_trimmed_each_side,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
       CAST(s - sum(lowv) - sum(highv) AS DOUBLE)
         / CAST(n - 2 * CAST(floor(n / 10) AS BIGINT) AS DOUBLE)
         AS trimmed_mean_cents
FROM eff GROUP BY n, s
"""



def _fd_branch_sql(tab: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{tab}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (__k > 1) AS BIGINT) AS n_violating,
       count(*) FILTER (__k > 1) = 0 AS holds
FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS __k FROM {tab} GROUP BY 1)
"""



_FD_AUDIT_SQL = " UNION ALL ".join(
    _fd_branch_sql(t, l, r)
    for t, l, r in [
        ("part", "p_brand", "p_type"),
        ("part", "p_name", "p_brand"),
        ("orders", "o_custkey", "o_orderpriority"),
        ("customer", "c_name", "c_nationkey"),
        ("nation", "n_nationkey", "n_regionkey"),
        ("nation", "n_regionkey", "n_nationkey"),
    ]
)


_KS_DRIFT_SHARED_SQL = f"""
WITH d AS (
  SELECT event_type,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS variant,
         {checked_measure_sql('CAST(round(value * 100) AS BIGINT)', 'ks_drift_by_group', 'cents')} AS cents
  FROM events WHERE value IS NOT NULL
), dist AS (
  SELECT event_type, cents,
         count(*) FILTER (variant = 'A') AS ca,
         count(*) FILTER (variant <> 'A') AS cb
  FROM d GROUP BY 1, 2
), cum AS (
  SELECT event_type, cents,
         sum(ca) OVER (PARTITION BY event_type ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cuma,
         sum(cb) OVER (PARTITION BY event_type ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumb,
         sum(ca) OVER (PARTITION BY event_type) AS na,
         sum(cb) OVER (PARTITION BY event_type) AS nb
  FROM dist
)
SELECT event_type,
       CAST(max(na) AS BIGINT) AS n_a,
       CAST(max(nb) AS BIGINT) AS n_b,
       max(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
               - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS d_stat
FROM cum GROUP BY 1
HAVING max(na) > 0 AND max(nb) > 0
"""


ORACLES: dict[str, str] = {
    "superdesconto": _SUPERDESCONTO_SQL,
    "allocation": _ALLOCATION_SQL,
    "pricing_summary": _PRICING_SUMMARY_SQL,
    "dedup_latest_part": _DEDUP_LATEST_SQL,
    "top_orders_per_customer": _TOP_ORDERS_SQL,
    "customers_without_orders": _CUSTOMERS_WITHOUT_ORDERS_SQL,
    "orders_enriched": _ORDERS_ENRICHED_SQL,
    "normalize_keys": _NORMALIZE_KEYS_SQL,
    "monthly_orders_1995": _MONTHLY_ORDERS_SQL,
    "small_qty_revenue": _SMALL_QTY_REVENUE_SQL,
    "price_histogram": _PRICE_HISTOGRAM_SQL,
    "custkeys_both_years": _CUSTKEYS_BOTH_SQL,
    "custkeys_only_1995": _CUSTKEYS_ONLY_1995_SQL,
    "rollup_losses": _ROLLUP_LOSSES_SQL,
    "supplier_share_expr": _SUPPLIER_SHARE_EXPR_SQL,
    "global_top_orders": _GLOBAL_TOP_ORDERS_SQL,
    "shipping_priority": _SHIPPING_PRIORITY_SQL,
    "local_supplier_volume": _LOCAL_SUPPLIER_SQL,
    "dedup_any_count": _DEDUP_ANY_COUNT_SQL,
    "nation_reconcile": _NATION_RECONCILE_SQL,
    "sql_frontend": _SQL_FRONTEND_SQL,
    "orders_profile": _ORDERS_PROFILE_SQL,
    "above_avg_orders": _ABOVE_AVG_ORDERS_SQL,
    "price_quantiles": _PRICE_QUANTILES_SQL,
    "data_quality": _DATA_QUALITY_SQL,
    "returns_grouping_sets": _RETURNS_GROUPING_SETS_SQL,
    "market_share": _MARKET_SHARE_SQL,
    "customer_spend_deciles": _CUSTOMER_SPEND_DECILES_SQL,
    "customer_order_gaps": _CUSTOMER_ORDER_GAPS_SQL,
    "customer_year_arrays": _CUSTOMER_YEAR_ARRAYS_SQL,
    "order_priority_counts": _ORDER_PRIORITY_COUNTS_SQL,
    "min_cost_supplier": _MIN_COST_SUPPLIER_SQL,
    "volume_shipping": _VOLUME_SHIPPING_SQL,
    "product_profit": _PRODUCT_PROFIT_SQL,
    "returned_top_customers": _RETURNED_TOP_CUSTOMERS_SQL,
    "important_parts": _IMPORTANT_PARTS_SQL,
    "custdist": _CUSTDIST_SQL,
    "promo_revenue": _PROMO_REVENUE_SQL,
    "top_supplier": _TOP_SUPPLIER_SQL,
    "large_orders": _LARGE_ORDERS_SQL,
    "part_promotion_suppliers": _PART_PROMOTION_SUPPLIERS_SQL,
    "trade_pagerank": _TRADE_PAGERANK_SQL,
    "supplier_co_purchase": _SUPPLIER_CO_PURCHASE_SQL,
    "supplier_triangles": _SUPPLIER_TRIANGLES_SQL,
    "ab_test_welch": _AB_TEST_WELCH_SQL,
    "pareto_parts": _PARETO_PARTS_SQL,
    "benford_totalprice": _BENFORD_TOTALPRICE_SQL,
    "exact_price_quartiles": _EXACT_PRICE_QUARTILES_SQL,
    "price_quartile_sketch_eval": _price_quartile_sketch_eval_oracle(),
    # oracle is the ONE-SHOT sketch SQL: hash match proves the
    # per-batch cnt-fold loses nothing (the hll_stream_fold law)
    "quantile_sketch_stream_fold": _quantile_sketch_fold_oracle(),
    # the decomposed form is bit-identical by construction, so it
    # shares the plain-window oracle VERBATIM — the strongest
    # cross-form equivalence evidence the harness can record
    "price_quartiles_scalable": _EXACT_PRICE_QUARTILES_SQL,
    "ks_test_ab": _KS_TEST_AB_SQL,
    "pyds_source_stats": _PYDS_SOURCE_STATS_SQL,
    "monthly_revenue_mom": _MONTHLY_REVENUE_MOM_SQL,
    "abc_classification": _ABC_CLASSIFICATION_SQL,
    "part_cooccurrence_cosine": _PART_COOCCURRENCE_COSINE_SQL,
    "chi2_type_variant": _CHI2_TYPE_VARIANT_SQL,
    "customer_spend_gini": _CUSTOMER_SPEND_GINI_SQL,
    "global_spend_rank": _GLOBAL_SPEND_RANK_SQL,
    "customer_order_docs": _CUSTOMER_ORDER_DOCS_SQL,
    "forecast_revenue": _FORECAST_REVENUE_SQL,
    "revenue_cube": _REVENUE_CUBE_SQL,
    "priority_return_pivot": _PRIORITY_RETURN_PIVOT_SQL,
    "corr_exact": _CORR_EXACT_SQL,
    "disjunctive_revenue": _DISJUNCTIVE_REVENUE_SQL,
    "exclusive_supplier_orders": _EXCLUSIVE_SUPPLIER_ORDERS_SQL,
    "part_supplier_counts": _PART_SUPPLIER_COUNTS_SQL,
    "rich_idle_customers": _RICH_IDLE_CUSTOMERS_SQL,
    "returns_unpivot": _RETURNS_UNPIVOT_SQL,
    "daily_dense_orders": _DAILY_DENSE_ORDERS_SQL,
    "price_outliers": _PRICE_OUTLIERS_SQL,
    "price_outliers_scalable": _PRICE_OUTLIERS_SQL,
    "part_kcore": _part_kcore_oracle(),
    "psi_drift_ab": _psi_drift_oracle(),
    "part_share_alloc": _PART_SHARE_ALLOC_SQL,
    "nation_revenue_trend": _nation_revenue_trend_oracle(),
    "supplier_qty_ewma": _supplier_qty_ewma_oracle(),
    "supplier_qty_ewma_scalable": _supplier_qty_ewma_oracle(),
    "nation_theil_sen_trend": _nation_theil_sen_oracle(),
    # identical pair set by construction -> shares the oracle verbatim
    "nation_theil_sen_blocked": _nation_theil_sen_oracle(),
    "did_purchase_uplift": _DID_SQL,
    "ks_drift_by_type_scalable": _KS_DRIFT_SHARED_SQL,
    "ks_drift_by_type": _KS_DRIFT_SHARED_SQL,
    "mann_whitney_ab": _MANN_WHITNEY_AB_SQL,
    "supplier_reach_bfs": _SUPPLIER_REACH_BFS_SQL,
    "priority_lines_by_status": _PRIORITY_LINES_BY_STATUS_SQL,
    "waiting_suppliers": _WAITING_SUPPLIERS_SQL,
    "cumulative_new_customers": _CUMULATIVE_NEW_CUSTOMERS_SQL,
    "order_value_position": _ORDER_VALUE_POSITION_SQL,
    "weighted_price_quartiles": _WEIGHTED_PRICE_QUARTILES_SQL,
    # bit-identical decomposed form -> shares the oracle verbatim
    "weighted_price_quartiles_scalable": _WEIGHTED_PRICE_QUARTILES_SQL,
    "revenue_autocorr": _REVENUE_AUTOCORR_SQL,
    "revenue_changepoint": _REVENUE_CHANGEPOINT_SQL,
    "basket_rules": _BASKET_RULES_SQL,
    "stock_balance_floor": _STOCK_BALANCE_FLOOR_SQL,
    "ab_logrank_test": _AB_LOGRANK_TEST_SQL,
    "revenue_bootstrap_ci": _revenue_bootstrap_ci_oracle(),
    "trimmed_mean_price": _TRIMMED_MEAN_PRICE_SQL,
    "fd_audit": _FD_AUDIT_SQL,
}
