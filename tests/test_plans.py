"""Plan-shape assertions: the scale properties are pinned, not hoped
for — filters reach the parquet scan, scans read only projected
columns, dimension joins broadcast."""

from __future__ import annotations

import __spark_entry__ as entrymod
from etl_spark_spark.plans import explain_str, pushed_filters, scan_schema_columns


def test_range_filter_pushed_to_scan(spark, sf_dir):
    df = entrymod.queries()["monthly_orders_1995"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed, f"range predicate not pushed: {pushed}"
    assert "GreaterThanOrEqual" in pushed and "LessThan" in pushed


def test_superdesconto_scans_pruned(spark, sf_dir):
    df = entrymod.queries()["superdesconto"](spark, sf_dir)
    scans = scan_schema_columns(df)
    part_scans = [s for s in scans if "p_partkey" in s]
    assert part_scans and all(
        s <= {"p_partkey", "p_name", "p_brand", "p_retailprice"} for s in part_scans
    ), f"part scan reads too much: {part_scans}"
    li_scans = [s for s in scans if "l_partkey" in s]
    assert li_scans and all("l_tax" not in s and "l_quantity" not in s for s in li_scans), (
        f"lineitem scan not pruned: {li_scans}"
    )


def test_superdesconto_joins_broadcast(spark, sf_dir):
    plan = explain_str(entrymod.queries()["superdesconto"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, "dim joins must broadcast"
    assert "SortMergeJoin" not in plan


def test_superdesconto_top1_partial_aggregates_map_side(spark, sf_dir):
    """Round-7 skew pin: the flagship's top-1-per-etiqueta must run as
    a PARTIAL max_by hash aggregate before the exchange — a hot
    barcode is then combined map-side (~1 survivor per key per mapper
    crosses the shuffle) instead of flooding one reducer the way a
    ranking window would. The zipf-replica numbers live in BASELINE.md
    (scripts/bench_skew.py --etiqueta shape)."""
    plan = explain_str(entrymod.queries()["superdesconto"](spark, sf_dir))
    assert "partial_max_by" in plan, (
        "top-1 per etiqueta lost its map-side partial aggregation"
    )
    # and no ranking window anywhere in the flagship
    assert "row_number" not in plan.lower()


def test_equality_filter_pushed(spark, sf_dir):
    df = entrymod.queries()["events_props_map"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "event_type" in pushed


def test_emb_near_dup_no_driver_materialization(spark, sf_dir, monkeypatch):
    """cosine_near_dup_pairs must be fully distributed: constructing the
    operator may not collect the corpus to the driver (the round-1
    implementation broadcast a driver-side toPandas() — a driver OOM at
    real scale), and the executed plan must be a grouped Arrow task, not
    a broadcast of driver data."""
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):
        raise AssertionError("driver-side materialization in operator build")

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    monkeypatch.setattr(DataFrame, "collect", _boom)
    df = entrymod.queries()["emb_near_dup"](spark, sf_dir)  # must stay lazy
    monkeypatch.undo()
    plan = explain_str(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "Broadcast" not in plan


def test_min_cost_supplier_prunes_before_window(spark, sf_dir):
    """The part filter must sit BELOW the window (broadcast join feeds
    the window ~10% of lineitem) and the window must partial-prune
    (WindowGroupLimit) before its exchange; no SortMergeJoin."""
    plan = explain_str(entrymod.queries()["min_cost_supplier"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    pushed = " ".join(pushed_filters(entrymod.queries()["min_cost_supplier"](spark, sf_dir)))
    assert "p_size" in pushed


def test_order_priority_counts_filters_pushed(spark, sf_dir):
    """Both scans filtered at the source: the timestamp range on orders
    and the returnflag equality on lineitem."""
    pushed = " ".join(pushed_filters(entrymod.queries()["order_priority_counts"](spark, sf_dir)))
    assert "o_orderdate" in pushed and "l_returnflag" in pushed
    plan = explain_str(entrymod.queries()["order_priority_counts"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_corr_exact_single_exchange(spark, sf_dir):
    """All five sufficient statistics ride ONE shuffle (partial+final
    hash aggregate); nothing else exchanges."""
    plan = explain_str(entrymod.queries()["corr_exact"](spark, sf_dir), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "HashAggregate" in plan


def test_revenue_cube_single_exchange(spark, sf_dir):
    """CUBE = Expand over grouping sets + one partial/final aggregate
    pair — one exchange total."""
    plan = explain_str(entrymod.queries()["revenue_cube"](spark, sf_dir), mode="simple")
    assert "Expand" in plan
    assert plan.count("Exchange") == 1, plan


def test_user_value_trend_no_python(spark, sf_dir):
    """The exact OLS trend is expression-only: no Python evaluation
    nodes anywhere in the plan (the applyInPandas twin exists for
    unbounded group sizes, but the query path stays in codegen)."""
    plan = explain_str(entrymod.queries()["user_value_trend"](spark, sf_dir))
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_stratified_sample_is_pure_map(spark, sf_dir):
    """Deterministic sampling adds ZERO shuffles — the filter streams
    through the scan; discarded rows never move."""
    plan = explain_str(entrymod.queries()["doc_stratified_sample"](spark, sf_dir), mode="simple")
    assert "Exchange" not in plan, plan


def test_vocab_topk_no_global_sort(spark, sf_dir):
    """Top-50 tokens must be TakeOrderedAndProject (per-partition heap
    + driver merge), never a full global Sort of the vocabulary."""
    plan = explain_str(entrymod.queries()["vocab_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_doc_source_cap_no_window(spark, sf_dir):
    """The per-source quota rides the two-phase salted aggregate — no
    ranking window anywhere, so no single-task hot key."""
    plan = explain_str(entrymod.queries()["doc_source_cap"](spark, sf_dir))
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan


def test_no_row_python_udfs_in_any_query(all_query_plans):
    """Engine-wide hygiene gate: NO query's plan may contain a
    row-at-a-time Python UDF (BatchEvalPython) — Python is allowed only
    through Arrow-batched nodes (MapInPandas / FlatMapGroupsInPandas /
    ArrowEvalPython), and only where expressions can't express the op."""
    for name, plan in all_query_plans.items():
        assert "BatchEvalPython" not in plan, f"{name} uses a row Python UDF"


def test_shuffle_order_no_global_sort(spark, sf_dir):
    """The top-N of the seeded shuffle order must plan as
    TakeOrderedAndProject, never a full global Sort over the corpus."""
    plan = explain_str(entrymod.queries()["doc_shuffle_order"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_market_share_all_broadcast_and_pushed(spark, sf_dir):
    """Q8-shaped 7-table join: every dimension joins as broadcast (no
    SortMergeJoin at fixture scale), the order-date range reaches the
    orders scan, and the part type filter reaches the part scan."""
    df = entrymod.queries()["market_share"](spark, sf_dir)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 6
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed and "p_type" in pushed


def test_no_unbounded_nested_loop_joins_in_any_query(all_query_plans):
    """Engine-wide hygiene gate: no query may plan a CartesianProduct,
    and BroadcastNestedLoopJoin is allowed only where a bounded side is
    deliberately broadcast — an UNBOUNDED nested loop is always a
    scale bug."""
    # emb_cosine_topk: <=10-row broadcast query set (the exact-top-k
    # design); data_quality / price_histogram: crossJoins of 1-row
    # aggregate results (global totals / min-max bin edges); the four
    # ANN derived-check queries crossJoin 1-row aggregate results
    # (n_results/recall booleans) and inherit emb_cosine_topk's
    # bounded broadcast query set
    # rich_idle_customers: scalar-subquery threshold = 1-row broadcast;
    # sketch_rollup: crossJoin of the 1-row unioned-sketch aggregate
    # daily_dense_orders: 31-day spine x tiny distinct-priorities cross
    # important_parts: Q11 scalar-subquery share threshold = 1-row
    # broadcast total crossJoined under an inequality filter
    # doc_budget_mix: crossJoins of 1-row totals (weight sum + leftover)
    # benford_totalprice: crossJoin of the 1-row digit-count total
    # ks_test_ab: crossJoin of the 1-row (n_a, n_b) totals aggregate
    # abc_classification: crossJoin of the 1-row revenue grand total
    # chi2_type_variant: crossJoin of the 1-row (N, n_rows, n_cols) totals
    # bm25_search: crossJoin of the 1-row corpus-stats aggregate
    # doc_surprisal: crossJoin of the 1-row corpus-token total
    # knn_label_accuracy: <=50-row broadcast probe set (cosine_topk)
    # revenue_changepoint: crossJoin of the 1-row (S, n) totals
    # basket_rules: crossJoin of the 1-row basket-count total
    # term_pmi: crossJoin of the 1-row corpus doc-count total
    # neardup_eval: crossJoins of three 1-row pair-count aggregates
    # purchase_survival_km: crossJoin of the 1-row user-count total
    # emb_hard_negatives: <=10-row broadcast probe set (cosine scan)
    # doc_bigram_surprisal: crossJoin of the 1-row vocabulary count
    # doc_kn_perplexity: crossJoin of the 1-row (B, V) model totals
    # hll_source_overlap: source x source pair generation (bounded at
    #   n_sources^2 rows — 400 here; group-count-sized, never corpus)
    # doc_decontaminate_bloom: crossJoin of the broadcast 1-row dense
    #   bitmap (bloom_probe_inline)
    # (doc_ccnet_buckets runs the same KN totals behind an eager
    #  localCheckpoint, so its visible plan has no BNLJ to allow)
    # doc_dsir_weights: crossJoin of the 1-row (N_s, N_t) totals
    # doc_training_mix: apportion_budget's 1-row totals crossJoins,
    #   replicated across the pick/order branches (strata-table-sized)
    allowed_bnlj = {
        "doc_training_mix",
        "emb_hard_negatives",
        "doc_bigram_surprisal",
        "doc_kn_perplexity",
        "doc_decontaminate_bloom",
        "hll_source_overlap",
        "doc_dsir_weights",
        "basket_rules",
        "term_pmi",
        "neardup_eval",
        "neardup_recall_sampled",  # crossJoins of 1-row count aggregates
        "purchase_survival_km",
        "ab_logrank_test",
        "revenue_bootstrap_ci",
        "trimmed_mean_price",
        "bm25_search",
        "hybrid_search_rrf",  # bm25 leg's 1-row corpus-stats crossJoin
        "doc_surprisal",
        "knn_label_accuracy",
        "revenue_changepoint",
        "abc_classification",
        "chi2_type_variant",
        "benford_totalprice",
        "ks_test_ab",
        "important_parts",
        "doc_budget_mix",
        "daily_dense_orders",
        "sketch_rollup",
        "emb_cosine_topk",
        "data_quality",
        "price_histogram",
        "emb_cosine_topk_lsh",
        "emb_cosine_topk_ivf",
        "emb_cosine_topk_ivfpq",
        # int8-SQ rerank variant: same derived-check 1-row crossJoins +
        # bounded broadcast query set as its float-rerank sibling
        "emb_cosine_topk_ivfpq_int8",
        # recall eval: crossJoins of four 1-row count aggregates
        # (n_true/n_true_seq/n_blocked/n_cand)
        "tfidf_block_recall",
        # vacuity stats: n_cand 1-row aggregate crossJoins the 1-row
        # n_docs aggregate (round-12 guard)
        "tfidf_blocking_vacuity",
        # + the corpus-relative threshold's 1-row n_docs broadcast
        # into the shingle-df filter
        "tfidf_blocking_frac",
        # guarded similarity: the vacuity trap row (1-row stats
        # crossJoin unioned into the plan)
        "doc_tfidf_similar_guarded",
        "emb_near_dup_lsh",
        "rich_idle_customers",
    }
    for name, plan in all_query_plans.items():
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} plans an unreviewed BroadcastNestedLoopJoin"
            )


def test_phrase_expression_computed_once(all_query_plans):
    """computed_once (etl_spark_spark/execution.py) must keep q_phrase_search's
    heavy phrase tree from being substituted-and-pushed below its
    projection — the round-12 plan audit caught the optimizer running
    the whole tokenize+positional-window tree TWICE (once in a pushed
    Filter, once in the Project; plans/r12/phrase_search_before.txt
    shows two copies of the filter lambda). The wrapper is
    element_at(shuffle(array(col)), 1): value-identical but
    nondeterministic, so today's optimizer may not duplicate it — but
    if a future Spark constant-folds single-element shuffle, the guard
    silently vanishes with no snapshot catching it (snapshots count
    exchanges, not duplicated expression trees; ADVICE r12). The phrase
    expression is the plan's only lambda, so its count IS the number
    of evaluations."""
    plan = all_query_plans["phrase_search"]
    assert plan.count("lambdafunction") == 1, (
        "phrase_search's phrase tree is evaluated more than once — "
        "computed_once no longer blocks filter-pushdown substitution"
    )
    assert "shuffle(array" in plan, (
        "computed_once's nondeterministic wrapper was optimized away — "
        "re-derive a new unfoldable identity (see skew.py docstring)"
    )


def test_plan_shapes_match_snapshot(all_query_plans):
    """Plan-shape regression gate: every query's scale-critical
    operator counts (shuffles, join strategies, Python nodes) must
    equal the pinned snapshot — a lost broadcast, a new SortMergeJoin,
    or a surprise Exchange fails here before it costs anything at
    scale. Deliberate plan changes: regenerate with
    `python scripts/snapshot_plans.py` and review the JSON diff."""
    import json
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).parent.parent / "scripts"))
    from snapshot_plans import tracked_counts

    snap = json.loads(
        (pathlib.Path(__file__).parent / "plan_snapshots.json").read_text()
    )
    missing = set(all_query_plans) - set(snap)
    assert not missing, f"queries without a pinned snapshot: {sorted(missing)}"
    for name, plan in all_query_plans.items():
        got = tracked_counts(plan)
        assert got == snap[name], (
            f"{name} plan shape drifted: {got} != pinned {snap[name]}"
        )


def test_no_percentile_buffers_in_quantile_queries(spark, sf_dir):
    """price_outliers and doc_length_winsor must route their order
    statistics through exact_group_quantiles (distribution aggregate +
    window over the compact distribution) — NO percentile aggregate
    anywhere in the plan. F.percentile is a TypedImperativeAggregate
    that buffers every group value in executor memory: a handful of
    groups x billions of rows at 100x is an OOM aggregate. (The two
    remaining F.percentile sites are deliberate: q_price_quantiles
    documents the approx trade; q_sketch_stats needs the exact
    reference to validate the sketch.)"""
    for q in (entrymod.queries()["price_outliers"], entrymod.queries()["doc_length_winsor"]):
        plan = explain_str(q(spark, sf_dir))
        assert "percentile" not in plan.lower(), (
            f"{q.__name__} plans a buffering percentile aggregate"
        )


def test_date_range_prunes_hive_partitions(spark, sf_dir, tmp_path):
    """read_date_range's half-open interval must reach the scan as
    directory-level PartitionFilters on a Hive-partitioned layout —
    and actually skip out-of-range directories: a corrupt file planted
    in an out-of-range partition never gets read through the pruned
    scan, while an unpruned full read trips over it."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    from etl_spark_spark.sources import table
    from etl_spark_spark.sources.parquet import read_date_range

    orders = table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_trunc("month", F.col("o_orderdate")).cast("date")
    )
    path = tmp_path / "orders_by_month"
    orders.write.partitionBy("order_month").parquet(str(path))
    bad = path / "order_month=2099-01-01"
    bad.mkdir()
    (bad / "junk.parquet").write_bytes(b"this is not a parquet file")

    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string, order_month date"
    )
    df = spark.read.schema(schema).parquet(str(path))
    out = read_date_range(
        df, "order_month", dt.date(1995, 1, 1), dt.date(1995, 6, 1)
    )
    plan = explain_str(out)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, "scan should expose PartitionFilters"
    assert "order_month" in pf[0] and ">=" in pf[0] and "<" in pf[0]
    # pruned read skips the poisoned directory entirely
    assert out.count() > 0
    # without pruning the corrupt partition IS read -> error
    with pytest.raises(Exception, match="[Pp]arquet|FAILED_READ_FILE"):
        df.count()


def test_group_sample_plans_window_group_limit(spark, sf_dir):
    """Per-group exact-k sampling must plan WindowGroupLimit (map-side
    per-group pruning before the exchange) — the measured winner over
    the two-phase aggregate for plain ranked top-k."""
    plan = explain_str(entrymod.queries()["doc_group_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_dynamic_partition_pruning_via_dim_filter(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a fact partitioned by month, joined
    to a filtered dim whose qualifying months are only known at
    runtime, must plan a dynamicpruning subquery on the fact scan —
    the optimizer feature that turns a dim filter into directory
    skipping at 100 TB without the user writing the month predicate."""
    from pyspark.sql import functions as F

    from etl_spark_spark.sources import table

    orders = table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_trunc("month", F.col("o_orderdate")).cast("date")
    )
    path = tmp_path / "orders_dpp"
    orders.write.partitionBy("order_month").parquet(str(path))
    fact = spark.read.parquet(str(path))
    months = (
        orders.select("order_month").distinct()
        .filter(F.col("order_month") < F.lit("1995-03-01").cast("date"))
    )
    joined = fact.join(months, "order_month")
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() > 0


def test_aqe_converts_smj_to_broadcast_at_runtime(spark, sf_dir):
    """allocation retains one SortMergeJoin at plan time (sizes of two
    derived aggregates unknown); AQE must convert it to a broadcast
    join once runtime sizes come in under threshold. Asserted on the
    FINAL adaptive plan after execution — the machine-checked form of
    the PLANS.md claim."""
    df = entrymod.queries()["allocation"](spark, sf_dir)
    # collect() drives THIS Dataset's cached QueryExecution to its
    # final adaptive plan (count() would plan a separate query)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final, "AQE should have converted the SMJ"


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: a shuffle join with one hot key must come out of
    adaptive execution with the skewed partition SPLIT
    (SortMergeJoin(skew=true) + an AQEShuffleRead marked skewed) —
    the runtime answer to key skew when salting isn't applied.
    Thresholds are scaled down so fixture-size data trips the same
    code path production sizes would."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(F.lit("x" * 80), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injected_for_selective_join(spark, sf_dir):
    """Runtime row-group filtering: with the runtime bloom-filter
    optimization enabled, a shuffle join whose build side carries a
    selective filter must inject a BloomFilter aggregate on the build
    side and a might_contain probe on the stream side — the optimizer
    feature that prunes most of a 100 TB fact scan's shuffle input
    before it is shuffled. (Off by default in this container's tuned
    session; asserted here under an explicit conf scope.)"""
    from pyspark.sql import functions as F

    from etl_spark_spark.sources import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        # the fixture fact is far under the 10GB production default
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled": "false",
        # force the SMJ path: bloom injection targets shuffle joins
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_quantity"])
        orders = table(
            spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"]
        ).filter(F.col("o_orderpriority") == "1-URGENT")
        joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "might_contain" in plan.lower(), (
            plan[:3000]
        )
        assert joined.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    """Q6: all three predicates (ship-date range, discount band,
    quantity cap) must reach the parquet scan, and the single global
    aggregate is the only exchange."""
    df = entrymod.queries()["forecast_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    plan = explain_str(df, mode="simple")
    assert plan.count("Exchange") == 1


def test_read_versioned_pushes_filters_and_prunes_columns(
    spark, sf_dir, tmp_path
):
    """Round-8 (verdict task 7): the versioned store's read path is a
    plain parquet scan of the committed snapshot, so Catalyst's
    pushdown/pruning must survive the indirection — a filter+project
    through read_versioned shows PushedFilters on the predicate column
    and a ReadSchema narrowed to the projection."""
    from pyspark.sql import functions as F

    from etl_spark_spark.sinks.versioned import read_versioned, write_version

    tbl = str(tmp_path / "vtbl")
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderstatus",
    )
    write_version(spark, src, tbl)
    q = (
        read_versioned(spark, tbl)
        .filter(F.col("o_custkey") == 7)
        .select("o_orderkey", "o_totalprice")
    )
    pushed = " ".join(pushed_filters(q))
    assert "o_custkey" in pushed, f"filter not pushed: {pushed}"
    scans = scan_schema_columns(q)
    assert scans and all(
        s <= {"o_orderkey", "o_totalprice", "o_custkey"} for s in scans
    ), f"snapshot scan reads too much: {scans}"
