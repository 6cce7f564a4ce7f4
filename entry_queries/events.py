"""The events query family. Each ``q_<name>`` function here is registry
entry ``<name>``, and ``ORACLES`` at the end maps ``<name>`` to its DuckDB
oracle SQL. See ``__spark_entry__.py`` for the driver contract."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark_spark.functions.money import money_sum, money_sum_sql
from etl_spark_spark.operators.stats import checked_measure_sql
from etl_spark_spark.sources import read_events, table
from etl_spark_spark.streaming import (
    sessionize_batch,
    sliding_agg,
    tumbling_agg,
)


def q_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props extraction + IN-list filter + grouped sums over the
    incremental-feed analog (extension surface, SURVEY.md §7)."""
    events = read_events(spark, sf_dir, with_ts=False)
    return (
        events.filter(F.col("event_type").isin("click", "view", "purchase"))
        .filter(F.col("props").isNotNull())
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            money_sum("value").alias("sum_value"),
        )
    )



def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user OLS trend of event value
    over time, via EXACT integer sufficient statistics (decimal sums +
    fixed IEEE op sequence), bit-identical to the HUGEINT SQL
    formulation in the oracle independent of partitioning/row order.
    Runs the expression-only variant — one hash aggregate, zero Python
    workers (the applyInPandas twin ``fit_group_trend_exact`` computes
    the same bits and covers unbounded group sizes; float-tolerance
    agreement with DuckDB's native regr_slope is pinned in tests).
    x is epoch-millis to respect the decimal(38) range contract."""
    from etl_spark_spark.operators.grouped import fit_group_trend_exact_sql

    events = read_events(spark, sf_dir)
    ev = events.select(
        "user_id",
        # integer DIV, not /1000.0: double division then cast is lossy
        # in the 2^50 range
        F.expr("unix_micros(ts) DIV 1000").alias("x"),
        F.col("value").alias("y"),
    )
    return fit_group_trend_exact_sql(ev, ["user_id"], "x", "y")



_USER_VALUE_TREND_SQL = """
WITH e AS (
  SELECT user_id,
         epoch_ms(ts)::HUGEINT AS x,
         CAST(round(value * 100) AS HUGEINT) AS yc
  FROM events
), s AS (
  SELECT user_id, count(*)::HUGEINT AS n,
         sum(x) AS sx, sum(yc) AS sy,
         sum(x * x) AS sxx, sum(x * yc) AS sxy
  FROM e GROUP BY user_id
), d AS (
  -- int -> double via VARCHAR: DuckDB's direct HUGEINT->DOUBLE cast
  -- rounds the two 64-bit halves separately (not correctly rounded);
  -- strtod IS correctly rounded, matching Python's float(int)
  SELECT user_id, n::BIGINT AS n,
         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS numd,
         CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS dend,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
         CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
         n * sxx - sx * sx = 0 AS degen
  FROM s
)
SELECT user_id, n,
  CASE WHEN degen THEN NULL
       ELSE numd / dend / 100.0 END AS slope,
  CASE WHEN degen THEN NULL
       ELSE syd / 100.0 / n::DOUBLE
            - (numd / dend / 100.0) * (sxd / n::DOUBLE) END AS intercept
FROM d
"""



def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch form of the streaming
    op; same transformation runs on readStream)."""
    events = read_events(spark, sf_dir)
    return tumbling_agg(
        events,
        "ts",
        "1 hour",
        [F.col("event_type")],
        [
            F.count("*").alias("n_events"),
            money_sum("value").alias("sum_value"),
        ],
    ).select("window_start", "event_type", "n_events", "sum_value")



def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: hour grain aggregated
    from raw, day grain derived from the hourly aggregate (single raw
    scan; exact via integer cents)."""
    from etl_spark_spark.streaming.windows import time_rollup_counts

    events = read_events(spark, sf_dir)
    return time_rollup_counts(
        events,
        "ts",
        ["event_type"],
        F.round(F.col("value") * 100).cast("long"),
    )



def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (5-min gap) per user: session summary."""
    events = read_events(spark, sf_dir)
    s = sessionize_batch(events, "ts", ["user_id"], gap_seconds=300)
    return s.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros(F.col("ts"))).alias("session_start_us"),
        F.count("*").alias("n_events"),
        money_sum("value").alias("sum_value"),
    )



def q_error_context_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned interval join (the scalable range-join pattern: coarse
    time-bin equi-join + exact refine, not an inequality nested loop):
    each error event matched to the same user's views within ±10 min."""
    from etl_spark_spark.operators.ranges import point_in_interval_join

    ev = read_events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        (F.unix_micros(F.col("ts")) - 600_000_000).alias("w_start"),
        (F.unix_micros(F.col("ts")) + 600_000_000).alias("w_end"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.unix_micros(F.col("ts")).alias("view_us"),
    )
    pairs = point_in_interval_join(
        errors, views, ["user_id"], "w_start", "w_end", "view_us"
    )
    return pairs.groupBy("user_id", "error_id").agg(
        F.count("*").alias("n_context_views"),
        F.min("view_id").alias("first_view_id"),
    )



def q_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the constant-memory scale path for distinct
    counts and quantiles (HLL++ and GK-quantile; both partial-merge
    aggregates). Sketch outputs are engine-specific, so the query emits
    a driver-hashable derived check per group: the exact row count
    (value-matched by the oracle) plus booleans asserting each sketch
    landed within its published error bound of the exact aggregate
    computed alongside (HLL++ default rsd 5% -> 15% = 3 sigma; GK p50
    within 5% of the exact median)."""
    li = table(spark, sf_dir, "lineitem")
    # sketches and exact references aggregate SEPARATELY, then join the
    # few-row results: a count_distinct in the same groupBy would force
    # an Expand duplicating every input row through the percentile
    # buffers too (measured 0.5 s -> 8 s warm at sf0.1 combined)
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("__approx_parts"),
        F.approx_percentile("l_extendedprice", 0.5).alias("__approx_p50"),
        F.count("*").alias("n_rows"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("__exact_parts"),
        F.percentile("l_extendedprice", 0.5).alias("__exact_p50"),
    )
    return sketches.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        (
            F.abs(F.col("__approx_parts") - F.col("__exact_parts"))
            <= 0.15 * F.col("__exact_parts")
        ).alias("distinct_ok"),
        (
            F.abs(F.col("__approx_p50") - F.col("__exact_p50"))
            <= 0.05 * F.col("__exact_p50")
        ).alias("p50_ok"),
    )



def q_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each purchase matched to the same user's
    most recent click at or before it. Spark lacks a native as-of join;
    ours is the union+window formulation (one shuffle) — the oracle is
    DuckDB's native ASOF LEFT JOIN, so the operator's semantics are
    pinned against a reference implementation."""
    from etl_spark_spark.operators.asof import asof_join

    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("purchase_us"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("click_us"),
        F.col("event_id").alias("click_id"),
    )
    return asof_join(
        purchases.withColumn("__ts", F.col("purchase_us")),
        clicks.withColumn("__ts2", F.col("click_us")),
        by=["user_id"],
        left_ts="__ts",
        right_ts="__ts2",
        payload=["click_id", "click_us"],
        # click_id/click_us derive from never-NULL event columns ->
        # the cheaper per-column carry is exactly equivalent here
        payload_non_null=True,
    ).select("user_id", "purchase_id", "purchase_us", "click_id", "click_us")



def q_events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props parsed to MapType via from_json (vs the path-string
    get_json_object in events_by_type) — §7 extension surface."""
    events = read_events(spark, sf_dir, with_ts=False)
    props_map = F.from_json(F.col("props"), "map<string,int>")
    return (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            props_map.getItem("k").alias("k_val"),
        )
    )



def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes (each event lands in 2
    windows)."""
    events = read_events(spark, sf_dir)
    return sliding_agg(
        events,
        "ts",
        "1 hour",
        "30 minutes",
        [F.col("event_type")],
        [F.count("*").alias("n_events")],
    ).select("window_start", "event_type", "n_events")



def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE sketches — the property that makes sketch aggregation
    work at 100 TB: per-returnflag HLL sketches (hll_sketch_agg) are
    UNIONED (hll_union_agg) into a grand total without rescanning the
    data, exactly how a rollup over pre-aggregated sketch tables runs
    in production. Emitted as the driver-hashable derived form: exact
    row counts value-matched by the oracle, plus booleans asserting
    each HLL estimate (per-flag AND the unioned total) within 3-sigma
    of the exact distinct count computed alongside."""
    li = table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.expr("hll_sketch_agg(l_partkey)").alias("__sk"),
        F.count_distinct("l_partkey").alias("__exact_d"),
        F.count("*").alias("n_rows"),
    )
    flags = per_flag.select(
        "l_returnflag",
        "n_rows",
        (
            F.abs(F.expr("hll_sketch_estimate(__sk)") - F.col("__exact_d"))
            <= 0.15 * F.col("__exact_d")
        ).alias("distinct_ok"),
    )
    total_exact = li.agg(
        F.count_distinct("l_partkey").alias("__exact_d"),
        F.count("*").alias("n_rows"),
    )
    total = (
        per_flag.agg(F.expr("hll_union_agg(__sk)").alias("__sk"))
        .crossJoin(total_exact)
        .select(
            F.lit("__total").alias("l_returnflag"),
            "n_rows",
            (
                F.abs(
                    F.expr("hll_sketch_estimate(__sk)") - F.col("__exact_d")
                )
                <= 0.15 * F.col("__exact_d")
            ).alias("distinct_ok"),
        )
    )
    return flags.unionByName(total)



def q_user_rolling_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, the rolling 7-day event-value
    sum at each event (rangeBetween on epoch days — a RANGE frame, not
    ROWS: all events inside the trailing week count whatever their row
    distance). One shuffle on user_id; cents-summed for bit-exactness
    against the oracle's RANGE BETWEEN frame."""
    ev = read_events(spark, sf_dir)
    day = F.expr("unix_micros(ts) DIV 86400000000")
    base = ev.select(
        "user_id",
        F.col("event_id"),
        day.alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("__cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    return base.select(
        "user_id",
        "event_id",
        "day",
        (F.sum("__cents").over(w) / 100.0).alias("week_value"),
    )



def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis (the CEP-lite shape): per 5-minute-gap
    session, the ordered event-type path and whether the session
    CONVERTED (a purchase strictly after a view). Sessionization is
    the shared one-shuffle lag/sum pass; the path is a sorted
    collect_list folded per session — array expressions, no Python."""
    from etl_spark_spark.streaming.windows import sessionize_batch

    ev = read_events(spark, sf_dir)
    sess = sessionize_batch(ev, "ts", ["user_id"], gap_seconds=300)
    rows = sess.select(
        "user_id",
        "session_id",
        F.struct(
            F.unix_micros(F.col("ts")).alias("us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
        ).alias("__e"),
    )
    ordered = rows.groupBy("user_id", "session_id").agg(
        F.array_sort(F.collect_list("__e")).alias("__es")
    )
    types = F.transform(F.col("__es"), lambda e: e["et"])
    first_view = F.array_position(types, "view")
    # last purchase = size - position of first purchase in the reversed
    # array + 1 (0 when absent)
    rev_pos = F.array_position(F.reverse(types), "purchase")
    last_purchase = F.when(
        rev_pos > 0, F.size(types) - rev_pos + 1
    ).otherwise(F.lit(0))
    return ordered.select(
        "user_id",
        "session_id",
        F.array_join(types, ">").alias("path"),
        ((first_view > 0) & (last_purchase > first_view)).alias("converted"),
    )



def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion over the event stream: per user, the
    earliest view, the earliest click AFTER that view, and the earliest
    purchase AFTER that click — then one row counting how many users
    reached each stage. One grouped pass collects each user's (ts,
    type) pairs; the staged "earliest after previous stage" logic is
    pure array expressions over that grouped row — no self-joins, no
    window over the raw stream, one shuffle total."""
    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("evs"),
    )

    def earliest(kind, after_col):
        cond = lambda e: (e["event_type"] == F.lit(kind)) & (
            e["ts"] > F.col(after_col)
        )
        return F.array_min(F.filter("evs", cond)["ts"])

    staged = (
        per_user.withColumn(
            "t_view",
            F.array_min(
                F.filter("evs", lambda e: e["event_type"] == F.lit("view"))["ts"]
            ),
        )
        .withColumn("t_click", earliest("click", "t_view"))
        .withColumn("t_purchase", earliest("purchase", "t_click"))
    )
    return staged.agg(
        F.count(F.col("t_view")).cast("long").alias("n_view"),
        F.count(F.col("t_click")).cast("long").alias("n_view_click"),
        F.count(F.col("t_purchase")).cast("long").alias("n_view_click_purchase"),
    )



def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted per week-offset of later activity — the standard cohort
    triangle. First week is a per-user min (one aggregate), offsets are
    integer date arithmetic, and the triangle is a second aggregate:
    two shuffles total on (user) then (cohort, offset)."""
    ev = read_events(spark, sf_dir).select("user_id", "ts")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = ev.select("user_id", wk.alias("week")).distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff("week", "cohort_week") / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("long").alias("n_users"))
    )



def q_events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last-observation-carried-forward): every event
    carries the user's most recent purchase value — the IGNORE NULLS
    running last_value, the window feature none of the other window
    queries exercise. One shuffle (the per-user window); no self-join,
    no driver state. Total order pinned by (ts, event_id) so the fill
    frontier is identical on both engines."""
    events = read_events(spark, sf_dir)
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(purchase_val, ignorenulls=True)
        .over(w)
        .alias("last_purchase_value"),
    )



def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: peak number of simultaneously-active
    user sessions per hour. Sessions (30-min gap rule) become +1/-1
    boundary events; the concurrency curve is their running sum in
    global (ts, delta DESC, user, session) order — computed by the
    distributed prefix-sum operator (within-hour windows + a tiny
    cross-bucket offset), NOT a single-task global window; then max per
    hour. delta DESC at ties counts endpoint-touching sessions as
    concurrent, identically in the oracle."""
    from etl_spark_spark.operators.windows import bucketed_scan
    from etl_spark_spark.streaming.windows import sessionize_batch

    ev = read_events(spark, sf_dir).select("user_id", "ts")
    sess = (
        sessionize_batch(ev, "ts", ["user_id"], 1800)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    bounds = sess.select(
        "user_id", "session_id", F.col("s").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        sess.select(
            "user_id", "session_id", F.col("e").alias("ts"),
            F.lit(-1).alias("delta"),
        )
    )
    curve = bucketed_scan(
        bounds,
        F.date_trunc("hour", "ts"),
        # -delta ascending == delta DESC (+1 before -1 at tied ts),
        # expressed as a plain expression for the monotone-bucket
        # guard (round-12)
        [F.col("ts"), (-F.col("delta")), F.col("user_id"), F.col("session_id")],
        [("concurrency", "delta", "sum")],
    )
    return (
        curve.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
                "hour"
            )
        )
        .agg(F.max("concurrency").cast("long").alias("peak_concurrency"))
    )



def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition table over each user's event
    sequence (ts, event_id total order): (from, to, n, p) with p the
    exact integer/integer share of the from-state
    (operators/grouped.py:transition_counts)."""
    from etl_spark_spark.operators.grouped import transition_counts

    ev = read_events(spark, sf_dir)
    return transition_counts(ev, "user_id", ["ts", "event_id"], "event_type")



def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, runs of consecutive active calendar
    days via the day_number - row_number() island constant
    (operators/grouped.py:activity_streaks)."""
    from etl_spark_spark.operators.grouped import activity_streaks

    ev = read_events(spark, sf_dir)
    return activity_streaks(ev, "user_id", "ts")



def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    purchase's integer cents split 40/20/40 over its view/click touches
    in the prior 24 h (operators/asof.py:position_attribution — binned
    interval join + per-conversion windows; deterministic remainder
    placement makes every credit an exact integer, so the per-channel
    sums are bit-stable integer aggregation at any scale)."""
    from etl_spark_spark.operators.asof import position_attribution

    ev = read_events(spark, sf_dir)
    conversions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.unix_micros("ts").alias("conv_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.unix_micros("ts").alias("touch_us"),
    )
    credits = position_attribution(
        touches,
        conversions,
        keys=["user_id"],
        touch_id="touch_id",
        touch_ts_us="touch_us",
        conv_id="conv_id",
        conv_ts_us="conv_us",
        cents_col="cents",
        lookback_us=86_400_000_000,
    )
    return (
        credits.join(
            touches.select("touch_id", "touch_type"),
            F.col("__touch_id") == F.col("touch_id"),
        )
        .groupBy("touch_type")
        .agg(
            F.sum("attributed_cents").alias("attributed_cents"),
            F.count("*").alias("n_touch_credits"),
        )
    )



def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the VARIANT type (Spark 4):
    parse_json once, variant_get typed extraction, then aggregate —
    the open-schema path when JSON payloads are too heterogeneous for
    a fixed struct (the MapType companion query pins the closed-schema
    path). Oracle: DuckDB JSON extraction of the same field."""
    ev = read_events(spark, sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )



def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean event value per user: each event's value
    holds until the user's next event (sampled-state semantics — the
    right mean for irregular time series, where the plain mean
    over-weights bursts). Weighted sums are exact integer
    cents x microseconds in decimal(38,0); the final division is the
    usual oracle-mirrored exact-int IEEE step."""
    from pyspark.sql import Window as W

    ev = read_events(spark, sf_dir).select(
        "user_id",
        F.col("event_id"),
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    seg = ev.withColumn("next_us", F.lead("us").over(w)).filter(
        F.col("next_us").isNotNull()
    )
    s = seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("next_us") - F.col("us")).alias("active_us"),
        F.sum(
            (F.col("cents") * (F.col("next_us") - F.col("us"))).cast(
                "decimal(38,0)"
            )
        ).alias("wsum"),
    )
    return s.select(
        "user_id",
        "n_segments",
        "active_us",
        (
            F.col("wsum").cast("double")
            / F.col("active_us").cast("double")
        ).alias("tw_cents"),
    )



def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup->first-purchase latency, exact quartiles per signup-day
    cohort: two min-aggregates (first signup, first purchase at or
    after it), then operators/stats.py:exact_group_quantiles over the
    integer-microsecond latencies — funnel timing analytics with no
    approx-percentile error. (Distinct microsecond latencies scale
    with the fact; if a cohort's distribution outgrows one task, the
    decomposed form is a drop-in: scalable_group_quantiles with e.g.
    bucket_of=latency_us div 3_600_000_000 — bit-identical, same
    oracle, see q_price_quartiles_scalable.)"""
    from etl_spark_spark.operators.stats import exact_group_quantiles

    ev = read_events(spark, sf_dir)
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("signup_us"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    conv = (
        signups.join(purchases, "user_id")
        .filter(F.col("p_us") >= F.col("signup_us"))
        .groupBy("user_id", "signup_us")
        .agg(F.min("p_us").alias("first_purchase_us"))
        .select(
            F.date_format(
                F.timestamp_micros(F.col("signup_us")), "yyyy-MM-dd"
            ).alias("cohort_day"),
            (F.col("first_purchase_us") - F.col("signup_us")).alias(
                "latency_us"
            ),
        )
    )
    return exact_group_quantiles(conv, ["cohort_day"], "latency_us")



_EVENT_TRANSITIONS_SQL = """
WITH s AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_state
  FROM events
), c AS (
  SELECT from_state, to_state, count(*) AS n
  FROM s WHERE to_state IS NOT NULL GROUP BY 1, 2
)
SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE)
         / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE) AS p
FROM c
"""


_USER_ACTIVITY_STREAKS_SQL = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
g AS (
  SELECT user_id, day,
         (day - DATE '1970-01-01')
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
s AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS longest_streak
FROM s GROUP BY user_id
"""




_MULTI_TOUCH_ATTRIBUTION_SQL = """
WITH conv AS (
  SELECT user_id, event_id AS conv_id, epoch_us(ts) AS cts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT user_id, event_id AS touch_id, event_type AS touch_type,
         epoch_us(ts) AS tts
  FROM events WHERE event_type IN ('view', 'click')
), paired AS (
  SELECT c.conv_id, c.cents, t.touch_id, t.touch_type, t.tts
  FROM conv c JOIN t ON c.user_id = t.user_id
  WHERE t.tts BETWEEN c.cts - 86400000000 AND c.cts - 1
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY conv_id ORDER BY tts, touch_id) AS rn,
         CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
  FROM paired
), credit AS (
  SELECT touch_type,
         CASE WHEN n = 1 THEN cents
              WHEN n = 2 THEN CASE WHEN rn = 1 THEN cents - cents // 2
                                   ELSE cents // 2 END
              WHEN rn = 1 THEN cents - (cents * 40 // 100) - (cents * 20 // 100)
              WHEN rn = n THEN cents * 40 // 100
              ELSE (cents * 20 // 100) // (n - 2)
                   + CASE WHEN rn - 1 <= (cents * 20 // 100) % (n - 2)
                          THEN 1 ELSE 0 END
         END AS ac
  FROM r
)
SELECT touch_type,
       CAST(sum(ac) AS BIGINT) AS attributed_cents,
       CAST(count(*) AS BIGINT) AS n_touch_credits
FROM credit GROUP BY touch_type
"""



def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness (the engagement ratio product teams track):
    per active day, distinct daily actives, trailing-28-day distinct
    actives, and their exact ratio. The trailing-window distinct is
    computed by FANNING each (user, day) row out to the 28 days it
    supports (map-side sequence+explode) and hash-aggregating distinct
    users per day — no per-day range self-join, no giant window state;
    the fanout factor is the fixed window length, independent of data
    volume."""
    ev = read_events(spark, sf_dir)
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 27))
        ).alias("day"),
    )
    mau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(mau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau").cast("double")).alias(
                "stickiness"
            ),
        )
    )



def q_purchase_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for days-to-first-purchase with
    right censoring (users who never purchase are censored at their
    last observed event) — the churn/conversion survival analysis a
    plain conversion rate can't give. Per-user observation built from
    three min/max aggregates; the curve itself is a distribution
    aggregate over distinct day values + the distributed prefix sum
    (at-risk counts) + a log-space cumulative product, micro-scaled
    because exp/ln are 1-ulp engine-divergent (ORACLE_NOTES.md)."""
    from etl_spark_spark.operators.windows import bucketed_scan

    ev = read_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    obs = per_user.select(
        F.when(
            F.col("first_purchase").isNotNull(),
            F.datediff(F.to_date("first_purchase"), F.to_date("first_ts")),
        )
        .otherwise(F.datediff(F.to_date("last_ts"), F.to_date("first_ts")))
        .alias("t"),
        F.col("first_purchase").isNotNull().cast("long").alias("event"),
    )
    dist = obs.groupBy("t").agg(
        F.sum("event").alias("d"),
        F.sum(1 - F.col("event")).alias("c"),
    )
    cum = bucketed_scan(
        dist.withColumn("__rm", F.col("d") + F.col("c")),
        F.col("t"),
        ["t"],
        [("__cumrm", "__rm", "sum", "__n")],
    ).withColumn("n_risk", F.col("__n") - (F.col("__cumrm") - F.col("__rm")))
    # d == n_risk drives survival to EXACTLY zero (ln(0) is undefined):
    # carry it as an absorbing flag via a prefix sum of indicators
    lnf = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    zero = (F.col("d") == F.col("n_risk")).cast("long")
    cum = bucketed_scan(
        cum.withColumn("__lnf", lnf).withColumn("__z", zero),
        F.col("t"),
        ["t"],
        [("__cumln", "__lnf", "sum"), ("__cumz", "__z", "sum")],
    )
    surv = F.when(
        F.col("__cumz") > 0, F.lit(0).cast("long")
    ).otherwise(F.round(F.exp("__cumln") * 1e6).cast("long"))
    return cum.filter(F.col("d") > 0).select(
        "t", "n_risk", "d", "c", surv.alias("survival_micro")
    )


_EVENTS_BY_TYPE_SQL = f"""
SELECT event_type,
       count(*) AS n_events,
       -- BIGINT cast: DuckDB sum(int) yields HUGEINT -> float64 in
       -- pandas, which would hash as 3.0 vs Spark's 3
       CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
       {money_sum_sql("value")} AS sum_value
FROM events
WHERE event_type IN ('click', 'view', 'purchase') AND props IS NOT NULL
GROUP BY event_type
"""


_EVENTS_TUMBLING_SQL = f"""
SELECT strftime(time_bucket(INTERVAL 1 hour, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       {money_sum_sql("value")} AS sum_value
FROM events
GROUP BY 1, 2
"""


_TIME_ROLLUP_GRAIN = """
SELECT '{g}' AS grain,
       strftime(time_bucket(INTERVAL {iv}, ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
       event_type,
       count(*) AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY 1, 2, 3
"""


_EVENTS_TIME_ROLLUP_SQL = (
    _TIME_ROLLUP_GRAIN.format(g="hour", iv="1 HOUR")
    + " UNION ALL "
    + _TIME_ROLLUP_GRAIN.format(g="day", iv="1 DAY")
)


_EVENTS_SESSIONIZE_SQL = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
m AS (
    SELECT user_id, us, value,
           CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w >= 300000000
                THEN 1 ELSE 0 END AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
s AS (
    SELECT user_id, us, value,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING
           ) - 1 AS BIGINT) AS session_id
    FROM m
)
SELECT user_id, session_id,
       min(us) AS session_start_us,
       count(*) AS n_events,
       {money_sum_sql("value")} AS sum_value
FROM s GROUP BY 1, 2
"""


_ERROR_CONTEXT_SQL = """
WITH e AS (
    SELECT user_id, event_id AS error_id,
           epoch_us(ts) - 600000000 AS w_start,
           epoch_us(ts) + 600000000 AS w_end
    FROM events WHERE event_type = 'error'
),
v AS (
    SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
    FROM events WHERE event_type = 'view'
)
SELECT e.user_id, e.error_id,
       count(*) AS n_context_views,
       min(v.view_id) AS first_view_id
FROM e JOIN v
  ON e.user_id = v.user_id
 AND v.view_us >= e.w_start AND v.view_us <= e.w_end
GROUP BY 1, 2
"""


_PURCHASE_LAST_CLICK_SQL = """
WITH p AS (
    SELECT user_id, epoch_us(ts) AS purchase_us, event_id AS purchase_id
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id
    FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.purchase_id, p.purchase_us, c.click_id, c.click_us
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.purchase_us >= c.click_us
"""


_EVENTS_PROPS_MAP_SQL = """
SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k_val
FROM events WHERE event_type = 'purchase'
"""


_EVENTS_SLIDING_SQL = """
WITH w AS (
    SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, event_type FROM events
    UNION ALL
    SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, event_type
    FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       count(*) AS n_events
FROM w GROUP BY 1, 2
"""


_SKETCH_STATS_SQL = """
SELECT l_returnflag, count(*) AS n_rows,
       true AS distinct_ok, true AS p50_ok
FROM lineitem GROUP BY l_returnflag
"""


_SKETCH_ROLLUP_SQL = """
SELECT l_returnflag, count(*) AS n_rows, true AS distinct_ok
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT '__total', count(*), true FROM lineitem
"""


_USER_ROLLING_VALUE_SQL = """
WITH e AS (
    SELECT user_id, event_id,
           epoch_us(ts) // 86400000000 AS day,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
)
SELECT user_id, event_id, day,
       sum(cents) OVER (
           PARTITION BY user_id ORDER BY day
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) / 100.0 AS week_value
FROM e
"""


_SESSION_PATHS_SQL = """
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
m AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w >= 300000000
                   THEN 1 ELSE 0 END AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
s AS (
    SELECT *, CAST(sum(is_new) OVER (
                  PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING
              ) - 1 AS BIGINT) AS session_id
    FROM m
),
r AS (
    SELECT *, row_number() OVER (
                  PARTITION BY user_id, session_id ORDER BY us, event_id
              ) AS rn
    FROM s
)
SELECT user_id, session_id,
       string_agg(event_type, '>' ORDER BY us, event_id) AS path,
       coalesce(
           min(CASE WHEN event_type = 'view' THEN rn END)
           < max(CASE WHEN event_type = 'purchase' THEN rn END),
           false
       ) AS converted
FROM r GROUP BY user_id, session_id
"""


_EVENT_FUNNEL_SQL = """
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN pu USING (user_id)
  WHERE e.event_type = 'click' AND pu.t_view IS NOT NULL AND e.ts > pu.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT count(t_view)::BIGINT AS n_view,
       (SELECT count(*) FROM c)::BIGINT AS n_view_click,
       (SELECT count(*) FROM p)::BIGINT AS n_view_click_purchase
FROM pu
"""


_USER_RETENTION_COHORTS_SQL = """
WITH firsts AS (
  SELECT user_id, min(date_trunc('week', ts)::DATE) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week FROM events
)
SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
       ((week - cohort_week) // 7)::BIGINT AS week_offset,
       count(*)::BIGINT AS n_users
FROM active JOIN firsts USING (user_id)
GROUP BY 1, 2
"""



_EVENTS_FORWARD_FILL_SQL = """
SELECT event_id, user_id, event_type,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_purchase_value
FROM events
"""


def q_session_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session concurrency NEIGHBORS: for every user session
    (30-min gap rule, identical to q_concurrent_sessions), how many
    OTHER users' sessions overlapped it in time — the interval x
    interval companion to the sweep-line peak curve (who was on at
    the same time, not just how many). The pair join is the
    bin-exploded equi-join with canonical-bin dedup
    (operators/ranges.py:interval_overlap_join — never a
    BroadcastNestedLoopJoin over the inequality), hour bins; zero-
    overlap sessions kept with 0 via a null-safe join-back. Scale
    note: enumerating overlap PAIRS is inherently quadratic in
    instantaneous concurrency — this query returns the LINEAR
    per-session counts; for the global curve use the sweep-line form."""
    from etl_spark_spark.operators.ranges import interval_overlap_join
    from etl_spark_spark.streaming.windows import sessionize_batch

    ev = read_events(spark, sf_dir).select("user_id", "ts")
    sess = (
        sessionize_batch(ev, "ts", ["user_id"], 1800)
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            F.unix_micros(F.max("ts")).alias("e_us"),
        )
    )
    a = sess.select(*[F.col(c).alias(f"a_{c}") for c in sess.columns])
    b = sess.select(*[F.col(c).alias(f"b_{c}") for c in sess.columns])
    pairs = interval_overlap_join(
        a, b, [], "a_s_us", "a_e_us", "b_s_us", "b_e_us",
        bin_size=3_600_000_000,
    )
    counts = (
        pairs.filter(F.col("a_user_id") != F.col("b_user_id"))
        .groupBy("a_user_id", "a_session_id")
        .agg(F.count("*").alias("n_concurrent"))
    )
    return (
        sess.join(
            counts,
            (F.col("user_id") == F.col("a_user_id"))
            & (F.col("session_id") == F.col("a_session_id")),
            "left",
        )
        .select(
            "user_id",
            "session_id",
            F.coalesce(F.col("n_concurrent"), F.lit(0)).cast("long").alias(
                "n_concurrent"
            ),
        )
    )


_SESSION_OVERLAP_COUNTS_SQL = """
WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
m AS (
    SELECT user_id, ts, us,
           CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w >= 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
sess_ev AS (
    SELECT user_id, us,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING
           ) - 1 AS BIGINT) AS session_id
    FROM m
),
sess AS (
    SELECT user_id, session_id, min(us) AS s_us, max(us) AS e_us
    FROM sess_ev GROUP BY 1, 2
),
counts AS (
    SELECT a.user_id, a.session_id, count(*) AS n_concurrent
    FROM sess a JOIN sess b
      ON a.s_us <= b.e_us AND b.s_us <= a.e_us
     AND a.user_id <> b.user_id
    GROUP BY 1, 2
)
SELECT s.user_id, s.session_id,
       CAST(coalesce(c.n_concurrent, 0) AS BIGINT) AS n_concurrent
FROM sess s LEFT JOIN counts c
  ON c.user_id = s.user_id AND c.session_id = s.session_id
"""


_CONCURRENT_SESSIONS_SQL = """
WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
m AS (
    SELECT user_id, ts, us,
           CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w >= 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
sess_ev AS (
    SELECT user_id, ts,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING
           ) - 1 AS BIGINT) AS session_id
    FROM m
),
sess AS (
    SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
    FROM sess_ev GROUP BY 1, 2
),
bounds AS (
    SELECT user_id, session_id, s AS ts, 1 AS delta FROM sess
    UNION ALL
    SELECT user_id, session_id, e AS ts, -1 AS delta FROM sess
),
curve AS (
    SELECT ts,
           sum(delta) OVER (
               ORDER BY ts, delta DESC, user_id, session_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS concurrency
    FROM bounds
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       CAST(max(concurrency) AS BIGINT) AS peak_concurrency
FROM curve
GROUP BY hour
"""


_EVENTS_PROPS_VARIANT_SQL = """
WITH k AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS k_sum,
       min(k) AS k_min,
       max(k) AS k_max
FROM k GROUP BY event_type
"""



_TIME_WEIGHTED_VALUE_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), seg AS (
  SELECT user_id, us, cents,
         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
  FROM ev
), s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(next_us - us) AS BIGINT) AS active_us,
         sum(cents * (next_us - us)) AS wsum
  FROM seg WHERE next_us IS NOT NULL GROUP BY user_id
)
SELECT user_id, n_segments, active_us,
       CAST(CAST(wsum AS VARCHAR) AS DOUBLE) / CAST(active_us AS DOUBLE)
         AS tw_cents
FROM s
"""



_CONVERSION_LATENCY_SQL = f"""
WITH s AS (
  SELECT user_id, min(epoch_us(ts)) AS signup_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), p AS (
  SELECT user_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
), conv AS (
  SELECT strftime(make_timestamp(s.signup_us), '%Y-%m-%d') AS cohort_day,
         min(p.p_us) - s.signup_us AS latency_us
  FROM s JOIN p ON s.user_id = p.user_id AND p.p_us >= s.signup_us
  GROUP BY s.user_id, s.signup_us
), dist AS (
  SELECT cohort_day,
         {checked_measure_sql('latency_us', 'exact_group_quantiles', 'latency_us')} AS v,
         count(*) AS c
  FROM conv GROUP BY 1, 2
), cum AS (
  SELECT cohort_day, v, c,
         sum(c) OVER (PARTITION BY cohort_day ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY cohort_day) AS n
  FROM dist
)
SELECT cohort_day, CAST(max(n) AS BIGINT) AS n,
       min(CASE WHEN cum >= ceil(0.25 * n) THEN v END) AS q25,
       min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS q50,
       min(CASE WHEN cum >= ceil(0.75 * n) THEN v END) AS q75
FROM cum GROUP BY cohort_day
"""



_DAU_MAU_STICKINESS_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), dau AS (
  SELECT d AS day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1
), contrib AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                                     CAST(d AS TIMESTAMP) + INTERVAL 27 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM ud
), mau AS (
  SELECT day, count(DISTINCT user_id) AS mau FROM contrib GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(dau AS BIGINT) AS dau, CAST(mau AS BIGINT) AS mau,
       CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness
FROM dau JOIN mau USING (day)
"""



_PURCHASE_SURVIVAL_KM_SQL = """
WITH per_user AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
  FROM events GROUP BY 1
), obs AS (
  SELECT CASE WHEN fp IS NOT NULL
              THEN date_diff('day', CAST(first_ts AS DATE), CAST(fp AS DATE))
              ELSE date_diff('day', CAST(first_ts AS DATE),
                             CAST(last_ts AS DATE)) END AS t,
         CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM per_user
), dist AS (
  SELECT t, sum(event) AS d, sum(1 - event) AS c FROM obs GROUP BY 1
), cum AS (
  SELECT t, d, c,
         sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumrm,
         sum(d + c) OVER () AS n
  FROM dist
), k AS (
  SELECT t, d, c, n - (cumrm - (d + c)) AS n_risk FROM cum
), l AS (
  SELECT t, d, c, n_risk,
         CASE WHEN d > 0 AND d < n_risk
              THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
              ELSE 0.0 END AS lnf,
         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS z
  FROM k
), s AS (
  SELECT t, d, c, n_risk,
         sum(lnf) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cumln,
         sum(z) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cumz
  FROM l
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
       CAST(c AS BIGINT) AS c,
       CASE WHEN cumz > 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(round(exp(cumln) * 1e6) AS BIGINT) END
         AS survival_micro
FROM s WHERE d > 0
"""


ORACLES: dict[str, str] = {
    "events_by_type": _EVENTS_BY_TYPE_SQL,
    "event_funnel": _EVENT_FUNNEL_SQL,
    "user_retention_cohorts": _USER_RETENTION_COHORTS_SQL,
    "events_tumbling": _EVENTS_TUMBLING_SQL,
    "events_time_rollup": _EVENTS_TIME_ROLLUP_SQL,
    "events_sessionize": _EVENTS_SESSIONIZE_SQL,
    "events_props_map": _EVENTS_PROPS_MAP_SQL,
    "events_sliding": _EVENTS_SLIDING_SQL,
    "purchase_last_click": _PURCHASE_LAST_CLICK_SQL,
    "error_context_views": _ERROR_CONTEXT_SQL,
    "user_value_trend": _USER_VALUE_TREND_SQL,
    "events_forward_fill": _EVENTS_FORWARD_FILL_SQL,
    "event_transitions": _EVENT_TRANSITIONS_SQL,
    "user_activity_streaks": _USER_ACTIVITY_STREAKS_SQL,
    "multi_touch_attribution": _MULTI_TOUCH_ATTRIBUTION_SQL,
    "events_props_variant": _EVENTS_PROPS_VARIANT_SQL,
    "time_weighted_value": _TIME_WEIGHTED_VALUE_SQL,
    "conversion_latency": _CONVERSION_LATENCY_SQL,
    "concurrent_sessions": _CONCURRENT_SESSIONS_SQL,
    "session_overlap_counts": _SESSION_OVERLAP_COUNTS_SQL,
    "sketch_stats": _SKETCH_STATS_SQL,
    "user_rolling_value": _USER_ROLLING_VALUE_SQL,
    "session_paths": _SESSION_PATHS_SQL,
    "sketch_rollup": _SKETCH_ROLLUP_SQL,
    "dau_mau_stickiness": _DAU_MAU_STICKINESS_SQL,
    "purchase_survival_km": _PURCHASE_SURVIVAL_KM_SQL,
}
