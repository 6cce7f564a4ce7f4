"""Analytic-window operators.

- ``top_k_per_group`` — the reference's "best discounted sale per barcode"
  pattern (utils_superdesconto.py:91-98): row_number over a partitioned
  ordering, keep rank <= k. One shuffle on the partition keys.
- ``partitioned_sum`` — group total without collapsing rows (the
  ``sum(x) over (partition by g)`` denominator at
  utils_ressarcimento.py:229), accepted as API columns or a SQL string
  via ``F.expr`` (the reference uses both styles).
- ``bucketed_scan`` — running sums/maxima in a global or per-group
  order without a single-task window (within-bucket scans, an
  exclusive scan over the bucket totals, offsets joined back); the
  running-rank, cumulative-share, quantile, KS and skyline operators
  all run through it.

Scale note: an unbounded window over a hot key concentrates that key's
rows on one task. For top-k with few columns and heavy skew, prefer
aggregating ``max_by``/sorted structs; AQE skew handling does not split
window partitions. ``top_k_per_group`` is fine when the per-key row count
is bounded (true for all reference-shaped workloads).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[Column | str],
    order_by: Sequence[Column | str],
    k: int = 1,
    rank_col: str = "__rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Keep the top-``k`` rows per group under ``order_by``.

    Include a unique tiebreaker in ``order_by`` for deterministic results.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def top_one_per_group_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_struct: Column,
) -> DataFrame:
    """Top-1 per group as a hash aggregate (``max_by``) instead of a
    ranking window.

    Semantically identical to ``top_k_per_group(k=1)`` with a
    descending-lexicographic ordering on ``order_struct`` (a struct
    column where LARGER compares as better; negate numeric components
    to flip direction, e.g. ``F.struct(score, -ts, -id)`` = max score,
    ties to smallest ts then id).

    Why it matters at scale: a window must shuffle EVERY row to its
    key's partition and sort it; max_by partial-aggregates map-side, so
    only ~one row per key per mapper crosses the shuffle. At 100 TB /
    1000 executors that is the difference between shuffling the whole
    fact table and shuffling ~|keys| rows.
    """
    keys = list(keys)
    payload = F.struct(*[c for c in df.columns if c not in keys])
    agg = df.groupBy(*keys).agg(F.max_by(payload, order_struct).alias("__best"))
    return agg.select(*keys, "__best.*")


def partial_topk(
    df: DataFrame,
    keys: Sequence[str],
    order_struct: Column,
    k: int,
    n_salts: int = 64,
) -> DataFrame:
    """Skew-safe top-``k`` per key for k > 1 — the two-phase aggregate
    form of ``top_k_per_group`` (which see for the k=1 ``max_by``
    variant rationale).

    ``order_struct`` follows the ``top_one_per_group_agg`` convention:
    a struct where LARGER compares as better, including a unique
    tiebreaker (negate components to flip direction).

    When to use (measured, scripts/bench_skew.py): for the plain
    ``row_number + filter(rn <= k)`` shape, PREFER THE WINDOW — Spark
    >= 3.5 plans it with WindowGroupLimit, which prunes every map
    partition to its per-key top-k before the exchange, so even a key
    holding 60%+ of the data ships only ~n_mappers x k rows; this
    operator's collect_list object aggregation measured ~2.5x slower
    on a zipf replica. partial_topk remains for ordering semantics
    WindowGroupLimit cannot express — a top-k whose measure is derived
    inside the same grouped pass, engines without the rule, or a k
    large relative to per-mapper key cardinality (map-side pruning
    then keeps ~every row and the hot-key sort returns). Phase 1
    groups by (key, salt) so a hot key spreads over ``n_salts``
    reducers, each emitting at most k rows; phase 2 merges at most
    ``n_salts * k`` rows per key — bounded regardless of skew. Top-k
    is a semilattice merge, so the result is identical for any salt
    assignment; the salt is a row-content hash only to keep it
    deterministic.
    """
    keys = list(keys)
    payload = F.struct(*[c for c in df.columns if c not in keys])
    ranked = F.struct(order_struct.alias("o"), payload.alias("p"))
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    topk = lambda c: F.slice(F.sort_array(c, asc=False), 1, k)  # noqa: E731
    phase1 = df.groupBy(*keys, salt.alias("__salt")).agg(
        topk(F.collect_list(ranked)).alias("__top")
    )
    phase2 = phase1.groupBy(*keys).agg(
        topk(F.flatten(F.collect_list("__top"))).alias("__top")
    )
    return phase2.select(*keys, F.explode("__top").alias("__r")).select(
        *keys, "__r.p.*"
    )


def partitioned_sum(
    df: DataFrame,
    partition_by: Sequence[Column | str],
    value: Column | str,
    alias: str,
) -> DataFrame:
    """Attach the per-group sum of ``value`` to every row (no collapse)."""
    value_col = F.col(value) if isinstance(value, str) else value
    w = Window.partitionBy(*partition_by)
    return df.withColumn(alias, F.sum(value_col).over(w))


def partitioned_sum_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    value: Column | str,
    alias: str,
    broadcast: bool = False,
) -> DataFrame:
    """Skew-immune form of :func:`partitioned_sum`: per-group totals as
    a hash AGGREGATE joined back, instead of a window.

    Why it matters at scale: ``sum(x) over (partition by g)`` lands
    every row of a group on ONE task, and AQE cannot split window
    partitions — one dominant group (the ressarcimento hazard: a single
    supplier hierarchy holding most of the losses) serializes the whole
    stage. Here the totals aggregate partial-combines map-side (skew
    collapses into one row per group per map task) and the totals table
    is group-cardinality-sized.

    The join-back strategy is AQE's by default (``broadcast=False``):
    a fact-scale group key (l_partkey in part_share_alloc) makes the
    totals table itself fact-scaling, and a forced broadcast of it is
    an OOM at the 100 TB design point — AQE broadcasts only while the
    side is actually under the threshold and otherwise falls back to a
    shuffle join whose skew IT can split (unlike a window partition).
    Pass ``broadcast=True`` only when the group cardinality is bounded
    by construction (enum-like keys, calendar grains) — that pins the
    zero-fact-shuffle plan shape regardless of stats.

    Identical values to the window form for any input, including NULL
    group keys (null-safe join keeps the window's NULL-is-a-group
    semantics). ``partition_by`` must be column NAMES (the join-back
    needs them addressable). Column order: input columns then
    ``alias``, same as the window form.
    """
    keys = list(partition_by)
    value_col = F.col(value) if isinstance(value, str) else value
    left = df.alias("__psl")
    totals = (
        df.groupBy(*keys).agg(F.sum(value_col).alias(alias)).alias("__pst")
    )
    if broadcast:
        totals = F.broadcast(totals)
    cond = None
    for k in keys:
        c = F.col(f"__psl.{k}").eqNullSafe(F.col(f"__pst.{k}"))
        cond = c if cond is None else (cond & c)
    return left.join(totals, cond, "left").select(
        *[F.col(f"__psl.{c}") for c in df.columns],
        F.col(f"__pst.{alias}").alias(alias),
    )


def _monotone_lead_key(
    order_by: Sequence[Column | str], op_name: str
) -> Column:
    """The LEADING order expression, for the monotone-bucket guard.
    Only the first key is aggregated: the contract is that the bucket
    COARSENS the leading order expression (hour-of-ts when ordering
    by ts), so adjacent buckets must not share or interleave leading-
    key values — later keys are tie-breakers WITHIN a leading-key
    value, which by that same contract never spans buckets. Checking
    the raw leading column instead of a struct of all keys keeps the
    guard's per-row aggregate cost near zero (measured: a struct
    min/max over 5M rows cost ~67% extra wall; the plain column is
    noise). All items must be PLAIN ascending expressions — a
    SortOrder (``.desc()``/``.asc()``) can be neither aggregated nor
    negated generically, so the guard rejects it with instructions
    (descending numeric orders are expressed by negating the
    expression, which the repo's own call sites do)."""
    cols = []
    for c in order_by:
        cc = F.col(c) if isinstance(c, str) else c
        s = str(cc)
        if " DESC" in s or " ASC" in s:
            raise ValueError(
                f"{op_name}: order_by items must be plain ascending "
                f"expressions (got a sort order: {s}); express a "
                "descending numeric order by negating the expression "
                "so the monotone-bucket guard can compare order keys "
                "across buckets"
            )
        cols.append(cc)
    return cols[0]


_SCAN_AGG = {"sum": F.sum, "max": F.max}


def bucketed_scan(
    df: DataFrame,
    bucket: Column | str,
    order_by: Sequence[Column | str],
    measures: Sequence[tuple],
    partition_by: Sequence[str] = (),
    op: str = "bucketed_scan",
) -> DataFrame:
    """Running sums and maxima in a global (or per-partition) order
    WITHOUT a single-task window — the distributed prefix-scan
    decomposition every scale-safe running window in the engine uses:

    1. within-bucket inclusive scans (windows partitioned by
       ``partition_by`` + bucket — fully parallel);
    2. per-bucket totals as a plain hash aggregate over the tagged
       rows, turned into offsets by an exclusive scan over that small
       table (the only serial window per partition, sized by the
       bucket count, not the row count);
    3. the offsets joined back: result = within ⊕ offset.

    ``measures`` are ``(out_col, value, kind)`` items, ``kind`` one of
    ``"sum"``/``"max"``; one call scans them all over one sort. An
    optional fourth item names a column that receives the measure's
    per-partition total, read off the offsets table (no second
    aggregate over the rows).

    Guards, all loud and prefixed with ``op``: ``order_by`` items must
    be plain ascending expressions (negate numerics for descending)
    forming a total order within buckets; a NULL bucket raises
    ("bucket_of produced NULL"); adjacent buckets whose leading
    order-key ranges overlap raise ("not monotone") — ``bucket`` must
    coarsen the leading order expression (hour-of-ts when ordering by
    ts).

    Broadcast rule: without ``partition_by`` the offsets table is
    sized by the bucket count and is broadcast, so the row side never
    leaves its window partitioning. With ``partition_by`` (column
    NAMES) it is sized by (partition, bucket), which grows with group
    cardinality, so the join back is null-safe on the keys (a NULL key
    is a real group) and unhinted — AQE decides.

    Output: the input columns, then each ``out_col``, then each total
    column.
    """
    keys = list(partition_by)
    okey = _monotone_lead_key(order_by, op)
    tagged = df.withColumns(
        {
            "__bkt": F.col(bucket) if isinstance(bucket, str) else bucket,
            **{
                f"__v{i}": F.col(m[1]) if isinstance(m[1], str) else m[1]
                for i, m in enumerate(measures)
            },
        }
    )
    kinds = [_SCAN_AGG[m[2]] for m in measures]
    w_in = (
        Window.partitionBy(*keys, "__bkt")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = tagged.withColumns(
        {f"__w{i}": agg(f"__v{i}").over(w_in) for i, agg in enumerate(kinds)}
    )
    # totals stay a plain hash aggregate over `tagged`: deriving them
    # from the window output to share its exchange was measured and
    # rejected — exchange reuse dedups the shuffle, not the Sort +
    # Window above it (nation_theil_sen_blocked 2.2 -> 5.0 s); the
    # partial aggregate ships only per-(partition, bucket)-per-map rows
    totals = tagged.groupBy(*keys, "__bkt").agg(
        *[agg(f"__v{i}").alias(f"__t{i}") for i, agg in enumerate(kinds)],
        F.min(okey).alias("__om"),
        F.max(okey).alias("__ox"),
    )
    w_p = Window.partitionBy(*keys)
    w_lag = w_p.orderBy("__bkt")
    w_b = w_lag.rowsBetween(Window.unboundedPreceding, -1)
    excl = [agg(f"__t{i}").over(w_b) for i, agg in enumerate(kinds)]
    excl = [
        F.coalesce(e, F.lit(0)) if m[2] == "sum" else e
        for e, m in zip(excl, measures)
    ]
    tot = {i: m[3] for i, m in enumerate(measures) if len(m) > 3}
    # the guard rides every offset: a NULL bucket (its rows would miss
    # the join while its total still fed the other offsets; it sorts
    # first, so it raises first) or a bucket whose first order key is
    # reached by the previous bucket's last (the bucket is not monotone
    # and the buckets would silently interleave) raises. It sits on the
    # offsets table, not on the rows, so ``__bkt`` stays a plain alias
    # of the caller's expression and keeps any partitioning on it.
    guard = F.when(
        F.col("__bkt").isNull(),
        F.raise_error(
            F.lit(
                f"{op}: bucket_of produced NULL for a non-NULL value — "
                "the bucket expression must be a total, non-NULL "
                "coarsening of the order key"
            )
        ),
    ).when(
        F.col("__pox") >= F.col("__om"),
        F.raise_error(
            F.concat(
                F.lit(
                    f"{op}: bucket_col is not monotone in order_by — "
                    "bucket "
                ),
                F.col("__bkt").cast("string"),
                F.lit(
                    " starts at or before the previous bucket's last "
                    "order key; derive the bucket from the leading order "
                    "expression (e.g. hour-of-ts when ordering by ts)"
                ),
            )
        ),
    )
    offsets = totals.select(
        *keys,
        "__bkt",
        *[e.alias(f"__o{i}") for i, e in enumerate(excl)],
        *[kinds[i](f"__t{i}").over(w_p).alias(f"__n{i}") for i in tot],
        F.lag("__ox").over(w_lag).alias("__pox"),
        "__om",
    ).select(
        *[F.col(k).alias(f"__p{j}") for j, k in enumerate(keys)],
        F.col("__bkt").alias("__ob"),
        *[
            guard.otherwise(F.col(f"__o{i}")).alias(f"__o{i}")
            for i in range(len(measures))
        ],
        *[f"__n{i}" for i in tot],
    )
    # null-safe on the bucket too: an equi-join would infer a NOT NULL
    # filter and drop a NULL bucket's offsets row before its guard runs
    cond = F.col("__bkt").eqNullSafe(F.col("__ob"))
    for j, k in enumerate(keys):
        cond = cond & F.col(k).eqNullSafe(F.col(f"__p{j}"))
    out = {}
    for i, m in enumerate(measures):
        w, o = F.col(f"__w{i}"), F.col(f"__o{i}")
        # greatest() skips NULLs: the first bucket's max offset is NULL
        out[m[0]] = w + o if m[2] == "sum" else F.greatest(w, o)
    out.update({name: F.col(f"__n{i}") for i, name in tot.items()})
    helpers = ["__bkt", "__ob", *[f"__p{j}" for j in range(len(keys))]]
    helpers += [f"__{p}{i}" for i in range(len(measures)) for p in "vwon"]
    return (
        within.join(offsets if keys else F.broadcast(offsets), cond)
        .withColumns(out)
        .drop(*helpers)
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bucket_col: Column | str | None = None,
) -> DataFrame:
    """2-D skyline (maximization): rows not dominated by any other row
    (q dominates p iff q.x >= p.x, q.y >= p.y, and one is strict).
    Equal (x, y) duplicates dominate nothing and are all kept.

    Distributed sweep: per distinct x, the max y (hash aggregate);
    then a running max over x DESC of the struct (max y, x) through
    :func:`bucketed_scan`, expressed as ascending order on -x with the
    bucket negated. The running max at x is the best y at any x' >= x,
    ties broken to the largest x', so a row is on the frontier iff its
    y equals its x-group max AND that running max's x is its own x (no
    strictly larger x reaches its y).

    ``x_col`` must be numeric (it is negated). Rows with a NULL x
    dominate nothing and are never on the frontier. ``bucket_col``
    (default: x itself) must be monotone in x and non-NULL — both
    ENFORCED by the scan's guards; pass a coarse bucket (e.g.
    ``F.floor(F.col(x)/1000)``) when x is near-continuous so the
    serial window stays tiny.
    """
    x = F.col(x_col)
    b = (
        F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    ) if bucket_col is not None else x
    # one row per distinct x, so the within-bucket windows and the
    # bucket-offsets table are sized by distinct-x counts, not rows
    groups = (
        df.filter(x.isNotNull())
        .withColumn("__pb", -b)
        .groupBy("__pb", x_col)
        .agg(F.max(y_col).alias("__xmax"))
    )
    marks = bucketed_scan(
        groups,
        "__pb",
        [-x],
        [("__best", F.struct("__xmax", x_col), "max")],
        op="pareto_frontier_2d",
    ).select(x_col, "__xmax", F.col("__best").getField(x_col).alias("__bx"))
    return (
        # no broadcast hint: marks is sized by distinct-x — small for
        # discrete x, so AQE picks broadcast; a hint would be wrong for
        # near-continuous x
        df.join(marks, x_col)
        .filter((F.col(y_col) == F.col("__xmax")) & (F.col("__bx") == x))
        .drop("__xmax", "__bx")
    )
