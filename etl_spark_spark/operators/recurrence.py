"""Sequential recurrences over bounded per-group series.

EWMA (exponential smoothing) is the canonical "naively sequential"
analytic: s_1 = x_1, s_t = alpha*x_t + (1-alpha)*s_{t-1}. A window
cannot express it (the state is a product chain, not a sum), and a
driver loop would not scale. The engine form exploits the same
contract stock_balance_floor documents: the recurrence runs over
PER-GROUP AGGREGATED series (daily/hourly grains), so a group's series
is calendar-bounded (thousands of points), while the number of groups
scales with the data. One shuffle to the group, then the fold runs
inside higher-order array expressions (collect -> sort -> prefix
folds) — pure JVM codegen, no Python, no driver state.

Cross-engine exactness: the fold is a fixed left-to-right chain of
IEEE multiply/adds over the same operands in the same order, so Spark
and the DuckDB mirror (list_reduce over list_slice prefixes) compute
bit-identical doubles; outputs are milli-quantized like every other
transcendental-free double in the repo (ORACLE_NOTES rung 4 without
the ulp caveat — no ln/exp/pow anywhere).

Per-group cost is O(n^2) in series length (each element folds its
prefix) — deliberate: at the documented calendar-bounded grain
(n <= ~5000) that is ~12M fused double ops per group, microseconds,
and it buys an oracle-replayable, state-free plan. For unbounded
series use :func:`ewma_scalable` (round 11): the same bucket
decomposition as :func:`windows.bucketed_scan` with the
affine-composition carry (A, B)∘(A', B') = (A·A', A·B' + B),
per-bucket bounded folds, one bucket-count-sized serial step per
group. It does not run through ``bucketed_scan``: its carry is a
per-group array fold of (A, B) pairs, not a sum/max window, and its
numerics are pinned (tests/test_retrieval_stats.py).

Reference scope: no recurrences in the etl-spark reference; SURVEY §7
time-series extension (trend/seasonality screens for training-data
telemetry).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ewma_grouped(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float,
    scale: int = 1000,
    max_series: int | None = 5000,
) -> DataFrame:
    """Per-group EWMA of ``value_col`` in ``order_col`` order:
    s_1 = x_1, s_t = alpha*x_t + (1-alpha)*s_{t-1}, emitted per input
    row as ``ewma_scaled`` = round(s_t * scale) (int64).

    ``order_col`` must be unique per group (an aggregated grain —
    day, hour); the series per group must be bounded (see module
    docstring). Output shape is EXACTLY (group_cols..., order_col,
    value_col, ewma_scaled) — other input columns are not carried
    (they would have to ride the group pack; select them back by key
    if needed).

    NULL values FAIL LOUDLY (raise_error) rather than silently
    diverging: a NULL poisons the fold differently per engine (a
    NULL-init fold would re-seed after it, DuckDB's list_reduce
    propagates it forever), and a NULL measurement has no defined
    smoothing semantics anyway — aggregate grains produce non-NULL
    values. The SQL mirror errors identically.

    The bounded-series contract is ENFORCED, not just documented: a
    group whose series exceeds ``max_series`` (default = the module's
    documented calendar bound) raises loudly in both engines instead
    of silently running an O(n²) fold on an unbounded series — the
    failure mode of feeding a raw event stream where an aggregated
    grain was meant. Pass ``max_series=None`` to disable (eval only).
    For genuinely unbounded series use :func:`ewma_scalable`.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if max_series is not None and max_series <= 0:
        raise ValueError(f"max_series must be positive, got {max_series}")
    keys = list(group_cols)
    a = F.lit(float(alpha))
    checked_v = F.when(
        F.col(value_col).isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"ewma_grouped: NULL {value_col} at {order_col}="),
                F.col(order_col).cast("string"),
            )
        ).cast("double"),
    ).otherwise(F.col(value_col).cast("double"))
    packed = df.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("o"),
                    checked_v.alias("v"),
                )
            )
        ).alias("__ser")
    )

    if max_series is None:
        ser_checked = F.col("__ser")
    else:
        ser_checked = F.when(
            F.size(F.col("__ser")) <= F.lit(int(max_series)),
            F.col("__ser"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "ewma_grouped: series length "
                    ),
                    F.size(F.col("__ser")).cast("string"),
                    F.lit(f" exceeds max_series={int(max_series)}"),
                )
            )
        )

    def _prefix_fold(i: Column) -> Column:
        # fold elements 1..i+1 left-to-right; NULL init = "first
        # element seeds the state" (s_1 = x_1), mirroring DuckDB's
        # init-free list_reduce
        return F.aggregate(
            F.slice(ser_checked, F.lit(1), i + 1),
            F.lit(None).cast("double"),
            lambda acc, x: F.when(acc.isNull(), x["v"]).otherwise(
                a * x["v"] + (F.lit(1.0) - a) * acc
            ),
        )

    exploded = packed.select(
        *keys,
        F.posexplode("__ser").alias("__i", "__x"),
        F.col("__ser"),
    ).select(
        *keys,
        F.col("__x.o").alias(order_col),
        F.col("__x.v").alias(value_col),
        F.round(_prefix_fold(F.col("__i")) * F.lit(float(scale)))
        .cast("long")
        .alias("ewma_scaled"),
    )
    return exploded


def ewma_scalable(
    df: DataFrame,
    group_cols: Sequence[str],
    bucket_col: Column | str,
    order_col: str,
    value_col: str,
    alpha: float,
    scale: int = 1000,
    max_bucket_series: int = 5000,
) -> DataFrame:
    """EWMA for UNBOUNDED per-group series — the affine-composition
    carry the module docstring promised (round-11, VERDICT r10 task 7).

    The law: each observation is the affine state map s -> a·x + b·s
    with a = alpha, b = 1 - alpha; affine maps compose as
    (A2, B2)∘(A1, B1) = (A2·A1, A2·B1 + B2), so any contiguous run of
    observations collapses to ONE (A, B) pair computable by a local
    fold. That turns the sequential recurrence into the
    bucketed prefix-scan decomposition (``windows.bucketed_scan``):

    1. rows bucket by ``bucket_col`` (must be MONOTONE in the global
       per-group order — a month bucket when ordering by day, the same
       contract as bucketed_scan; ENFORCED since round-12: each
       bucket's min/max order key rides the ends aggregate and
       overlapping adjacent buckets raise loudly instead of silently
       composing carries out of order); each (group, bucket) packs
       its sorted series and computes per-position prefix maps
       (A_t, B_t) plus the seed-fold value (s_1 = x_1 semantics) —
       bounded O(n²) folds, n <= ``max_bucket_series`` enforced
       loudly;
    2. per-bucket END maps compose across buckets inside one small
       per-group array fold (bucket-count-sized, the only serial
       step), yielding each bucket's incoming state s_in — NULL for
       the group's first bucket (seed semantics);
    3. each row emits A_t·s_in + B_t (or the seed fold where s_in is
       NULL). The join of carries back to rows is keyed on
       (group, bucket) and deliberately UNHINTED — groups × buckets
       scales with the data (round-11 broadcast audit).

    Numerical contract: the first bucket of every group reproduces
    :func:`ewma_grouped` BIT-identically (same fold, same operand
    order). Later buckets recombine through A_t·s_in + B_t, which is
    algebraically equal but associates differently, so raw doubles may
    differ from the sequential fold by ulps (relative error O(n·eps));
    the milli-quantized outputs agree except on exact rounding
    boundaries — the equivalence is PINNED on the fixture
    (tests/test_retrieval_stats.py) rather than claimed universally.
    NULL values raise identically to ewma_grouped.

    Output shape: (group_cols..., order_col, value_col, ewma_scaled)
    — identical to ewma_grouped, so the two forms are drop-in
    equivalents at their respective scales.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if max_bucket_series <= 0:
        raise ValueError(
            f"max_bucket_series must be positive, got {max_bucket_series}"
        )
    keys = list(group_cols)
    a = F.lit(float(alpha))
    b = F.lit(1.0) - a
    bcol = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    checked_v = F.when(
        F.col(value_col).isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"ewma_scalable: NULL {value_col} at {order_col}="),
                F.col(order_col).cast("string"),
            )
        ).cast("double"),
    ).otherwise(F.col(value_col).cast("double"))
    packed = df.groupBy(*keys, bcol.alias("__bkt")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("o"),
                    checked_v.alias("v"),
                )
            )
        ).alias("__ser")
    )

    def _guard(i: Column) -> Column:
        return F.when(
            F.size(F.col("__ser")) <= F.lit(int(max_bucket_series)), i
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ewma_scalable: bucket series length "),
                    F.size(F.col("__ser")).cast("string"),
                    F.lit(
                        f" exceeds max_bucket_series="
                        f"{int(max_bucket_series)}"
                    ),
                )
            ).cast("int")
        )

    def _prefix(i: Column, init: Column, fold) -> Column:
        return F.aggregate(F.slice(F.col("__ser"), F.lit(1), i + 1), init, fold)

    fold_b = lambda acc, x: a * x["v"] + b * acc  # noqa: E731
    fold_a = lambda acc, x: acc * b  # noqa: E731
    fold_seed = lambda acc, x: F.when(acc.isNull(), x["v"]).otherwise(  # noqa: E731
        a * x["v"] + b * acc
    )
    null_d = F.lit(None).cast("double")

    last = F.size(F.col("__ser")) - 1
    # __ser is sorted by (order, value), so elements 1 and -1 carry the
    # bucket's min/max order key — the raw material for the monotone-
    # bucket guard below (round-12: previously a docstring-only
    # contract; a non-monotone bucket silently composed carries out of
    # order)
    ends = packed.select(
        *keys,
        "__bkt",
        _prefix(_guard(last), F.lit(1.0), fold_a).alias("__ae"),
        _prefix(last, F.lit(0.0), fold_b).alias("__be"),
        _prefix(last, null_d, fold_seed).alias("__se"),
        F.element_at(F.col("__ser"), 1)["o"].alias("__om"),
        F.element_at(F.col("__ser"), -1)["o"].alias("__ox"),
    )
    grouped_ends = ends.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("__bkt").alias("b"),
                    F.col("__ae").alias("a"),
                    F.col("__be").alias("bb"),
                    F.col("__se").alias("se"),
                    F.col("__om").alias("om"),
                    F.col("__ox").alias("ox"),
                )
            )
        ).alias("__bs")
    )
    # loud monotone-bucket guard: adjacent buckets (in bucket-value
    # order, the order the carry fold uses) must not overlap in
    # order_col — bucket i's max order key must precede bucket i+1's
    # min; the check is bucket-count-sized, riding the same tiny array
    n_adj = F.greatest(F.size("__bs") - 1, F.lit(0))
    overlap = F.exists(
        F.zip_with(
            F.slice(F.col("__bs"), F.lit(1), n_adj),
            F.slice(F.col("__bs"), F.lit(2), n_adj),
            lambda p, n: p["ox"] >= n["om"],
        ),
        lambda z: z,
    )
    # s_in(bucket i) = fold over buckets 0..i-1 (exclusive prefix);
    # empty slice + NULL init = NULL = "no prior state"
    carries = grouped_ends.select(
        *keys,
        F.posexplode("__bs").alias("__i", "__m"),
        F.col("__bs"),
    ).select(
        *keys,
        F.col("__m.b").alias("__bkt"),
        F.when(
            overlap,
            F.raise_error(
                F.lit(
                    f"ewma_scalable: bucket_col is not monotone in "
                    f"{order_col} order — adjacent buckets overlap, so "
                    "the affine carries would compose out of order; "
                    "derive the bucket from the order column (e.g. "
                    "month when ordering by day)"
                )
            ).cast("double"),
        )
        .otherwise(
            F.aggregate(
                F.slice(F.col("__bs"), F.lit(1), F.col("__i")),
                null_d,
                lambda acc, m: F.when(acc.isNull(), m["se"]).otherwise(
                    m["a"] * acc + m["bb"]
                ),
            )
        )
        .alias("__sin"),
    )
    rows = packed.select(
        *keys,
        "__bkt",
        F.posexplode("__ser").alias("__i", "__x"),
        F.col("__ser"),
    ).select(
        *keys,
        "__bkt",
        F.col("__x.o").alias(order_col),
        F.col("__x.v").alias(value_col),
        _prefix(_guard(F.col("__i")), F.lit(1.0), fold_a).alias("__at"),
        _prefix(F.col("__i"), F.lit(0.0), fold_b).alias("__bt"),
        _prefix(F.col("__i"), null_d, fold_seed).alias("__st"),
    )
    # NULL-SAFE carry join: groupBy treats a NULL group key (or NULL
    # bucket) as a group, so the join-back must too — a name-list join
    # would silently DROP those rows, diverging from ewma_grouped's
    # output (caught by the round-11 pre-close self-review)
    rows_a = rows.alias("__ewr")
    car_a = carries.alias("__ewc")
    cond = F.col("__ewr.__bkt").eqNullSafe(F.col("__ewc.__bkt"))
    for k in keys:
        cond = cond & F.col(f"__ewr.{k}").eqNullSafe(F.col(f"__ewc.{k}"))
    out = rows_a.join(car_a, cond).select(
        *[F.col(f"__ewr.{k}").alias(k) for k in keys],
        F.col(f"__ewr.{order_col}").alias(order_col),
        F.col(f"__ewr.{value_col}").alias(value_col),
        F.round(
            F.when(F.col("__sin").isNull(), F.col("__st"))
            .otherwise(F.col("__at") * F.col("__sin") + F.col("__bt"))
            * F.lit(float(scale))
        )
        .cast("long")
        .alias("ewma_scaled"),
    )
    return out


def ewma_grouped_sql(
    source_select: str,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float,
    scale: int = 1000,
    max_series: int | None = 5000,
) -> str:
    """DuckDB mirror of :func:`ewma_grouped`: identical sort, identical
    left fold over each prefix (list_reduce seeds from the first
    element, matching the operator's NULL-init), identical
    quantization, identical loud failure on NULL values and on a
    series longer than ``max_series``.
    ``source_select`` yields group cols + order + value.
    """
    if max_series is not None and max_series <= 0:
        raise ValueError(f"max_series must be positive, got {max_series}")
    keys = ", ".join(group_cols)
    a = repr(float(alpha))
    if max_series is None:
        ser_checked = "ser"
    else:
        ser_checked = (
            f"CASE WHEN len(ser) <= {int(max_series)} THEN ser "
            f"ELSE error('ewma_grouped: series length ' "
            f"|| CAST(len(ser) AS VARCHAR) "
            f"|| ' exceeds max_series={int(max_series)}') END"
        )
    return f"""
WITH src AS ({source_select}),
packed AS (
  SELECT {keys},
         list_sort(list({{'o': {order_col},
                          'v': CASE WHEN {value_col} IS NULL
                                THEN error('ewma_grouped: NULL '
                                  || '{value_col} at {order_col}='
                                  || CAST({order_col} AS VARCHAR))
                                ELSE CAST({value_col} AS DOUBLE)
                                END}})) AS ser
  FROM src GROUP BY {keys}
),
idx AS (
  SELECT {keys}, ser, unnest(range(1, len(ser) + 1)) AS i
  FROM packed
)
SELECT {keys},
       ser[i].o AS {order_col},
       ser[i].v AS {value_col},
       CAST(round(list_reduce(
              list_transform(list_slice({ser_checked}, 1, i), s -> s.v),
              (acc, x) -> {a} * x + (1.0 - {a}) * acc
            ) * {float(scale)!r}) AS BIGINT) AS ewma_scaled
FROM idx
"""
