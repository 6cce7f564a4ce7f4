"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting handles sort-merge joins, but two shapes still
hot-spot at 100 TB: (a) aggregations where one key holds a large share
of all rows, and (b) windows partitioned by a hot key (AQE does not
split window partitions). Salting fans a hot key out over N sub-keys,
aggregates partially per salt, then merges — two small shuffles instead
of one skewed one.

``salted_sum`` is exact for any associative aggregate (sums/counts —
incl. the integer-cents money representation). For top-1-per-group use
``windows.top_one_per_group_agg`` which is already salt-free (max_by
partial aggregation de-skews map-side).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, salt_col: str = "__salt") -> DataFrame:
    """Attach a uniform salt in [0, buckets). Deterministic per row id
    is unnecessary — any distribution works because downstream
    aggregation is associative."""
    return df.withColumn(
        salt_col, (F.rand(seed=42) * buckets).cast("int")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof shuffle join: salt the fact side uniformly and
    REPLICATE every dimension row once per salt value, then equi-join
    on (keys..., salt). A fact key holding 30% of all rows lands on
    ``buckets`` reducers instead of one — the classic salted-join
    layout for when the dimension is too big to broadcast outright but
    small enough to replicate ``buckets``× through the shuffle.

    Exact for how='inner' and how='left' (each fact row carries exactly
    one salt, so it meets each matching dim row exactly once; unmatched
    fact rows survive a left join unchanged). Right/full outer would
    emit unmatched DIM rows once per salt — rejected. Prefer plain
    ``broadcast()`` when the dim fits in memory, and AQE skew-join for
    sort-merge plans; this operator covers the gap between the two.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports how='inner'|'left', got {how!r}")
    keys = list(keys)
    f = with_salt(fact, buckets)
    d = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))),
    )
    return f.join(d, [*keys, "__salt"], how).drop("__salt")


def salted_sum(
    df: DataFrame,
    keys: Sequence[str],
    sums: dict[str, Column],
    buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation: groupBy(keys + salt) partial sums, then
    groupBy(keys) final sums. Exact for associative aggregates; the
    first shuffle spreads a hot key over ``buckets`` reducers."""
    keys = list(keys)
    salted = with_salt(df, buckets)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, expr in sums.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(name).alias(name) for name in sums]
    )


_FANOUT_DECISIONS: dict[tuple[int, int], bool] = {}


def fan_out(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Scale-adaptive CPU fan-out for heavy per-row work sitting on a
    low-parallelism scan (optimization guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    A single-row-group parquet file is one scan task no matter what
    ``maxPartitionBytes`` says, so a map-side stage that multiplies work
    per row (the d²/2 covariance struct explode: measured 9.1 s in ONE
    task vs 1.0 s fanned out at sf0.1) runs on one core while the rest
    of the cluster idles. Round-robin repartition is added ONLY when the
    plan's current parallelism is below the session default — at real
    scale the scan already has >= cores splits and this is a no-op (no
    exchange enters the plan), so callers pay the extra shuffle exactly
    when it buys parallel CPU and never when the input is big.

    Only safe upstream of partition-order-independent computation —
    which every oracle-gated operator in this engine already guarantees
    (integer-exact sums, per-group windows). The repartition is Spark's
    deterministic round-robin (sort-before-repartition stays on), so
    retries cannot duplicate or lose rows."""
    sc = df.sparkSession.sparkContext
    target = parts or sc.defaultParallelism
    # The partition-count probe (df.rdd.getNumPartitions()) runs the
    # optimizer + physical planner + RDD translation for the whole
    # upstream plan on the driver, per call (ADVICE r12) — and warm
    # re-runs of a query rebuild the IDENTICAL plan, paying it again.
    # Cache the decision per (analyzed-plan semantic hash, target):
    # the key costs only analysis (which any use of df pays anyway),
    # repeated calls become dict hits. Same semantic plan over changed
    # underlying files could stale-hit, but no fan_out call site reads
    # a mutated path, and a stale entry can only add or skip one
    # round-robin exchange — never change a value.
    key = (df._jdf.queryExecution().analyzed().semanticHash(), int(target))
    fan = _FANOUT_DECISIONS.get(key)
    if fan is None:
        fan = df.rdd.getNumPartitions() < target
        if len(_FANOUT_DECISIONS) > 4096:  # unbounded-growth backstop
            _FANOUT_DECISIONS.clear()
        _FANOUT_DECISIONS[key] = fan
    return df.repartition(target) if fan else df


def computed_once(col: Column) -> Column:
    """Mark an expensive column expression so filters on it are NOT
    substituted-and-pushed below the projection (re-running the whole
    expression tree at the scan).

    Catalyst pushes a filter through deterministic projections by
    SUBSTITUTING the column definitions into the predicate (the
    optimization guide §4.4 shows this duplicating Python UDFs; it
    applies to any expression). For a cheap predicate that is good;
    when the projected column is a heavy tree (tokenize + positional
    windows over a document), the pushed copy re-runs the full tree
    below any exchange — in the scan's partitioning, i.e. on ONE core
    for a single-row-group file — and the projection above evaluates it
    AGAIN for the surviving rows (measured: phrase_search paid its
    2.2 s phrase pass twice).

    The guide's fix is ``asNondeterministic`` on the UDF; the built-in
    equivalent is a value-identical nondeterministic wrapper:
    ``element_at(shuffle(array(expr)), 1)`` — shuffling a one-element
    array is the identity for ANY column type, but ``shuffle`` is
    flagged nondeterministic, so the optimizer may not duplicate,
    reorder, or push predicates through it and the column is computed
    exactly once, exactly where it is written. Two rejected variants:
    a nondeterministic SIBLING column no longer blocks the push in
    Spark 4 (predicates are split and pushed selectively), and
    ``WHEN rand() >= -1 THEN expr`` is constant-folded away by the
    rand-bounds simplification. Cost: one 1-element array per row —
    noise next to any expression worth wrapping."""
    return F.element_at(F.shuffle(F.array(col)), 1)
