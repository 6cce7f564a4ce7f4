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

