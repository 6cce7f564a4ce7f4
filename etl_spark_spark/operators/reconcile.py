"""Composite domain operators: full-outer reconciliation and
proportional allocation (SURVEY.md §2 J8 / F9, Phase-2 items).

These generalize the reference's ressarcimento semantics
(utils_ressarcimento.py:250-270) with the NULL/zero behavior pinned:

- ``allocate_proportional``: each fact row receives
  ``coalesce(weight / nullif(total, 0) * amount, amount, 0)``.
  When the group total is NULL or 0 the division yields NULL and the
  cascade falls through to the full ``amount`` (the reference's intended
  "orphan credit passes through whole" semantic — there it arises from
  non-ANSI div-by-zero → NULL; we write ``nullif`` so the same result
  holds under ANSI mode and in any SQL engine).

- ``reconcile_full_outer``: matched rows ∪ right-only ∪ left-only. The
  reference builds this from two left-anti joins + unionByName
  (utils_ressarcimento.py:256-270); we offer that anti-join + union
  form as two branches (``style='anti_union'``: left join ∪ right-only,
  the reference's matched and left-only branches being one left join)
  and the idiomatic single full-outer join (``style='full_outer'``) —
  one shuffle instead of two joins — which is the right plan at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .setops import union_by_name


def allocate_proportional(
    df: DataFrame,
    weight: Column | str,
    total: Column | str,
    amount: Column | str,
    alias: str,
) -> DataFrame:
    """Allocate ``amount`` to each row proportionally to ``weight/total``,
    falling back to the whole ``amount`` when the denominator is NULL/0,
    and 0 when ``amount`` is NULL."""
    w = F.col(weight) if isinstance(weight, str) else weight
    t = F.col(total) if isinstance(total, str) else total
    a = F.col(amount) if isinstance(amount, str) else amount
    share = w / F.nullif(t, F.lit(0)) * a
    return df.withColumn(alias, F.coalesce(share, a, F.lit(0)))


def reconcile_full_outer(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    style: str = "full_outer",
) -> DataFrame:
    """Matched ∪ left-only ∪ right-only on ``keys``.

    ``style='full_outer'``: single full-outer join with key columns
    coalesced — one shuffle, the scalable plan.
    ``style='anti_union'``: (left ⟕ right) ∪ (right anti left) via
    unionByName null-widening — the reference's inner ∪ left-only ∪
    right-only with its first two branches as one left join, so each
    input is planned twice, not three times.
    Both produce the same rows; column order may differ.
    """
    keys = list(keys)
    if style == "anti_union":
        matched_or_left = left.join(right, keys, "left")
        right_only = right.join(left, keys, "left_anti")
        return union_by_name(matched_or_left, right_only)
    if style == "full_outer":
        joined = left.alias("l").join(right.alias("r"), keys, "full_outer")
        # after a USING-style full outer join Spark already coalesces the
        # key columns into one; remaining columns come from both sides.
        return joined
    raise ValueError(f"unknown style: {style}")


def row_fingerprint(columns: Sequence[str]) -> Column:
    """Engine-portable 60-bit row fingerprint: the first 15 hex digits
    of md5 over the unit-separator-joined stringified columns (NULL
    encoded as a NUL byte so NULL != ''), parsed as a long. md5 is the
    one hash both Spark and ANSI-ish SQL engines share; 15 hex digits
    keep the value inside a signed 64-bit int."""
    joined = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in columns]
    )
    return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("long")


def bucket_digests(
    df: DataFrame,
    key_col: str,
    columns: Sequence[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Merkle-style per-bucket digest of a table: (bucket, n_rows,
    xor-of-row-fingerprints). Comparing two replicas costs ONE small
    aggregate per side — at 100 TB you ship 2 x n_buckets digest rows,
    not the tables — and row-level work is then scoped to divergent
    buckets only (see ``bucket_scoped_diff``). XOR is order- and
    partitioning-independent; the row count per bucket catches the
    classic XOR blind spot (a row duplicated an even number of times
    cancels out of the XOR)."""
    cols = list(columns)
    return (
        df.withColumn("__fp", row_fingerprint(cols))
        .withColumn("__bkt", F.pmod(F.col(key_col), F.lit(n_buckets)))
        .groupBy(F.col("__bkt").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(__fp)").alias("digest"),
        )
    )


def bucket_scoped_diff(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    columns: Sequence[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Anti-entropy repair plan between two replicas: find divergent
    buckets by digest, then full-outer the ROWS OF THOSE BUCKETS ONLY
    and classify each key as left_only / right_only / modified.
    Identical buckets (the overwhelming majority on a healthy replica)
    are never rescanned row-by-row."""
    cols = list(columns)
    ld = bucket_digests(left, key_col, cols, n_buckets)
    rd = bucket_digests(right, key_col, cols, n_buckets)
    bad = (
        ld.alias("l")
        .join(rd.alias("r"), "bucket", "full_outer")
        .filter(
            ~(
                F.col("l.n_rows").eqNullSafe(F.col("r.n_rows"))
                & F.col("l.digest").eqNullSafe(F.col("r.digest"))
            )
        )
        .select("bucket")
    )

    def scoped(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__bkt", F.pmod(F.col(key_col), F.lit(n_buckets)))
            .join(F.broadcast(bad), F.col("__bkt") == F.col("bucket"), "left_semi")
            .withColumn("__fp", row_fingerprint(cols))
            .select(F.col(key_col).alias("key"), "__fp")
        )

    l = scoped(left).withColumnRenamed("__fp", "__lfp")
    r = scoped(right).withColumnRenamed("__fp", "__rfp")
    j = l.join(r, "key", "full_outer")
    return (
        j.withColumn(
            "change_type",
            F.when(F.col("__rfp").isNull(), F.lit("left_only"))
            .when(F.col("__lfp").isNull(), F.lit("right_only"))
            .when(F.col("__lfp") != F.col("__rfp"), F.lit("modified")),
        )
        .filter(F.col("change_type").isNotNull())
        .select("key", "change_type")
    )
