"""Deterministic sampling, splitting, and quota operators for
training-data curation (LLM-data-pipeline extension; no reference
counterpart — the reference engine has no sampling surface).

Everything here is content-addressed: a row's fate is a pure function
of md5 over its stringified id, never an RNG draw. That buys the three
properties a 100 TB curation pipeline actually needs:

- **Reproducible** across runs, engines, cluster sizes, and data
  layout — re-running the pipeline (or re-checking it in another
  engine) assigns every row the same split. ``df.sample``/``sampleBy``
  cannot promise this (partition-order dependent).
- **Join-stable** — two tables sampled on the same key keep referential
  integrity (a sampled doc's rows in a side table survive with it).
- **Cheap** — assignment is one md5 + substring per row, a plain
  codegen-side map; filters add ZERO shuffles and stream through the
  scan. At 100 TB the sample never materializes the discarded rows.

Thresholds are hex-string prefixes compared lexicographically
(``bucket < "28"`` keeps 0x00-0x27 of 0x100 ≈ 15.6%), which is
portable bit-for-bit to any engine with md5 — the DuckDB oracles use
the identical expression.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket",
    "hash_sample",
    "hash_split",
    "stratified_hash_sample",
    "temperature_sample",
    "weighted_sample_without_replacement",
]


def hash_bucket(id_col: Column | str, n_hex: int = 2) -> Column:
    """The first ``n_hex`` hex chars of md5(string(id)) — a uniform
    bucket label in [0x0, 16**n_hex) encoded as a lowercase hex string.

    String (not int) on purpose: lexicographic compare on fixed-width
    hex is order-isomorphic to the integer value and works identically
    in every md5-bearing engine with no hex->int conversion.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(c.cast("string")), 1, n_hex)


def hash_sample(
    df: DataFrame, id_col: Column | str, keep_below: str
) -> DataFrame:
    """Deterministic ~(int(keep_below,16)/16**len) sample: keep rows
    whose bucket sorts below ``keep_below``.

    ``hash_sample(df, "doc_id", "28")`` keeps ≈ 0x28/0x100 = 15.6%.
    """
    n_hex = len(keep_below)
    return df.filter(hash_bucket(id_col, n_hex) < keep_below)


def hash_split(
    df: DataFrame,
    id_col: Column | str,
    splits: Sequence[tuple[str, str | None]],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split.

    ``splits`` is an ordered list of (name, upper_bound_hex_exclusive);
    the LAST entry must have bound ``None`` (catch-all), so the splits
    partition the id space with no gaps or overlap::

        hash_split(df, "doc_id", [("train", "d"), ("val", "f"),
                                  ("test", None)])
        # train ≈ 13/16, val ≈ 2/16, test ≈ 1/16

    All bounds must share one width (they index the same bucket).
    """
    bounded = list(splits[:-1])
    last_name, last_bound = splits[-1]
    if last_bound is not None:
        raise ValueError("last split must be the catch-all (bound None)")
    if not bounded:
        return df.withColumn(split_col, F.lit(last_name))
    widths = {len(b) for _, b in bounded}
    if len(widths) != 1:
        raise ValueError(f"split bounds must share one hex width: {widths}")
    bucket = hash_bucket(id_col, widths.pop())
    expr = F.when(bucket < bounded[0][1], F.lit(bounded[0][0]))
    for name, bound in bounded[1:]:
        expr = expr.when(bucket < bound, F.lit(name))
    return df.withColumn(split_col, expr.otherwise(F.lit(last_name)))


def temperature_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-weighted source rebalancing: deterministically keep
    ≈ ``budget * n_s**alpha / Σ_t n_t**alpha`` rows from each stratum
    (the multilingual/domain mixing rule — alpha < 1 upweights rare
    strata relative to proportional sampling; alpha=0 is uniform per
    stratum, alpha=1 is proportional).

    Selection is content-addressed (md5 of the row id) and the keep
    test is evaluated in INTEGER cross-multiplied form::

        hash6(id) * T * n_s  <  budget * W_s * 16^6

    where ``W_s = round(n_s**alpha * 1e6)`` and ``T = Σ W_s`` — no
    float division anywhere, so the decision is bit-reproducible
    across engines (for alpha=0.5 the weight itself is also exact:
    IEEE sqrt is correctly rounded; other alphas go through pow()
    whose last-ulp may differ across libm implementations, which the
    1e-6 weight rounding absorbs except on exact-tie boundaries).
    Products are decimal(38,0) so 100 TB-scale counts (n_s up to
    ~1e12) cannot overflow. Strata whose quota exceeds their size
    keep every row (the inequality caps itself: rate ≥ 1 means the
    RHS exceeds any possible LHS).

    Plan shape: one count aggregate over the strata (tiny), an
    unpartitioned window sum over that strata table (fine — strata
    cardinality is small by definition), a broadcast join back, and a
    per-row filter. The big table is scanned once and never shuffled.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("__n"))
    weight = (
        F.sqrt(F.col("__n").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
    )
    w = counts.withColumn(
        "__w", F.round(weight * F.lit(1000000.0), 0).cast("long")
    )
    from pyspark.sql import Window

    t = w.withColumn(
        "__t", F.sum("__w").over(Window.partitionBy())
    )
    dec = "decimal(38,0)"
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    keep = (
        h.cast(dec) * F.col("__t").cast(dec) * F.col("__n").cast(dec)
        < F.lit(int(budget)).cast(dec)
        * F.col("__w").cast(dec)
        * F.lit(16**6).cast(dec)
    )
    return (
        df.join(F.broadcast(t), stratum_col)
        .filter(keep)
        .drop("__n", "__w", "__t")
    )


def stratified_hash_sample(
    df: DataFrame,
    id_col: Column | str,
    stratum_col: Column | str,
    keep_below: dict[str, str],
    default: str | None = None,
) -> DataFrame:
    """Deterministic per-stratum sampling rates (the reproducible
    counterpart of ``df.sampleBy``): keep a row iff its bucket sorts
    below its stratum's threshold. Strata absent from ``keep_below``
    use ``default`` (dropped entirely when ``default`` is None).

    Use case: domain/language rebalancing — downsample the dominant
    web-crawl stratum hard, keep the rare high-quality stratum whole
    (threshold "ffff..." keeps everything).
    """
    if not keep_below:
        raise ValueError("keep_below must name at least one stratum")
    widths = {len(b) for b in keep_below.values()}
    if default is not None:
        widths.add(len(default))
    if len(widths) != 1:
        raise ValueError(f"thresholds must share one hex width: {widths}")
    s = F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col
    bucket = hash_bucket(id_col, widths.pop())
    items = sorted(keep_below.items())
    expr = F.when(s == items[0][0], bucket < items[0][1])
    for value, bound in items[1:]:
        expr = expr.when(s == value, bucket < bound)
    expr = expr.otherwise(
        F.lit(False) if default is None else bucket < default
    )
    return df.filter(expr)


def weighted_sample_without_replacement(
    df: DataFrame,
    id_col: str,
    weight_col: Column | str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis
    & Spirakis 2006, public method): each row gets the key
    ``u**(1/w)`` where ``u`` is a content-addressed uniform in (0, 1]
    (md5 of the id — no RNG state, bit-reproducible anywhere md5
    exists), and the sample is the k largest keys. Inclusion
    probability is proportional to weight, the draw is fixed by
    content, and a re-run — or another engine — selects the exact
    same rows.

    Rows with weight <= 0 or NULL are never selected (standard E-S
    domain). Ties are impossible in practice (60 hash bits through a
    strictly monotone map), so the top-k is total.

    Plan shape: one map-only key computation + a global top-k, which
    Spark executes as TakeOrderedAndProject (per-partition heaps, then
    a k-row merge) — no global sort, no shuffle of the corpus; exactly
    the pattern that survives 100 TB.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # u in (0, 1]: (h + 1) / (16^15 + 1) with h the first 60 md5 bits
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(16**15 + 1))
    key = F.pow(u, F.lit(1.0) / w.cast("double"))
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("__es_key", key)
        .orderBy(F.col("__es_key").desc())
        .limit(k)
        .drop("__es_key")
    )


def apportion_budget(
    counts: DataFrame,
    key_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer sample
    ``budget`` across groups, proportional to ``weight_col`` — the
    exact-count companion to probabilistic temperature sampling: the
    allocations are integers, sum EXACTLY to the budget, and are
    deterministic (remainder ties break on the group key).

    All integer arithmetic — floor quota = (budget*w) div W, remainder
    = (budget*w) mod W — so the result is engine-portable. The window
    runs over the GROUPS table (one row per source), not the data.
    Adds ``alloc`` to the input rows."""
    from pyspark.sql import Window

    w_total = counts.agg(F.sum(weight_col).alias("__W"))
    q = counts.crossJoin(F.broadcast(w_total)).select(
        "*",
        F.expr(f"({budget} * {weight_col}) div __W").alias("__floor"),
        F.expr(f"({budget} * {weight_col}) % __W").alias("__rem"),
    )
    wleft = Window.orderBy(F.col("__rem").desc(), F.col(key_col))
    leftover = F.col("__budget_left")
    q = q.crossJoin(
        F.broadcast(
            q.agg((F.lit(budget) - F.sum("__floor")).alias("__budget_left"))
        )
    ).withColumn("__rk", F.row_number().over(wleft))
    return q.select(
        *counts.columns,
        (
            F.col("__floor")
            + F.when(F.col("__rk") <= leftover, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("alloc"),
    )


def epoch_shuffle(
    df: DataFrame, id_col: str, seed: int = 0
) -> DataFrame:
    """Deterministic GLOBAL training order (epoch shuffle): every row
    gets a 1-based ``position`` — its exact global rank under the
    content-addressed key ``md5(seed '#' id)``. The property training
    pipelines need from a shuffle is not randomness per se but a
    reproducible, seed-switchable, uniformly-mixing total order
    (re-runs and resumed jobs must agree on what example 3,817,244,112
    was); an RNG-based shuffle has none of that across engines or
    retries. A new ``seed`` is a fresh epoch permutation.

    Scale shape: NO single-task global window — position comes from
    the distributed prefix-scan decomposition (``windows.
    bucketed_scan``) bucketed by the first 2 hex chars of the
    key (256 parallel buckets, monotone in the key order); the only
    serial step is a 256-row bucket-offset window. Hash uniformity
    also makes the buckets even — no skew by construction. Sources
    interleave for free: a uniform hash order mixes strata without a
    dedicated pass.
    """
    from .windows import bucketed_scan

    key = F.md5(
        F.concat_ws("#", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    keyed = df.withColumn("__k", key).withColumn("__one", F.lit(1))
    ranked = bucketed_scan(
        keyed,
        F.substring(F.col("__k"), 1, 2),
        [F.col("__k"), F.col(id_col)],
        [("position", "__one", "sum")],
        op="epoch_shuffle",
    )
    return ranked.select(
        F.col("position").cast("long").alias("position"),
        *[c for c in df.columns],
    )
