"""Execution policy: how the engine spends cores and driver threads.

One home for the decisions that are about running a plan, not about
what it computes. None of them changes a value.

- ``fan_out``: add a round-robin exchange only when a scan is less
  parallel than the session (optimization guide §2.5).
- ``computed_once``: keep Catalyst from substituting a heavy column
  expression into a pushed-down filter (guide §4.4).
- ``run_concurrently``: overlap independent Spark actions from driver
  threads (guide §2.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_FANOUT_DECISIONS: dict[tuple[int, int], bool] = {}


def fan_out(df: DataFrame) -> DataFrame:
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
    retries cannot duplicate or lose rows.

    Building the result runs no job: a fanned-out frame is recorded as
    already parallel, so ``fan_out`` of it never probes (the probe's
    ``df.rdd`` on a plan holding the round-robin exchange would run
    that exchange's map stage)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # The partition-count probe (df.rdd.getNumPartitions()) runs the
    # optimizer + physical planner + RDD translation for the whole
    # upstream plan on the driver, per call (ADVICE r12) — and warm
    # re-runs of a query rebuild the IDENTICAL plan, paying it again
    # (23-28 ms median per probe at sf0.1 on 4 vCPU, 1.1-1.4 s per
    # rebuild of the registry's 41 calls, whose keys cost 1-2 ms in
    # all). Cache the decision per (semantic hash, target):
    # the key costs only analysis (which any use of df pays anyway),
    # repeated calls become dict hits. Same semantic plan over changed
    # underlying files could stale-hit, but no fan_out call site reads
    # a mutated path, and a stale entry can only add or skip one
    # round-robin exchange — never change a value.
    key = (df.semanticHash(), target)
    fan = _FANOUT_DECISIONS.get(key)
    if fan is None:
        fan = df.rdd.getNumPartitions() < target
        _remember(key, fan)
    if not fan:
        return df
    out = df.repartition(target)
    # AQE does not coalesce an explicit repartition(n), so the probe
    # would answer False for ``out``; record it instead of probing
    _remember((out.semanticHash(), target), False)
    return out


def _remember(key: tuple[int, int], fan: bool) -> None:
    if len(_FANOUT_DECISIONS) > 4096:  # unbounded-growth backstop
        _FANOUT_DECISIONS.clear()
    _FANOUT_DECISIONS[key] = fan


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


def run_concurrently(*thunks):
    """Run each zero-arg callable in its own driver thread; return
    their results in thunk order.

    Spark's scheduler runs several jobs at once inside one application;
    actions are only sequential because driver code calls them
    sequentially. At fixture scale every job carries a fixed ~100-200 ms
    of scheduler/AQE bookkeeping, so k independent actions (state
    writes, localCheckpoint pins) overlapped pay ~max instead of sum,
    and at cluster scale the next job's tasks back-fill executors freed
    by the current job's tail.

    Safe ONLY for mutually independent actions: callers must ensure no
    thunk observes state another thunk writes (see the join-MV fold for
    the canonical argument: per-batch state writes target disjoint
    paths and history reads are fenced to strictly-earlier partitions).
    ``InheritableThread`` propagates and cleans up JVM thread-locals
    (job descriptions, scheduler pools) per the PySpark threading
    contract. Every thread is joined before anything is raised, so
    no action is left silently running. If thunks fail, the error of
    the LOWEST-INDEX failing thunk propagates (deterministic, whatever
    the completion order), with every other failure listed in its
    notes (``add_note``), so no error is dropped."""
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def _run(i: int, fn) -> None:
        try:
            results[i] = fn()
        except BaseException as ex:  # noqa: BLE001 — crosses threads
            errors[i] = ex

    threads = [
        InheritableThread(target=_run, args=(i, fn))
        for i, fn in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    failed = [(i, ex) for i, ex in enumerate(errors) if ex is not None]
    if failed:
        first = failed[0][1]
        for j, later in failed[1:]:
            first.add_note(f"run_concurrently: thunk {j} also failed: {later!r}")
        raise first
    return results
