"""Overlap independent Spark ACTIONS from driver threads (optimization
guide §2.6 "overlap independent jobs").

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially. At fixture scale every job carries a fixed ~100-200 ms of
scheduler/AQE bookkeeping, so a query that materializes k independent
intermediates (state writes, localCheckpoint pins) pays k of those
serially — overlapped, it pays ~max instead of sum, and at cluster
scale the same overlap lets the next job's tasks back-fill executors
freed by the current job's tail.
"""

from __future__ import annotations


def run_concurrently(*thunks):
    """Run each zero-arg callable in its own driver thread; return
    their results in thunk order.

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
