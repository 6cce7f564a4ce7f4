"""SparkSession factory.

The reference creates a bare session (`etl_job.py:118` in /root/reference).
This engine pins the configs that matter for deterministic correctness and
for scale:

- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are cluster-location-independent.
- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  dynamic broadcast) — the main lever that keeps one static plan working
  from sf0.001 local tests to 100 TB clusters.
- Arrow for any pandas boundary (10-100x over pickling).
- `spark.sql.shuffle.partitions` from the ``shuffle_partitions``
  argument (default 32); AQE coalesces down from a deliberately-high
  initial number (512).

Every value here is a literal default. A caller changes one through
``shuffle_partitions=`` or ``extra_conf=``, which is applied last; the
only environment setting read is ``SPARK_GRAFT_CPUS``, the local core
count of a deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-spark-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` only applies when no master is configured (local runs);
    on a real cluster the deploy sets the master and executor topology.
    """
    from pyspark import SparkConf

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")

    builder = SparkSession.builder.appName(app_name)
    # only default to local[] when no master was configured (spark-submit
    # sets spark.master as a system property; overriding it here would
    # silently collapse a cluster deploy onto the driver)
    if not SparkConf().contains("spark.master"):
        builder = builder.master(f"local[{cpus}]")
    # AQE shrinks reducer counts from a deliberately-high INITIAL number;
    # the static shuffle.partitions is only the no-AQE fallback. Without
    # this, shuffle.partitions is a hard CAP on reducer parallelism and a
    # 100x-data shuffle sorts GBs per task (measured: the prefix-filter
    # candidate join OOM'd the 8 GB local heap at 32 partitions; at 512
    # initial partitions the same stage runs in bounded memory). At
    # cluster scale raise it with the data through extra_conf.
    # AQE coalescing targets BYTES, but several engine stages are
    # CPU-dense per byte (the 64-permutation md5 minhash partial
    # aggregate reads a ~3 MB compressed shuffle and burns ~10 s of
    # CPU): with the default 1m floor AQE collapses those stages to
    # 2-4 partitions and the work runs nearly single-threaded
    # (measured round-12: minhash64 5.2 s -> 1.2 s at a 64k floor;
    # neardup_eval 16.3 -> 12.0; semantic_dedup 1.85 -> 0.88).
    # parallelismFirst (default true) already ignores the advisory
    # size in favor of parallelism; this floor is the remaining knob.
    # Scale-safe: when shuffles carry real bytes the total/parallelism
    # target dominates and a 64k floor is inert; it only bites on
    # small-bytes/high-CPU stages, where more tasks is exactly right.
    builder = (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(512, shuffle_partitions)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # round-13 REVERT of the round-12 "long-lived-driver hygiene"
        # defaults (16g heap + 5-minute periodic full GC): the driver's
        # cold-marathon protocol measured them as a large GLOBAL tax —
        # isolated full-bench A/B on one host window (fresh JVM each):
        # r12 defaults 320.3 s warm total vs 30min-GC/8g 253.9 s
        # (per-query geomean 0.824, wins across every family), matching
        # VERDICT r12's diagnosis that the forced full GCs land
        # stop-the-world pauses inside the bench. GC cadence belongs to
        # the deployment, not the engine default (guide §5); a marathon
        # host can still opt in through extra_conf.
        .config("spark.driver.memory", "8g")
        .config("spark.cleaner.periodicGC.interval", "30min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
