"""Per-query bottleneck profiler (round-12 optimization instrumentation).

For each named query: run one cold pass, then ``--warm N`` warm passes
(default 1), with the noop sink under an event log + setJobDescription
label, then parse the event log into a per-query breakdown. Every
column is PER WARM PASS: counters and times are summed over the N warm
passes and divided by N, so runs with different ``--warm`` values
compare directly.

  wall      best single warm pass, wall-clock
  jobs/stgs/tasks  scheduling footprint
  task_s    sum of task executorRunTime (the parallel work)
  ideal     task_s / cores (perfect-parallelism floor)
  gap       wall - ideal (scheduling + skew + driver gaps)
  gc        sum of JVM GC time inside tasks
  fetchw    shuffle fetch wait
  shuf_mb   shuffle read bytes, MB
  maxtask   longest single task over all warm passes
  compiles  generated classes Janino compiled (CodegenMetrics
            compilation count delta); nonzero on a warm pass means the
            plan is not batch-invariant, e.g. a per-call literal
            inlined into generated code
  jit_s     JVM JIT compilation time delta (CompilationMXBean), the
            cost those fresh classes add on top of Janino

Usage: python scripts/profile_queries.py q1 q2 ...  [--sf DIR] [--warm N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from etl_spark_spark.session import get_spark  # noqa: E402

EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm", type=int, default=1)
    args = ap.parse_args()

    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    spark = get_spark(
        app_name="profile-r12",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    qs = entrymod.queries()

    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    # driver and executors share one JVM in local mode, so these
    # counters cover every compile a pass causes
    jvm = spark._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def _compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    walls: dict[str, float] = {}
    compiles: dict[str, float] = {}
    jit_s: dict[str, float] = {}
    for name in args.queries:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"cold:{name}")
        _force(fn(spark, args.sf))
        best = None
        c0, j0 = _compiles(), jit.getTotalCompilationTime()
        for _ in range(args.warm):
            spark.sparkContext.setJobDescription(f"warm:{name}")
            t0 = time.perf_counter()
            _force(fn(spark, args.sf))
            w = time.perf_counter() - t0
            best = w if best is None else min(best, w)
        walls[name] = best
        compiles[name] = (_compiles() - c0) / args.warm
        jit_s[name] = (jit.getTotalCompilationTime() - j0) / 1e3 / args.warm
        spark.sparkContext.setJobDescription(None)

    # flush event log
    spark.stop()

    ev = []
    for root, _dirs, files in os.walk(EVDIR):
        for f in files:
            if "appstatus" not in f:
                ev.append(os.path.join(root, f))
    assert ev, f"no event log under {EVDIR}"
    # job id -> description; stage id -> job id; task metrics per stage
    job_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    agg: dict[str, dict] = {
        n: dict(n_jobs=0, n_stages=0, n_tasks=0, task_time=0.0, gc=0.0,
                fetch_wait=0.0, shuffle_read=0.0, shuffle_write=0.0,
                result_ser=0.0, deser=0.0, python=0.0, input_mb=0.0,
                max_task=0.0)
        for n in args.queries
    }
    import itertools

    def _lines():
        for p in ev:
            with open(p) as f:
                yield from f

    for line in _lines():
        if True:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = e.get("Event")
            if et == "SparkListenerJobStart":
                d = e.get("Properties", {}).get("spark.job.description", "")
                job_desc[e["Job ID"]] = d
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
                if d.startswith("warm:") and d[5:] in agg:
                    agg[d[5:]]["n_jobs"] += 1
            elif et == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                jid = stage_job.get(sid)
                d = job_desc.get(jid, "")
                if d.startswith("warm:") and d[5:] in agg:
                    agg[d[5:]]["n_stages"] += 1
            elif et == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                jid = stage_job.get(sid)
                d = job_desc.get(jid, "")
                if not (d.startswith("warm:") and d[5:] in agg):
                    continue
                a = agg[d[5:]]
                m = e.get("Task Metrics") or {}
                a["n_tasks"] += 1
                rt = m.get("Executor Run Time", 0) / 1e3
                a["task_time"] += rt
                a["max_task"] = max(a["max_task"], rt)
                a["gc"] += m.get("JVM GC Time", 0) / 1e3
                a["result_ser"] += m.get("Result Serialization Time", 0) / 1e3
                a["deser"] += m.get("Executor Deserialize Time", 0) / 1e3
                srm = m.get("Shuffle Read Metrics") or {}
                a["fetch_wait"] += srm.get("Fetch Wait Time", 0) / 1e3
                a["shuffle_read"] += (
                    srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
                ) / 1e6
                swm = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write"] += swm.get("Shuffle Bytes Written", 0) / 1e6
                im = m.get("Input Metrics") or {}
                a["input_mb"] += im.get("Bytes Read", 0) / 1e6

    hdr = (
        f"{'query':34s} {'wall':>6s} {'jobs':>5s} {'stgs':>5s} {'tasks':>7s} "
        f"{'task_s':>7s} {'ideal':>6s} {'gap':>6s} {'gc':>5s} {'fetchw':>6s} "
        f"{'shuf_mb':>8s} {'maxtask':>7s} {'compiles':>8s} {'jit_s':>6s}"
    )
    print(f"per warm pass, {args.warm} pass(es); wall = best pass")
    print(hdr)
    for n in args.queries:
        a = {k: v / args.warm for k, v in agg[n].items() if k != "max_task"}
        w = walls[n]
        ideal = a["task_time"] / cores
        print(
            f"{n:34s} {w:6.2f} {a['n_jobs']:5.1f} {a['n_stages']:5.1f} "
            f"{a['n_tasks']:7.1f} {a['task_time']:7.1f} {ideal:6.2f} "
            f"{w - ideal:6.2f} {a['gc']:5.1f} {a['fetch_wait']:6.1f} "
            f"{a['shuffle_read']:8.1f} {agg[n]['max_task']:7.2f} "
            f"{compiles[n]:8.1f} {jit_s[n]:6.2f}"
        )


if __name__ == "__main__":
    main()
