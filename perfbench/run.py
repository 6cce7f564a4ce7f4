#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts the engine's
session, stages, runs one untimed warm-up operation, then a fixed
number of timed operations (``--seconds`` times the workload's nominal
rate in ``workloads.json``), one after the other. The outputs are then
checked against DuckDB. The last line of standard output is one JSON
object; the line before it is the run record. See ``README.md``.

With ``--trace 1`` Spark's event log is on, and each timed operation
runs twice on separate output directories, once untraced and once
inside layer spans, in alternating order. The run reports the
per-layer counters of the traced copies instead of the end-to-end
metrics.
"""

from __future__ import annotations

import argparse
import copy
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import (  # noqa: E402
    RssSampler,
    cpu_times,
    source_digest,
    steal_share,
    tail_percentile,
    tree_cpu_seconds,
)

CONFIG = json.loads((HERE / "workloads.json").read_text())


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def workdirs(workload: str) -> dict[str, Path]:
    base = ROOT / ".perfbench_work" / workload
    shutil.rmtree(base, ignore_errors=True)
    dirs = {k: base / k for k in ("data", "out", "tmp", "local", "eventlog", "warehouse")}
    for d in dirs.values():
        d.mkdir(parents=True)
    dirs["base"] = base
    return dirs


def keep_files_in(dirs: dict[str, Path]) -> None:
    """Point every temp and scratch location of this process and the
    JVMs it starts (the launcher too) into the run's directory."""
    os.environ["TMPDIR"] = str(dirs["tmp"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    tempfile.tempdir = None


def session_conf(dirs: dict[str, Path], trace: bool) -> dict[str, str]:
    """Session settings that change no engine behaviour."""
    conf = {
        "spark.sql.warehouse.dir": str(dirs["warehouse"]),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(dirs["eventlog"]),
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def git_commit() -> str | None:
    """HEAD of the checkout, when it is a git work tree."""
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
    )
    return out.stdout.strip() or None


class Phase:
    """Latencies and raised errors of one sequence of timed operations."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.lat: list[float] = []
        self.raised: dict[int, str] = {}

    def op(self, i: int) -> None:
        t = time.perf_counter()
        try:
            self.wl.op(i)
        except Exception as e:  # noqa: BLE001 — counted, never hidden
            self.raised[i] = repr(e)[:500]
        self.lat.append(time.perf_counter() - t)
        self.wl.after_op()

    def failures(self, n_ops: int) -> tuple[int, list[str]]:
        """Operations that raised or whose output failed its check."""
        failed, errors = set(self.raised), list(self.raised.values())
        for ops, err in self.wl.check():
            failed.update(range(n_ops) if ops is None else ops)
            errors.append(err)
        return len(failed), errors


def main() -> int:
    ns = parse_args()
    cfg = CONFIG[ns.workload]
    n_ops = max(1, round(ns.seconds * cfg["ops_per_second"]))
    dirs = workdirs(ns.workload)
    keep_files_in(dirs)

    t = time.perf_counter()
    gen = subprocess.run(
        [sys.executable, str(HERE / "gen.py"), "--workload", ns.workload,
         "--seed", str(ns.seed), "--out", str(dirs["data"])],
        check=True, capture_output=True, text=True,
    )
    inputs = json.loads(gen.stdout)
    gen_s = time.perf_counter() - t

    # setup_s runs from here: data generation is the benchmark's own work
    rss = RssSampler(os.getpid())
    rss.start()
    t = time.perf_counter()
    try:
        import duckdb
        import pyspark

        from etl_spark_spark.session import get_spark
        from perfbench.spans import Tracer, layer_metrics, parse_event_log
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        rss.stop()
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t

    cores = os.cpu_count() or 1
    tracer = Tracer()
    tracer.enabled = bool(ns.trace)
    windows = [(time.time(), None)]
    t = time.perf_counter()
    with tracer.span("get_spark", None, "setup"), tracer.span("get_spark", "session"):
        spark = get_spark(cpus=cores, extra_conf=session_conf(dirs, bool(ns.trace)))
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        wl = WORKLOADS[ns.workload](spark, tracer, dirs["data"], dirs["out"], cfg)
        t = time.perf_counter()
        wl.stage()
        staging_s = time.perf_counter() - t
        wl.reset("a", n_ops)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        tracer.enabled = False
        windows[0] = (windows[0][0], time.time())
        setup_s = import_s + session_s + staging_s + warmup_s

        phases = [Phase(wl)]
        cpu0 = cpu_times()
        tree_cpu0 = tree_cpu_seconds(os.getpid())
        if ns.trace:
            traced_wl = copy.copy(wl)
            traced_wl.reset("b", n_ops)
            traced_wl.traced = True
            traced_wl.warmup()
            phases.append(Phase(traced_wl))
        for i in range(n_ops):
            if not ns.trace:
                phases[0].op(i)
                continue
            # the same operation untraced and traced, back to back, in
            # alternating order: the second of a pair runs on compiled
            # plans the first left behind, and alternation cancels that
            for traced in (False, True) if i % 2 == 0 else (True, False):
                tracer.enabled = traced
                w = time.time()
                phases[traced].op(i)
                if traced:
                    windows.append((w, time.time()))
            tracer.enabled = False
        peak_rss_mb = rss.stop()
        steal = steal_share(cpu0, cpu_times())
        run_cpu_s = tree_cpu_seconds(os.getpid()) - tree_cpu0
        results = [ph.failures(n_ops) for ph in phases]
        last = phases[-1].wl
        written, live, stored = last.storage()
        extras = last.extras()
    finally:
        stop_session(spark)
        rss.stop()

    lat = phases[0].lat
    run_s = sum(lat)
    attempted = n_ops * len(phases)
    n_failed = sum(n for n, _ in results)
    amp = {
        "write_amplification": written / live if live else 0.0,
        "space_amplification": stored / live if live else 0.0,
    }
    tail_p, tail_s = tail_percentile(lat)
    record = {
        "workload": ns.workload,
        "seed": ns.seed,
        "seconds": ns.seconds,
        "trace": ns.trace,
        "nproc": cores,
        "commit": git_commit(),
        "source_sha256": source_digest(ROOT),
        "inputs_sha256": hashlib.sha256(
            json.dumps(inputs, sort_keys=True).encode()
        ).hexdigest(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "spark_graft_env": {
            k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")
        },
        "ops": n_ops,
        "run_s": run_s,
        "latency_samples": len(lat),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_s,
        "latency_tail_percentile": tail_p,
        "latencies_s": lat,
        "cpu_steal_share": steal,
        "error_rate": n_failed / attempted,
        "peak_rss_mb": peak_rss_mb,
        "errors": [e for _, errs in results for e in errs][:20],
        "gen_s": gen_s,
        "setup_parts_s": {
            "import": import_s, "session": session_s,
            "staging": staging_s, "warmup": warmup_s,
        },
        **amp,
    }
    if ns.trace:
        units = {
            m["name"]: m["unit"]
            for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
        }
        jobs, stages = parse_event_log(next(dirs["eventlog"].iterdir()))
        # a counter the workload has no use for (no feed, no stream) is 0
        metrics = dict.fromkeys(units, 0)
        metrics.update(layer_metrics(tracer.spans, jobs, stages, windows, cores))
        metrics.update(extras)
        metrics["sinks.write_amplification"] = amp["write_amplification"]
        metrics["sinks.space_amplification"] = amp["space_amplification"]
        traced_run_s = sum(phases[1].lat)
        metrics["tracing.overhead_s"] = traced_run_s - run_s
        record["traced_run_s"] = traced_run_s
        tracer.dump(dirs["base"] / "spans.json")
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    else:
        out_metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_cpu_s": {"value": run_cpu_s, "unit": "s"},
        }
    print(json.dumps({"run_record": record}, sort_keys=True))
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": out_metrics,
    }))
    return 0 if n_failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
