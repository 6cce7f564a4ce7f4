"""Unit tests of the benchmark's own arithmetic, generator and event-log
parser. Run with ``python3 -m pytest perfbench/tests -q`` from the repo
root; no Spark session is started."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.spans import layer_metrics, parse_event_log, self_times, union_length  # noqa: E402
from perfbench.stats import tail_percentile  # noqa: E402

EVENT_LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"
# wall-clock bounds (epoch seconds) of the recorded application's jobs
LOG_WINDOW = (1792191860.3, 1792191867.7)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert tail_percentile([1.0] * n) == (None, None)


@pytest.mark.parametrize("n", [11, 12, 30, 100, 1000])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    samples = [float(i) for i in reversed(range(n))]
    p, value = tail_percentile(samples)
    assert sum(s > value for s in samples) == 10
    assert p == pytest.approx(100 * (n - 10) / n)


def test_tail_of_hundred_is_p90():
    p, value = tail_percentile([float(i) for i in range(1, 101)])
    assert (p, value) == (90.0, 90.0)


def _span(sid, parent, start, end, layer="sinks"):
    return {"id": sid, "name": sid, "layer": layer, "op": "o",
            "parent": parent, "start": start, "end": end}


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([]) == 0


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span("p", None, 0.0, 10.0, layer=None),
        _span("a", "p", 1.0, 4.0),
        _span("b", "p", 3.0, 6.0),   # overlaps a: [1, 6] is covered once
        _span("c", "p", 8.0, 12.0),  # runs past the parent: clipped at 10
        _span("d", "b", 3.5, 4.5),   # grandchild: only reduces b
    ]
    st = self_times(spans)
    assert st["p"] == pytest.approx(10 - 5 - 2)
    assert st["a"] == pytest.approx(3)
    assert st["b"] == pytest.approx(2)
    assert st["c"] == pytest.approx(4)
    assert st["d"] == pytest.approx(1)


def test_generator_is_deterministic(tmp_path):
    a = gen.generate("events_mixed", 5, tmp_path / "a")
    b = gen.generate("events_mixed", 5, tmp_path / "b")
    c = gen.generate("events_mixed", 6, tmp_path / "c")
    assert a == b
    assert set(a) == set(c) and a != c
    assert {f"{t}.parquet" for t in gen.TABLES} <= set(a)
    for name, digest in a.items():
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_stream_batches_hold_every_event_once_and_late_ones_one_batch_late():
    cfg = gen.load_config()["events_mixed"]["stream"]
    batches = gen.stream_batches(3, cfg)
    ids = [i for b in batches for i in b.column("event_id").to_pylist()]
    assert sorted(ids) == list(range(cfg["batches"] * cfg["events_per_batch"]))
    start = gen._ts(cfg["start"]).astype("int64")
    late = 0
    for k, b in enumerate(batches):
        ts = b.column("ts").cast("int64").to_numpy()
        home = (ts - start) // (cfg["slice_s"] * 1_000_000)
        assert set(home) <= {k, k - 1} | ({k} if k == len(batches) - 1 else set())
        late += int((home == k - 1).sum())
    assert 0 < late < len(ids) * 2 * cfg["out_of_order_share"]


def test_parser_reads_jobs_stages_and_thread_labels():
    jobs, stages = parse_event_log(EVENT_LOG)
    groups = [j["group"] for j in jobs.values()]
    # perfbench-0: two RDD collects + an AQE aggregate (two jobs);
    # perfbench-1: two run_concurrently threads, each an AQE count
    assert groups.count("perfbench-0") == 4
    assert groups.count("perfbench-1") == 4
    assert groups.count(None) == 2
    # stage 2 is the map stage the second collect skipped: never run
    assert (2, 0) not in stages
    assert len(stages) == 11
    assert {r["group"] for k, r in stages.items() if k[0] in (7, 8, 10, 12)} == {"perfbench-1"}
    assert sum(r["tasks"] for r in stages.values()) == 22


def test_layer_metrics_attribute_jobs_and_count_unlabelled():
    jobs, stages = parse_event_log(EVENT_LOG)
    lo, hi = LOG_WINDOW
    spans = [
        _span("perfbench-0", None, lo, lo + 6.5, layer="execute"),
        _span("perfbench-1", None, lo + 6.5, hi, layer="streaming"),
    ]
    m = layer_metrics(spans, jobs, stages, [(lo, hi)], cores=2)
    assert (m["execute.jobs"], m["execute.stages"], m["execute.tasks"]) == (4, 5, 13)
    assert (m["streaming.jobs"], m["streaming.stages"], m["streaming.tasks"]) == (4, 4, 6)
    assert m["unattributed.jobs"] == 2
    assert m["execute.shuffle_write_bytes"] == 593 + 1748
    assert m["execute.task_s"] == pytest.approx((4051 + 414 + 388 + 641 + 65) / 1000)
    assert m["execute.sched_gap_s"] == pytest.approx(6.5 - m["execute.task_s"] / 2)
    # outside every traced window, unlabelled jobs are not this run's
    assert layer_metrics(spans, jobs, stages, [], cores=2)["unattributed.jobs"] == 0
