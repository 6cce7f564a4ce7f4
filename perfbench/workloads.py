"""The benchmark's workloads. Each one calls the engine's public functions
inside layer spans, one operation after the other (a closed loop with
one client), and checks its outputs against DuckDB once timing is over.

A workload exposes:

- ``stage()``: the program's own staging (feed layout, stats index);
- ``after_op()``: bookkeeping after each operation, outside its timing;
- ``reset(tag)``: fresh output directories for one timed phase;
- ``warmup()``: the untimed pass that builds the first state;
- ``op(i)``: timed operation ``i``;
- ``check()``: the output checks, returning ``(failed op indices, error)``
  pairs, where ``None`` stands for every operation;
- ``storage()``: ``(bytes written, live result bytes, stored bytes)``
  of the sinks, for the amplification ratios;
- ``extras()``: the workload's own per-layer counters.
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as registry
from etl_spark_spark.pipelines.daily_loop import stage_feed
from etl_spark_spark.pipelines.incremental import date_window, should_run_monthly
from etl_spark_spark.pipelines.ressarcimento import allocation_pipeline
from etl_spark_spark.pipelines.superdesconto import best_sale_transform
from etl_spark_spark.sinks.versioned import (
    committed_versions,
    merge_into_versioned,
    read_versioned,
    vacuum_versions,
)
from etl_spark_spark.sinks.write import write
from etl_spark_spark.sources.parquet import (
    normalize_event_ts,
    read_date_range_indexed,
    table,
)
from etl_spark_spark.sources.stats_index import build_stats_index
from etl_spark_spark.streaming.join_mv import (
    apply_join_batch_temporal,
    evict_join_mv_state,
    read_join_view,
)
from etl_spark_spark.streaming.mv import apply_stream_batch, read_stream_rollup
from tests.oracle_utils import assert_oracle_match, duckdb_conn, normalize


def dir_files(*roots: str | Path) -> dict[str, int]:
    """{path: size} of every regular file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def live_bytes(df) -> int:
    """Bytes of the data files a DataFrame reads (listing only, no job)."""
    return sum(os.path.getsize(p.removeprefix("file:")) for p in df.inputFiles())


def assert_frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """The registry's oracle comparison (tests.oracle_utils) on two
    already collected frames: columns, row count, exact values."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        raise AssertionError(
            f"schema mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
        )
    if len(got) != len(want):
        raise AssertionError(f"rowcount mismatch: spark={len(got)} oracle={len(want)}")
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=True, check_datetimelike_compat=True
    )


class SinkLedger:
    """Bytes the sinks wrote, from directory listings taken after each
    operation (outside the timed region)."""

    def __init__(self, *roots: str | Path) -> None:
        self.roots = roots
        self.seen: dict[str, int] = {}
        self.written = 0

    def observe(self) -> None:
        now = dir_files(*self.roots)
        self.written += sum(
            size for p, size in now.items() if self.seen.get(p) != size
        )
        self.seen = now

    def stored(self) -> int:
        return sum(dir_files(*self.roots).values())


class Workload:
    def __init__(self, spark, tracer, data: Path, work: Path, cfg: dict) -> None:
        self.spark, self.tracer, self.data, self.work, self.cfg = (
            spark, tracer, data, work, cfg
        )
        self.sf = str(data)
        self.traced = False

    def span(self, name: str, layer: str | None, op: str | None = None):
        return self.tracer.span(name, layer, op)

    def stage(self) -> None:
        pass


class DailyEtl(Workload):
    """Consecutive weekday jobs, as in ``examples/daily_job.py``."""

    def stage(self) -> None:
        self.feed = str(self.work / "feed")
        with self.span("stage_feed", "pipelines", "setup"):
            stage_feed(self.spark, self.sf, self.feed, num_files=self.cfg["feed_files"])
        with self.span("build_stats_index", "sources", "setup"):
            self.idx = build_stats_index(self.spark, self.feed, ["l_shipdate"]).localCheckpoint()
        with self.span("table", "sources", "setup"):
            self.part = table(
                self.spark, self.sf, "part",
                columns=["p_partkey", "p_name", "p_brand", "p_retailprice"],
            )
            self.supplier = table(self.spark, self.sf, "supplier", columns=["s_suppkey", "s_name"])

    def days(self, n: int) -> list[dt.date]:
        day, out = dt.date.fromisoformat(self.cfg["calendar"]["first_day"]), []
        while len(out) < n:
            if day.weekday() < 5:
                out.append(day)
            day += dt.timedelta(days=1)
        return out

    def reset(self, tag: str, n_ops: int) -> None:
        self.target = str(self.work / f"best_sales_{tag}")
        self.alloc = str(self.work / f"ressarcimento_{tag}")
        self.windows: list[tuple[dt.date, dt.date, str]] = []
        self.backfill_days: list[int] = []
        self.schedule = self.days(n_ops)
        self.ledger = SinkLedger(self.target, self.alloc)
        self.files_read = self.files_total = self.files_useful = 0

    def warmup(self) -> None:
        """A backfill day: it runs every call a regular day runs, and the
        allocation too."""
        self._job(dt.date.fromisoformat(self.cfg["calendar"]["warmup_day"]), None)
        self.after_op()

    def op(self, i: int) -> None:
        self._job(self.schedule[i], i)

    def _job(self, today: dt.date, i: int | None) -> None:
        op = today.isoformat()
        with self.span(op, None, op):
            with self.span("date_window", "pipelines"):
                start, end = date_window(today)
            with self.span("read_date_range_indexed", "sources"):
                scan = read_date_range_indexed(
                    self.spark, self.feed, "l_shipdate", start, end, index=self.idx
                )
            with self.span("best_sale_transform", "pipelines"):
                best = best_sale_transform(scan.df, self.part, self.supplier).withColumn(
                    "src_window", F.lit(op)
                )
            with self.span("merge_into_versioned", "sinks"):
                merge_into_versioned(self.spark, best, self.target, ["etiqueta"])
            with self.span("vacuum_versions", "sinks"):
                vacuum_versions(self.target, keep=self.cfg["retention_versions"])
            if should_run_monthly(today):
                with self.span("allocation_pipeline", "pipelines"):
                    alloc = allocation_pipeline(self.spark, self.sf)
                with self.span("write", "sinks"):
                    write(alloc, self.alloc, mode="overwrite")
                if i is not None:
                    self.backfill_days.append(i)
        self.windows.append((start, end, op))
        self._scan = scan

    def after_op(self) -> None:
        """Sink bytes, and how many of the files the indexed read opened
        hold a row of the window (traced copy only: it reads the feed)."""
        self.ledger.observe()
        if not self.traced:
            return
        start, end, _ = self.windows[-1]
        files = [p.removeprefix("file:") for p in self._scan.df.inputFiles()]
        self.files_read += self._scan.n_files_read
        self.files_total += self._scan.n_files_total
        if files:
            con = duckdb.connect()
            try:
                self.files_useful += con.execute(
                    "SELECT count(DISTINCT filename) FROM read_parquet(?, filename=true) "
                    "WHERE l_shipdate >= ?::DATE AND l_shipdate < ?::DATE",
                    [files, start.isoformat(), (end + dt.timedelta(days=1)).isoformat()],
                ).fetchone()[0]
            finally:
                con.close()

    def check(self) -> list[tuple[list[int] | None, str]]:
        errors: list[tuple[list[int] | None, str]] = []
        try:
            got = read_versioned(self.spark, self.target).toPandas()
            assert_frames_equal(got, self._replay())
        except Exception as e:  # noqa: BLE001
            errors.append((None, f"snapshot: {e!r}"[:500]))
        try:
            alloc = self.alloc
            assert_oracle_match(
                self.spark, self.sf, lambda s, _d: s.read.parquet(alloc),
                registry.oracle_sql()["allocation"],
            )
        except Exception as e:  # noqa: BLE001
            errors.append((self.backfill_days, f"allocation: {e!r}"[:500]))
        return errors

    def _replay(self) -> pd.DataFrame:
        """DuckDB replay: the registry's superdesconto oracle on each
        window of the feed, last writer wins on etiqueta."""
        sql = registry.oracle_sql()["superdesconto"]
        con = duckdb_conn(self.sf)
        frames = []
        try:
            for k, (start, end, tag) in enumerate(self.windows):
                con.execute(
                    "CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
                    f"read_parquet('{self.feed}/*.parquet') WHERE "
                    f"l_shipdate >= DATE '{start}' AND "
                    f"l_shipdate < DATE '{end + dt.timedelta(days=1)}'"
                )
                df = con.execute(sql).fetchdf()
                df["src_window"] = tag
                df["__k"] = k
                frames.append(df)
        finally:
            con.close()
        allrows = pd.concat(frames, ignore_index=True)
        last = allrows.sort_values("__k", kind="mergesort").drop_duplicates(
            "etiqueta", keep="last"
        )
        return last.drop(columns="__k")

    def storage(self) -> tuple[int, int, int]:
        live = live_bytes(read_versioned(self.spark, self.target))
        if os.path.isdir(self.alloc):
            live += live_bytes(self.spark.read.parquet(self.alloc))
        return self.ledger.written, live, self.ledger.stored()

    def extras(self) -> dict[str, float]:
        written, _, stored = self.storage()
        return {
            "sources.files_read": self.files_read,
            "sources.files_total": self.files_total,
            "sources.file_read_ratio": (
                self.files_useful / self.files_read if self.files_read else 0.0
            ),
            "sinks.bytes_written": written,
            "sinks.commits": len(self.windows) + self.n_alloc_writes(),
            "sinks.versions_retained": len(committed_versions(self.target)),
            "sinks.stored_bytes": stored,
        }

    def n_alloc_writes(self) -> int:
        return sum(
            should_run_monthly(dt.date.fromisoformat(tag)) for _, _, tag in self.windows
        )


ROLLUP_KEYS = ["event_type"]
ROLLUP_MEASURES = {"cents": ("value", "sum_cents"), "n": (None, "count")}


class EventsMixed(Workload):
    """Micro-batches of the event stream folded into a rollup MV and a
    banded join MV, each fold followed by two registry queries forced by
    a noop sink. Operation ``i`` is the fold of batch ``i // 3 + 1``
    when ``i % 3 == 0`` and otherwise the next query of the fixed list."""

    def reset(self, tag: str, n_ops: int) -> None:
        n_folds = -(-n_ops // 3)
        nb = self.cfg["stream"]["batches"]
        if n_folds + 1 > nb:
            raise ValueError(f"{nb} stream batches, {n_folds + 1} needed")
        self.n_ops = n_ops
        self.names = self.cfg["queries"]
        self.fns = registry.queries()
        self.rollup = str(self.work / f"rollup_{tag}")
        self.join = str(self.work / f"join_{tag}")
        self.folded: list[int] = []
        self.ledger = SinkLedger(self.rollup, self.join)

    def warmup(self) -> None:
        self._fold(0)
        self.after_op()
        for q in self.names:
            self._query(q)

    def _is_fold(self, i: int) -> bool:
        return i % 3 == 0

    def _query_of(self, i: int) -> str:
        return self.names[(2 * (i // 3) + i % 3 - 1) % len(self.names)]

    def op(self, i: int) -> None:
        if self._is_fold(i):
            self._fold(i // 3 + 1)
        else:
            self._query(self._query_of(i))

    def _query(self, q: str) -> None:
        with self.span(q, None, q):
            with self.span(q, "operators"):
                df = self.fns[q](self.spark, self.sf)
            with self.span(q, "execute"):
                df.write.format("noop").mode("overwrite").save()

    def batch_path(self, b: int) -> str:
        return str(self.data / "stream" / f"batch_{b:04d}.parquet")

    def _fold(self, b: int) -> None:
        band, delay = self.cfg["join"]["band_s"], self.cfg["join"]["delay_s"]
        with self.span(f"batch_{b}", None, f"batch_{b}"):
            with self.span("normalize_event_ts", "sources"):
                ev = normalize_event_ts(self.spark.read.parquet(self.batch_path(b)))
            with self.span("apply_stream_batch", "streaming"):
                apply_stream_batch(
                    ev.select("event_type", "value"), b, ROLLUP_KEYS,
                    ROLLUP_MEASURES, self.rollup,
                )
            with self.span("evict_join_mv_state", "streaming"):
                evict_join_mv_state(self.join, band, delay_seconds=delay, committed_below=b)
            views = ev.filter(F.col("event_type") == "view").select(
                "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
            )
            buys = ev.filter(F.col("event_type") == "purchase").select(
                "user_id",
                F.col("ts").alias("purchase_ts"),
                F.col("event_id").alias("purchase_id"),
                F.col("value").alias("amount"),
            )
            with self.span("apply_join_batch_temporal", "streaming"):
                apply_join_batch_temporal(
                    views, buys, b, ["user_id"], "view_ts", "purchase_ts",
                    band, self.join, delay_seconds=delay,
                )
        self.folded.append(b)

    def after_op(self) -> None:
        self.ledger.observe()

    def check(self) -> list[tuple[list[int] | None, str]]:
        folds = [i for i in range(self.n_ops) if self._is_fold(i)]
        errors = [(folds, e) for e in self._check_stream()]
        sqls = registry.oracle_sql()
        for q in self.names:
            try:
                assert_oracle_match(self.spark, self.sf, self.fns[q], sqls[q])
            except Exception as e:  # noqa: BLE001
                ops = [
                    i for i in range(self.n_ops)
                    if not self._is_fold(i) and self._query_of(i) == q
                ]
                errors.append((ops, f"{q}: {e!r}"[:500]))
        return errors

    def _check_stream(self) -> list[str]:
        """The join view against the one-shot banded join over every
        delivered event, the rollup against a batch aggregate."""
        band = self.cfg["join"]["band_s"]
        files = ", ".join(f"'{self.batch_path(b)}'" for b in self.folded)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW delivered AS SELECT * FROM read_parquet([{files}])")
            want_view = con.execute(
                "SELECT v.user_id, v.ts AS view_ts, v.event_id AS view_id, "
                "p.ts AS purchase_ts, p.event_id AS purchase_id, p.value AS amount "
                "FROM delivered v JOIN delivered p ON v.user_id = p.user_id "
                "WHERE v.event_type = 'view' AND p.event_type = 'purchase' AND "
                "abs(epoch_us(v.ts) // 1000000 - epoch_us(p.ts) // 1000000) <= ?",
                [band],
            ).fetchdf()
            want_rollup = con.execute(
                "SELECT event_type, sum(CAST(round(value * 100) AS BIGINT)) AS cents, "
                "count(*) AS n FROM delivered GROUP BY 1"
            ).fetchdf()
        finally:
            con.close()
        errors = []
        try:
            got = read_join_view(self.spark, self.join).select(*want_view.columns).toPandas()
            assert_frames_equal(got, want_view)
        except Exception as e:  # noqa: BLE001
            errors.append(f"join view: {e!r}"[:500])
        try:
            got = read_stream_rollup(self.spark, self.rollup).select(
                *want_rollup.columns
            ).toPandas()
            assert_frames_equal(got, want_rollup)
        except Exception as e:  # noqa: BLE001
            errors.append(f"rollup: {e!r}"[:500])
        return errors

    def storage(self) -> tuple[int, int, int]:
        live = live_bytes(read_stream_rollup(self.spark, self.rollup)) + live_bytes(
            read_join_view(self.spark, self.join)
        )
        return self.ledger.written, live, self.ledger.stored()

    def extras(self) -> dict[str, float]:
        return {
            "streaming.state_bytes": sum(dir_files(self.rollup, self.join).values()),
            "streaming.batches": len(self.folded),
        }


WORKLOADS = {"daily_etl": DailyEtl, "events_mixed": EventsMixed}
