"""End-to-end jobs: the reference's monthly ressarcimento backfill,
composed from this engine's operators with a Spark-native sink.

Reference parity (etl_job.py:91-110): gated to month-start days, one
run per year since ``start_year``; first year replaces the target,
later years append, each run guarded on non-emptiness via isEmpty()
rather than a driver collect.

The reference's other scheduled job — the daily superdesconto MERGE
on ``etiqueta`` (etl_job.py:28-85) — is ``pipelines.daily_loop.
run_daily_loop``: an index-pruned window read, the best-sale
transform, and a versioned MERGE commit.

The job takes the date/gate context as plain arguments so it is
trivially schedulable (cron/Airflow/Workflows) and testable.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sinks import write
from .incremental import backfill_years, run_guarded, should_run_monthly
from .ressarcimento import allocation_pipeline


def run_ressarcimento_backfill(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    today: dt.date,
    start_year: int = 2023,
    force: bool = False,
) -> list[int]:
    """Month-start backfill: one allocation run per year; replace on
    the first year, append after; empty years skipped. Returns the
    years actually written. ``force`` bypasses the day-of-month gate
    (the reference's gate is cron + code; ours is testable)."""
    if not force and not should_run_monthly(today):
        return []
    written: list[int] = []
    first = True
    for year in backfill_years(start_year, today):
        result = allocation_pipeline(spark, sf_dir)
        # fixture allocation is year-independent; a real deployment
        # parameterizes the loss/credit scans by year (the reference
        # filters year(ts)==ano, utils_ressarcimento.py:115) — we tag
        # the output instead so appended years stay distinguishable
        result = result.withColumn("ano", F.lit(year))
        mode = "overwrite" if first else "append"
        if run_guarded(result, lambda df, m=mode: write(df, target_path, mode=m)):
            written.append(year)
            first = False
    return written
