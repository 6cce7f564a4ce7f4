"""Regenerate tests/plan_snapshots.json — the pinned scale-critical
plan shape of every registered query at the test fixture scale — or
dump full formatted plans for review.

Usage:
  python scripts/snapshot_plans.py
      Rewrite tests/plan_snapshots.json at $SPARK_GRAFT_TEST_SF
      (default sf0.001). Run after any deliberate plan change; the diff
      of the JSON is the review artifact (a lost broadcast or a new
      shuffle shows up as a counter bump).
  python scripts/snapshot_plans.py --dump OUTDIR [query ...]
      Write explain("formatted") of each named query (default: all)
      at $SPARK_GRAFT_SF_DIR (default sf0.1) to OUTDIR/<query>.txt.
      Run once before and once after a change and diff the two
      directories."""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from etl_spark_spark.plans import explain_str  # noqa: E402
from etl_spark_spark.session import get_spark  # noqa: E402

TRACKED = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def tracked_counts(plan: str) -> dict[str, int]:
    ops = re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
    return {t: ops.count(t) for t in TRACKED if ops.count(t)}


def snapshot() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    spark = get_spark(app_name="snapshot-plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    snap = {
        name: tracked_counts(explain_str(fn(spark, sf_dir)))
        for name, fn in sorted(entrymod.queries().items())
    }
    out = Path(__file__).parent.parent / "tests" / "plan_snapshots.json"
    out.write_text(json.dumps(snap, indent=1, sort_keys=True) + "\n")
    print(f"wrote {out} ({len(snap)} queries)")


def dump(outdir: str, only: list[str]) -> None:
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in only or sorted(qs):
        try:
            plan = explain_str(qs[name](spark, sf_dir), mode="formatted")
        except Exception as ex:  # noqa: BLE001
            plan = f"ERROR: {ex}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(name, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dump", metavar="OUTDIR")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.dump:
        dump(args.dump, args.queries)
    elif args.queries:
        ap.error("query names need --dump OUTDIR")
    else:
        snapshot()


if __name__ == "__main__":
    main()
