"""Reader racing vacuum on the versioned store (verdict-r8 task 7):
a real reader PROCESS (separate interpreter + Spark JVM) resolves a
pinned old version, then vacuum removes that version underneath it.
Pins the documented retention contract:

- a version RETAINED by vacuum (within ``keep``, or current) reads
  completely and correctly while vacuum runs — vacuum never touches
  survivors' data;
- a version REMOVED by vacuum never yields silent partial data to a
  reader that resolved it pre-vacuum: the lazy scan either fails
  loudly (files gone) or — if the filesystem let the already-opened
  scan finish — returns the COMPLETE snapshot, bit-exact;
- after vacuum, re-resolving the removed version raises
  FileNotFoundError at ``read_versioned`` (no torn snapshot is ever
  readable).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

from etl_spark_spark.sinks.versioned import (
    committed_versions,
    read_versioned,
    vacuum_versions,
    write_version,
)

# the checkout under test: the subprocess scripts import its package
_REPO = str(Path(__file__).resolve().parent.parent)

_READER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
root, version, ready, barrier, out = sys.argv[1:6]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from etl_spark_spark.sinks.versioned import read_versioned
# resolve BEFORE vacuum — the lazy DataFrame holds the resolved path
df = read_versioned(spark, root, int(version))
open(ready, "w").write("ok")
deadline = time.time() + 120
while not os.path.exists(barrier):
    if time.time() > deadline:
        open(out, "w").write("BARRIER_TIMEOUT\n"); sys.exit(2)
    time.sleep(0.02)
try:
    rows = sorted((r["k"], r["v"]) for r in df.collect())
    open(out, "w").write("ROWS " + repr(rows) + "\n")
except Exception as e:
    open(out, "w").write(f"RAISED {{type(e).__name__}}\n")
spark.stop()
""".format(repo=_REPO)


def _wait_for(path, timeout_sec, what):
    deadline = time.time() + timeout_sec
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.1)


def _spawn_reader(tmp_path, root, version, tag):
    script = tmp_path / f"reader{tag}.py"
    script.write_text(_READER)
    ready = str(tmp_path / f"ready{tag}")
    barrier = str(tmp_path / f"go{tag}")
    out = str(tmp_path / f"out{tag}")
    proc = subprocess.Popen(
        [sys.executable, str(script), root, str(version), ready, barrier, out],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    return proc, ready, barrier, out


def test_reader_racing_vacuum_honors_retention(spark, tmp_path):
    root = str(tmp_path / "tbl")
    versions = {}
    for v in range(3):
        rows = [(v * 10 + i, f"v{v}r{i}") for i in range(4)]
        write_version(
            spark,
            spark.createDataFrame(rows, "k int, v string"),
            root,
        )
        versions[v + 1] = sorted(rows)
    assert committed_versions(root) == [1, 2, 3]

    # reader A pins the DOOMED version 1; reader B pins CURRENT (3)
    pa, ra, ba, oa = _spawn_reader(tmp_path, root, 1, "a")
    pb, rb, bb, ob = _spawn_reader(tmp_path, root, 3, "b")
    try:
        _wait_for(ra, 180, "reader A resolve")
        _wait_for(rb, 180, "reader B resolve")

        removed = vacuum_versions(root, keep=1)
        assert removed == [1, 2]

        Path(ba).write_text("go")
        Path(bb).write_text("go")
        _wait_for(oa, 180, "reader A outcome")
        _wait_for(ob, 180, "reader B outcome")
    finally:
        pa.wait(timeout=180)
        pb.wait(timeout=180)

    # the SURVIVING version's reader is untouched by the vacuum:
    # complete, bit-exact rows
    out_b = Path(ob).read_text().strip()
    assert out_b == f"ROWS {versions[3]!r}", out_b

    # the vacuumed version's reader never sees silent partial data:
    # either a loud failure, or the complete snapshot (the filesystem
    # let the already-resolved scan finish)
    out_a = Path(oa).read_text().strip()
    if out_a.startswith("ROWS"):
        assert out_a == f"ROWS {versions[1]!r}", out_a
    else:
        assert out_a.startswith("RAISED"), out_a

    # post-vacuum resolution of the removed version fails loudly; the
    # current version reads fully in THIS process too
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, root, version=1)
    got = sorted(
        (r["k"], r["v"]) for r in read_versioned(spark, root).collect()
    )
    assert got == versions[3]
