"""TRUE multi-process commit race for the versioned store (verdict-r7
task 2): two real writer PROCESSES — separate Python interpreters,
separate Spark JVMs — race a CAS ``write_version`` on one table. The
in-process simulation (test_commit_protocol.py) pins the conflict
signal; this pins that the put-if-absent primitive
itself arbitrates correctly when the contenders share nothing but the
filesystem:

- exactly one writer commits version N (the CAS winner);
- the loser gets the documented ConcurrentWriteError, not a torn table;
- the table afterwards holds exactly the pre-race versions plus ONE new
  committed snapshot, fully readable.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

from etl_spark_spark.sinks.versioned import (
    committed_versions,
    read_versioned,
    write_version,
)

# the checkout under test: the subprocess scripts import its package
_REPO = str(Path(__file__).resolve().parent.parent)

_WRITER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
root, ready, barrier, out, tag = sys.argv[1:6]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from etl_spark_spark.sinks.versioned import (
    ConcurrentWriteError, current_version, write_version,
)
df = spark.createDataFrame([(int(tag), "w" + tag)], "k int, v string")
cur = current_version(root)
open(ready, "w").write(str(cur))
deadline = time.time() + 120
while not os.path.exists(barrier):
    if time.time() > deadline:
        open(out, "w").write("BARRIER_TIMEOUT\n"); sys.exit(2)
    time.sleep(0.02)
try:
    v = write_version(spark, df, root, expected_current=cur)
    open(out, "w").write(f"WIN {{v}}\n")
except ConcurrentWriteError:
    open(out, "w").write("CONFLICT\n")
spark.stop()
""".format(repo=_REPO)


def _wait_for(paths, timeout_sec, what):
    deadline = time.time() + timeout_sec
    while not all(os.path.exists(p) for p in paths):
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.1)


def test_two_process_cas_race_has_one_winner(spark, tmp_path):
    root = str(tmp_path / "race")
    v1 = write_version(
        spark, spark.createDataFrame([(0, "base")], "k int, v string"), root
    )

    script = tmp_path / "writer.py"
    script.write_text(_WRITER)
    barrier = str(tmp_path / "go")
    procs, readies, outs = [], [], []
    for tag in ("1", "2"):
        ready = str(tmp_path / f"ready{tag}")
        out = str(tmp_path / f"out{tag}")
        readies.append(ready)
        outs.append(out)
        procs.append(
            subprocess.Popen(
                [sys.executable, str(script), root, ready, barrier, out, tag],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
        )
    try:
        # both JVMs up, both have read the same expected_current: GO
        _wait_for(readies, 180, "writer startup")
        assert all(Path(r).read_text() == str(v1) for r in readies)
        Path(barrier).touch()
        for p in procs:
            assert p.wait(timeout=180) == 0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
    results = sorted(Path(o).read_text().split()[0] for o in outs)
    assert results == ["CONFLICT", "WIN"], f"got {results}"

    committed = committed_versions(root)
    assert len(committed) == 2 and committed[0] == v1
    winner_tag = next(
        Path(o).stem[-1] for o in outs if Path(o).read_text().startswith("WIN")
    )
    rows = {
        (r["k"], r["v"]) for r in read_versioned(spark, root).collect()
    }
    assert rows == {(int(winner_tag), f"w{winner_tag}")}
    # pre-race snapshot still time-travels
    assert {
        r["v"] for r in read_versioned(spark, root, version=v1).collect()
    } == {"base"}


_MERGER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
root, ready, barrier, out, tag = sys.argv[1:6]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from etl_spark_spark.sinks.versioned import merge_into_versioned
t = int(tag)
df = spark.createDataFrame(
    [(t, "w" + tag), (100 + t, "shared" + tag)], "k int, v string"
)
open(ready, "w").write("up")
deadline = time.time() + 120
while not os.path.exists(barrier):
    if time.time() > deadline:
        open(out, "w").write("BARRIER_TIMEOUT\n"); sys.exit(2)
    time.sleep(0.02)
v = merge_into_versioned(spark, df, root, ["k"])
open(out, "w").write(f"DONE {{v}}\n")
spark.stop()
""".format(repo=_REPO)


def test_two_process_optimistic_merges_both_land(spark, tmp_path):
    """Cross-process optimistic concurrency for merge_into_versioned:
    two real writer processes MERGE different keys into one table at
    the same time. The loser of the CAS re-reads and re-merges (the
    retry loop), so BOTH updates land — no lost update, serialized
    snapshots."""
    root = str(tmp_path / "mtbl")
    v1 = write_version(
        spark,
        spark.createDataFrame([(0, "base")], "k int, v string"),
        root,
    )

    script = tmp_path / "merger.py"
    script.write_text(_MERGER)
    barrier = str(tmp_path / "go")
    procs, readies, outs = [], [], []
    for tag in ("1", "2"):
        ready = str(tmp_path / f"mready{tag}")
        out = str(tmp_path / f"mout{tag}")
        readies.append(ready)
        outs.append(out)
        procs.append(
            subprocess.Popen(
                [sys.executable, str(script), root, ready, barrier, out, tag],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
        )
    try:
        _wait_for(readies, 180, "merger startup")
        Path(barrier).touch()
        for p in procs:
            assert p.wait(timeout=180) == 0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
    results = [Path(o).read_text().split()[0] for o in outs]
    assert results == ["DONE", "DONE"], f"got {results}"

    rows = {
        (r["k"], r["v"]) for r in read_versioned(spark, root).collect()
    }
    # both merges landed on top of the base row — nothing lost
    assert (0, "base") in rows
    assert (1, "w1") in rows and (2, "w2") in rows
    assert (101, "shared1") in rows and (102, "shared2") in rows
    # snapshots serialized: base + one version per merge, minimum —
    # CAS losers may burn extra version numbers, but every committed
    # snapshot is complete and the newest holds the union
    committed = committed_versions(root)
    assert committed[0] == v1 and len(committed) >= 3


_CRASHER = r"""
import os, sys
sys.path.insert(0, {repo!r})
root = sys.argv[1]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import etl_spark_spark.sinks.versioned as V
V._commit_entry = lambda *a, **k: os._exit(9)  # die INSIDE the commit
V.write_version(
    spark,
    spark.createDataFrame([(9, "torn")], "k int, v string"),
    root,
)
""".format(repo=_REPO)


def test_writer_process_death_mid_commit_leaves_nm1(spark, tmp_path):
    """A writer PROCESS dying hard (os._exit — no atexit, no exception
    handling, the SIGKILL shape) after staging but inside the commit
    leaves readers untouched at N-1, and vacuum reclaims the orphan
    staging data. Complements the in-process monkeypatch crash test
    with a real process boundary."""
    root = str(tmp_path / "ctbl")
    v1 = write_version(
        spark, spark.createDataFrame([(0, "base")], "k int, v string"), root
    )
    script = tmp_path / "crasher.py"
    script.write_text(_CRASHER)
    p = subprocess.run(
        [sys.executable, str(script), root],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        timeout=180,
    )
    assert p.returncode == 9

    from etl_spark_spark.sinks.versioned import (
        current_version,
        vacuum_versions,
    )

    assert current_version(root) == v1
    assert {
        r["v"] for r in read_versioned(spark, root).collect()
    } == {"base"}
    stagings = [
        d for d in (Path(root) / "_v").iterdir()
        if d.name.startswith(".staging-")
    ]
    assert len(stagings) == 2  # v1's data + the dead writer's orphan
    vacuum_versions(root, keep=1)
    stagings = [
        d for d in (Path(root) / "_v").iterdir()
        if d.name.startswith(".staging-")
    ]
    assert len(stagings) == 1
    assert {
        r["v"] for r in read_versioned(spark, root).collect()
    } == {"base"}
