"""Object-store-safe commit protocol for the versioned table store.

Every commit entry is a put-if-absent manifest file (hard-link-from-temp
locally; conditional PUT on a real object store). These tests pin:

- marker entries commit/read/time-travel/vacuum, and MERGE commits
  through them;
- symlink entries, as earlier writers of the store published them,
  still read, time-travel, take a merge on top and vacuum;
- the CAS conflict signal;
- fault injection: a crash between staging and commit leaves the table
  readable at N-1, and vacuum sweeps the residue;
- a half-written marker can never be observed (content is complete
  before the entry name exists).
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path

import pytest

from etl_spark_spark.sinks.versioned import (
    ConcurrentWriteError,
    committed_versions,
    current_version,
    merge_into_versioned,
    read_versioned,
    vacuum_versions,
    write_version,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _entries(root):
    return sorted(p.name for p in (Path(root) / "_v").iterdir())


def test_layout_commit_read_timetravel_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = write_version(spark, _df(spark, [(1, "a")]), root)
    v2 = write_version(spark, _df(spark, [(1, "a"), (2, "b")]), root)
    assert committed_versions(root) == [v1, v2]
    assert read_versioned(spark, root).count() == 2
    assert read_versioned(spark, root, version=v1).count() == 1  # time travel
    entry = Path(root) / "_v" / f"v{v2:08d}"
    assert entry.is_file() and not entry.is_symlink()
    # pointer content resolves inside _v (relative, relocatable)
    assert (Path(root) / "_v" / entry.read_text().strip()).is_dir()
    # the full optimistic MERGE loop commits through marker entries too
    v3 = merge_into_versioned(spark, _df(spark, [(2, "B"), (3, "c")]), root, ["k"])
    got = {r["k"]: r["v"] for r in read_versioned(spark, root).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # every committed entry is a marker file
    vroot = Path(root) / "_v"
    entries = [p for p in vroot.iterdir() if p.name.startswith("v")]
    assert len(entries) == 3
    assert all(p.is_file() and not p.is_symlink() for p in entries)
    removed = vacuum_versions(root, keep=1)
    assert removed == [v1, v2]
    assert committed_versions(root) == [v3]
    assert read_versioned(spark, root).count() == 3
    # v1's and v2's staging data actually reclaimed
    stagings = [
        d for d in (Path(root) / "_v").iterdir()
        if d.name.startswith(".staging-")
    ]
    assert len(stagings) == 1


def _symlink_commit(spark, root, version, rows):
    """Commit ``rows`` the way earlier writers of the store did: data
    staged into ``_v/.staging-*``, published by a relative symlink
    entry, with the ``_current`` hint manifest advanced after it."""
    vroot = Path(root) / "_v"
    vroot.mkdir(parents=True, exist_ok=True)
    staging = vroot / f".staging-{uuid.uuid4().hex}"
    _df(spark, rows).write.parquet(str(staging))
    os.symlink(staging.name, vroot / f"v{version:08d}")
    (Path(root) / "_current").write_text(f"{version}\n")


def test_layouts_coexist_in_one_table(spark, tmp_path):
    """A table whose early entries are symlinks reads, time-travels,
    takes a MERGE on top (committed as a marker) and vacuums."""
    root = str(tmp_path / "mixed")
    _symlink_commit(spark, root, 1, [(1, "a")])
    _symlink_commit(spark, root, 2, [(1, "a"), (2, "b")])
    assert committed_versions(root) == [1, 2]
    assert {r["k"] for r in read_versioned(spark, root).collect()} == {1, 2}
    assert {r["k"] for r in read_versioned(spark, root, version=1).collect()} == {1}

    v3 = merge_into_versioned(spark, _df(spark, [(2, "B"), (3, "c")]), root, ["k"])
    assert v3 == 3 and committed_versions(root) == [1, 2, 3]
    vroot = Path(root) / "_v"
    assert (vroot / "v00000003").is_file()
    assert not (vroot / "v00000003").is_symlink()
    assert all((vroot / f"v{v:08d}").is_symlink() for v in (1, 2))
    got = {r["k"]: r["v"] for r in read_versioned(spark, root).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    old = {r["k"]: r["v"] for r in read_versioned(spark, root, version=2).collect()}
    assert old == {1: "a", 2: "b"}

    assert vacuum_versions(root, keep=1) == [1, 2]
    assert committed_versions(root) == [3]
    assert _entries(root) == sorted(
        ["v00000003", (vroot / "v00000003").read_text().strip()]
    )
    got = {r["k"]: r["v"] for r in read_versioned(spark, root).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_marker_cas_conflict_detected(spark, tmp_path):
    root = str(tmp_path / "cas")
    v1 = write_version(spark, _df(spark, [(1, "a")]), root)
    # another writer lands v2
    write_version(spark, _df(spark, [(2, "b")]), root)
    with pytest.raises(ConcurrentWriteError):
        write_version(spark, _df(spark, [(9, "z")]), root, expected_current=v1)
    # the loser's staging data was cleaned up
    stagings = [
        d for d in (Path(root) / "_v").iterdir()
        if d.name.startswith(".staging-")
    ]
    assert len(stagings) == 2  # only the two committed snapshots


def test_crash_between_staging_and_commit_leaves_nm1(spark, tmp_path, monkeypatch):
    """Kill the writer after data staging, before the commit entry:
    readers still see N-1 and vacuum reclaims the orphan staging."""
    import etl_spark_spark.sinks.versioned as V

    root = str(tmp_path / "crash")
    v1 = write_version(spark, _df(spark, [(1, "a")]), root)

    class Boom(RuntimeError):
        pass

    def die(*a, **k):
        raise Boom("simulated crash before commit")

    monkeypatch.setattr(V, "_commit_entry", die)
    with pytest.raises(Boom):
        write_version(spark, _df(spark, [(2, "b")]), root)
    monkeypatch.undo()

    # table intact at N-1
    assert current_version(root) == v1
    assert {r["k"] for r in read_versioned(spark, root).collect()} == {1}
    # orphan staging exists, invisible to readers, swept by vacuum
    orphans = [
        d for d in (Path(root) / "_v").iterdir()
        if d.name.startswith(".staging-")
    ]
    assert len(orphans) == 2  # committed v1 + the crash residue
    vacuum_versions(root, keep=1)
    survivors = [
        d for d in (Path(root) / "_v").iterdir()
        if d.name.startswith(".staging-")
    ]
    assert len(survivors) == 1
    assert {r["k"] for r in read_versioned(spark, root).collect()} == {1}


def test_marker_entry_never_half_written(spark, tmp_path, monkeypatch):
    """The marker's pointer content must be complete BEFORE the entry
    name exists — assert the implementation publishes via link-from-
    temp, not open(entry)+write."""
    import etl_spark_spark.sinks.versioned as V

    seen = []
    real_link = os.link

    def spying_link(src, dst, **kw):
        # at link time the temp file already holds the full pointer
        seen.append(Path(src).read_text())
        return real_link(src, dst, **kw)

    monkeypatch.setattr(os, "link", spying_link)
    root = str(tmp_path / "halfw")
    write_version(spark, _df(spark, [(1, "a")]), root)
    assert len(seen) == 2  # the hard-link check, then the commit
    assert seen[1].strip().startswith(".staging-")

