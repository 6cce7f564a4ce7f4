"""Snapshot-versioned table store: copy-on-write MERGE with time
travel and optimistic-concurrency commits, built from plain parquet +
atomic filesystem primitives.

This is the engine's answer to the reference's Iceberg ``MERGE INTO``
(reference etl_job.py:78-85) in an environment without catalog jars:
the same reader/writer isolation guarantees a table format provides,
expressed with filesystem primitives —

- a writer stages data fully into a UNIQUE staging directory
  (``_v/.staging-{uuid}/``) that no reader ever resolves;
- commit is ONE atomic put-if-absent of the version entry
  ``_v/v{N:08d}``: a small MANIFEST FILE whose content is the staging
  directory name, published with hard-link-from-temp (write the
  content to a hidden temp file, ``os.link`` it to the entry name).
  The link fails with EEXIST if the slot is taken, so two writers
  racing for the same version number get exactly one winner — the
  same compare-and-swap a real catalog performs on its commit log —
  and the content is complete before the name exists, so no reader
  can observe a half-written pointer. This is the object-store shape:
  a store without hard links expresses the same commit as a
  conditional PUT (S3 ``If-None-Match``, GCS ``ifGenerationMatch=0``)
  of the manifest object; only :func:`_commit_entry` would change.
  Hard links also work where symlinks need privileges (Windows/NTFS).
  Because data is complete before the entry exists, a version entry
  either IS a full snapshot or does not exist; there is no
  half-committed state to misread;
- committed = "the version entry is a manifest file or a symlink".
  Symlink entries (pointing at their staging directory) are what
  earlier writers of this store published; readers still resolve them,
  so such tables stay readable, time-travelable, mergeable and
  vacuumable, but nothing writes them any more. A real directory at a
  version slot is always crash residue: never readable as a snapshot,
  whatever commits land around it, and swept by ``vacuum_versions``;
- a crash before the commit entry leaves an unreferenced staging
  directory (invisible to readers; ``vacuum_versions`` sweeps it);
- old versions stay readable (``read_versioned(path, version=...)``)
  until vacuumed — time travel for debugging/reproducibility, the
  property training pipelines need most from a table format. A reader
  racing vacuum: versions vacuum RETAINS (within ``keep``, and always
  the current one) read completely and correctly throughout; a reader
  that resolved a version vacuum then REMOVES either fails loudly on
  its lazy scan or (if the filesystem let the opened scan finish)
  returns the complete snapshot — never silent partial data — and
  re-resolving that version post-vacuum raises FileNotFoundError
  (pinned cross-process in tests/test_vacuum_reader.py). On a real
  object store the same property falls out of delete-after-read
  visibility; set ``keep`` to cover the longest-running reader.

Concurrent writers: ``merge_into_versioned`` and
``apply_snapshot_delta`` commit through one optimistic-concurrency
loop (:func:`_commit_optimistic`) — read current version, build the
snapshot, commit with ``expected_current`` CAS; on conflict it
re-reads and rebuilds, so two interleaved merges both land and neither
update is lost (pinned by test). ``compact_table`` makes a single CAS
attempt and does not retry. Cross-table transactions still need a
real catalog.

At 100 TB: copy-on-write rewrites the whole table per merge. That is
the honest cost of plain-parquet MERGE; the partition-scoped
``sinks.upsert`` covers targets where touched-partition rewriting is
enough, and a real catalog covers row-level deletes.
"""

from __future__ import annotations

import operator
import os
import shutil
import uuid
from collections.abc import Callable, Sequence
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_VDIR = "_v"
_ANY = "any"  # sentinel: no CAS, blind snapshot write
_MAX_RETRIES = 5  # optimistic-commit attempts before giving up


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's read and its
    commit attempt (the optimistic-concurrency conflict signal)."""


def _version_dir(path: str | Path, version: int) -> Path:
    return Path(path) / _VDIR / f"v{version:08d}"


def _check_hard_links(root: Path) -> None:
    """Fail fast, BEFORE any staging data is written, when the table
    root cannot hard-link (some object-store FUSE mounts and network
    filesystems): the commit's atomicity rests on ``os.link``, and
    without it the writer would otherwise surface a raw OSError only
    after a full staged write."""
    src = root / _VDIR / f".probe-{uuid.uuid4().hex}"
    dst = root / _VDIR / f".probe-{uuid.uuid4().hex}"
    try:
        src.write_text("probe\n")
        os.link(src, dst)
        os.unlink(dst)
    except OSError as e:
        raise OSError(
            f"table root {root} does not support hard links, so no "
            "atomic put-if-absent commit is available on this "
            "filesystem. On a real object store, express the commit as "
            "a conditional PUT (S3 If-None-Match / GCS "
            "ifGenerationMatch=0) of the version manifest — see the "
            "module docstring."
        ) from e
    finally:
        src.unlink(missing_ok=True)


def _commit_entry(root: Path, version: int, staging_name: str) -> None:
    """Publish ``version`` -> ``staging_name`` with ONE atomic
    put-if-absent; raises FileExistsError when the slot is taken
    (the CAS losing side). The pointer content goes to a hidden temp
    file first and is hard-linked into place, so the entry name never
    exists with incomplete content."""
    tmp = root / _VDIR / f".cmt-{uuid.uuid4().hex}"
    tmp.write_text(staging_name + "\n")
    try:
        os.link(tmp, _version_dir(root, version))
    finally:
        os.unlink(tmp)


def _entry_target_name(entry: Path) -> str | None:
    """The staging-directory name a committed entry points at, or None
    when ``entry`` is no commit entry (crash residue or missing)."""
    if entry.is_symlink():
        return os.readlink(entry)
    if entry.is_file():
        return entry.read_text().strip()
    return None


def _snapshot_data_dir(path: str | Path, version: int) -> Path:
    """The directory holding a committed version's data files."""
    return Path(path) / _VDIR / _entry_target_name(_version_dir(path, version))


def _is_committed(path: str | Path, version: int) -> bool:
    p = _version_dir(path, version)
    return p.is_symlink() or p.is_file()


def list_versions(path: str | Path) -> list[int]:
    """All version numbers with an entry on disk (committed or
    orphaned), ascending."""
    vroot = Path(path) / _VDIR
    if not vroot.exists():
        return []
    return sorted(
        int(p.name[1:]) for p in vroot.iterdir() if p.name.startswith("v")
    )


def committed_versions(path: str | Path) -> list[int]:
    """Version numbers readers may resolve, ascending."""
    return [v for v in list_versions(path) if _is_committed(path, v)]


def current_version(path: str | Path) -> int | None:
    """The newest committed version number, or None for an empty
    table."""
    vs = committed_versions(path)
    return vs[-1] if vs else None


def write_version(
    spark: SparkSession,
    df: DataFrame,
    path: str | Path,
    expected_current: int | None | str = _ANY,
) -> int:
    """Commit ``df`` as the table's next version. Data lands fully in a
    unique staging directory BEFORE the atomic commit entry (a
    put-if-absent manifest file naming that directory) publishes it; a
    crash before the commit leaves readers untouched. A table root that
    cannot hard-link raises OSError before any data is staged.

    ``expected_current`` selects the write mode:

    - ``"any"`` (default): blind snapshot write — claims the lowest
      free slot, retrying past slots other writers take;
    - an int (or None for expect-empty): compare-and-swap — commits
      ONLY IF the table's newest committed version is still exactly
      that value, else raises :class:`ConcurrentWriteError` (and
      removes its staging data). This is the primitive a
      read-merge-commit cycle needs to detect a concurrent commit.
    """
    root = Path(path)
    (root / _VDIR).mkdir(parents=True, exist_ok=True)
    _check_hard_links(root)
    staging = root / _VDIR / f".staging-{uuid.uuid4().hex}"
    df.write.mode("errorifexists").parquet(str(staging))

    cas = expected_current != _ANY
    for _ in range(1000):  # blind mode may race past many taken slots
        cur = current_version(root)
        if cas and cur != expected_current:
            shutil.rmtree(staging)
            raise ConcurrentWriteError(
                f"expected current version {expected_current}, found {cur}"
            )
        base = 0 if cur is None else cur
        taken = set(list_versions(root))
        target = base + 1
        while target in taken:
            target += 1
        try:
            # atomic put-if-absent: relative pointer keeps the table
            # relocatable
            _commit_entry(root, target, staging.name)
        except FileExistsError:
            if cas:
                shutil.rmtree(staging)
                raise ConcurrentWriteError(
                    f"lost the commit race for version {target}"
                )
            continue  # blind mode: rescan and take the next free slot
        if cas:
            # a writer may have committed a DIFFERENT slot between our
            # read and our claim (it saw our claim and skipped ahead,
            # or claimed a lower free slot) — validate nothing newer
            # than expected committed besides us, else roll back
            others = [v for v in committed_versions(root) if v != target]
            newest = others[-1] if others else None
            if newest != expected_current:
                os.unlink(_version_dir(root, target))
                shutil.rmtree(staging)
                raise ConcurrentWriteError(
                    f"concurrent commit detected (saw {newest}, "
                    f"expected {expected_current})"
                )
        return target
    raise ConcurrentWriteError("could not claim a version slot")


def read_versioned(
    spark: SparkSession,
    path: str | Path,
    version: int | None = None,
) -> DataFrame:
    """Read the committed snapshot (or a pinned historical ``version``).
    Raises FileNotFoundError on an empty table or when ``version``
    names an uncommitted/orphaned directory — crash residue is never
    readable as a snapshot."""
    v = current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"versioned table {path} has no commits")
    if not _is_committed(path, v):
        raise FileNotFoundError(
            f"version {v} under {path} is not a committed snapshot "
            "(orphaned or never written)"
        )
    return spark.read.parquet(str(_snapshot_data_dir(path, v)))


def merge_into_versioned(
    spark: SparkSession,
    source_df: DataFrame,
    path: str | Path,
    keys: Sequence[str],
    when_matched: str = "update",
    insert_unmatched: bool = True,
) -> int:
    """MERGE with the standard clause semantics, committed as a new
    snapshot:

    - ``when_matched='update'``: matched target rows are replaced by
      their source row (whole-row upsert);
    - ``when_matched='delete'``: matched target rows are removed;
    - ``insert_unmatched``: source rows with no target match are
      appended (with ``False``, an update/delete-only merge).

    First merge into an empty table bootstraps it from ``source_df``
    (inserts only). Otherwise the snapshot is :func:`keyed_merge` of
    the current version and ``source_df`` — one pass over each input.
    Returns the committed version number.

    Concurrency: full optimistic loop — the merge is computed against
    the version observed at read time and committed with a CAS on that
    version; on conflict the cycle re-reads and re-merges (up to
    ``_MAX_RETRIES`` times), so interleaved merges serialize without
    lost updates."""
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete, got {when_matched!r}")
    keys = list(keys)

    def merge_onto(target: DataFrame | None) -> DataFrame:
        if target is not None:
            return keyed_merge(
                target, source_df, keys, when_matched, insert_unmatched
            )
        if not insert_unmatched:
            raise ValueError(
                "nothing to merge: empty table and insert_unmatched=False"
            )
        return source_df

    return _commit_optimistic(spark, path, merge_onto, "merge")


def _commit_optimistic(
    spark: SparkSession,
    path: str | Path,
    build: Callable[[DataFrame | None], DataFrame],
    what: str,
) -> int:
    """The optimistic-concurrency commit loop: read the current version,
    build the next snapshot from it (``build(None)`` on an empty table),
    and commit with a CAS on the version read. When another writer
    committed in between, re-read and rebuild on top of its commit, up
    to ``_MAX_RETRIES`` times. Returns the committed version."""
    last_err: ConcurrentWriteError | None = None
    for _ in range(_MAX_RETRIES):
        cur = current_version(path)
        target = None if cur is None else read_versioned(spark, path, cur)
        try:
            return write_version(spark, build(target), path, expected_current=cur)
        except ConcurrentWriteError as e:
            last_err = e  # someone committed under us: re-read, rebuild
    raise ConcurrentWriteError(
        f"{what} lost the commit race {_MAX_RETRIES} times"
    ) from last_err


def keyed_merge(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    when_matched: str = "update",
    insert_unmatched: bool = True,
) -> DataFrame:
    """The rows a MERGE of ``source`` into ``target`` on ``keys``
    leaves behind, planned as ONE pass over each input: both sides are
    tagged and unioned by name, one window partitioned on ``keys``
    flags every row with whether its key has a source row and a target
    row, and the clause table keeps

    ============================  ===============  ====================
    clauses                       target row kept  source row kept
    ============================  ===============  ====================
    update, insert_unmatched      unmatched        always
    update                        unmatched        matched
    delete, insert_unmatched      unmatched        unmatched
    delete                        unmatched        never
    ============================  ===============  ====================

    This is the anti-join + union expansion (target ⟕anti source ∪
    source, or its semi/anti variants) without planning ``source``
    twice, so a costly source (scan + aggregate + broadcasts) runs
    once and a nondeterministic one cannot disagree with itself.
    Equi-join semantics are kept: a row with a NULL key column never
    matches, duplicate keys on either side all follow their clause.
    Columns are the target's, in order, then source-only columns;
    a delete-only merge keeps exactly the target's columns and types.
    """
    keys = list(keys)
    side, has_src, has_tgt = "__merge_side", "__merge_has_src", "__merge_has_tgt"
    tagged = target.withColumn(side, F.lit(0)).unionByName(
        source.withColumn(side, F.lit(1)), allowMissingColumns=True
    )
    # the window groups NULL keys together; an equi-join never matches them
    keyed = reduce(operator.and_, [F.col(k).isNotNull() for k in keys])
    w = Window.partitionBy(*keys)
    flagged = tagged.select(
        "*",
        (keyed & (F.max(side).over(w) == 1)).alias(has_src),
        (keyed & (F.min(side).over(w) == 0)).alias(has_tgt),
    )
    if when_matched == "update":
        src_keep = F.lit(True) if insert_unmatched else F.col(has_tgt)
    else:
        src_keep = ~F.col(has_tgt) if insert_unmatched else F.lit(False)
    kept = flagged.filter(
        F.when(F.col(side) == 1, src_keep).otherwise(~F.col(has_src))
    )
    if when_matched == "delete" and not insert_unmatched:
        return kept.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in target.schema.fields
            ]
        )
    return kept.drop(side, has_src, has_tgt)


def apply_snapshot_delta(
    spark: SparkSession,
    delta: DataFrame,
    path: str | Path,
    keys: Sequence[str],
) -> int:
    """Apply a ``snapshot_diff`` delta to a FOLLOWER table in one
    commit: insert/update rows upsert, delete rows remove their keys.
    This closes the CDC loop — a downstream copy follows a
    copy-on-write leader by shipping deltas, never re-reading the
    leader's full snapshots. If the follower currently equals the
    leader's ``from_version``, it equals the leader's ``to_version``
    after the apply (pinned by test). Same optimistic-concurrency
    commit as ``merge_into_versioned``. Returns the committed
    version."""
    keys = list(keys)
    upserts = delta.filter(F.col("change_type") != "delete").drop("change_type")
    d = delta.select(*keys).distinct().alias("d")

    def apply_onto(target: DataFrame | None) -> DataFrame:
        if target is None:
            return upserts
        # NULL-safe anti join: the diff matches NULL keys with
        # eqNullSafe, so the apply must too — a plain anti join would
        # leave a NULL-keyed target row behind its update
        t = target.alias("t")
        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys]
        untouched = t.join(d, cond, "left_anti").select("t.*")
        return untouched.unionByName(upserts, allowMissingColumns=True)

    return _commit_optimistic(spark, path, apply_onto, "delta apply")


def compact_table(
    spark: SparkSession,
    path: str | Path,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_by: Sequence[str] | None = None,
) -> int:
    """Rewrite the current snapshot's data files into ~``target_file_bytes``
    files and commit the result as a new version — the maintenance op
    every ingest-heavy table needs: streams of small merges accumulate
    thousands of tiny files, and at cluster scale every tiny file is a
    scan task, a driver bookkeeping entry, and a seek.

    Properties:

    - data-identical by construction (same rows, new layout); readers
      of older versions are untouched (time travel intact);
    - file count is sized from the snapshot's ACTUAL on-disk bytes
      (``coalesce`` — a shuffle-free collapse; compaction must not pay
      a full shuffle just to concatenate files);
    - with ``order_by``, the rewrite RANGE-CLUSTERS and sorts on those
      columns instead (Delta's OPTIMIZE-with-clustering shape): this
      one deliberately pays the range exchange, buying disjoint
      per-file min/max stats so the stats-index / row-group skippers
      discriminate on the key — the right trade when the table is
      read through range predicates;
    - committed with a CAS on the version observed at read time, so a
      merge landing mid-compaction raises :class:`ConcurrentWriteError`
      instead of silently reverting that merge's rows (the caller — a
      maintenance loop — just retries later).

    At 100 TB the same op runs partition-scoped (compact one date/
    bucket directory at a time) — this table store is unpartitioned
    snapshots, so the scope is the snapshot. Returns the new version.
    """
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"versioned table {path} has no commits")
    vdir = _snapshot_data_dir(path, cur)
    on_disk = sum(
        f.stat().st_size
        for f in Path(vdir).rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    )
    n_files = max(1, -(-on_disk // target_file_bytes))  # ceil
    snap = read_versioned(spark, path, cur)
    if order_by:
        snap = snap.repartitionByRange(
            int(n_files), *[F.col(c) for c in order_by]
        ).sortWithinPartitions(*order_by)
    else:
        snap = snap.coalesce(int(n_files))
    return write_version(spark, snap, path, expected_current=cur)


def vacuum_versions(path: str | Path, keep: int = 1) -> list[int]:
    """Delete version entries older than the newest ``keep`` committed
    ones, plus any orphaned (never-committed) directories and
    unreferenced staging directories. Never touches the current
    version. Not safe to run concurrently with an in-flight writer
    (it may sweep that writer's staging data). Returns the versions
    removed."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    root = Path(path)
    committed = committed_versions(root)
    if not committed:
        return []
    uncommitted = [v for v in list_versions(root) if v not in committed]
    drop = (committed[:-keep] if len(committed) > keep else []) + uncommitted
    for v in drop:
        p = _version_dir(root, v)
        tgt_name = _entry_target_name(p)
        if tgt_name is not None:
            os.unlink(p)
            shutil.rmtree(root / _VDIR / tgt_name, ignore_errors=True)
        else:
            shutil.rmtree(p)
    # sweep staging dirs no surviving version references
    referenced = {
        _entry_target_name(_version_dir(root, v))
        for v in committed_versions(root)
    }
    vroot = root / _VDIR
    for d in vroot.iterdir():
        if d.name.startswith(".staging-") and d.name not in referenced:
            shutil.rmtree(d, ignore_errors=True)
        elif d.name.startswith((".cmt-", ".probe-")) and d.is_file():
            # a crash between the marker temp's write_text and its
            # os.link orphans the hidden temp; committed entries are
            # the LINKED names (v########), never the .cmt-* temp, so
            # sweeping is always safe for completed commits — and
            # vacuum already assumes no writer is in flight. Same for
            # .probe-* hard-link-check leftovers (a crash between the
            # check's write_text/os.link and its finally).
            d.unlink(missing_ok=True)
    return sorted(drop)


def snapshot_diff(
    spark: SparkSession,
    path: str | Path,
    from_version: int,
    to_version: int,
    keys: Sequence[str],
    include_old: bool = False,
) -> DataFrame:
    """Change-data-capture between two committed snapshots: one row per
    changed key with ``change_type`` in {insert, update, delete} plus
    the row's columns at ``to_version`` (NULLs for deletes — the key
    columns always survive, taken from the old side).

    The diff is a single full-outer join on the keys; unchanged rows
    are filtered by comparing the non-key columns as one struct (NULL-
    safe equality), so the shuffle carries both snapshots once and the
    output is only the delta. Presence on each side is detected by a
    literal marker column (NOT key nullness — a legitimately-NULL key
    column matched via eqNullSafe must not read as an insert). This is
    how downstream consumers follow a copy-on-write table without
    re-reading it: ship the delta, not the snapshot.

    ``include_old=True`` additionally emits each payload column's
    from-version value as ``old_<col>`` (NULL for inserts) — the
    retraction half a consumer needs to maintain derived aggregates
    incrementally (see ``operators.rollup.apply_agg_delta``)."""
    keys = list(keys)
    old = read_versioned(spark, path, from_version)
    new = read_versioned(spark, path, to_version)
    old_fields = {f.name: f.dataType for f in old.schema.fields}
    new_fields = {f.name: f.dataType for f in new.schema.fields}
    if old_fields != new_fields:
        raise ValueError(
            f"schema changed between versions: {old_fields} vs "
            f"{new_fields} — diff the schemas, not the rows"
        )
    payload = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        F.struct(*payload).alias("__old_p") if payload else F.lit(None).alias("__old_p"),
        F.lit(True).alias("__old_present"),
    )
    n = new.select(
        *keys,
        F.struct(*payload).alias("__new_p") if payload else F.lit(None).alias("__new_p"),
        F.lit(True).alias("__new_present"),
    )
    cond = [n[k].eqNullSafe(o[f"__ok_{k}"]) for k in keys]
    joined = n.join(o, cond, "full_outer")
    change = (
        F.when(F.col("__old_present").isNull(), F.lit("insert"))
        .when(F.col("__new_present").isNull(), F.lit("delete"))
        .when(F.col("__new_p").eqNullSafe(F.col("__old_p")), F.lit(None))
        .otherwise(F.lit("update"))
    )
    out_keys = [
        F.coalesce(n[k], o[f"__ok_{k}"]).alias(k) for k in keys
    ]
    out_payload = [F.col("__new_p")[c].alias(c) for c in payload]
    if include_old:
        out_payload += [
            F.col("__old_p")[c].alias(f"old_{c}") for c in payload
        ]
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*out_keys, *out_payload, "change_type")
    )

