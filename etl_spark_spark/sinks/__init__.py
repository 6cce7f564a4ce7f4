from .write import (
    export_training_shards,
    upsert,
    write,
    write_bucketed,
    write_range_sorted,
    write_sized,
)
from .zorder import write_zordered

from .catalog import (
    build_merge_sql,
    detect_backend,
    merge_into,
    read_merged,
)

from .versioned import (
    current_version,
    list_versions,
    merge_into_versioned,
    read_versioned,
    snapshot_diff,
    vacuum_versions,
    write_version,
)

__all__ = [
    "export_training_shards",
    "write", "upsert", "write_bucketed", "write_range_sorted", "write_sized",
    "write_zordered", "write_version", "read_versioned",
    "merge_into_versioned", "vacuum_versions", "current_version",
    "snapshot_diff",
    "list_versions",
    "build_merge_sql", "detect_backend", "merge_into", "read_merged",
]
