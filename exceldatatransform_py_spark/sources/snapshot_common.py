"""Constants, the manifest file listing and error types shared by
the snapshot table layer
(``snapshots.py``) and the ``snapshot_cdf`` streaming reader
(``pysource.py``).

The streaming reader reconstructs the change feed in pure
Python/pyarrow and must run without a SparkSession or the snapshots
import, so anything BOTH sides need lives here, dependency-free —
one definition, so a future layout-only commit kind (or a new
retention rule) cannot drift between the batch and streaming feeds.
"""

from __future__ import annotations

import os

#: layout-maintenance commit kinds: rows identical before/after, so
#: the change feed skips them (Delta's dataChange=false files).
LAYOUT_ONLY_KINDS = frozenset({"compact", "zorder"})

#: schema-evolution commit kinds: metadata-only, no rows change —
#: the feed for such a version is empty, but CDC *replication* must
#: replay the same schema change on the replica (the manifest carries
#: what to replay: ``rename: {from,to}`` / ``drop: {column}``).
SCHEMA_ONLY_KINDS = frozenset({"rename_column", "drop_column"})


def parquet_files(table: str, data_dir: str) -> list[str]:
    """Parquet files under ``data_dir``, relative to the table root."""
    return sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(os.path.join(table, data_dir))
        if f.endswith(".parquet")
    )


def manifest_files(table: str, manifest: dict) -> list[str]:
    """Data files of one version, as paths relative to the table root.
    File-level manifests list them explicitly; directory-level
    manifests own every parquet in their data_dir, which each commit
    records as the keys of ``rows`` — so the list survives ``vacuum``
    removing the directory. Only legacy manifests without ``rows``
    list the directory itself."""
    if "files" in manifest:
        return list(manifest["files"])
    if "rows" in manifest:
        return sorted(manifest["rows"])
    return parquet_files(table, manifest["data_dir"])


class SnapshotRetentionError(ValueError):
    """A change-feed (or time-travel) read needs data files that
    ``vacuum`` has already dropped — the requested version range is
    past the retention horizon (Delta's VersionNotFoundException
    analogue). Re-read from ``horizon`` or later, or bootstrap the
    consumer from a full snapshot."""

    def __init__(self, table: str, version: int, horizon: int | None,
                 missing: str):
        hz = (
            f"the oldest fully retained version is {horizon}"
            if horizon is not None
            else "no fully retained version remains"
        )
        super().__init__(
            f"change feed for {table} needs files of version {version} "
            f"that vacuum removed (missing: {missing}); {hz}"
        )
        self.table = table
        self.version = version
        self.horizon = horizon
        self.missing = missing


class SnapshotStreamSchemaChangedError(RuntimeError):
    """A ``snapshot_cdf`` stream encountered a commit that ADDED
    columns after the stream initialized its output schema — the new
    column's values cannot be represented in the already-fixed schema,
    so silently continuing would corrupt the feed (the added column
    would be absent from every row). Restart the stream: a fresh
    reader picks up the latest table schema (Delta's
    restart-on-non-additive-change contract). Renames (same field
    ids) and drops (NULL-filled under the stream's stable schema)
    do NOT raise — they are representable. A same-name TYPE change
    (a full rewrite that retypes a column under the same field id)
    raises for the same reason as ADD: the new values do not fit the
    init-time schema, and without the typed error the stream would
    fail later with an opaque Arrow conversion error."""

    def __init__(self, table: str, version: int, added: list[str],
                 retyped: list[str] | None = None):
        what = []
        if added:
            what.append(f"added column(s) {added}")
        if retyped:
            what.append(f"retyped column(s) {retyped}")
        super().__init__(
            f"snapshot_cdf stream on {table}: version {version} "
            f"{' and '.join(what)} after the stream initialized its "
            "schema; restart the stream to pick up the new schema"
        )
        self.table = table
        self.version = version
        self.added = added
        self.retyped = retyped or []
