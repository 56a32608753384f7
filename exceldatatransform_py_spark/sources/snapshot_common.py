"""Constants, the manifest file listing, the retention check and error
types shared by the snapshot table layer
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


def manifest_files(table: str, manifest: dict) -> list[str]:
    """Data files of one version, as paths relative to the table root
    (every commit lists them explicitly)."""
    return list(manifest["files"])


def require_retained(
    table: str, version: int, rels, manifests
) -> None:
    """Raise ``SnapshotRetentionError`` when any of ``rels`` (paths
    relative to the table root) a read of ``version`` needs was
    vacuumed — instead of a raw file-not-found, or worse, an empty
    scan. The error names the oldest version from which every version
    through the latest still has all its data files and deletion-vector
    sidecars on disk (the resume point)."""
    missing = next(
        (r for r in rels if not os.path.exists(os.path.join(table, r))),
        None,
    )
    if missing is None:
        return
    horizon = None
    for m in sorted(manifests, key=lambda m: m["version"], reverse=True):
        needed = manifest_files(table, m) + [
            e["dir"] for e in m.get("dv", {}).values()
        ]
        if not all(os.path.exists(os.path.join(table, r)) for r in needed):
            break
        horizon = m["version"]
    raise SnapshotRetentionError(table, version, horizon, missing)


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
