"""Constants, the manifest loaders, the version resolver, the
change-feed planner, the retention check and error types shared by the
snapshot table layer (``snapshots.py``) and the ``snapshot`` /
``snapshot_cdf`` data sources (``pysource.py``).

The data sources run without a SparkSession or the snapshots import,
so anything BOTH sides need lives here, dependency-free — one
definition, so a future layout-only commit kind (or a new retention
rule, or a new way a commit changes rows) cannot drift between the
batch and streaming feeds.
"""

from __future__ import annotations

import json
import os

VERSIONS_DIR = "_versions"

#: layout-maintenance commit kinds: rows identical before/after, so
#: the change feed skips them (Delta's dataChange=false files).
LAYOUT_ONLY_KINDS = frozenset({"compact", "zorder"})

#: schema-evolution commit kinds: metadata-only, no rows change —
#: the feed for such a version is empty, but CDC *replication* must
#: replay the same schema change on the replica (the manifest carries
#: what to replay: ``rename: {from,to}`` / ``drop: {column}``).
SCHEMA_ONLY_KINDS = frozenset({"rename_column", "drop_column"})


def _manifest_names(table: str) -> list[str]:
    vdir = os.path.join(table, VERSIONS_DIR)
    if not os.path.isdir(vdir):
        return []
    return sorted(
        n for n in os.listdir(vdir) if n.startswith("v") and n.endswith(".json")
    )


def _load(table: str, name: str) -> dict:
    with open(os.path.join(table, VERSIONS_DIR, name)) as f:
        return json.load(f)


def load_manifests(table: str) -> list[dict]:
    """Every manifest of ``table``, oldest first — the one history
    loader. Only time travel, rollback, the change feed and the
    full-history audits need it."""
    return [_load(table, n) for n in _manifest_names(table)]


def latest_manifest(table: str) -> dict | None:
    """Parse ONLY the newest manifest file — the per-commit hot paths
    (CDC replication applies one commit per source version) and reads
    of the latest version must not re-parse the whole history."""
    names = _manifest_names(table)
    return _load(table, names[-1]) if names else None


def resolve_manifest(
    table: str, version: int | None = None, as_of_ts: float | None = None
) -> dict:
    """The manifest a read of ``table`` resolves to: ``version`` (time
    travel), the latest version whose commit timestamp is ≤
    ``as_of_ts`` (TIMESTAMP AS OF; pre-timestamp manifests count as
    ts 0), or the latest version. Only time travel loads the history."""
    if version is not None and as_of_ts is not None:
        raise ValueError("pass either version or as_of_ts, not both")
    if version is None and as_of_ts is None:
        m = latest_manifest(table)
        if m is None:
            raise FileNotFoundError(f"no versions in {table}")
        return m
    by_v = {m["version"]: m for m in load_manifests(table)}
    if not by_v:
        raise FileNotFoundError(f"no versions in {table}")
    if as_of_ts is not None:
        eligible = [v for v, m in by_v.items() if m.get("ts", 0) <= as_of_ts]
        if not eligible:
            raise ValueError(f"no version of {table} existed at ts {as_of_ts}")
        version = max(eligible)
    if version not in by_v:
        raise ValueError(f"version {version} not in {sorted(by_v)}")
    return by_v[version]


def manifest_files(table: str, manifest: dict) -> list[str]:
    """Data files of one version, as paths relative to the table root
    (every commit lists them explicitly)."""
    return list(manifest["files"])


def feed_actions(
    table: str, manifests: dict, from_v: int, to_v: int
) -> list[tuple]:
    """The change feed between two versions as a flat action list —
    the one per-version diff both the Spark feed
    (``snapshots.snapshot_changes``) and the ``snapshot_cdf`` stream
    run. ``manifests`` maps version → manifest.

    Each action ``(version, change, rel, keep_dv_dir, drop_dv_dir)``
    emits, as ``change`` rows of ``version``, the rows of file ``rel``
    whose position is in the ``keep`` sidecar (when one is set) and
    not in the ``drop`` sidecar. Per commit step:

    * a file the commit ADDED: ``insert``, drop = the commit's own DV;
    * a file the commit REMOVED: ``delete`` of the rows live at the
      parent, drop = the parent's DV;
    * a carried file whose DV changed: ``delete`` of the newly deleted
      positions, keep = the current DV, drop = the parent's. Only a
      ``rollback`` can also SHRINK a DV (every other commit writes old
      ∪ new positions), so a rollback adds the ``insert`` of the
      positions it restores: keep = the parent's DV, drop = the
      current one.

    Layout-only commits (compact/zorder) change no row and are
    skipped. Each step checks with ``require_retained`` that exactly
    the files and sidecars it reads survive vacuum."""
    out: list[tuple] = []
    for v in range(from_v + 1, to_v + 1):
        cur, prev = manifests[v], manifests[v - 1]
        if cur.get("kind") in LAYOUT_ONLY_KINDS:
            continue
        cur_files = set(manifest_files(table, cur))
        prev_files = set(manifest_files(table, prev))
        cur_dv = {r: e["dir"] for r, e in cur.get("dv", {}).items()}
        prev_dv = {r: e["dir"] for r, e in prev.get("dv", {}).items()}
        step = [
            (v, "insert", r, None, cur_dv.get(r))
            for r in sorted(cur_files - prev_files)
        ] + [
            (v, "delete", r, None, prev_dv.get(r))
            for r in sorted(prev_files - cur_files)
        ]
        for r in sorted(cur_files & prev_files):
            if cur_dv.get(r) == prev_dv.get(r):
                continue
            if r in cur_dv:
                step.append((v, "delete", r, cur_dv[r], prev_dv.get(r)))
            if r in prev_dv and cur.get("kind") == "rollback":
                step.append((v, "insert", r, prev_dv[r], cur_dv.get(r)))
        require_retained(
            table, v,
            list(dict.fromkeys(a[2] for a in step))
            + sorted({d for a in step for d in a[3:] if d is not None}),
        )
        out += step
    return out


def require_retained(table: str, version: int, rels) -> None:
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
    for m in reversed(load_manifests(table)):
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
