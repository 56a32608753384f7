"""Versioned snapshot tables: time travel / rollback on plain parquet.

The lightweight transactional layout every table format (Delta,
Iceberg, Hudi) formalizes, reduced to its primitives so it runs on any
filesystem with nothing but parquet and one JSON manifest per commit:

    table/
      _versions/v00000.json   {"version": 0, "files": [...], ...}
      _versions/v00001.json
      d00000-3fa9c1d2/*.parquet   files written by version 0
      d00001-77b0e4aa/*.parquet   files written by version 1
      _dv/v00002-9c0e51f3/        deletion-vector sidecars of version 2

* Writers NEVER mutate existing data: each commit stages the files it
  writes under a fresh, globally unique directory, then publishes the
  next manifest, which lists the version's files explicitly — the
  ones it wrote plus the ones it inherits BY REFERENCE from its parent.
  The manifest write is the commit point, and it is put-if-absent:
  concurrent writers racing for the same version see exactly one
  winner, and the loser gets ``SnapshotConflictError`` instead of
  silently clobbering — the same optimistic-concurrency protocol
  Delta runs on its log store (put-if-absent on the next log entry).
  Staging needs no atomic primitive (unique names cannot collide);
  HOW put-if-absent is achieved is pluggable (``CommitProtocol``):
  ``PosixCommitProtocol`` (default) uses a create-exclusive hardlink
  — right for local disk/HDFS; ``ConditionalPutCommitProtocol`` never
  renames or links anything (conditional PUT of the manifest object)
  — the shape object stores need, where rename is copy+delete and not
  atomic. Read-modify-write
  commits (``snapshot_merge_update``) capture the version they read
  and commit conditionally on it, so lost updates are impossible;
  ``max_retries`` re-runs the read-merge-commit loop on conflict.
* Readers resolve the manifest FIRST, then read only the files it
  lists — a reader never sees a half-written commit, and old
  versions stay readable until vacuumed (snapshot isolation).
* ``overwrite`` and ``merge_update`` are the two commit kinds the
  reference pipeline needs (full rewrite / S5 update-only merge,
  ``timesheet_transform.py:105-138``); both go through the same
  commit path as every other data commit (``_commit_files``, one
  add/remove file list per commit, like Delta's log actions): the
  overwrite removes every parent file, the full-read merge rewrites
  every file, the file-pruned merge only the files that may match.
  The merge commit carries the FULL MERGE clause
  surface (``operators.merge.merge_full``): WHEN MATCHED UPDATE
  always, optional WHEN NOT MATCHED INSERT and WHEN NOT MATCHED BY
  SOURCE DELETE; the file-pruned variant supports INSERT too.

* Deletes come in two physical flavors, like Delta/Iceberg v2:
  copy-on-write (``snapshot_delete_range`` — rewrite overlapping
  files) and merge-on-read (``snapshot_delete_dv`` — record deleted
  row positions in a parquet sidecar, rewrite NOTHING; readers
  subtract them, COUNT(*) subtracts cached cardinalities, and
  compaction/merges materialize them away).

At 100 TB: data files are written by the cluster with normal
parallelism (this module adds no driver-side data movement); only the
KB-sized manifest is driver-written. Version history is O(commits)
small files; ``vacuum`` drops data directories older than a retention
horizon exactly like Delta's VACUUM.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from exceldatatransform_py_spark.sources.snapshot_common import (
    LAYOUT_ONLY_KINDS as _LAYOUT_ONLY_KINDS,
    SCHEMA_ONLY_KINDS as _SCHEMA_ONLY_KINDS,
    VERSIONS_DIR as _VDIR,
    SnapshotRetentionError,  # re-exported: raised by the feed readers
    feed_actions as _feed_actions,
    latest_manifest as _latest_manifest,
    load_manifests as _manifests,
    manifest_files as _manifest_files,
    require_retained as _require_retained,
    resolve_manifest as _resolve_manifest,
)

_DVDIR = "_dv"

#: the deletion-vector sidecar layout: ``_write_dv`` writes exactly
#: these columns (``pos`` is the parquet reader's ``row_index``) and
#: every sidecar read uses this schema, so no read infers it (an
#: inferred read costs a Spark job).
_DV_SCHEMA = "rel string, pos long"

#: the change feed's action rows, in ``feed_actions``' tuple order
_FEED_ACTIONS = (
    "array<struct<_commit_version: int, _change_type: string, "
    "__rel: string, __keep: string, __drop: string>>"
)

#: a version's total deleted-position count below this is broadcast
#: into the read-side anti-join (DVs are usually tiny vs data).
_DV_BROADCAST_MAX = 2_000_000


def _version_path(table: str, v: int) -> str:
    return os.path.join(table, _VDIR, f"v{v:05d}.json")


def latest_version(table: str) -> int | None:
    m = _latest_manifest(table)
    return None if m is None else m["version"]


def _stat_encode(v):
    """Footer min/max value → JSON-safe form (type-tagged for the
    temporal types JSON cannot carry natively)."""
    import datetime

    if isinstance(v, datetime.datetime):
        return {"__ts": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__date": v.isoformat()}
    if isinstance(v, (int, float, str, bool)):
        return v
    return None  # unsupported stat type → treat as no stats


def _stat_decode(v):
    import datetime

    if isinstance(v, dict):
        if "__ts" in v:
            return datetime.datetime.fromisoformat(v["__ts"])
        if "__date" in v:
            return datetime.date.fromisoformat(v["__date"])
    return v


def _collect_stats(
    table: str, rel_files: list[str], cols: Sequence[str]
) -> dict:
    """{relative file: {col: [min, max]}} from parquet footers —
    computed once at COMMIT time so later pruned merges never reopen
    data files (what Delta/Iceberg store in the log). Each entry is
    ``[lo, hi, null_count]`` — the NULL count (JSON null when the
    footer doesn't report one) lets NULL-keyed merges prune to
    NULL-carrying files only; pre-upgrade manifests hold 2-element
    ``[lo, hi]``. The footer reads are ``_prune_files``' backfill
    against a manifest with no cached stats."""
    out: dict = {}
    for c in cols:
        _, backfill = _prune_files(table, {}, rel_files, {c: _NO_MATCH})
        for rel, st in backfill.items():
            out.setdefault(rel, {}).update(st)
    return out


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _footer_col_stats(path: str, col: str) -> list | None:
    """Per-row-group footer statistics of ``col`` (an entry is None
    when its group has none), or None when the file lacks the column."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    for i in range(md.num_columns):
        if md.schema.column(i).name == col:
            return [
                md.row_group(rg).column(i).statistics
                for rg in range(md.num_row_groups)
            ]
    return None


def _footer_nullcount(path: str, col: str) -> int | None:
    """Total NULL count of ``col`` across a file's row groups, or
    ``None`` when any group doesn't report one (callers must then
    treat the file as possibly NULL-carrying)."""
    sts = _footer_col_stats(path, col)
    if sts is None or any(st is None or st.null_count is None for st in sts):
        return None
    return sum(st.null_count for st in sts)


def _footer_minmax(path: str, col: str):
    """(min, max) of ``col`` across a parquet file's row groups, read
    from footer statistics — None when any group lacks stats (the
    caller must then treat the file as touched). The footer read is
    the FALLBACK: commits made with ``stats_cols`` cache these in the
    manifest (``_collect_stats``), exactly where Delta/Iceberg keep
    per-file stats, and pruning consults the manifest first."""
    sts = _footer_col_stats(path, col)
    if not sts or any(st is None or not st.has_min_max for st in sts):
        return None
    return min(st.min for st in sts), max(st.max for st in sts)


def _collect_rows(table: str, rel_files: list[str]) -> dict:
    """{relative file: row count} from parquet footers, cached in the
    manifest at COMMIT time so ``snapshot_count`` answers COUNT(*)
    from metadata alone — the aggregate pushdown every table format's
    log provides."""
    return {rel: _footer_rows(os.path.join(table, rel)) for rel in rel_files}


# ---------------------------------------------------------------------------
# Per-file bloom filters: min/max stats cannot prune POINT lookups on
# a high-cardinality column that isn't clustered — every file's range
# covers every key, so a one-key merge rewrites the whole table. A
# small per-file bloom (m bits, k seeded hashes) cached in the
# manifest answers "can this file contain key x?" probabilistically:
# false positives only cost an unnecessary rewrite-unchanged; false
# negatives are impossible, so pruning stays sound. This is the
# bloom-filter index Delta/Iceberg/Hudi attach to data files.
# ---------------------------------------------------------------------------

#: bloom geometry: 4096 bits / 2 seeded xxhash64 probes ⇒ ~0.2% FP at
#: 100 distinct keys per file, ~5% at 500; saturated blooms degrade to
#: "maybe" (never unsound). 1 KiB hex per (file, col) in the manifest.
_BLOOM_M = 4096
_BLOOM_SEEDS = (177, 331)
#: point-probe key sets larger than this skip bloom consultation (the
#: driver-side distinct-collect would dominate; range pruning already
#: handles bulk merges).
_BLOOM_PROBE_CAP = 10_000


def _bloom_bit(seed: int, col: str):
    return F.pmod(
        F.xxhash64(F.lit(seed), F.col(col)), F.lit(_BLOOM_M)
    ).cast("int")


def _collect_blooms(
    spark: SparkSession,
    table: str,
    rel_files: list[str],
    cols: Sequence[str],
    schema: dict | None,
) -> dict:
    """{rel file: {col: hex bitmap}} in ONE distributed scan of the
    newly committed files (grouped by the reader's ``_metadata`` file
    path) — the cluster computes the blooms, the driver only packs
    ≤ m distinct bit positions per (file, col) into a hex string. The
    files are read under ``schema``, the JSON schema they were staged
    with, so the scan infers nothing."""
    if not rel_files or not cols:
        return {}
    scan = spark.read.schema(T.StructType.fromJson(schema)).parquet(
        *[os.path.join(table, r) for r in rel_files]
    )
    aggs = []
    for c in cols:
        for si, s in enumerate(_BLOOM_SEEDS):
            aggs.append(
                F.collect_set(_bloom_bit(s, c)).alias(f"__b_{c}_{si}")
            )
    rows = (
        scan.withColumn("__rel", _rel_file_expr())
        .groupBy("__rel")
        .agg(*aggs)
        .collect()
    )
    out: dict = {}
    for r in rows:
        ent = {}
        for c in cols:
            bits = 0
            for si in range(len(_BLOOM_SEEDS)):
                for b in r[f"__b_{c}_{si}"] or []:
                    bits |= 1 << int(b)
            ent[c] = f"{bits:x}"
        out[r["__rel"]] = ent
    return out


def _bloom_may_contain(hexmap: str, pairs: list[tuple]) -> bool:
    """True iff the bloom cannot rule out EVERY probed key (a key is
    possible when all of its k bit positions are set)."""
    bits = int(hexmap, 16)
    return any(
        all((bits >> b) & 1 for b in pair) for pair in pairs
    )


def _bloom_probe_pairs(keys: DataFrame, col: str) -> list[tuple] | None:
    """The distinct non-NULL probe keys' bloom bit tuples, or None
    when the key set exceeds ``_BLOOM_PROBE_CAP`` (bulk merge — bloom
    consultation would cost more than it saves; range pruning still
    applies)."""
    cap = _BLOOM_PROBE_CAP
    rows = (
        keys.filter(F.col(col).isNotNull())
        .select(
            *[
                _bloom_bit(s, col).alias(f"b{i}")
                for i, s in enumerate(_BLOOM_SEEDS)
            ]
        )
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return [
        tuple(int(r[f"b{i}"]) for i in range(len(_BLOOM_SEEDS)))
        for r in rows
    ]


def _literal_probe_frame(spark: SparkSession, manifest: dict, col: str, values):
    """One-row-per-value frame of probe literals CAST to the table
    column's committed type — xxhash64 is type-sensitive, so probing
    an int column with a Python int defaulting to long would miss.
    Returns None for non-primitive column types."""
    typ = next(
        (
            f.get("type")
            for f in manifest.get("schema", {}).get("fields", [])
            if f.get("name") == col
        ),
        None,
    )
    if not isinstance(typ, str) or not values:
        return None
    return spark.createDataFrame(
        [(str(v),) for v in values], "v string"
    ).select(F.col("v").cast(typ).alias(col))


def _bloomed(m: dict, cols: Sequence[str]) -> list[str]:
    """The subset of ``cols`` that carries a per-file bloom in ``m``."""
    blooms = m.get("blooms", {}).values()
    return [c for c in cols if any(c in e for e in blooms)]


#: per-key bounds no file can match (empty key set): pruning with it
#: only backfills the key's stats
_NO_MATCH = (None, None, False, None)


def _prune_files(
    table: str, m: dict, files: list[str], bounds: dict
) -> tuple[list[str], dict]:
    """The files of manifest ``m`` that MAY hold a row matching the
    keys, plus backfilled stats — the one data-skipping test behind
    pruned merges, both deletes, CDC apply, point reads, the
    rebase check on a winner's added files, and commit-time stats.

    ``bounds`` maps each key column to ``(lo, hi, nulls, pairs)``: the
    non-NULL key range (``lo is None`` — no non-NULL key), whether
    NULL keys are present (they match NULL-safely), and bloom probe
    pairs (``None`` — no bloom test). A file is excluded when ANY key
    proves it cannot match (exclusions intersect across keys): its
    min/max misses [lo, hi] or its bloom rules out every probe, AND it
    holds no NULL key when NULL keys are probed. Stats come from the
    manifest's cache first; only the FIRST key falls back to footer
    reads (a later key without cached stats simply cannot exclude).
    Unknown ranges / NULL counts and incomparable values count as
    "may match", so pruning is a superset test and always sound.

    Returns ``(may_match, backfill)`` where ``backfill`` is
    ``{rel: {first key: [lo, hi, null_count]}}`` for every file whose
    first-key range is known — cached entries upgraded with a NULL
    count, footer-read ones ready to cache in the next manifest."""
    stats = m.get("stats", {})
    blooms = m.get("blooms", {})
    may_match: list[str] = []
    backfill: dict = {}
    for rel in files:
        may = True
        path = os.path.join(table, rel)
        for j, (k, (lo, hi, nulls, pairs)) in enumerate(bounds.items()):
            cached = stats.get(rel, {}).get(k)
            if cached is not None:
                mm = (_stat_decode(cached[0]), _stat_decode(cached[1]))
                nc = cached[2] if len(cached) >= 3 else (
                    _footer_nullcount(path, k) if j == 0 else None
                )
            elif j == 0:
                mm = _footer_minmax(path, k)
                nc = _footer_nullcount(path, k)
            else:
                continue
            if j == 0 and mm is not None:
                enc = [_stat_encode(mm[0]), _stat_encode(mm[1])]
                if None not in enc:
                    backfill[rel] = {k: [*enc, nc]}
            try:
                may_nonnull = lo is not None and (
                    mm is None or not (mm[1] < lo or mm[0] > hi)
                )
            except TypeError:  # incomparable literal: stay conservative
                may_nonnull = True
            # bloom refinement: a file inside the range may still
            # provably hold NONE of the probed keys (false negatives
            # are impossible, so skipping it is sound)
            hexmap = blooms.get(rel, {}).get(k)
            if may_nonnull and pairs is not None and hexmap is not None:
                may_nonnull = _bloom_may_contain(hexmap, pairs)
            if not (may_nonnull or (nulls and (nc is None or nc > 0))):
                may = False
                break
        if may:
            may_match.append(rel)
    return may_match, backfill


def snapshot_count(table: str, version: int | None = None) -> int:
    """COUNT(*) of a version WITHOUT any Spark job or data read:
    summed from per-file row counts cached in the manifest at commit
    time; files a pre-upgrade manifest didn't count fall back to one
    footer read each (still metadata-only)."""
    # deletion vectors: per-file deleted-position cardinalities are
    # cached in the manifest, so COUNT(*) stays metadata-only even on
    # merge-on-read tables.
    m = _resolve_manifest(table, version)
    return sum(_live_rows(table, m, _manifest_files(table, m)).values())


class SnapshotConflictError(RuntimeError):
    """Optimistic-concurrency loser: another writer published this
    version first. The commit was NOT applied and left no trace —
    re-read the table and retry the transaction."""

    def __init__(self, table: str, version: int):
        super().__init__(
            f"snapshot commit conflict: {table} v{version} already published"
        )
        self.table = table
        self.version = version


class CommitProtocol:
    """The primitive the snapshot log's atomicity rests on, abstracted
    so the commit point is pluggable per storage system — the split
    Delta formalizes as its LogStore interface. Everything ABOVE this
    class (staging, merge logic, manifests, pruning, time travel,
    vacuum) is storage-agnostic: every commit stages its files under a
    globally unique directory name (``_stage_unique``), so racing
    writers cannot collide before the commit point, and only this one
    operation decides which writer wins a race:

    * ``publish(table, manifest)`` — the COMMIT POINT: make the
      manifest for ``manifest['version']`` visible iff no other
      writer published that version first (put-if-absent), else
      raise ``SnapshotConflictError`` leaving no trace.
    """

    name = "abstract"

    def publish(self, table: str, manifest: dict) -> None:
        raise NotImplementedError


class PosixCommitProtocol(CommitProtocol):
    """Default protocol for POSIX filesystems (local disk, HDFS, NFS):
    the manifest publish is CREATE-EXCLUSIVE (unique temp +
    ``os.link``): the link makes the full content appear atomically
    AND fails with ``FileExistsError`` if any other writer published
    this version first (unlike ``os.replace``, which would silently
    clobber the winner)."""

    name = "posix"

    def publish(self, table: str, manifest: dict) -> None:
        v = manifest["version"]
        os.makedirs(os.path.join(table, _VDIR), exist_ok=True)
        final = _version_path(table, v)
        tmp = final + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise SnapshotConflictError(table, v) from None
        finally:
            os.unlink(tmp)


class ConditionalPutCommitProtocol(CommitProtocol):
    """Object-store-safe protocol: uses ONLY operations object stores
    actually provide — PUT of a whole immutable object conditional on
    its absence (S3 ``If-None-Match: *`` / GCS ``ifGenerationMatch=0``
    / Azure ``If-None-Match``), GET, LIST. NO ``os.rename`` and NO
    ``os.link`` anywhere on the commit path, because on object stores
    "rename" is a non-atomic copy+delete and hardlinks don't exist.

    The manifest object is the sole commit point, published through
    ``_put_if_absent`` — the one method to override for a real store
    (conditional PUT, or a DynamoDB-style commit table when the store
    lacks conditional writes). The local implementation simulates the
    store's internally-atomic conditional PUT by serializing writers
    through a per-table advisory ``flock`` while checking absence and
    writing the full payload; the lock stands in for the store's own
    serialization and is NOT part of the protocol.

    Note on the parquet job itself: ``df.write`` runs under Spark's
    Hadoop output committer, whose task-commit renames are a separate,
    public concern (object-store deployments use the S3A
    magic/directory committers); this class makes the SNAPSHOT LAYER's
    own commit protocol rename-free."""

    name = "conditional_put"

    def publish(self, table: str, manifest: dict) -> None:
        v = manifest["version"]
        os.makedirs(os.path.join(table, _VDIR), exist_ok=True)
        payload = json.dumps(manifest).encode()
        if not self._put_if_absent(table, _version_path(table, v), payload):
            raise SnapshotConflictError(table, v)

    def _put_if_absent(self, table: str, key: str, payload: bytes) -> bool:
        """Atomically create ``key`` with ``payload`` iff it does not
        exist; True on success. Override point for a real store."""
        import fcntl

        lock_path = os.path.join(table, _VDIR, ".putlock")
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            if os.path.exists(key):
                return False
            with open(key, "wb") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            return True
        finally:
            os.close(fd)  # releases the flock


_active_protocol: CommitProtocol = PosixCommitProtocol()


def get_commit_protocol() -> CommitProtocol:
    return _active_protocol


def set_commit_protocol(protocol: CommitProtocol) -> CommitProtocol:
    """Install ``protocol`` as the active commit protocol for all
    snapshot commits; returns the previous one (restore it when
    done, or use ``use_commit_protocol``)."""
    global _active_protocol
    prev = _active_protocol
    _active_protocol = protocol
    return prev


@contextmanager
def use_commit_protocol(protocol: CommitProtocol):
    prev = set_commit_protocol(protocol)
    try:
        yield protocol
    finally:
        set_commit_protocol(prev)


def _publish(table: str, manifest: dict) -> None:
    """Publish via the ACTIVE commit protocol (put-if-absent of the
    version manifest — the optimistic-concurrency commit point)."""
    _active_protocol.publish(table, manifest)


class SnapshotConstraintError(ValueError):
    """A commit's rows violate a table CHECK constraint: the commit
    was rejected BEFORE any data was staged — the table is untouched."""

    def __init__(self, name: str, cond: str, n_violations: int):
        super().__init__(
            f"CHECK constraint {name!r} ({cond}) violated by "
            f"{n_violations} row(s); commit rejected"
        )
        self.name = name
        self.cond = cond
        self.n_violations = n_violations


def _validate_constraints(df: DataFrame, constraints: dict) -> None:
    """Enforce CHECK constraints with SQL semantics (NULL passes —
    only rows where the condition is FALSE violate), all constraints
    in ONE aggregation pass over the commit's rows."""
    if not constraints:
        return
    items = list(constraints.items())
    aggs = [
        F.sum(
            (~F.coalesce(F.expr(cond), F.lit(True))).cast("long")
        ).alias(f"__c{i}")
        for i, (_, cond) in enumerate(items)
    ]
    row = df.agg(*aggs).first()
    for i, (name, cond) in enumerate(items):
        bad = row[f"__c{i}"] or 0
        if bad:
            raise SnapshotConstraintError(name, cond, int(bad))


def last_committed_txn(table: str, app_id: str) -> int | None:
    """Highest ``batch_id`` any version of ``table`` recorded for
    writer ``app_id`` (manifest-only — the idempotence ledger for
    exactly-once streaming commits), or None if the app never
    committed."""
    batches = [
        m["txn"]["batch"]
        for m in _manifests(table)
        if m.get("txn", {}).get("app") == app_id
    ]
    return max(batches) if batches else None


def _txn_already_applied(
    table: str, txn: tuple[str, int] | None
) -> int | None:
    """If ``txn`` (app_id, batch_id) was already committed, return the
    CURRENT latest version (the replay is a no-op); else None. A
    replayed micro-batch must compare with ``<=`` max: retries can
    arrive after later batches already landed."""
    if txn is None:
        return None
    app_id, batch_id = txn
    last = last_committed_txn(table, app_id)
    if last is not None and batch_id <= last:
        return latest_version(table)
    return None


#: the parent of a table's first commit: no files, no constraints, no
#: field ids minted yet — so v0 commits through ``_commit_files`` like
#: any later overwrite
_EMPTY_PARENT = {
    "version": -1, "files": [], "schema": {"fields": []}, "last_field_id": 0,
}


def snapshot_write(
    table: str,
    df: DataFrame,
    stats_cols: Sequence[str] = (),
    constraints: dict | None = None,
    txn: tuple[str, int] | None = None,
    bloom_cols: Sequence[str] = (),
) -> int:
    """Commit ``df`` as the next full version of ``table`` (the
    overwrite commit). ``stats_cols`` caches per-file min/max in the
    manifest at commit time, so pruned merges on those columns never
    reopen data-file footers. ``bloom_cols`` additionally caches a
    small per-file bloom filter per column — the index that lets
    POINT lookups (merge/delete/read on a handful of keys) skip files
    min/max provably cannot prune on an unclustered high-cardinality
    key. ``constraints`` maps name → SQL boolean
    (CHECK semantics: NULL passes); they persist in the manifest and
    every later commit — merges included — validates against them
    before staging (pass ``{}`` to drop them). Returns the new
    version number.

    ``txn=(app_id, batch_id)`` makes the commit idempotent for
    exactly-once streaming sinks (Delta's txnAppId/txnVersion
    pattern): the pair is recorded in the manifest, and a replay of an
    already-committed batch (``batch_id`` ≤ the app's last recorded
    batch) is a no-op returning the current version — a foreachBatch
    retry after a driver crash cannot double-apply."""
    done = _txn_already_applied(table, txn)
    if done is not None:
        return done
    parent = _latest_manifest(table) or _EMPTY_PARENT
    # a blind overwrite removes every parent file and never rebases: a
    # lost race raises, so it can never carry files a winner added
    return _commit_files(
        df.sparkSession, table, parent, "overwrite", df=df,
        removed=_manifest_files(table, parent), constraints=constraints,
        stats_cols=stats_cols, bloom_cols=bloom_cols, txn=txn, rebase=False,
    )


def _file_rows(table: str, m: dict, rel: str) -> int:
    """Row count of one file of manifest ``m``: the cached count, or
    one footer read for files a pre-upgrade manifest didn't count."""
    rows = m.get("rows", {})
    return rows[rel] if rel in rows else _footer_rows(os.path.join(table, rel))


def _live_rows(table: str, m: dict, files: list[str]) -> dict:
    """{rel: live row count} of ``files`` — cached row counts minus the
    deletion vectors' cached cardinalities, metadata only."""
    dv = m.get("dv", {})
    return {
        rel: _file_rows(table, m, rel) - int(dv.get(rel, {}).get("count", 0))
        for rel in files
    }


def _compact(
    spark: SparkSession,
    table: str,
    target_rows_per_file: int,
    small_only: bool,
    stats_cols: Sequence[str],
    bloom_cols: Sequence[str],
    rebase: bool,
    max_rebase: int,
) -> int:
    """Shared body of ``snapshot_compact`` (every file) and
    ``snapshot_compact_small_files`` (only files under the target):
    fold the selected files' live rows into evenly-sized files and
    commit them as a layout-only rewrite. The output is sized from
    the manifest's cached row and DV counts — no counting job.
    ``coalesce`` when shrinking (narrow, no shuffle); ``repartition``
    only when growing the file count (oversized files are being
    rewritten anyway)."""
    latest = _resolve_manifest(table)
    files = _manifest_files(table, latest)
    live = _live_rows(table, latest, files)
    if small_only:
        files = [r for r in files if live[r] < target_rows_per_file]
        if len(files) < 2:
            return latest["version"]
    df = _read_files(spark, table, latest, files)
    n_rows = sum(live[r] for r in files)
    n_files = max(1, -(-n_rows // target_rows_per_file))
    n_parts = df.rdd.getNumPartitions()
    if n_files < n_parts:
        df = df.coalesce(n_files)
    elif n_files > n_parts:
        df = df.repartition(n_files)
    return _commit_files(
        spark, table, latest, "compact", df=df, removed=files,
        stats_cols=stats_cols, bloom_cols=bloom_cols,
        rebase=rebase, max_rebase=max_rebase,
    )


def snapshot_compact(
    spark: SparkSession,
    table: str,
    target_rows_per_file: int,
    stats_cols: Sequence[str] = (),
    bloom_cols: Sequence[str] = (),
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """OPTIMIZE analogue: commit a compacted rewrite of the latest
    version (small files from merges/streaming folded into
    evenly-sized ones) as a NEW version — rows identical, history
    intact, old versions readable until vacuumed.

    Concurrency: the rewrite replays onto a winner that left every
    file of this version intact (e.g. an insert-only merge landing
    mid-compaction — its new files are inherited); a winner that
    rewrote or DV-deleted any file conflicts deterministically. For
    compaction that stays disjoint from FILE-REWRITING traffic, use
    ``snapshot_compact_small_files`` (touches only the small-file
    subset)."""
    return _compact(
        spark, table, target_rows_per_file, False, stats_cols, bloom_cols,
        rebase, max_rebase,
    )


def snapshot_compact_small_files(
    spark: SparkSession,
    table: str,
    target_rows_per_file: int,
    stats_cols: Sequence[str] = (),
    bloom_cols: Sequence[str] = (),
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """Incremental OPTIMIZE: fold ONLY the files smaller than
    ``target_rows_per_file`` (by the manifest's cached per-file row
    counts — no footer reads) into evenly-sized ones; every
    full-sized file is inherited by reference, untouched. Returns the
    current version unchanged when fewer than two small files exist
    (nothing to fold).

    This is the OPTIMIZE a 100 TB table actually runs: streaming
    ingest and pruned merges leave a trickle of small files behind,
    and folding just those keeps the rewrite (and therefore the
    conflict FOOTPRINT) proportional to the trickle, not the table —
    a concurrent merge that rewrites a big hot file races DISJOINTLY
    with this commit and both land (the layout-only rebase rule in
    ``_commit_files``)."""
    return _compact(
        spark, table, target_rows_per_file, True, stats_cols, bloom_cols,
        rebase, max_rebase,
    )


def snapshot_optimize_zorder(
    spark: SparkSession,
    table: str,
    col_a: str,
    col_b: str,
    num_files: int,
    stats_cols: Sequence[str] = (),
    bloom_cols: Sequence[str] = (),
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """OPTIMIZE ZORDER BY as a snapshot commit: rewrite the latest
    version clustered on the Morton interleave of two columns and
    commit it as a NEW version — rows identical, history intact, and
    the manifest caches per-file min/max for BOTH z-columns (plus any
    extra ``stats_cols``), so subsequent pruned merges on EITHER
    column skip files without reopening footers. This is the layout-
    maintenance commit a 100 TB fact table runs periodically so that
    two independent predicate dimensions both data-skip. Races with
    writers that leave this version's files intact (insert-only
    merges) rebase instead of conflicting."""
    from exceldatatransform_py_spark.sources.writers import zorder_frame

    latest = _resolve_manifest(table)
    files = _manifest_files(table, latest)
    zed = zorder_frame(
        _read_files(spark, table, latest, files), col_a, col_b, num_files
    )
    return _commit_files(
        spark, table, latest, "zorder", df=zed, removed=files,
        stats_cols=list(dict.fromkeys([col_a, col_b, *stats_cols])),
        bloom_cols=bloom_cols, rebase=rebase, max_rebase=max_rebase,
    )


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read deletes): a manifest may carry
# ``"dv": {rel_file: {"dir": "<_dv/v00007-xxxxxxxx>", "count": n}}`` —
# per-file deleted ROW POSITIONS stored in a parquet sidecar instead
# of rewriting the file. Readers subtract them with a position
# anti-join; COUNT(*) subtracts the cached cardinalities;
# compact/merge rewrites materialize them away. This is the Delta/
# Iceberg v2 position-delete design: at 100 TB a one-row delete in a
# hot file writes a KB-sized sidecar instead of rewriting gigabytes.
# ---------------------------------------------------------------------------


def _rel_file_expr():
    """Relative ``data_dir/file.parquet`` path of the scanned row's
    file — manifests always reference files exactly one directory
    below the table root, so the last two path segments ARE the rel
    key used throughout the manifest. (A per-row regex costs several
    times the scan itself.)"""
    return F.substring_index(F.col("_metadata.file_path"), "/", -2)


def _dv_rows(spark: SparkSession, table: str, entries) -> DataFrame | None:
    """(rel, pos) rows of every sidecar directory the deletion-vector
    ``entries`` (``{"dir", "count"}`` dicts) reference, read under
    ``_DV_SCHEMA`` and broadcast when the entries' cached
    cardinalities say it's small. Rows for files absent from the
    current scan are harmless — every join key includes the rel path,
    and rel paths are never reused across versions."""
    entries = list(entries)
    dirs = sorted({e["dir"] for e in entries})
    if not dirs:
        return None
    rows = spark.read.schema(_DV_SCHEMA).parquet(
        *[os.path.join(table, d) for d in dirs]
    )
    total = sum(int(e.get("count", 0)) for e in entries)
    return F.broadcast(rows) if total <= _DV_BROADCAST_MAX else rows


def _scan_minus_dv(
    spark: SparkSession, table: str, files: list[str], dv: dict,
    schema=None,
) -> DataFrame:
    """Scan ``files`` (absolute paths) with the deletion vectors of
    ``dv`` subtracted: tag each row with its (rel file, row position)
    from the parquet reader's ``_metadata`` and anti-join the sidecar
    positions. Column set/order of the plain scan is preserved.
    ``schema`` (a StructType carrying ``parquet.field.id`` metadata)
    makes the scan resolve columns BY FIELD ID — files written before
    a column rename read under the current name."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    scan = reader.parquet(*files)
    rows = _dv_rows(spark, table, dv.values())
    if rows is None:
        return scan
    cols = scan.columns
    return (
        scan.withColumn("__dv_rel", _rel_file_expr())
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
        .join(
            rows,
            (F.col("__dv_rel") == F.col("rel"))
            & (F.col("__dv_pos") == F.col("pos")),
            "left_anti",
        )
        .select(*cols)
    )


def _read_files(
    spark: SparkSession, table: str, m: dict, rels: list[str]
) -> DataFrame:
    """Scan ``rels`` (files of manifest ``m``, relative to the table
    root) under the version's field-id read schema, with their
    deletion vectors subtracted — an empty frame of the manifest
    schema when ``rels`` is empty (a merge that touched nothing on an
    empty table, a point read that pruned every file)."""
    if not rels:
        return spark.createDataFrame([], T.StructType.fromJson(m["schema"]))
    rset = set(rels)
    return _scan_minus_dv(
        spark,
        table,
        [os.path.join(table, r) for r in rels],
        {r: e for r, e in m.get("dv", {}).items() if r in rset},
        schema=_schema_for_read(spark, m),
    )


def snapshot_read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    as_of_ts: float | None = None,
    point_filter: tuple[str, list] | None = None,
) -> DataFrame:
    """Read ``table`` at ``version`` (default: latest), or AS OF a
    wall-clock epoch with ``as_of_ts`` — the latest version whose
    commit timestamp is ≤ the given instant (Delta's ``TIMESTAMP AS
    OF``). Time travel is just manifest resolution — no data is ever
    rewritten or copied. Pre-timestamp manifests (older layouts)
    count as ts 0, i.e. visible at any as-of instant.

    ``point_filter=(col, values)`` returns only rows with ``col IN
    values`` (SQL equality: NULL never matches) AND file-skips via
    the manifest's cached min/max stats and per-file blooms — a point
    lookup on a bloom-indexed key reads only the files that may hold
    it, not the table. The filter itself is always applied, so
    results never depend on pruning."""
    m = _resolve_manifest(table, version, as_of_ts)
    # every scan reads under the version's field-id schema: files
    # written before a RENAME read under this version's names (and
    # time travel to a pre-rename version reads post-rename files
    # under the OLD names)
    rels = _manifest_files(table, m)
    if point_filter is None:
        return _read_files(spark, table, m, rels)
    col, values = point_filter
    values = list(values)
    present = [x for x in values if x is not None]
    pairs = None
    if present and _bloomed(m, [col]):
        pf = _literal_probe_frame(spark, m, col, present)
        if pf is not None:
            pairs = _bloom_probe_pairs(pf, col)
    try:
        lo, hi = (min(present), max(present)) if present else (None, None)
    except TypeError:  # mutually incomparable literals: scan every file
        pass
    else:
        rels, _ = _prune_files(table, m, rels, {col: (lo, hi, False, pairs)})
    return _read_files(spark, table, m, rels).filter(F.col(col).isin(values))


def snapshot_merge_update(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    on: Sequence[str],
    update_cols: Sequence[str],
    max_retries: int = 0,
    when_not_matched_insert: bool = False,
    when_not_matched_by_source_delete: bool = False,
    evolve_schema: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE INTO as a snapshot commit: merge ``updates`` into the
    latest version and commit the result as a NEW version — the
    previous version stays readable (audit/rollback), unlike the
    in-place rewrite sink. Returns the new version number.

    Clause surface (``operators.merge.merge_full``): WHEN MATCHED THEN
    UPDATE always runs — the reference's update-only S5 contract
    (``timesheet_transform_v3.py:105`` "we don't create new rows") is
    the default; ``when_not_matched_insert`` adds WHEN NOT MATCHED
    THEN INSERT (unmatched update rows appended, non-merge columns
    NULL) and ``when_not_matched_by_source_delete`` adds WHEN NOT
    MATCHED BY SOURCE THEN DELETE (unmatched target rows dropped) —
    the full three-clause MERGE a general engine needs.

    Optimistic concurrency: the merge reads version P and commits
    P+1 conditionally on P still being latest (create-exclusive
    manifest publish). If another writer got there first the commit
    raises ``SnapshotConflictError`` — no clobber, no lost update —
    and with ``max_retries > 0`` the read-merge-commit is re-run
    against the new latest version (CAS loop); the re-run re-reads the
    winner's rows, so insert/delete decisions are re-taken against the
    state that actually committed.

    The read set is every file, so the commit rewrites them all (and
    the change feed shows the version as a full delete/insert); the
    file-pruned twin is ``snapshot_merge_update_pruned``.

    ``txn=(app_id, batch_id)`` makes the merge idempotent for
    exactly-once streaming CDC sinks: a replayed micro-batch whose
    (app, batch) the manifest log already records is a no-op — the
    check re-runs inside the CAS loop, so a retry racing its own
    duplicate still applies exactly once."""
    for attempt in range(max_retries + 1):
        done = _txn_already_applied(table, txn)
        if done is not None:
            return done
        latest = _resolve_manifest(table)
        try:
            # no rebase: every file is read, so any winner interacts;
            # the CAS loop re-runs the merge against it instead
            return _merge(
                spark, table, latest, "merge_update",
                _manifest_files(table, latest), updates, on, update_cols,
                insert=when_not_matched_insert,
                delete_unmatched=when_not_matched_by_source_delete,
                evolve_schema=evolve_schema, txn=txn, rebase=False,
            )
        except SnapshotConflictError:
            if attempt == max_retries:
                raise
    raise AssertionError("unreachable")


#: StructField metadata key Spark's parquet writer/reader use for
#: field-ID matching (``spark.sql.parquet.fieldId.*``).
_FIELD_ID_KEY = "parquet.field.id"


def _schema_field_ids(schema_json: dict) -> dict:
    """{column name: field id or None} from a manifest schema."""
    return {
        f["name"]: (f.get("metadata") or {}).get(_FIELD_ID_KEY)
        for f in schema_json.get("fields", [])
    }


def _max_field_id(table: str) -> int:
    """Highest field id EVER assigned in any version of ``table`` —
    the Iceberg last-column-id: a dropped column's id must never be
    reused (a re-added name with a recycled id would resurrect the
    dropped values from old files). Manifests survive vacuum (only
    data dirs are swept), so the scan is durable.

    This full-history scan is the FALLBACK for pre-r10 manifests:
    commits record ``last_field_id`` (Iceberg's last-column-id field)
    so ``_last_field_id`` reads only the parent's value — without it,
    every commit re-parses every version manifest (rows/stats/bloom
    maps included) and long-lived tables go quadratic in commits."""
    out = 0
    for m in _manifests(table):
        for v in _schema_field_ids(m["schema"]).values():
            if v is not None and v > out:
                out = v
    return out


def _last_field_id(table: str, parent: dict | None = None) -> int:
    """The id floor for new columns: the parent manifest's recorded
    ``last_field_id`` (O(1) — one already-parsed manifest), falling
    back to the full history scan once for tables whose latest commit
    predates the field (the next commit records it)."""
    if parent is None:
        ms = _manifests(table)
        parent = ms[-1] if ms else None
    if parent is None:
        return 0
    lf = parent.get("last_field_id")
    if lf is not None:
        return int(lf)
    return _max_field_id(table)


def _record_last_field_id(manifest: dict, floor: int) -> None:
    """Stamp ``last_field_id`` = max(parent floor, ids in this
    manifest's schema) — monotone across commits, so retired ids are
    never reused even after the column leaves the schema."""
    ids = [
        v for v in _schema_field_ids(manifest["schema"]).values()
        if v is not None
    ]
    manifest["last_field_id"] = max([int(floor), *map(int, ids)])


def _attach_field_ids(
    df: DataFrame, parent: dict, floor: int = 0
) -> DataFrame:
    """Attach Iceberg-style stable field IDs to ``df``'s columns as
    ``parquet.field.id`` metadata (Spark writes them into the parquet
    schema; readers with ``fieldId.read.enabled`` then match columns
    BY ID, which is what makes column RENAME a metadata-only commit
    that old files survive).

    IDs are inherited from the parent manifest BY NAME; brand-new
    columns get the next unused id; a brand-new table (the empty
    parent) numbers 1..n. A LEGACY parent without ids leaves the frame
    untouched — its files carry no ids, so claiming ids in the
    manifest would make id-based reads of inherited files fail; legacy
    tables stay name-matched end-to-end."""
    pids = _schema_field_ids(parent["schema"])
    if pids and not any(v is not None for v in pids.values()):
        return df
    used = [v for v in pids.values() if v is not None]
    nxt = max(max(used, default=0), floor) + 1
    out = []
    for c in df.columns:
        fid = pids.get(c)
        if fid is None:
            fid = nxt
            nxt += 1
        out.append(F.col(c).alias(c, metadata={_FIELD_ID_KEY: int(fid)}))
    df.sparkSession.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", "true"
    )
    return df.select(*out)


def _schema_for_read(spark: SparkSession, m: dict):
    """The explicit read schema for a manifest, or None for legacy
    (name-matched) tables. When ids exist, enable id-based parquet
    column resolution on the session (a no-op for scans whose
    requested schema carries no ids)."""
    st = T.StructType.fromJson(m["schema"])
    if not any(
        f.metadata and f.metadata.get(_FIELD_ID_KEY) is not None
        for f in st.fields
    ):
        return None
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return st


def _stage_unique(
    table: str, df: DataFrame, parent: dict
) -> tuple[str, dict, list[str]]:
    """Stage a commit's new files under a globally UNIQUE directory
    name — protocol-agnostic (no rename/link: object-store-safe) and
    collision-free under any concurrency, so a conflicted commit can
    REBASE onto the new latest without re-staging its parquet. Field
    IDs are attached from ``parent`` before the write. Returns
    ``(data_dir, schema_json, files)`` — the schema as staged, ids
    included, and the staged parquet files relative to the table root.
    The manifest's explicit "files" list is authoritative; ``vacuum``
    sweeps never-published unique dirs past the retention horizon."""
    df = _attach_field_ids(df, parent, floor=_last_field_id(table, parent))
    data_dir = f"d{parent['version'] + 1:05d}-{uuid.uuid4().hex[:8]}"
    df.write.mode("errorifexists").parquet(os.path.join(table, data_dir))
    files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(os.path.join(table, data_dir))
        if f.endswith(".parquet")
    )
    return data_dir, df.schema.jsonValue(), files


def _pruned_rebase_ok(
    table: str, base: dict, cur: dict, held: set, bounds: dict | None
) -> bool:
    """True iff a file-level commit computed against manifest ``base``
    can be replayed verbatim onto ``cur`` (a later version that won
    the race) — the disjoint-writer rebase real table formats run
    instead of failing every concurrent commit. Sound conditions:

    * same schema and same CHECK constraints (else semantics changed);
    * every file we rewrote or scanned (``held``) still exists in
      ``cur`` with identical deletion vectors (the winner did not
      touch our read set — a winner-grown DV on a file we rewrote
      would be materialized back to life, one on a file we DV-deleted
      would be dropped by our consolidated sidecar);
    * no file the winner ADDED may hold a key matching ``bounds``
      (the same ``_prune_files`` test pruning itself runs — a
      winner-inserted row inside our key range would have needed our
      update or delete). Files the winner merely REMOVED are fine:
      they drop out of the inherited list, and files that survived
      from ``base`` were already proven non-matching by our own
      pruning pass. Layout-only rewrites pass ``bounds=None``: they
      change no rows, so whatever the winner added is simply
      inherited.
    """
    def sig(m):  # nullability may legally drift across merge commits
        return [
            (f.get("name"), f.get("type"))
            for f in m.get("schema", {}).get("fields", [])
        ]

    if sig(cur) != sig(base):
        return False
    if cur.get("constraints", {}) != base.get("constraints", {}):
        return False
    cur_files = _manifest_files(table, cur)
    if not held <= set(cur_files):
        return False
    bdv, cdv = base.get("dv", {}), cur.get("dv", {})
    if any(bdv.get(r) != cdv.get(r) for r in held):
        return False
    if bounds is None:
        return True
    base_files = set(_manifest_files(table, base))
    added = [r for r in cur_files if r not in base_files]
    return not _prune_files(table, cur, added, bounds)[0]


def _publish_with_rebase(
    table: str,
    base: dict,
    build_manifest,
    rebase_ok,
    cleanup,
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """Optimistic-concurrency publish loop shared by ``_commit_files``
    and the metadata-only commits: build the
    manifest against ``cur`` (initially ``base``), publish; on a
    version race, if ``rebase_ok(winner)`` proves the winner's commit
    did not interact with ours, rebuild against the winner and retry
    with the SAME staged bytes — else run ``cleanup`` and re-raise.
    ``build_manifest(cur, attempts)`` must derive everything that
    depends on the parent (inherited files, rows, stats, blooms, DVs,
    constraints) from ``cur``, not from ``base``."""
    cur = base
    attempts = 0
    while True:
        manifest = build_manifest(cur, attempts)
        # the id floor carries forward: max(parent's last_field_id,
        # ids in this manifest's schema — a CDC insert may widen it)
        if "last_field_id" not in manifest:
            _record_last_field_id(manifest, _last_field_id(table, cur))
        try:
            _publish(table, manifest)
            return manifest["version"]
        except SnapshotConflictError:
            nxt = _latest_manifest(table)
            if rebase and attempts < max_rebase and rebase_ok(nxt):
                attempts += 1
                cur = nxt
                continue
            cleanup()
            raise


def _write_dv(
    spark: SparkSession, table: str, m: dict, touched: list[str], match
) -> tuple[str | None, dict]:
    """The one deletion-vector sidecar writer (merge-on-read deletes
    and CDC apply). ``match`` narrows a scan of ``touched`` — each row
    tagged with its ``rel`` file and ``pos`` row index — to the rows
    to delete. The prior positions of the touched files are folded in
    (union), so each touched file's fresh sidecar is its COMPLETE
    deletion vector and cardinalities never double-count.

    Returns ``(dv_dir, {rel: entry or None})``: the per-touched-file
    DV outcome (None = entry removed) that ``_commit_files`` applies on
    top of whichever parent the commit lands on — sound because the
    rebase check requires the winner to have left every touched
    file's bytes AND its DV entry exactly as we read them. ``(None,
    {})`` when nothing matched."""
    if not touched:
        return None, {}
    rs = _schema_for_read(spark, m)
    scan = (spark.read.schema(rs) if rs is not None else spark.read).parquet(
        *[os.path.join(table, r) for r in touched]
    )
    hits = match(
        scan.withColumn("rel", _rel_file_expr()).withColumn(
            "pos", F.col("_metadata.row_index")
        )
    ).select("rel", "pos")
    tset = set(touched)
    old = {r: e for r, e in m.get("dv", {}).items() if r in tset}
    prior = _dv_rows(spark, table, old.values())
    if prior is not None:
        prior = prior.filter(F.col("rel").isin(list(old)))
        hits = hits.join(prior, ["rel", "pos"], "left_anti").unionByName(prior)
    # the (rel, pos) positions are tiny next to the touched files: keep
    # them so the counts and the sidecar write share ONE scan
    hits = hits.persist()
    try:
        counts = {
            r["rel"]: int(r["n"])
            for r in hits.groupBy("rel")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if not counts:
            return None, {}
        dv_dir = os.path.join(
            _DVDIR, f"v{m['version'] + 1:05d}-{uuid.uuid4().hex[:8]}"
        )
        n_out = max(1, sum(counts.values()) // 4_000_000)
        hits.repartition(n_out, "rel").write.mode("errorifexists").parquet(
            os.path.join(table, dv_dir)
        )
    finally:
        hits.unpersist()
    return dv_dir, {
        rel: {"dir": dv_dir, "count": counts[rel]} if rel in counts else None
        for rel in touched
    }


def _commit_files(
    spark: SparkSession,
    table: str,
    base: dict,
    kind: str,
    *,
    df: DataFrame | None = None,
    removed: Sequence[str] = (),
    scanned: Sequence[str] = (),
    dv: tuple[str | None, dict] | None = None,
    stats: dict | None = None,
    bounds: dict | None = None,
    stats_cols: Sequence[str] = (),
    bloom_cols: Sequence[str] = (),
    constraints: dict | None = None,
    txn: tuple[str, int] | None = None,
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """The one data commit (overwrite, both merges, range/DV delete,
    CDC apply, compact, zorder): stage ``df`` (if any) as new files, then
    publish a manifest that drops the ``removed`` files, adds the
    staged ones, applies the ``dv`` outcome from ``_write_dv``, and
    inherits every other file BY REFERENCE — with its rows, stats,
    blooms and DV entry — from whichever parent the commit lands on.

    * Row-changing commits validate ``df`` against the CHECK
      constraints before staging (the inherited files were validated
      at their own commits) and carry the staged schema (a CDC insert
      may widen it); layout-only kinds do neither — their rows are
      the parent's. ``constraints`` (the overwrite's) replaces the
      parent's set (``{}`` drops it); None inherits it.
    * New files get fresh stats for ``stats_cols`` (default: the
      ``bounds`` keys, so the NEXT commit on them prunes from the
      manifest alone; with neither, the parent's statted columns the
      new schema still has, so a full rewrite keeps the table
      prunable) and blooms for ``bloom_cols`` (default: the bound keys
      the parent already blooms). ``stats`` are the
      backfilled ``[lo, hi, null_count]`` entries ``_prune_files``
      returned for the parent's files.
    * ``scanned`` files are read but kept (DV deletes): they count as
      held for the rebase check, not as inherited.
    * Concurrency (``_publish_with_rebase``): a lost version race
      replays the SAME staged bytes onto the winner when
      ``_pruned_rebase_ok`` proves the two commits did not interact —
      for a layout rewrite (``bounds=None``) whenever the winner left
      every touched file intact, whatever it ADDED; at 100 TB that is
      the difference between nightly OPTIMIZE succeeding under
      continuous ingest and throwing its whole rewrite away on every
      race."""
    import time as _t

    row_change = kind not in _LAYOUT_ONLY_KINDS
    keys = list(bounds or ())
    # a rebase requires the winner's constraints to equal the base's,
    # so the set validated here is the one every attempt publishes
    checks = (
        base.get("constraints", {}) if constraints is None else constraints
    )
    data_dir, schema, new_files = None, None, []
    if df is not None:
        if row_change:
            _validate_constraints(df, checks)
        data_dir, schema, new_files = _stage_unique(table, df, base)
    new_rows = _collect_rows(table, new_files)
    stat_cols = stats_cols or keys
    if not stat_cols and schema:
        names = {f["name"] for f in schema["fields"]}
        stat_cols = [
            c
            for c in dict.fromkeys(
                c for st in base.get("stats", {}).values() for c in st
            )
            if c in names
        ]
    new_stats = _collect_stats(table, new_files, stat_cols)
    new_blooms = _collect_blooms(
        spark, table, new_files, bloom_cols or _bloomed(base, keys), schema
    )
    dv_dir, dv_changes = dv or (None, {})
    stats = stats or {}
    gone = set(removed)
    held = gone | set(scanned)

    def build_manifest(cur: dict, attempts: int) -> dict:
        carried = [r for r in _manifest_files(table, cur) if r not in gone]
        cset = set(carried)
        cur_stats, cur_blooms = cur.get("stats", {}), cur.get("blooms", {})
        stats_out = {}
        for r in carried:
            st = {**cur_stats.get(r, {}), **stats.get(r, {})}
            if st:
                stats_out[r] = st
        stats_out.update(new_stats)
        blooms_out = {r: cur_blooms[r] for r in carried if r in cur_blooms}
        blooms_out.update(new_blooms)
        dv_out = {r: e for r, e in cur.get("dv", {}).items() if r in cset}
        for r, e in dv_changes.items():
            if e is None:
                dv_out.pop(r, None)
            else:
                dv_out[r] = e
        pruning = {
            "rewritten_files": len(gone),
            "appended_files": len(new_files),
            "inherited_files": len(cset - held),
        }
        if keys:
            pruning.update(col=keys[0], cols=keys)
        if dv is not None:
            pruning.update(
                dv_files=sum(e is not None for e in dv_changes.values()),
                scanned_files=len(scanned),
            )
        if attempts:
            pruning["rebased"] = attempts
        manifest = {
            "version": cur["version"] + 1,
            # commits that stage nothing reference the parent's dir —
            # the "files" list is authoritative anyway
            "data_dir": data_dir or cur["data_dir"],
            "files": new_files + carried,
            "rows": {
                **{r: _file_rows(table, cur, r) for r in carried},
                **new_rows,
            },
            "kind": kind,
            "parent": cur["version"] if cur is not _EMPTY_PARENT else None,
            "ts": _t.time(),
            "schema": schema if schema and row_change else cur["schema"],
            "stats": stats_out,
            "pruning": pruning,
        }
        if blooms_out:
            manifest["blooms"] = blooms_out
        if dv_out:
            manifest["dv"] = dv_out
        if checks:
            manifest["constraints"] = checks
        if txn is not None:
            manifest["txn"] = {"app": txn[0], "batch": int(txn[1])}
        return manifest

    def cleanup():
        for d in (data_dir, dv_dir):
            if d is not None:
                shutil.rmtree(os.path.join(table, d), ignore_errors=True)

    return _publish_with_rebase(
        table, base, build_manifest,
        rebase_ok=lambda nxt: _pruned_rebase_ok(
            table, base, nxt, held, bounds
        ),
        cleanup=cleanup, rebase=rebase, max_rebase=max_rebase,
    )


def _merge(
    spark: SparkSession,
    table: str,
    latest: dict,
    kind: str,
    rewrite: list[str],
    updates: DataFrame,
    on: Sequence[str],
    update_cols: Sequence[str],
    *,
    insert: bool = False,
    delete_unmatched: bool = False,
    evolve_schema: bool = False,
    **commit,
) -> int:
    """Shared body of the two merges: read the ``rewrite`` files of
    ``latest`` with their deletion vectors applied (a DV-deleted row
    is not in the table, so it must not match — the rewrite then
    materializes the DVs away), merge ``updates`` into them
    (``merge_full``'s clauses) and commit the result through
    ``_commit_files``, which drops the rewritten files and inherits
    every other one. ``commit`` carries the commit options (pruning
    stats and bounds, ``txn``, rebase). Nothing is staged when nothing
    is rewritten, inserted or widened; an insert-only commit merges
    against an empty frame."""
    from exceldatatransform_py_spark.operators.merge import merge_full

    merged = None
    if rewrite or insert or evolve_schema:
        merged = merge_full(
            _read_files(spark, table, latest, rewrite), updates, on=on,
            update_cols=update_cols, insert=insert,
            delete_unmatched_target=delete_unmatched,
            evolve_schema=evolve_schema,
        )
    return _commit_files(
        spark, table, latest, kind, df=merged, removed=rewrite, **commit
    )


def snapshot_merge_update_pruned(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    on: Sequence[str],
    update_cols: Sequence[str],
    prune_col: str | None = None,
    when_not_matched_insert: bool = False,
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """File-pruned update-only merge: rewrite ONLY the target files
    whose ``prune_col`` min/max range can overlap the update keys;
    every other file is carried into the new version BY REFERENCE
    (byte-identical, never read, never copied).

    This is the MERGE INTO upgrade path SURVEY §2.1 documents, built
    on the snapshot layer's immutable files: at 100 TB a merge that
    touches one day of a range-clustered fact table
    (``writers.write_range_clustered``) rewrites that day's files and
    commits a manifest, instead of rewriting the table. Pruning is a
    SUPERSET test on footer stats (files overlapping the update-key
    bounds may still contain no matches — they rewrite unchanged;
    files outside the bounds provably cannot match, since equality on
    ``prune_col`` — default: the first merge key — is necessary for a
    row to match). Files without usable stats are conservatively
    rewritten.

    Semantics are identical to ``snapshot_merge_update`` (J2/J3:
    matched rows get ``update_cols`` overwritten, unmatched target
    rows untouched, unmatched updates discarded); only the physical
    rewrite set differs. Row order within the table may differ — the
    table contract is set-of-rows, as for any Spark parquet write.
    NULL merge keys are handled NULL-safely like the full-read merge
    (eqNullSafe: NULL matches NULL) — min/max stats are blind to
    NULLs, so when the update side carries NULL ``prune_col`` values
    the NULL-carrying files are found through the per-file NULL COUNT
    the manifest caches next to min/max ([lo, hi, null_count]): a file
    is rewritten iff it overlaps the non-NULL bounds OR may hold NULL
    keys (null_count > 0, or unknown — pre-upgrade 2-element stats and
    stat-less footers stay conservatively safe).

    ``when_not_matched_insert`` adds the INSERT clause and stays
    file-pruned: an update row that matches ANY target row must match
    inside a touched file (its prune value sits in that file's
    min/max range, so the file overlaps the update bounds), hence
    updates unmatched against the touched subset are provably
    unmatched against the whole table and land as insert rows in the
    new files. WHEN NOT MATCHED BY SOURCE DELETE is deliberately NOT
    offered here: deciding "matches no update row" requires inspecting
    every target row, so every file is touched and pruning degenerates
    — use ``snapshot_merge_update`` (full read) for deletes.

    Concurrency: with ``rebase`` (default), a commit that loses the
    version race is REPLAYED onto the winner's version when the two
    commits provably did not interact — same schema/constraints, the
    winner didn't touch any file this merge rewrote, and no
    winner-added file can hold a matching key (``_pruned_rebase_ok``)
    — so disjoint-key writers all succeed without re-running the
    merge, the resolution real table formats run. Interacting writers
    still get ``SnapshotConflictError`` deterministically (re-run the
    merge to retry against the new state). ``max_rebase`` bounds the
    replay attempts under a commit storm.
    """
    prune_col = prune_col or on[0]
    if prune_col not in on:
        raise ValueError(
            f"prune_col {prune_col!r} must be one of the merge keys {on}"
        )
    latest = _resolve_manifest(table)
    b = updates.agg(
        F.min(prune_col).alias("lo"),
        F.max(prune_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.count(prune_col).alias("n_nonnull"),
    ).first()
    update_empty = b["n"] == 0
    # per-file bloom consultation for point-ish key sets: only pay the
    # probe-key collection when the parent blooms the prune column
    pairs = None
    if not update_empty and _bloomed(latest, [prune_col]):
        pairs = _bloom_probe_pairs(updates, prune_col)
    # min/max ignore NULLs, but merge_full/merge_update join with
    # eqNullSafe (NULL keys MATCH NULL keys): NULL-keyed update rows
    # also touch every file that may hold a NULL key
    bounds = {
        prune_col: (b["lo"], b["hi"], b["n"] > b["n_nonnull"], pairs)
    }
    touched, stats = _prune_files(
        table, latest, _manifest_files(table, latest), bounds
    )
    # INSERT has rows to land only for a non-empty update set
    # (explicit emptiness check — `lo is None` also holds for a
    # NON-empty all-NULL-key update set, which absolutely must be
    # merged)
    return _merge(
        spark, table, latest, "merge_update_pruned", touched, updates, on,
        update_cols, insert=when_not_matched_insert and not update_empty,
        stats=stats, bounds=bounds, rebase=rebase, max_rebase=max_rebase,
    )


def _delete(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    extra_predicate: str | None,
    merge_on_read: bool,
    rebase: bool,
    max_rebase: int,
) -> int:
    """Shared body of the two deletes: one pruning pass and one
    doomed-row predicate; copy-on-write rewrites the touched files
    without the doomed rows, merge-on-read records their positions in
    a deletion-vector sidecar. NULL ``col`` values never match a
    BETWEEN, so the NULL-blind min/max test is sound as is.

    Disjoint-commit resolution: the delete replays onto a winner that
    (a) left every file it touched intact with identical DVs and (b)
    added no file that may hold keys in [lo, hi] — a winner-inserted
    row in the delete range would have needed this delete, so that
    race conflicts deterministically."""
    latest = _resolve_manifest(table)
    # a POINT delete (lo == hi) consults per-file blooms: on an
    # unclustered key every file's min/max range covers the key, but
    # the bloom rules out files that provably don't hold it
    pairs = None
    if lo == hi and _bloomed(latest, [col]):
        pf = _literal_probe_frame(spark, latest, col, [lo])
        if pf is not None:
            pairs = _bloom_probe_pairs(pf, col)
    bounds = {col: (lo, hi, False, pairs)}
    touched, stats = _prune_files(
        table, latest, _manifest_files(table, latest), bounds
    )
    doomed = F.col(col).between(F.lit(lo), F.lit(hi))
    if extra_predicate is not None:
        doomed = doomed & F.coalesce(F.expr(extra_predicate), F.lit(False))
    doomed = F.coalesce(doomed, F.lit(False))
    if merge_on_read:
        dv = _write_dv(
            spark, table, latest, touched, lambda scan: scan.filter(doomed)
        )
        return _commit_files(
            spark, table, latest, "delete_dv", scanned=touched, dv=dv,
            stats=stats, bounds=bounds, rebase=rebase, max_rebase=max_rebase,
        )
    # rows already DV-deleted must not re-enter the rewrite
    kept = (
        _read_files(spark, table, latest, touched).filter(~doomed)
        if touched
        else None
    )
    return _commit_files(
        spark, table, latest, "delete_range", df=kept, removed=touched,
        stats=stats, bounds=bounds, rebase=rebase, max_rebase=max_rebase,
    )


def snapshot_delete_range(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    extra_predicate: str | None = None,
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """File-pruned DELETE FROM: remove rows with ``col BETWEEN lo AND
    hi`` (optionally further narrowed by ``extra_predicate``, a SQL
    boolean) by rewriting ONLY the files whose ``col`` min/max range
    overlaps [lo, hi]; every other file is inherited by reference —
    the GDPR-purge / partition-retire commit. NULL ``col`` values
    never match a BETWEEN, so NULL-carrying rows are only ever
    RETAINED and min/max pruning (NULL-blind) stays sound — unlike
    the pruned merge, no NULL fallback is needed.

    At 100 TB: deleting one day from a range-clustered fact table
    rewrites that day's files (minus the deleted rows — a file left
    empty simply drops out) and commits a manifest. Rows that survive
    in rewritten files are preserved byte-exactly as data, and the
    commit inherits/enforces CHECK constraints like every other."""
    return _delete(
        spark, table, col, lo, hi, extra_predicate, False, rebase, max_rebase
    )


def snapshot_delete_dv(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    extra_predicate: str | None = None,
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """Merge-on-read DELETE FROM via deletion vectors: remove rows
    with ``col BETWEEN lo AND hi`` (optionally narrowed by
    ``extra_predicate``) by recording their (file, row-position)
    pairs in a parquet sidecar — **zero data files are rewritten**.
    Readers (``snapshot_read``) subtract the positions with an
    anti-join; ``snapshot_count`` subtracts the cached cardinalities
    (still no Spark job); a later ``snapshot_compact`` / full merge
    materializes the deletes away because its rewrite reads through
    the DV-aware path.

    The rewrite-amplification fix for the copy-on-write
    ``snapshot_delete_range``: at 100 TB, a one-row GDPR delete in a
    hot file writes a KB-sized sidecar instead of rewriting
    gigabytes. Min/max pruning narrows the position SCAN to
    overlapping files exactly as the copy-on-write path does (NULL
    keys never match a BETWEEN, so the NULL-blind stats stay sound);
    CHECK constraints need no re-validation — a delete only removes
    rows, and every surviving row was validated at its own commit.

    Consolidation: touched files that already carry deletion vectors
    get ONE fresh sidecar holding old ∪ new positions (exact
    cardinalities, no double counting); untouched files inherit their
    parent entries by reference."""
    return _delete(
        spark, table, col, lo, hi, extra_predicate, True, rebase, max_rebase
    )


def _schema_commit_sig(m: dict):
    """(schema fields incl. ids, constraints) — what a metadata-only
    commit's validity depends on. A winner with the SAME signature
    provably didn't interact with a rename/drop, so the loser replays
    onto it instead of aborting."""
    return (
        [
            (
                f.get("name"),
                f.get("type"),
                (f.get("metadata") or {}).get(_FIELD_ID_KEY),
            )
            for f in m.get("schema", {}).get("fields", [])
        ],
        m.get("constraints", {}),
    )


def _metadata_commit(
    table: str,
    latest: dict,
    mutate,
    kind: str,
    txn: tuple[str, int] | None,
    rebase: bool,
    max_rebase: int,
) -> int:
    """Shared publish loop for metadata-only commits (rename / drop):
    build the manifest from whichever parent the commit finally lands
    on, replaying onto winners whose schema and constraints are
    unchanged (a disjoint pruned merge / DV delete / compact racing a
    rename is file-level traffic the rename provably doesn't interact
    with — aborting it was the r9 gap). A winner that itself changed
    the schema or constraints conflicts deterministically — UNLESS
    the winner was a concurrent replay of the SAME ``txn`` (two
    drains replaying one source rename both pass the upfront ledger
    check; the loser's rebase_ok fails because the winner changed the
    schema): the loser re-checks the ledger and returns the winner's
    version instead of surfacing a spurious conflict."""
    import copy
    import time as _t

    def build_manifest(cur: dict, attempts: int) -> dict:
        manifest = copy.deepcopy(cur)
        # a deepcopied parent drags along commit-specific keys that
        # would lie about THIS commit (the parent's txn would corrupt
        # the idempotence ledger; its pruning/rename/drop describe
        # the parent's work)
        for k in ("txn", "pruning", "rename", "drop", "rebased"):
            manifest.pop(k, None)
        mutate(manifest)
        manifest.update(
            version=cur["version"] + 1,
            kind=kind,
            parent=cur["version"],
            ts=_t.time(),
        )
        if txn is not None:
            manifest["txn"] = {"app": txn[0], "batch": int(txn[1])}
        if attempts:
            manifest["rebased"] = attempts
        _record_last_field_id(manifest, _last_field_id(table, cur))
        return manifest

    try:
        return _publish_with_rebase(
            table, latest, build_manifest,
            rebase_ok=lambda nxt: (
                _schema_commit_sig(nxt) == _schema_commit_sig(latest)
            ),
            cleanup=lambda: None, rebase=rebase, max_rebase=max_rebase,
        )
    except SnapshotConflictError:
        done = _txn_already_applied(table, txn)
        if done is not None:
            return done
        raise


def snapshot_rename_column(
    table: str,
    old: str,
    new: str,
    txn: tuple[str, int] | None = None,
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """RENAME COLUMN as a metadata-only commit (Delta/Iceberg
    semantics, backed by stable field IDs): the manifest's schema
    field changes NAME but keeps its ``parquet.field.id``, the file
    set / deletion vectors / row counts are untouched, and the
    per-file stats and bloom entries are re-keyed to the new name so
    pruning keeps working. Readers resolve parquet columns by id
    (``_schema_for_read``), so every pre-rename file reads under the
    new name; time travel to a pre-rename version still shows the old
    name (each version owns its schema); the change feed across the
    rename is empty (no rows changed) and later steps emit the
    current names.

    Requires a field-id table (any table created by this engine);
    legacy id-less tables cannot rename safely — their files only
    match by name — and get a clear error instead of silent NULLs.

    Concurrency: a rename losing the version race to a writer that
    did NOT change the schema or constraints (pruned merge, DV
    delete, compaction — file-level traffic) REBASES onto the winner
    (re-keying the winner's stats/blooms) instead of aborting; a
    winner that widened/renamed/dropped conflicts deterministically.
    ``txn`` makes the commit idempotent for replication ledgers, like
    every data commit."""
    import re as _re

    done = _txn_already_applied(table, txn)
    if done is not None:
        return done
    latest = _resolve_manifest(table)
    names = [f["name"] for f in latest["schema"]["fields"]]
    if old not in names:
        raise ValueError(f"column {old!r} not in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    ids = _schema_field_ids(latest["schema"])
    if ids.get(old) is None:
        raise ValueError(
            f"table {table} has no field ids on {old!r} — a legacy "
            "id-less table cannot rename columns safely (its files "
            "match by name only)"
        )
    for cname, cond in (latest.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(old)}\b", cond):
            raise ValueError(
                f"CHECK constraint {cname!r} ({cond!r}) references "
                f"{old!r}; drop it (constraints={{}}) and re-add it "
                "under the new name before renaming"
            )

    def mutate(manifest: dict) -> None:
        for f in manifest["schema"]["fields"]:
            if f["name"] == old:
                f["name"] = new
        for per_file in (
            manifest.get("stats", {}), manifest.get("blooms", {})
        ):
            for entry in per_file.values():
                if old in entry:
                    entry[new] = entry.pop(old)
        manifest["rename"] = {"from": old, "to": new}

    return _metadata_commit(
        table, latest, mutate, "rename_column", txn, rebase, max_rebase
    )


def snapshot_drop_column(
    table: str,
    col: str,
    txn: tuple[str, int] | None = None,
    rebase: bool = True,
    max_rebase: int = 5,
) -> int:
    """DROP COLUMN as a metadata-only commit (the rename's companion,
    same stable-field-id foundation): the column leaves the manifest
    schema — zero data bytes rewritten; readers project it away
    because every scan requests the manifest schema explicitly — and
    its per-file stats/bloom entries are dropped. The physical bytes
    linger in existing files until the next rewrite/compaction, like
    Delta/Iceberg drops.

    The id mechanism gives the Iceberg resurrection guarantee for
    free: a LATER column with the same name gets a FRESH field id
    (``_attach_field_ids`` inherits by name from the parent, and the
    parent no longer has the name), so id-based reads NULL-fill old
    files instead of resurrecting the dropped values.

    Guards mirror the rename's: the last column cannot be dropped,
    CHECK constraints referencing the column must be dropped first,
    and legacy id-less tables refuse (their name-matched readers
    WOULD resurrect a re-added name). Concurrency and ``txn`` follow
    the rename's contract (rebase onto schema-preserving winners)."""
    import re as _re

    done = _txn_already_applied(table, txn)
    if done is not None:
        return done
    latest = _resolve_manifest(table)
    names = [f["name"] for f in latest["schema"]["fields"]]
    if col not in names:
        raise ValueError(f"column {col!r} not in {names}")
    if len(names) == 1:
        raise ValueError("cannot drop the last column")
    if _schema_field_ids(latest["schema"]).get(col) is None:
        raise ValueError(
            f"table {table} has no field ids on {col!r} — a legacy "
            "id-less table cannot drop columns safely (a re-added "
            "name would resurrect the old values)"
        )
    for cname, cond in (latest.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(col)}\b", cond):
            raise ValueError(
                f"CHECK constraint {cname!r} ({cond!r}) references "
                f"{col!r}; drop it (constraints={{}}) before dropping "
                "the column"
            )
    def mutate(manifest: dict) -> None:
        manifest["schema"]["fields"] = [
            f for f in manifest["schema"]["fields"] if f["name"] != col
        ]
        for per_file in (
            manifest.get("stats", {}), manifest.get("blooms", {})
        ):
            for entry in per_file.values():
                entry.pop(col, None)
        manifest["drop"] = {"column": col}

    return _metadata_commit(
        table, latest, mutate, "drop_column", txn, rebase, max_rebase
    )


def snapshot_set_constraints(
    spark: SparkSession,
    table: str,
    constraints: dict,
    validate: bool = True,
    max_retries: int = 0,
    txn: tuple[str, int] | None = None,
) -> int:
    """ALTER TABLE ADD/DROP CONSTRAINT as a METADATA-ONLY commit
    (Delta's contract): the new constraint set replaces the manifest's
    (``{}`` drops all), existing data is validated against it with ONE
    scan of the current version (exactly what Delta's ADD CONSTRAINT
    pays) and ZERO data files are rewritten — the previous path was a
    full-table ``snapshot_write`` re-commit. Every later commit
    (merges included) then validates against the new set before
    staging, and a pruned commit racing this one conflicts
    deterministically (``_pruned_rebase_ok`` compares constraint
    sets — its rows were never validated against the new rules).

    Concurrency: losing the version race re-reads, RE-VALIDATES the
    winner's rows (a winner may have inserted rows the new constraint
    forbids — replaying without re-validation would corrupt the
    guarantee, so this is a CAS retry, not a blind rebase), and
    retries up to ``max_retries`` times. ``validate=False`` skips the
    scan — for CDC replication replaying a set already proven on
    row-identical data. ``txn`` gives the commit an idempotence
    ledger entry like every other replicated commit."""
    import copy
    import time as _t

    constraints = dict(constraints)
    for attempt in range(max_retries + 1):
        done = _txn_already_applied(table, txn)
        if done is not None:
            return done
        latest = _latest_manifest(table)
        if latest is None:
            raise FileNotFoundError(f"no versions in {table}")
        if validate and constraints:
            _validate_constraints(
                _read_files(
                    spark, table, latest, _manifest_files(table, latest)
                ),
                constraints,
            )
        manifest = copy.deepcopy(latest)
        for k in ("txn", "pruning", "rename", "drop", "rebased",
                  "constraints"):
            manifest.pop(k, None)
        if constraints:
            manifest["constraints"] = constraints
        manifest.update(
            version=latest["version"] + 1,
            kind="set_constraints",
            parent=latest["version"],
            ts=_t.time(),
        )
        if txn is not None:
            manifest["txn"] = {"app": txn[0], "batch": int(txn[1])}
        _record_last_field_id(manifest, _last_field_id(table, latest))
        try:
            _publish(table, manifest)
            return manifest["version"]
        except SnapshotConflictError:
            # the winner may be a concurrent replay of the SAME txn
            # (two replication drains replaying one source commit) —
            # that is success, not a conflict
            done = _txn_already_applied(table, txn)
            if done is not None:
                return done
            if attempt == max_retries:
                raise
    raise AssertionError("unreachable")


def rollback(table: str, version: int) -> int:
    """Make ``version`` current again by committing it as a new
    version pointing at the SAME data directory (metadata-only, like
    Delta's RESTORE — no data copy). Returns the new version."""
    ms = _manifests(table)
    by_v = {m["version"]: m for m in ms}
    if version not in by_v:
        raise ValueError(f"version {version} not in {sorted(by_v)}")
    import time

    parent = ms[-1]["version"]
    v = parent + 1
    manifest = dict(
        by_v[version], version=v, kind="rollback", parent=parent,
        ts=time.time(),
    )
    # the restored manifest's snapshot of last_field_id may predate
    # ids minted since — the floor must stay monotone over the FULL
    # history or a post-rollback ADD could recycle a retired id
    manifest.pop("txn", None)
    _record_last_field_id(
        manifest,
        max(
            _last_field_id(table, by_v[version]),
            _last_field_id(table, ms[-1]),
        ),
    )
    _publish(table, manifest)
    return v


def snapshot_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    manifests: list[dict] | None = None,
) -> DataFrame:
    """Change data feed (Delta CDF analogue): the row-level inserts
    and deletes between two committed versions, reconstructed from
    manifests alone — no per-commit change files are ever written.

    The diff is ``snapshot_common.feed_actions``' add/remove action
    list, the one the ``snapshot_cdf`` stream also runs. Per commit
    step:

    * rows of files ADDED by the commit (minus any deletion vectors
      the commit itself carries on them) → ``insert``;
    * rows of files the commit REMOVED, as they were live at the
      parent (minus the parent's DVs) → ``delete``;
    * rows newly covered by DELETION VECTORS on carried files — the
      current sidecar positions minus the parent's → ``delete``
      (merge-on-read deletes produce a feed without any file-set
      change); a rollback that shrinks a DV emits the positions it
      restores → ``insert``.

    Layout-only commits (``compact``, ``zorder``) rewrite every file
    without changing a row; they are skipped outright (Delta's
    ``dataChange=false``), so OPTIMIZE never floods the feed. An
    UPDATE appears as its delete/insert row pair, exactly like
    Delta's CDF without the optional preimage tracking.

    Output: the TO-version's data columns (resolved by field id, so
    rows from pre-rename files come out under the current names;
    rows from pre-evolution files carry NULLs in added columns) plus
    ``_change_type`` (``insert`` | ``delete``) and
    ``_commit_version``. Invariant (pinned in tests):
    ``rows(from) + inserts − deletes == rows(to)`` as multisets.

    Scale shape: however many versions the window spans, the feed is
    ONE parquet scan of the distinct files that changed hands, hash-
    joined to a small broadcast action frame on the file, plus ONE
    scan of the deletion-vector sidecars the actions name — both under
    explicit schemas, so building the plan runs no Spark job beyond
    file listing; a small commit's feed reads a small number of files
    regardless of table size, and nothing is collected.
    ``manifests`` lets a caller that already parsed the version
    history (the replication loop reads it once per drain) skip the
    re-parse."""
    ms = {
        m["version"]: m
        for m in (_manifests(table) if manifests is None else manifests)
    }
    if to_version is None:
        to_version = max(ms)
    if from_version not in ms or to_version not in ms:
        raise ValueError(
            f"versions {from_version}..{to_version} not all in "
            f"{sorted(ms)}"
        )
    acts = _feed_actions(table, ms, from_version, to_version)
    to_m = ms[to_version]
    schema = _schema_for_read(spark, to_m) or T.StructType.fromJson(
        to_m["schema"]
    )
    if not acts:
        return spark.createDataFrame(
            [],
            schema.add("_change_type", T.StringType()).add(
                "_commit_version", T.IntegerType()
            ),
        )
    scan = spark.read.schema(schema).parquet(
        *[os.path.join(table, r) for r in dict.fromkeys(a[2] for a in acts)]
    )
    cols = scan.columns
    # the action list as a small broadcast frame, built in the JVM from
    # one JSON literal (no Python worker), hash-joined on the row's file
    names = ("_commit_version", "_change_type", "__rel", "__keep", "__drop")
    actions = spark.range(1).select(F.inline(F.from_json(
        F.lit(json.dumps([dict(zip(names, a)) for a in acts])),
        _FEED_ACTIONS,
    )))
    rows = scan.select(
        "*",
        _rel_file_expr().alias("__rel"),
        F.col("_metadata.row_index").alias("__pos"),
    ).join(F.broadcast(actions), "__rel")
    used = {d for a in acts for d in a[3:] if d is not None}
    pos = _dv_rows(
        spark,
        table,
        {
            (e["dir"], r): e
            for v in range(from_version, to_version + 1)
            for r, e in ms[v].get("dv", {}).items()
            if e["dir"] in used
        }.values(),
    )
    if pos is not None:
        # an action emits the positions in its keep sidecar (every
        # position when it has none) that its drop sidecar lacks; both
        # joins probe the SAME position frame, so it is scanned and
        # broadcast once
        hits = pos.select(
            # the sidecar directory: the path's two segments above the file
            F.substring_index(
                F.substring_index(F.col("_metadata.file_path"), "/", -3),
                "/", 2,
            ).alias("__dir"),
            F.col("rel").alias("__rel"),
            F.col("pos").alias("__pos"),
            F.lit(True).alias("__hit"),
        )
        for side in ("__keep", "__drop"):
            rows = (
                rows.withColumnRenamed(side, "__dir")
                .join(hits, ["__dir", "__rel", "__pos"], "left")
                .withColumnsRenamed({"__dir": side, "__hit": f"{side}_hit"})
            )
        rows = rows.filter(
            (F.col("__keep").isNull() | F.col("__keep_hit").isNotNull())
            & F.col("__drop_hit").isNull()
        )
    return rows.select(*cols, "_change_type", "_commit_version")


def _apply_cdc_version(
    spark: SparkSession,
    table: str,
    dels: DataFrame | None,
    ins: DataFrame | None,
    keys: Sequence[str],
    txn: tuple[str, int],
    max_retries: int = 5,
) -> int:
    """Apply ONE source version's change feed to a replica as ONE
    commit (kind ``cdc_apply``) whose physical cost is O(changed
    rows), never O(replica):

    * ``dels`` (distinct key tuples) land as DELETION VECTORS on only
      the files whose cached min/max stats / blooms say they may hold
      a matching key — zero data files rewritten, every file inherited
      by reference (the r9 loop full-rewrote the replica per source
      version: O(replica × versions) at 100 TB). Pruning intersects
      exclusions across ALL replication keys that have cached stats
      (a composite-key replica skips every file ANY key's min/max or
      bloom provably excludes — not just the first key's);
    * ``ins`` lands as appended files (``_stage_unique``); a widened
      source schema widens the replica here — new columns mint fresh
      field ids and pre-widen files NULL-fill, exactly like a local
      widening commit;
    * one manifest = one source version = one ``txn`` ledger entry,
      so the exactly-once cursor contract is unchanged (a crash
      between two half-applied commits cannot exist).

    Concurrency: a concurrent writer on the REPLICA (local append,
    delete, compaction) losing/winning the version race no longer
    aborts the whole drain — on conflict the application re-checks
    the txn ledger (a racing drain of the same version already landed
    it) and otherwise RETRIES from the new latest: re-prune, re-stage,
    re-publish, up to ``max_retries`` times. The retry is sound
    because applying a version's keyed deletes + inserts is a pure
    function of (new parent state, feed) and the ledger keeps it
    exactly-once.

    Delete semantics match the rewrite path it replaces: key equality
    is NULL-safe (a NULL-keyed delete removes NULL-keyed rows)."""
    for attempt in range(max_retries + 1):
        try:
            return _apply_cdc_version_once(
                spark, table, dels, ins, keys, txn
            )
        except SnapshotConflictError:
            done = _txn_already_applied(table, txn)
            if done is not None:
                return done
            if attempt == max_retries:
                raise
    raise AssertionError("unreachable")


def _apply_cdc_version_once(
    spark: SparkSession,
    table: str,
    dels: DataFrame | None,
    ins: DataFrame | None,
    keys: Sequence[str],
    txn: tuple[str, int],
) -> int:
    """One publish attempt of ``_apply_cdc_version`` against the
    current latest manifest (see there for semantics): ``dels`` become
    deletion vectors on the files pruning cannot exclude, ``ins`` is
    staged as appended files, in ONE ``cdc_apply`` commit."""
    latest = _resolve_manifest(table)
    bounds = {k: _NO_MATCH for k in keys}
    touched, stats = [], {}
    if dels is not None:
        # one aggregation pass over the delete keys: min/max/non-null
        # count for EVERY key, so per-file exclusion can intersect
        # across keys
        aggs = [F.count(F.lit(1)).alias("n")]
        for j, k in enumerate(keys):
            aggs += [
                F.min(k).alias(f"lo{j}"),
                F.max(k).alias(f"hi{j}"),
                F.count(k).alias(f"nn{j}"),
            ]
        b = dels.agg(*aggs).first()
        bounds = {
            k: (
                b[f"lo{j}"], b[f"hi{j}"], b["n"] > b[f"nn{j}"],
                # None = no bloom on k, or over the probe cap: range-only
                _bloom_probe_pairs(dels, k) if _bloomed(latest, [k]) else None,
            )
            for j, k in enumerate(keys)
        }
        touched, stats = _prune_files(
            table, latest, _manifest_files(table, latest), bounds
        )

    def match(scan: DataFrame) -> DataFrame:
        d = dels.select(
            *[F.col(k).alias(f"__del_{k}") for k in keys]
        ).dropDuplicates()
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__del_{k}"))
            cond = c if cond is None else cond & c
        return scan.join(d, cond, "left_semi")

    # no rebase: a lost race re-runs the whole application against
    # the new latest (``_apply_cdc_version``)
    return _commit_files(
        spark, table, latest, "cdc_apply", df=ins, scanned=touched,
        dv=_write_dv(spark, table, latest, touched, match), stats=stats,
        bounds=bounds, txn=txn, rebase=False,
    )


def replicate_snapshot_changes(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    keys: Sequence[str],
    app_id: str = "cdf-replica",
    max_versions: int | None = None,
    fold_versions: int | None = 64,
) -> int:
    """Advance a replica table by CONSUMING the source's change feed —
    the incremental CDC-replication loop, exactly-once:

    * the cursor is the existing transaction ledger: each applied
      source version commits to the replica with ``txn=(app_id,
      src_version)``, so ``last_committed_txn`` IS the resume point —
      no side files, and a crashed/replayed application of an
      already-applied version is a no-op by the ledger's ``<= max``
      rule;
    * each fold window (see ``fold_versions`` below) applies as ONE
      ``cdc_apply`` commit (``_apply_cdc_version``): deletes become
      deletion vectors on the pruned files, inserts become appended
      files, every other file is inherited BY REFERENCE — O(changed
      rows) per window, never a replica rewrite;
    * SCHEMA commits replay as schema commits: a source
      ``rename_column``/``drop_column`` runs the same metadata-only
      commit on the replica (the feed is empty — without the replay,
      later inserts under the new name would silently fork the
      column); a rename of a replication KEY re-keys the loop's own
      join keys mid-drain; dropping a key column fails fast;
    * layout-only source commits advance the cursor with a
      metadata-only ``cdc_noop`` commit (nothing re-written);
    * ``fold_versions=N`` (DEFAULT 64; pass ``None`` or ``1`` for the
      strict one-commit-per-source-version drain) drains runs of up
      to N consecutive ROW-CHANGE source versions as ONE
      ``cdc_apply`` commit — a replica catching up over thousands of
      small commits stops paying per-version Spark-job + manifest
      overhead (the window's feed is one scan and its apply one
      commit, however many versions it folds). The fold sequences the
      combined feed correctly for multisets: deletes are the union of
      all deleted keys in the window (a later feed insert adds a NEW
      row, never resurrects the old one), and an insert survives
      unless a STRICTLY LATER version deletes its key (the
      delete/insert pair inside one version keeps its delete-first
      order). ``latest_changes`` is NOT reused here — its
      one-row-per-key contract would drop multi-row appends under a
      shared key. A fold stops at any schema / constraint / rollback
      commit (those replay individually, and a schema-reverting
      rollback still fails fast) AND at any commit whose schema
      signature differs from the window's first version (a widening
      merge, say) — fold windows are schema-constant by construction,
      so the combined feed never mixes column sets;
      ``txn=(app_id, last folded version)`` keeps exactly-once — a
      crash between folds resumes from the ledger cursor;
    * a replica that does not exist yet is bootstrapped from source
      version 0 (``txn=(app_id, 0)``) with min/max stats on the keys,
      so the delete-side file pruning works from the first applied
      version.

    Run it in a loop (or from ``foreachBatch`` of any trigger stream)
    while the source keeps committing: each call drains versions that
    exist at call time and returns how many it applied — concurrent
    source commits are picked up by the next call.
    """
    src_latest = latest_version(src_table)
    if src_latest is None:
        raise FileNotFoundError(f"no versions in {src_table}")
    src_ms = {m["version"]: m for m in _manifests(src_table)}
    applied = 0
    if latest_version(dst_table) is None:
        src_v0 = src_ms[0]
        # a vacuumed v0 must surface as the typed retention error the
        # rest of the feed raises, not a raw parquet file-not-found
        _require_retained(src_table, 0, _manifest_files(src_table, src_v0))
        # carry v0's CHECK constraints: without them the replica's
        # manifests lack enforcement until a later set_constraints
        # commit happens to replay
        snapshot_write(
            dst_table,
            snapshot_read(spark, src_table, version=0),
            stats_cols=list(keys),
            constraints=src_v0.get("constraints"),
            txn=(app_id, 0),
        )
        applied += 1
    cursor = last_committed_txn(dst_table, app_id)
    if cursor is None:
        raise RuntimeError(
            f"replica {dst_table} exists but has no txn ledger for "
            f"app {app_id!r} — it was not bootstrapped by this loop"
        )
    # source renames committed BEFORE the cursor already re-keyed the
    # replica; bring the caller's key names up to the cursor's epoch
    keys = list(keys)
    for v in sorted(src_ms):
        if v <= cursor and src_ms[v].get("kind") == "rename_column":
            r = src_ms[v]["rename"]
            keys = [r["to"] if k == r["from"] else k for k in keys]
    fold_stop_kinds = _SCHEMA_ONLY_KINDS | {"set_constraints", "rollback"}
    v = cursor + 1
    while v <= src_latest:
        if max_versions is not None and applied >= max_versions:
            break
        m = src_ms[v]
        kind = m.get("kind")
        if kind == "rollback" and _schema_commit_sig(m) != _schema_commit_sig(
            src_ms[v - 1]
        ):
            # a rollback that REVERTS schema evolution (rename/drop/
            # widen undone in one commit) cannot be replayed as a row
            # diff — the feed's columns no longer line up with the
            # replica's, and silently continuing would fork columns
            # exactly like the pre-r10 rename bug. Fail fast; the
            # operator re-bootstraps the replica from a fresh app_id.
            raise ValueError(
                f"source {src_table} version {v} is a rollback that "
                "reverts a schema change; replicate cannot replay it "
                "— re-bootstrap the replica from the current source"
            )
        if kind in _SCHEMA_ONLY_KINDS:
            # dispatch driven off the shared constant so a new
            # schema-only kind cannot silently skip its replay arm
            if kind == "rename_column":
                r = m["rename"]
                snapshot_rename_column(
                    dst_table, r["from"], r["to"], txn=(app_id, v)
                )
                keys = [r["to"] if k == r["from"] else k for k in keys]
            elif kind == "drop_column":
                col = m["drop"]["column"]
                if col in keys:
                    raise ValueError(
                        f"source {src_table} dropped replication key "
                        f"{col!r} at version {v}; the replica cannot "
                        "apply keyed deletes without it"
                    )
                snapshot_drop_column(dst_table, col, txn=(app_id, v))
            else:  # pragma: no cover — drift guard
                raise AssertionError(
                    f"schema-only kind {kind!r} has no replication "
                    "replay arm"
                )
        elif kind == "set_constraints":
            # replay the constraint change on the replica — the rows
            # are identical (already validated on the source), so the
            # validation scan is skipped
            snapshot_set_constraints(
                spark, dst_table, m.get("constraints", {}),
                validate=False, txn=(app_id, v),
            )
        elif kind in _LAYOUT_ONLY_KINDS:
            # empty feed by definition: advance the ledger only
            _metadata_commit(
                dst_table, _latest_manifest(dst_table),
                lambda mf: None, "cdc_noop", (app_id, v),
                rebase=True, max_rebase=5,
            )
        else:
            # extend a fold window over consecutive row-change /
            # layout-only versions (their feeds compose; schema,
            # constraint, and rollback commits end the window)
            end = v
            if fold_versions is not None and fold_versions > 1 and (
                kind != "rollback"
            ):
                budget = fold_versions
                if max_versions is not None:
                    budget = min(budget, max_versions - applied)
                sig0 = _schema_commit_sig(m)
                while (end - v + 1) < budget and end + 1 <= src_latest:
                    nxt = src_ms[end + 1]
                    if nxt.get("kind") in fold_stop_kinds:
                        break
                    # schema-constant windows only: a widening merge
                    # (row-change kind, schema changes) replays as its
                    # own commit so the folded feed never mixes
                    # column sets
                    if _schema_commit_sig(nxt) != sig0:
                        break
                    end += 1
            feed = snapshot_changes(
                spark, src_table, v - 1, end,
                manifests=list(src_ms.values()),
            ).persist()
            try:
                n_by = {
                    r["_change_type"]: int(r["n"])
                    for r in feed.groupBy("_change_type")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                dels = (
                    feed.filter(F.col("_change_type") == "delete")
                    .select(*keys)
                    if n_by.get("delete")
                    else None
                )
                ins = (
                    feed.filter(F.col("_change_type") == "insert")
                    if n_by.get("insert")
                    else None
                )
                if ins is not None and dels is not None and end > v:
                    # sequence the folded feed: an insert survives
                    # unless a STRICTLY LATER version deletes its key
                    # (same-version delete/insert keeps delete-first
                    # order); NULL-safe on the keys like the apply
                    last_del = (
                        feed.filter(F.col("_change_type") == "delete")
                        .groupBy(*keys)
                        .agg(F.max("_commit_version").alias("__ldv"))
                        .select(
                            *[F.col(k).alias(f"__dk_{k}") for k in keys],
                            "__ldv",
                        )
                    )
                    cond = None
                    for k in keys:
                        c = F.col(k).eqNullSafe(F.col(f"__dk_{k}"))
                        cond = c if cond is None else cond & c
                    ins = (
                        ins.join(last_del, cond, "left")
                        .filter(
                            F.col("__ldv").isNull()
                            | (F.col("_commit_version") >= F.col("__ldv"))
                        )
                        .drop("__ldv", *[f"__dk_{k}" for k in keys])
                    )
                    if ins.isEmpty():  # every insert superseded
                        ins = None
                if ins is not None:
                    ins = ins.drop("_change_type", "_commit_version")
                if dels is None and ins is None:
                    _metadata_commit(
                        dst_table, _latest_manifest(dst_table),
                        lambda mf: None, "cdc_noop", (app_id, end),
                        rebase=True, max_rebase=5,
                    )
                else:
                    _apply_cdc_version(
                        spark, dst_table, dels, ins, keys, (app_id, end)
                    )
            finally:
                feed.unpersist()
            applied += end - v + 1
            v = end + 1
            continue
        applied += 1
        v += 1
    return applied


def vacuum(
    table: str, keep_last: int = 2, stage_retention_sec: float = 3600.0
) -> list[int]:
    """Drop data directories only referenced by versions older than
    the last ``keep_last`` — bounded storage growth, the VACUUM
    analogue. Directories shared with retained versions — rollback
    commits, and files INHERITED across pruned merges — are kept.
    Also sweeps staged data and deletion-vector directories no
    manifest references, but ONLY those older than
    ``stage_retention_sec`` (mtime of the directory): a completed
    commit or a detected conflict removes its own staging, so an old
    unreferenced dir means a crashed writer — but a YOUNG one may
    belong to an in-flight concurrent writer mid-parquet-job, and
    deleting it would fail that commit non-atomically (same reason
    Delta's VACUUM has a retention horizon). Returns the vacuumed
    version numbers."""
    import re
    import time as _time

    ms = _manifests(table)

    def refs(m: dict) -> set:
        # every dir a manifest references: its data dir, the dirs of
        # its (own and inherited) files, its deletion-vector sidecars
        return (
            {m["data_dir"]}
            | {os.path.dirname(f) for f in m["files"]}
            | {e["dir"] for e in m.get("dv", {}).values()}
        )

    # orphans: staged data dirs (d00007-3fa9c1d2) and DV sidecars
    # (_dv/v00007-3fa9c1d2) no manifest ever published — a crashed
    # writer's — swept only past the retention age, since a young one
    # may belong to an in-flight writer mid-parquet-job
    referenced = set().union(*map(refs, ms))
    staged = [
        e for e in os.listdir(table) if re.fullmatch(r"d\d{5}-[0-9a-f]{8}", e)
    ]
    dv_root = os.path.join(table, _DVDIR)
    if os.path.isdir(dv_root):
        staged += [
            os.path.join(_DVDIR, e)
            for e in os.listdir(dv_root)
            if re.fullmatch(r"v\d{5}-[0-9a-f]{8}", e)
        ]
    now = _time.time()
    for rel in staged:
        if rel in referenced:
            continue
        p = os.path.join(table, rel)
        try:
            age = now - os.path.getmtime(p)
        except OSError:
            continue  # racing writer removed it
        if age >= stage_retention_sec:
            shutil.rmtree(p, ignore_errors=True)
    if len(ms) <= keep_last:
        return []
    keep = set().union(*map(refs, ms[-keep_last:]))
    dropped = []
    for m in ms[:-keep_last]:
        if refs(m) & keep:
            continue
        for d in refs(m):
            shutil.rmtree(os.path.join(table, d), ignore_errors=True)
        dropped.append(m["version"])
    return dropped


def snapshot_history(table: str) -> list[dict]:
    """The audit log (DESCRIBE HISTORY analogue): one entry per
    version — kind, parent, file count, whether stats are cached —
    from manifests only (no data reads)."""
    out = []
    for m in _manifests(table):
        out.append(
            {
                "version": m["version"],
                "kind": m["kind"],
                "parent": m["parent"],
                "ts": m.get("ts"),
                "n_files": len(_manifest_files(table, m)),
                "has_stats": bool(m.get("stats")),
                "n_dv_files": len(m.get("dv", {})),
            }
        )
    return out
