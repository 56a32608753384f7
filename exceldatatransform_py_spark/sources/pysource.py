"""Custom connector via the Python Data Source API (Spark 4).

The reference's input is a *workbook*: a container of named sheets
(``timesheet_transform.py:21-29`` reads every sheet and tags rows with
their origin). ``SheetDirDataSource`` is that container as a
first-class Spark source: a directory of ``*.csv`` "sheets" readable
with ``spark.read.format("sheetdir")``, one **input partition per
sheet** — so a 10k-sheet workbook ingests with 10k-way parallelism,
scheduled by Spark like any other scan, with sheet lineage built into
the rows (no driver-side loop over files, unlike the ``read_sheets``
CLI helper which unions per-file DataFrames in the driver).

Rows come out raw — ``(sheet, line_no, line)`` — because sheets are
schemaless by nature (the reference tolerates missing/extra columns
per sheet); downstream parsing composes with ``F.from_csv`` against
whatever schema the pipeline expects, keeping the error-tolerant
typing rules (P6) in one place.

This is the engine's template for ANY custom connector: implement
``DataSource.reader`` → ``partitions()``/``read()``, register once per
session, and the source participates in normal query planning. The
read path is executor-side Python yielding tuples; for throughput-
critical connectors return Arrow ``RecordBatch``es instead — same API.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class _SheetPartition(InputPartition):
    def __init__(self, path: str, sheet: str) -> None:
        self.path = path
        self.sheet = sheet


class SheetDirReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("sheetdir source requires option 'path'")
        self.dir = path
        self.skip_header = options.get("header", "true").lower() == "true"

    def partitions(self) -> list[InputPartition]:
        # one partition per sheet: the planner schedules sheets across
        # executors; a huge workbook parallelizes for free.
        return [
            _SheetPartition(os.path.join(self.dir, f), os.path.splitext(f)[0])
            for f in sorted(os.listdir(self.dir))
            if f.endswith(".csv")
        ]

    def read(self, partition: _SheetPartition) -> Iterator[tuple]:
        start = 1 if self.skip_header else 0
        with open(partition.path, encoding="utf-8") as fh:
            for i, line in enumerate(fh):
                if i < start:
                    continue
                yield (partition.sheet, i, line.rstrip("\n"))


class SheetDirStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor: sheets dropped into the directory AFTER the
    stream starts arrive as micro-batches; bytes APPENDED to an
    already-seen sheet arrive as a later micro-batch too.

    The offset records ``(file name, byte size)`` pairs, and replay
    (``readBetweenOffsets``) re-reads exactly the recorded byte range
    of each file — so checkpoint recovery re-emits the same rows even
    if a file has grown since, giving the built-in file source's
    exactly-once contract without its whole-file immutability
    assumption. The one remaining assumption (shared with the built-in
    source) is that already-emitted bytes are never REWRITTEN: a file
    that shrinks or changes in place yields undefined replay, because
    the bytes the offset describes no longer exist."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("sheetdir source requires option 'path'")
        self.dir = path
        self.skip_header = options.get("header", "true").lower() == "true"
        # a final line with no trailing newline is emitted once the
        # file size is unchanged for this many consecutive triggers
        # (quiescence = the writer is done, not mid-append); see read().
        self.tail_quiesce = int(options.get("tailquiescetriggers", "2"))

    def _sizes(self) -> list[tuple[str, int]]:
        out = []
        for f in sorted(os.listdir(self.dir)):
            if f.endswith(".csv"):
                out.append((f, os.path.getsize(os.path.join(self.dir, f))))
        return out

    @staticmethod
    def _prev(offset: dict) -> dict[str, int | None]:
        """Offset entries → {name: emitted byte count}. Tolerates the
        legacy whole-file-list format (value None = fully emitted at
        an unrecorded size) and ignores trailing tail-pending fields."""
        out: dict[str, int | None] = {}
        for e in offset.get("seen", []):
            if isinstance(e, str):
                out[e] = None
            else:
                out[e[0]] = e[1]
        return out

    @staticmethod
    def _pending(offset: dict) -> dict[str, tuple[int, int]]:
        """Tail-pending entries → {name: (observed size, consecutive
        stable triggers)} — the quiescence state for files whose last
        bytes lack a newline."""
        out: dict[str, tuple[int, int]] = {}
        for e in offset.get("seen", []):
            if not isinstance(e, str) and len(e) >= 4:
                out[e[0]] = (e[2], e[3])
        return out

    @staticmethod
    def _last_newline(path: str, lo: int, hi: int, block: int = 65536) -> int:
        """Absolute offset of the last ``b'\\n'`` in ``[lo, hi)``, or
        -1 — scanning BACKWARD in bounded blocks from the end, so a
        multi-GB appended delta costs one small read instead of being
        loaded whole into driver memory just to find its last line."""
        with open(path, "rb") as fh:
            end = hi
            while end > lo:
                start = max(lo, end - block)
                fh.seek(start)
                nl = fh.read(end - start).rfind(b"\n")
                if nl >= 0:
                    return start + nl
                end = start
        return -1

    def _emit(self, ranges: list[tuple[str, int, int]]) -> Iterator[tuple]:
        """Yield (sheet, line_no, line) for each file's byte range
        [lo, hi) — only recorded bytes are read, so replay is exact.

        A line that STARTS before ``lo`` but extends past it is the
        continuation of a quiescent unterminated tail an earlier batch
        already emitted (the writer paused mid-row long enough to trip
        the quiescence rule, then resumed): its bytes from ``lo`` on
        are emitted as their own row — possibly a fragment, matching
        the documented split-row failure mode — rather than silently
        discarded."""
        for f, lo, hi in ranges:
            sheet = os.path.splitext(f)[0]
            with open(os.path.join(self.dir, f), "rb") as fh:
                data = fh.read(hi)
            pos = 0
            for line_no, raw in enumerate(data.split(b"\n")):
                line_start = pos
                pos += len(raw) + 1
                if line_start >= hi:
                    break
                if line_start < lo:
                    if line_start + len(raw) > lo:
                        # post-quiescence growth of an already-emitted
                        # tail: emit the continuation bytes. A grown
                        # HEADER line stays skipped under skip_header,
                        # and the fragment is flagged with a NEGATIVE
                        # line_no (-start byte offset — unique, since
                        # lo strictly increases batch-over-batch) so
                        # downstream keys on (sheet, line_no) never
                        # collide with the already-emitted head or
                        # with real rows.
                        if self.skip_header and line_no == 0:
                            continue
                        tail = raw[lo - line_start:]
                        yield (sheet, -lo,
                               tail.decode("utf-8").rstrip("\r"))
                    continue  # head emitted by an earlier batch
                if self.skip_header and line_no == 0:
                    continue
                yield (sheet, line_no, raw.decode("utf-8").rstrip("\r"))

    def initialOffset(self) -> dict:
        return {"seen": []}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        # the simple stream API prefetches records driver-side and
        # PICKLES them to executors — return a materialized list, not
        # a generator. Right for control-plane-sized batches (new
        # sheets per trigger); a data-plane-scale streaming connector
        # uses the partition-planning DataSourceStreamReader instead.
        prev = self._prev(start)
        pend = self._pending(start)
        ranges = []
        end: list[list] = []
        for f, cur in self._sizes():
            lo = prev.get(f, 0)
            if lo is None:  # legacy offset: treat as fully emitted
                lo = cur
            # Cap the recorded extent at the last complete line: a
            # writer that has appended a partial line (no trailing
            # '\n' yet) would otherwise get that fragment emitted as a
            # truncated row now and the remainder as a second corrupt
            # row next batch. Normally only newline-terminated bytes
            # enter the offset — but a file whose FINAL row
            # legitimately lacks the trailing newline would then never
            # emit it, so once the file size sits unchanged for
            # ``tail_quiesce`` consecutive triggers (the writer is
            # done, not mid-append) the stable tail is emitted as the
            # final row, matching the batch SheetDirReader.
            hi = lo
            if cur > lo:
                nl = self._last_newline(os.path.join(self.dir, f), lo, cur)
                if nl >= 0:
                    hi = nl + 1
            entry = [f, hi]
            if cur > hi:  # unterminated tail pending
                seen_size, stable = pend.get(f, (None, 0))
                stable = stable + 1 if seen_size == cur else 1
                if stable >= self.tail_quiesce:
                    hi = cur  # quiescent: emit the tail as a final row
                    entry = [f, hi]
                else:
                    entry = [f, hi, cur, stable]
            if hi > lo:
                ranges.append((f, lo, hi))
            end.append(entry)
        # files that vanished stay in the offset so older batches keep
        # their recorded extent for replay bookkeeping.
        now = {f for f, _ in self._sizes()}
        for name, size in prev.items():
            if name not in now:
                end.append([name, size if size is not None else 0])
        return iter(list(self._emit(ranges))), {"seen": sorted(end)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        prev = self._prev(start)
        ranges = []
        for name, size in self._prev(end).items():
            hi = size if size is not None else os.path.getsize(
                os.path.join(self.dir, name)
            )
            if name not in prev:
                lo = 0  # file first appeared inside (start, end]
            elif prev[name] is None:
                # legacy whole-file entry = fully emitted before this
                # range at an unrecorded size; replaying it from 0
                # would duplicate every already-emitted row. Mirror
                # read(): nothing of this file belongs to the range.
                lo = hi
            else:
                lo = prev[name]
            if hi > lo:
                ranges.append((name, lo, hi))
        return iter(list(self._emit(sorted(ranges))))

    def commit(self, end: dict) -> None:
        pass


@dataclass
class _SheetCommit(WriterCommitMessage):
    files: list  # [(tmp_path, final_name)] staged by one task


class SheetDirWriter(DataSourceWriter):
    """Transactional sheet-per-key sink — the reference's one-sheet-
    per-surname output (S4) as a custom connector with the full
    two-phase commit protocol: every task stages its rows into
    uniquely-named temp files and reports them in its commit message;
    only the DRIVER's ``commit`` publishes them (atomic renames), and
    ``abort`` removes the staged files — a failed or speculative task
    can never leave a partial sheet visible. Rows must carry
    ``(sheet, line)``. When one sheet's rows land in several tasks
    (caller didn't ``repartition(sheet)``), commit MERGES the staged
    fragments in deterministic order rather than keeping one task's
    file. ``mode("overwrite")`` clears pre-existing sheets at commit;
    append leaves them. The staging directory is unique per job, so
    concurrent writes to one output directory cannot clobber each
    other's staged files."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("sheetdir sink requires option 'path'")
        self.dir = path
        self.overwrite = overwrite
        # unique per job: __init__ runs once on the driver and the
        # instance is serialized to tasks, so every task of this job
        # shares one staging dir and no other job's abort can touch it.
        self.stage = os.path.join(path, f"_staging-{uuid.uuid4().hex[:12]}")

    def write(self, rows) -> _SheetCommit:
        from pyspark import TaskContext

        os.makedirs(self.stage, exist_ok=True)
        handles: dict = {}
        # Fragment names lead with the zero-padded partition id so the
        # commit-side sorted() merge is partition order — deterministic
        # across runs and retries (a retry reuses the partition id; the
        # uuid suffix only keeps attempts from clobbering each other,
        # and exactly one attempt's message reaches commit).
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        task = f"{pid:010d}-{uuid.uuid4().hex[:12]}"
        staged = []
        for r in rows:
            sheet = r["sheet"]
            if sheet not in handles:
                tmp = os.path.join(self.stage, f"{sheet}-{task}.csv.tmp")
                handles[sheet] = open(tmp, "w", encoding="utf-8")
                staged.append((tmp, f"{sheet}.csv"))
            handles[sheet].write(r["line"] + "\n")
        for h in handles.values():
            h.close()
        return _SheetCommit(files=staged)

    def commit(self, messages) -> None:
        by_final: dict[str, list[str]] = {}
        for m in messages:
            if m is None:
                continue
            for tmp, final in m.files:
                by_final.setdefault(final, []).append(tmp)
        if self.overwrite:
            for f in os.listdir(self.dir):
                if f.endswith(".csv"):
                    os.remove(os.path.join(self.dir, f))
        for final, tmps in by_final.items():
            dest = os.path.join(self.dir, final)
            if len(tmps) == 1:
                os.replace(tmps[0], dest)
            else:
                # multi-task sheet: merge fragments (sorted by staged
                # name = stable across retries), publish atomically.
                merged = os.path.join(self.stage, final + ".merged")
                with open(merged, "w", encoding="utf-8") as out:
                    for tmp in sorted(tmps):
                        with open(tmp, encoding="utf-8") as fh:
                            shutil.copyfileobj(fh, out)
                os.replace(merged, dest)
        shutil.rmtree(self.stage, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.stage, ignore_errors=True)


class SheetDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sheetdir"

    def schema(self) -> str:
        return "sheet string, line_no int, line string"

    def reader(self, schema) -> SheetDirReader:
        return SheetDirReader(self.options)

    def simpleStreamReader(self, schema) -> SheetDirStreamReader:
        return SheetDirStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> SheetDirWriter:
        return SheetDirWriter(self.options, overwrite)


def register(spark) -> None:
    """Register the connector on a session (idempotent)."""
    spark.dataSource.register(SheetDirDataSource)


# ---------------------------------------------------------------------------
# Streaming CHANGE DATA FEED source for snapshot tables: the
# ``snapshot_cdf`` format turns ``snapshots.snapshot_changes`` into a
# Structured Streaming source with VERSION-NUMBER offsets — a replica
# runs ``readStream.format("snapshot_cdf").option("path", table)`` and
# receives each commit's row-level inserts/deletes as micro-batches,
# exactly-once across restarts because the offset (a committed version
# number) names immutable manifests and immutable data files, so
# ``readBetweenOffsets`` replays a checkpointed range byte-identically
# (the vacuum retention horizon is the one caveat, exactly as for
# Delta's CDF reads). The reader executes without a SparkSession: it
# runs the same ``snapshot_common.feed_actions`` list the batch feed
# runs, reading each action's file and deletion-vector sidecars with
# pyarrow.
# ---------------------------------------------------------------------------

from exceldatatransform_py_spark.sources.snapshot_common import (
    SnapshotStreamSchemaChangedError,
    feed_actions,
    latest_manifest,
    load_manifests,
    manifest_files,
    require_retained,
    resolve_manifest,
)


def _cdf_dv_positions(table: str, dv_dir: str) -> dict[str, set]:
    """{rel: set(row positions)} of one deletion-vector sidecar
    directory, read once via pyarrow."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(table, dv_dir), columns=["rel", "pos"])
    out: dict[str, set] = {}
    for r, p in zip(t["rel"].to_pylist(), t["pos"].to_pylist()):
        out.setdefault(r, set()).add(p)
    return out


def _cdf_file_rows(
    table: str,
    rel: str,
    fields: list[str],
    field_ids: dict | None = None,
    keep_pos: set | None = None,
    skip_pos: set | None = None,
):
    """Rows of one data file as tuples in ``fields`` order (missing
    columns → None — pre-evolution files under the latest schema),
    filtered by row position. ``field_ids`` ({latest name: id})
    resolves file columns BY parquet field id first — files written
    before a column RENAME emit under the current name, mirroring the
    Spark-side id-based read."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(table, rel))
    by_id = {}
    for fld in t.schema:
        fid = (fld.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            by_id[int(fid)] = fld.name
    colmap = {}
    for f in fields:
        fid = (field_ids or {}).get(f)
        # an id-carrying column resolves STRICTLY by id: a file
        # without that id NULL-fills, never falls back to the name —
        # after DROP + re-add of the same name (fresh id), name
        # fallback would resurrect the dropped values from pre-drop
        # files, diverging from the Spark batch read. Name matching
        # remains only for legacy id-less tables (fid is None).
        colmap[f] = by_id.get(int(fid)) if fid is not None else f
    cols = {c: t[c].to_pylist() for c in t.column_names}
    for i in range(t.num_rows):
        if keep_pos is not None and i not in keep_pos:
            continue
        if skip_pos is not None and i in skip_pos:
            continue
        yield tuple(
            cols[colmap[f]][i]
            if colmap[f] is not None and colmap[f] in cols
            else None
            for f in fields
        )


def _snapshot_manifest(options: dict) -> tuple[str, dict]:
    """(table, manifest) for the batch ``snapshot`` source's options:
    ``path`` (required), ``version`` (time travel) or ``asofts``
    (TIMESTAMP AS OF, epoch seconds), resolved like ``snapshot_read``."""
    path = options.get("path")
    if not path:
        raise ValueError("snapshot source requires option 'path'")
    v, ts = options.get("version"), options.get("asofts")
    return path, resolve_manifest(
        path,
        None if v is None else int(v),
        None if ts is None else float(ts),
    )


class _SnapshotFilePartition(InputPartition):
    def __init__(self, rel: str, dv_entry: dict | None) -> None:
        self.rel = rel
        self.dv_entry = dv_entry


class SnapshotBatchReader(DataSourceReader):
    """Batch read of a snapshot table version — ONE input partition
    per data file (the planner schedules files across executors like
    any scan), deletion vectors subtracted per file, columns resolved
    STRICTLY by parquet field id (pre-rename files read under the
    requested version's names; dropped-then-re-added names never
    resurrect old values). Rows travel as Arrow RecordBatches, not
    per-row tuples — the batch path is throughput-critical in a way
    the commit-sized change feed is not."""

    def __init__(self, options: dict) -> None:
        self.table, m = _snapshot_manifest(options)
        self.version = m["version"]
        fields = m["schema"]["fields"]
        self.fields = [f["name"] for f in fields]
        self.field_ids = {
            f["name"]: (f.get("metadata") or {}).get("parquet.field.id")
            for f in fields
        }
        self.schema_json = m["schema"]
        self.dv = m.get("dv", {})
        self.files = manifest_files(self.table, m)
        # a read that needs vacuumed files raises the typed retention
        # error, not a raw pyarrow file-not-found
        require_retained(
            self.table, self.version,
            self.files + sorted(
                {e["dir"] for r, e in self.dv.items() if r in set(self.files)}
            ),
        )

    def partitions(self) -> list[InputPartition]:
        return [
            _SnapshotFilePartition(rel, self.dv.get(rel))
            for rel in self.files
        ]

    def read(self, partition: _SnapshotFilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_type

        t = pq.read_table(os.path.join(self.table, partition.rel))
        if partition.dv_entry is not None:
            dead = _cdf_dv_positions(
                self.table, partition.dv_entry["dir"]
            ).get(partition.rel, set())
            if dead:
                mask = pa.array(
                    [i not in dead for i in range(t.num_rows)]
                )
                t = t.filter(mask)
        by_id = {}
        for fld in t.schema:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = fld.name
        spark_fields = T.StructType.fromJson(self.schema_json).fields
        cols, names = [], []
        for f, sf in zip(self.fields, spark_fields):
            fid = self.field_ids.get(f)
            # id-carrying columns resolve strictly by id (NULL-fill
            # when the file predates the column); name matching only
            # for legacy id-less tables
            src = by_id.get(int(fid)) if fid is not None else f
            atype = to_arrow_type(sf.dataType)
            if src is not None and src in t.column_names:
                cols.append(t[src].cast(atype).combine_chunks())
            else:
                cols.append(pa.nulls(t.num_rows, type=atype))
            names.append(f)
        out = pa.table(cols, names=names)
        yield from out.to_batches(max_chunksize=1 << 16)


class SnapshotDataSource(DataSource):
    """``spark.read.format("snapshot").option("version", v)
    .load(<table>)`` — the table format's batch half of the connector
    story (the stream is ``snapshot_cdf``). Also usable from plain
    SQL: ``CREATE TEMPORARY VIEW t USING snapshot OPTIONS (path
    '<table>', version '3')``. Omitting ``version`` reads head;
    ``asofts`` gives TIMESTAMP AS OF."""

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def schema(self):
        from pyspark.sql import types as T

        _, m = _snapshot_manifest(self.options)
        base = T.StructType.fromJson(m["schema"])
        # metadata-free, all-nullable copy: field-id resolution happens
        # inside the reader, and pre-evolution files NULL-fill added
        # columns, so the scan can never promise non-null
        return T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in base]
        )

    def reader(self, schema) -> SnapshotBatchReader:
        return SnapshotBatchReader(self.options)


def register_snapshot(spark) -> None:
    """Register the batch snapshot source (idempotent)."""
    spark.dataSource.register(SnapshotDataSource)


class SnapshotCDFStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("snapshot_cdf source requires option 'path'")
        self.table = path
        self.from_version = int(options.get("fromversion", 0))
        latest = resolve_manifest(self.table)
        self.init_version = latest["version"]
        latest_fields = latest["schema"]["fields"]
        self.fields = [f["name"] for f in latest_fields]
        self.field_ids = {
            f["name"]: (f.get("metadata") or {}).get("parquet.field.id")
            for f in latest_fields
        }
        # init-time type per field id (name for legacy id-less
        # columns) — a later commit that RETYPES a column under the
        # same id cannot be represented in the fixed output schema
        self.field_types = {}
        for f in latest_fields:
            fid = (f.get("metadata") or {}).get("parquet.field.id")
            key = int(fid) if fid is not None else f["name"]
            self.field_types[key] = f["type"]

    def _check_schema(self, v: int, m: dict) -> None:
        """Schema-evolution contract for commits landing MID-STREAM
        (pinned; it was undefined): the output schema is fixed at
        reader init, so a later version may RENAME columns (same
        field ids — the strict id-resolution maps them) or DROP them
        (the dead column NULL-fills under the stable schema), but a
        version that ADDS a column the init schema cannot represent —
        or RETYPES one under the same field id (a full rewrite that
        changes a column's type passes the added-column check but
        then emits values that do not fit the fixed init-time
        schema) — raises ``SnapshotStreamSchemaChangedError`` —
        restart the stream to pick up the new schema — rather than
        silently emitting rows with the new column's values missing
        (or failing later with an opaque conversion error)."""
        if v <= self.init_version:
            return
        known_ids = {
            int(i) for i in self.field_ids.values() if i is not None
        }
        added, retyped = [], []
        for f in m["schema"]["fields"]:
            fid = (f.get("metadata") or {}).get("parquet.field.id")
            if fid is not None:
                if int(fid) not in known_ids:
                    added.append(f["name"])
                elif f["type"] != self.field_types.get(int(fid)):
                    retyped.append(f["name"])
            elif f["name"] not in self.fields:  # legacy id-less table
                added.append(f["name"])
            elif f["type"] != self.field_types.get(f["name"]):
                retyped.append(f["name"])
        if added or retyped:
            raise SnapshotStreamSchemaChangedError(
                self.table, v, added, retyped
            )

    def initialOffset(self) -> dict:
        return {"version": self.from_version}

    def _between(self, ms: dict, from_v: int, to_v: int):
        """The feed rows of versions (from_v, to_v] — tuples in
        ``fields`` order plus (change, version) — from the manifests
        ``ms`` (version → manifest): each step checks the schema
        contract, then runs its ``feed_actions``."""
        dvs: dict[str, dict] = {}  # sidecar dir → {rel: positions}

        def positions(dv_dir, rel):
            if dv_dir is None:
                return None
            if dv_dir not in dvs:
                dvs[dv_dir] = _cdf_dv_positions(self.table, dv_dir)
            return dvs[dv_dir].get(rel, set())

        for v in range(from_v + 1, to_v + 1):
            self._check_schema(v, ms[v])
            for _, change, rel, keep, drop in feed_actions(
                self.table, ms, v - 1, v
            ):
                for row in _cdf_file_rows(
                    self.table, rel, self.fields, field_ids=self.field_ids,
                    keep_pos=positions(keep, rel),
                    skip_pos=positions(drop, rel),
                ):
                    yield row + (change, v)

    def read(self, start: dict):
        # an idle trigger parses only the newest manifest
        latest = latest_manifest(self.table)["version"]
        v0 = int(start["version"])
        if latest <= v0:
            return iter([]), start
        ms = {m["version"]: m for m in load_manifests(self.table)}
        end = {"version": latest}
        # materialized: the prefetch cache copy.copy()s the iterator,
        # which a generator cannot survive (list iterators can)
        return iter(list(self._between(ms, v0, latest))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        ms = {m["version"]: m for m in load_manifests(self.table)}
        return iter(list(
            self._between(ms, int(start["version"]), int(end["version"]))
        ))

    def commit(self, end: dict) -> None:
        pass  # offsets name immutable manifests; nothing to clean


class SnapshotCDFDataSource(DataSource):
    """``spark.readStream.format("snapshot_cdf").option("path",
    <table>)`` — the change feed as a first-class streaming source.
    The schema is the table's LATEST committed schema plus
    ``_change_type`` / ``_commit_version`` (rows from pre-evolution
    files carry NULLs in added columns, matching the batch
    ``snapshot_changes``)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_cdf"

    def schema(self):
        from pyspark.sql import types as T

        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_cdf source requires option 'path'")
        base = T.StructType.fromJson(resolve_manifest(path)["schema"])
        # metadata-free copy: the stream's output schema must not
        # carry parquet.field.id metadata (the Python data source
        # runner trips on field metadata; id-based column resolution
        # happens inside the reader, not in Spark's scan). Every data
        # column is forced NULLABLE: rows from pre-evolution files
        # NULL-fill added/re-added columns by design, so the feed can
        # never promise non-null even when the latest commit does.
        out = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in base]
        )
        return (
            out.add("_change_type", T.StringType())
            .add("_commit_version", T.IntegerType())
        )

    def simpleStreamReader(self, schema) -> SnapshotCDFStreamReader:
        return SnapshotCDFStreamReader(self.options)


def register_snapshot_cdf(spark) -> None:
    """Register the change-feed streaming source (idempotent)."""
    spark.dataSource.register(SnapshotCDFDataSource)
