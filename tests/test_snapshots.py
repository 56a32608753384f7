"""Versioned snapshot tables: commit/read/time-travel/rollback/vacuum.

Mirrors the operational contract of a table format's transaction log
at its smallest: readers resolve a manifest then read immutable data;
every write is a new version; rollback is metadata-only; vacuum drops
only unreferenced data directories.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from exceldatatransform_py_spark.sources.snapshots import (
    latest_version,
    rollback,
    snapshot_merge_update,
    snapshot_read,
    snapshot_write,
    vacuum,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_dirs(table):
    return sorted(
        d for d in os.listdir(table)
        if d.startswith("d") and os.path.isdir(os.path.join(table, d))
    )


def _unreferenced_data_dirs(table):
    """Data dirs on disk that no published manifest lists a file of."""
    from exceldatatransform_py_spark.sources.snapshots import _manifests

    live = {os.path.dirname(f) for m in _manifests(table) for f in m["files"]}
    return [d for d in _data_dirs(table) if d not in live]


def test_write_read_roundtrip_and_versioning(spark, table):
    df0 = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    assert snapshot_write(table, df0) == 0
    df1 = spark.range(3).select(F.col("id"), (F.col("id") * 10).alias("v"))
    assert snapshot_write(table, df1) == 1
    assert latest_version(table) == 1
    assert _rows(snapshot_read(spark, table)) == _rows(df1)
    # time travel: version 0 still readable, bit-for-bit
    assert _rows(snapshot_read(spark, table, version=0)) == _rows(df0)


def test_merge_update_commits_new_version(spark, table):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, s string, x double"
    )
    snapshot_write(table, base)
    ups = spark.createDataFrame([(2, 99.0), (3, 7.0)], "k int, x double")
    v = snapshot_merge_update(spark, table, ups, on=["k"], update_cols=["x"])
    assert v == 1
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    # matched row updated, unmatched target kept, unmatched update dropped
    assert got == {1: 10.0, 2: 99.0}
    # prior version untouched
    before = {r.k: r.x for r in snapshot_read(spark, table, version=0).collect()}
    assert before == {1: 10.0, 2: 20.0}


def _file_hashes(table):
    import hashlib

    out = {}
    for root, _dirs, files in os.walk(table):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, table)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
    return out


def test_pruned_merge_rewrites_only_touched_files(spark, table):
    """File-pruned merge: only files whose key range overlaps the
    update keys are rewritten; every other file of the parent version
    is carried into the new version by reference, byte-identical."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
    )

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    # range-clustered layout: 4 files with disjoint k ranges, so the
    # footer min/max stats are selective (write_range_clustered shape)
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k")
    )
    before = _file_hashes(table)
    assert len(before) == 4

    # updates confined to a narrow key range → ≤2 files overlap
    ups = spark.createDataFrame([(10, -1.0), (20, -2.0)], "k long, x double")
    v = snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"]
    )
    assert v == 1

    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        manifest = json.load(f)
    assert manifest["pruning"]["rewritten_files"] <= 2
    assert manifest["pruning"]["inherited_files"] >= 2
    # inherited files are the PARENT's paths (d00000/...), not copies,
    # and their bytes are untouched
    inherited = [p for p in manifest["files"] if p.startswith("d00000")]
    assert len(inherited) == manifest["pruning"]["inherited_files"]
    after = _file_hashes(table)
    for p in inherited:
        assert after[p] == before[p]

    # relational result identical to the unpruned merge
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert len(got) == 400
    assert got[10] == -1.0 and got[20] == -2.0
    assert got[0] == 0.0 and got[399] == 399.0
    # parent version still reads the pre-merge data
    old = {r.k: r.x for r in snapshot_read(spark, table, version=0).collect()}
    assert old[10] == 10.0 and old[20] == 20.0


def test_pruned_merge_empty_updates_inherits_everything(spark, table):
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
    )

    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, x double")
    snapshot_write(table, base.repartitionByRange(2, "k"))
    before = _file_hashes(table)
    ups = spark.createDataFrame([], "k int, x double")
    v = snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"]
    )
    assert v == 1
    assert _file_hashes(table) == before  # nothing written at all
    assert {r.k: r.x for r in snapshot_read(spark, table).collect()} == {
        1: 1.0, 2: 2.0,
    }


def test_vacuum_keeps_dirs_inherited_by_pruned_merge(spark, table):
    """A pruned merge's new version references files in OLD data dirs;
    vacuum must not drop those dirs while the version is retained."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
    )

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k")
    )
    ups = spark.createDataFrame([(5, -5.0)], "k long, x double")
    snapshot_merge_update_pruned(spark, table, ups, on=["k"], update_cols=["x"])
    dropped = vacuum(table, keep_last=1)  # keeps only the merge version
    assert dropped == []  # v0's dir is shared with v1 via inherited files
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert len(got) == 100 and got[5] == -5.0


def test_rollback_is_metadata_only(spark, table):
    df0 = spark.range(4).select("id")
    df1 = spark.range(2).select("id")
    snapshot_write(table, df0)
    snapshot_write(table, df1)
    v = rollback(table, 0)
    assert v == 2
    assert _rows(snapshot_read(spark, table)) == _rows(df0)
    # no data was copied: v2 points at v0's files, and the only data
    # dirs are the two the overwrites wrote
    from exceldatatransform_py_spark.sources.snapshots import _manifests

    ms = _manifests(table)
    assert ms[2]["files"] == ms[0]["files"]
    assert len(_data_dirs(table)) == 2 and not _unreferenced_data_dirs(table)


def test_vacuum_drops_only_unreferenced(spark, table):
    for n in (4, 5, 6):
        snapshot_write(table, spark.range(n).select("id"))
    rollback(table, 0)  # v3 references d00000
    dropped = vacuum(table, keep_last=2)  # keeps v2 (d00002) + v3 (d00000)
    assert dropped == [1]  # d00000 is shared with v3; d00001 dropped
    assert _rows(snapshot_read(spark, table)) == _rows(
        spark.range(4).select("id")
    )
    assert _rows(snapshot_read(spark, table, version=2)) == _rows(
        spark.range(6).select("id")
    )
    with pytest.raises(Exception):
        snapshot_read(spark, table, version=1).collect()


def test_reader_never_sees_missing_version(spark, table):
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, table)
    snapshot_write(table, spark.range(1).select("id"))
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=9)


def test_streaming_cdc_into_snapshot_table(spark, tmp_path):
    """foreachBatch committing each micro-batch as a snapshot version:
    the streaming-CDC-into-versioned-table shape. After draining, the
    latest version equals applying all updates in one batch merge, and
    every intermediate version is still readable (audit trail)."""
    import os
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from exceldatatransform_py_spark.operators.merge import merge_update

    table = str(tmp_path / "tbl")
    updates_dir = str(tmp_path / "updates")
    os.makedirs(updates_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_snap_")

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, x double"
    )
    snapshot_write(table, base)

    u0 = spark.createDataFrame([(1, 11.0)], "k int, x double")
    u1 = spark.createDataFrame([(3, 33.0), (4, 44.0)], "k int, x double")
    u0.coalesce(1).write.parquet(os.path.join(updates_dir, "b0"))
    u1.coalesce(1).write.parquet(os.path.join(updates_dir, "b1"))

    schema = StructType.fromDDL("k int, x double")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(updates_dir, "*"))
    )

    def _commit_batch(batch_df, _bid):
        if not batch_df.isEmpty():
            snapshot_merge_update(
                batch_df.sparkSession, table, batch_df,
                on=["k"], update_cols=["x"],
            )

    q = (
        stream.writeStream.foreachBatch(_commit_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # one version per non-empty micro-batch on top of the base commit
    assert latest_version(table) == 2
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    expected = {
        r.k: r.x
        for r in merge_update(
            base, u0.union(u1), on=["k"], update_cols=["x"]
        ).collect()
    }
    assert got == expected == {1: 11.0, 2: 20.0, 3: 33.0}
    # audit trail: base and the first CDC commit are both readable
    assert {r.k: r.x for r in snapshot_read(spark, table, 0).collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0
    }
    v1 = {r.k: r.x for r in snapshot_read(spark, table, 1).collect()}
    assert v1 in ({1: 11.0, 2: 20.0, 3: 30.0}, {1: 10.0, 2: 20.0, 3: 33.0})


def test_manifest_stats_prune_without_footer_reads(spark, table):
    """Commits with stats_cols cache per-file min/max in the manifest;
    a pruned merge must then prune from the manifest alone (pinned by
    making footer reads impossible: stats survive even when the
    fallback would fail), and must write fresh stats for rewritten
    files so the NEXT merge also needs no footers."""
    import json
    from unittest import mock

    from exceldatatransform_py_spark.sources import snapshots as S

    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table,
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    with open(os.path.join(table, "_versions", "v00000.json")) as f:
        m0 = json.load(f)
    assert len(m0["stats"]) == 4
    assert all("k" in st for st in m0["stats"].values())

    real_minmax = S._footer_minmax

    def forbid_parent_reads(path, col):
        # fresh stats for NEWLY written files are computed once from
        # their footers; the parent's files must come from the manifest
        assert "/d00000-" not in path, f"parent footer read: {path}"
        return real_minmax(path, col)

    ups = spark.createDataFrame([(7, -7.0)], "k long, x double")
    with mock.patch.object(S, "_footer_minmax", side_effect=forbid_parent_reads):
        v = S.snapshot_merge_update_pruned(
            spark, table, ups, on=["k"], update_cols=["x"]
        )
    assert v == 1
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        m1 = json.load(f)
    assert m1["pruning"]["rewritten_files"] == 1
    # every live file (inherited + rewritten) carries stats forward
    assert set(m1["stats"]) == set(m1["files"])
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[7] == -7.0 and len(got) == 200

    # second merge: rewritten-file stats were refreshed in v1's
    # manifest, so pruning again reads no pre-existing footers
    def forbid_old_reads(path, col):
        assert "/d00000-" not in path and "/d00001-" not in path, (
            f"pre-existing footer read: {path}"
        )
        return real_minmax(path, col)

    ups2 = spark.createDataFrame([(150, -150.0)], "k long, x double")
    with mock.patch.object(S, "_footer_minmax", side_effect=forbid_old_reads):
        S.snapshot_merge_update_pruned(
            spark, table, ups2, on=["k"], update_cols=["x"]
        )
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[150] == -150.0 and got[7] == -7.0

    # a full-read merge passes neither stats_cols nor bounds: its
    # rewrite keeps the parent's statted columns, so the next pruned
    # merge again reads no pre-existing footer
    S.snapshot_merge_update(
        spark, table, spark.createDataFrame([(9, -9.0)], "k long, x double"),
        on=["k"], update_cols=["x"],
    )
    m3 = S._latest_manifest(table)
    assert set(m3["stats"]) == set(m3["files"])
    assert all("k" in st for st in m3["stats"].values())
    old_dirs = {os.path.dirname(f) for f in m3["files"]}

    def forbid_full_merge_reads(path, col):
        assert not any(f"/{d}/" in path for d in old_dirs), (
            f"pre-existing footer read: {path}"
        )
        return real_minmax(path, col)

    ups3 = spark.createDataFrame([(120, -120.0)], "k long, x double")
    with mock.patch.object(
        S, "_footer_minmax", side_effect=forbid_full_merge_reads
    ):
        S.snapshot_merge_update_pruned(
            spark, table, ups3, on=["k"], update_cols=["x"]
        )
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[120] == -120.0 and got[9] == -9.0 and len(got) == 200


def test_snapshot_compact_preserves_rows_and_history(spark, table):
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_merge_update_pruned,
    )

    base = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(6, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    ups = spark.createDataFrame([(10, -1.0)], "k long, x double")
    snapshot_merge_update_pruned(spark, table, ups, on=["k"], update_cols=["x"])

    v = snapshot_compact(spark, table, target_rows_per_file=300, stats_cols=["k"])
    assert v == 2
    # one file now; rows identical to the merged version
    import glob

    # r9: compact stages under a globally-unique dir (rebase support)
    files = glob.glob(os.path.join(table, "d00002-*", "*.parquet"))
    assert len(files) == 1
    got = sorted((r.k, r.x) for r in snapshot_read(spark, table).collect())
    want = sorted((r.k, r.x) for r in snapshot_read(spark, table, 1).collect())
    assert got == want
    # compacted commit carries stats for future pruned merges
    import json

    with open(os.path.join(table, "_versions", "v00002.json")) as f:
        m2 = json.load(f)
    assert m2["kind"] == "compact" and len(m2["stats"]) == 1

    # grow path: a target below the one file's rows cannot coalesce,
    # so compaction repartitions to ceil(rows / target) files
    v3 = snapshot_compact(spark, table, target_rows_per_file=100)
    assert len(glob.glob(os.path.join(table, "d00003-*", "*.parquet"))) == 3
    assert sorted((r.k, r.x) for r in snapshot_read(spark, table, v3).collect()) == want


def test_snapshot_history_and_schema_evolution(spark, table):
    """History is manifest-only metadata; schema evolution is free —
    each version reads with the schema it was written with."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_history,
        snapshot_merge_update_pruned,
    )

    v0 = spark.createDataFrame([(1, 1.0)], "k int, x double")
    snapshot_write(table, v0, stats_cols=["k"])
    # evolved schema: extra column appears in a later version
    v1 = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "b")], "k int, x double, tag string"
    )
    snapshot_write(table, v1)
    snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(2, -2.0)], "k int, x double"),
        on=["k"], update_cols=["x"],
    )

    hist = snapshot_history(table)
    assert [(h["version"], h["kind"]) for h in hist] == [
        (0, "overwrite"), (1, "overwrite"), (2, "merge_update_pruned"),
    ]
    # the overwrite without stats_cols keeps v0's statted column k
    assert [h["has_stats"] for h in hist] == [True, True, True]
    assert snapshot_read(spark, table, 0).columns == ["k", "x"]
    assert snapshot_read(spark, table, 1).columns == ["k", "x", "tag"]
    got = {r.k: (r.x, r.tag) for r in snapshot_read(spark, table).collect()}
    assert got == {1: (1.0, "a"), 2: (-2.0, "b")}


def test_concurrent_commit_loser_detects_conflict(spark, table):
    """Two interleaved read-modify-write writers: both read v0, both
    try to commit v1. Exactly one wins; the loser raises
    SnapshotConflictError (no silent clobber), the winner's data is
    intact, and no orphan data directory is left behind."""
    from exceldatatransform_py_spark.operators.merge import merge_update
    from exceldatatransform_py_spark.sources.snapshots import (
        SnapshotConflictError,
        _commit_files,
        _latest_manifest,
        _manifest_files,
    )

    base = spark.range(4).select(F.col("id"), (F.col("id") * 2).alias("v"))
    assert snapshot_write(table, base) == 0

    # both writers read version 0 …
    parent_a = _latest_manifest(table)
    parent_b = _latest_manifest(table)
    read_a = snapshot_read(spark, table, version=parent_a["version"])
    read_b = snapshot_read(spark, table, version=parent_b["version"])
    upd_a = spark.createDataFrame([(1, 100)], "id long, v long")
    upd_b = spark.createDataFrame([(2, 200)], "id long, v long")
    merged_a = merge_update(read_a, upd_a, on=["id"], update_cols=["v"])
    merged_b = merge_update(read_b, upd_b, on=["id"], update_cols=["v"])

    def commit(parent, merged):  # the full-read merge's commit
        return _commit_files(
            spark, table, parent, "merge_update", df=merged,
            removed=_manifest_files(table, parent), rebase=False,
        )

    # … writer A publishes first, writer B must lose, not clobber.
    assert commit(parent_a, merged_a) == 1
    dirs = _data_dirs(table)
    with pytest.raises(SnapshotConflictError):
        commit(parent_b, merged_b)

    assert latest_version(table) == 1
    assert _rows(snapshot_read(spark, table)) == [
        (0, 0), (1, 100), (2, 4), (3, 6),
    ]
    # the loser withdrew everything: its staged dir is gone, and only
    # the v0 and v1 data dirs remain, both referenced by a manifest.
    assert _data_dirs(table) == dirs and len(dirs) == 2
    assert not _unreferenced_data_dirs(table)


def test_blind_overwrites_race_one_winner(spark, table):
    """Two blind overwrites race for v1: exactly one wins, the loser
    raises SnapshotConflictError and its staged directory is removed.
    An overwrite never rebases: one that loses to a commit which KEPT
    the parent's files and added one (an insert-only merge) must raise
    rather than carry the winner's file, and the re-run overwrite
    carries none of the winner's files."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    assert snapshot_write(table, spark.range(3).select("id")) == 0
    real_publish = snap._publish
    staged = []

    def race(winner):
        def interloper(tbl, manifest):
            # the winner lands v<n> while the loser, already staged
            # against v<n-1>, is about to publish
            if not staged:
                staged.append(manifest["data_dir"])
                winner()
            return real_publish(tbl, manifest)

        staged.clear()
        with mock.patch.object(snap, "_publish", side_effect=interloper):
            with pytest.raises(snap.SnapshotConflictError):
                snapshot_write(table, spark.range(20, 25).select("id"))
        assert not os.path.exists(os.path.join(table, staged[0]))
        assert not _unreferenced_data_dirs(table)

    race(lambda: snapshot_write(table, spark.range(10, 14).select("id")))
    assert latest_version(table) == 1
    assert _rows(snapshot_read(spark, table)) == [(i,) for i in range(10, 14)]

    race(lambda: snap.snapshot_merge_update_pruned(
        spark, table, spark.createDataFrame([(99,)], "id long"),
        on=["id"], update_cols=[], when_not_matched_insert=True,
    ))
    assert latest_version(table) == 2
    winner = set(snap._manifests(table)[2]["files"])
    assert snapshot_write(table, spark.range(30, 32).select("id")) == 3
    m3 = snap._manifests(table)[3]
    assert not winner & set(m3["files"])
    assert {os.path.dirname(f) for f in m3["files"]} == {m3["data_dir"]}
    assert _rows(snapshot_read(spark, table)) == [(30,), (31,)]


def test_merge_update_retry_wins_after_conflict(spark, table):
    """CAS loop: a conflicting commit lands between writer B's read
    and commit; with max_retries=1 writer B re-reads the NEW latest
    and applies its update on top — both updates survive (no lost
    update), versions are linear."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap
    from exceldatatransform_py_spark.operators.merge import merge_update

    base = spark.range(4).select(F.col("id"), (F.col("id") * 2).alias("v"))
    assert snapshot_write(table, base) == 0

    upd_a = spark.createDataFrame([(1, 100)], "id long, v long")
    upd_b = spark.createDataFrame([(2, 200)], "id long, v long")

    real_commit = snap._commit_files
    fired = {"done": False}

    def interloper(spark_, tbl, parent, kind, **kw):
        # writer A sneaks in its commit after B's read, once.
        if not fired["done"]:
            fired["done"] = True
            real_commit(spark_, tbl, parent, "merge_update", df=merge_update(
                snapshot_read(spark, tbl, version=parent["version"]),
                upd_a, on=["id"], update_cols=["v"],
            ), removed=snap._manifest_files(tbl, parent), rebase=False)
        return real_commit(spark_, tbl, parent, kind, **kw)

    with mock.patch.object(snap, "_commit_files", side_effect=interloper):
        v = snap.snapshot_merge_update(
            spark, table, upd_b, on=["id"], update_cols=["v"],
            max_retries=1,
        )
    assert v == 2
    assert _rows(snapshot_read(spark, table)) == [
        (0, 0), (1, 100), (2, 200), (3, 6),
    ]
    # and with max_retries=0 the same interleaving surfaces the error
    fired["done"] = False
    from exceldatatransform_py_spark.sources.snapshots import (
        SnapshotConflictError,
    )
    with mock.patch.object(snap, "_commit_files", side_effect=interloper):
        with pytest.raises(SnapshotConflictError):
            snap.snapshot_merge_update(
                spark, table, upd_b, on=["id"], update_cols=["v"],
            )


def test_publish_create_exclusive_under_real_concurrency(tmp_path):
    """Eight threads race to publish the same version concurrently:
    exactly one wins, seven get SnapshotConflictError, and the final
    manifest is one intact JSON (the link-based publish is atomic —
    no torn or merged content)."""
    import json
    from concurrent.futures import ThreadPoolExecutor

    from exceldatatransform_py_spark.sources.snapshots import (
        SnapshotConflictError,
        _publish,
        _version_path,
    )

    table = str(tmp_path / "race")

    def attempt(i: int) -> str:
        try:
            _publish(table, {"version": 3, "writer": i, "kind": "overwrite",
                             "parent": 2, "data_dir": f"d-w{i}"})
            return "won"
        except SnapshotConflictError:
            return "conflict"

    with ThreadPoolExecutor(max_workers=8) as pool:
        outcomes = list(pool.map(attempt, range(8)))
    assert outcomes.count("won") == 1
    assert outcomes.count("conflict") == 7
    with open(_version_path(table, 3)) as f:
        m = json.load(f)  # parses → not torn
    assert m["version"] == 3 and m["data_dir"] == f"d-w{m['writer']}"
    import os

    leftovers = [x for x in os.listdir(os.path.join(table, "_versions"))
                 if x.endswith(".tmp")]
    assert leftovers == []


def _protocols():
    from exceldatatransform_py_spark.sources.snapshots import (
        ConditionalPutCommitProtocol,
        PosixCommitProtocol,
    )

    return [PosixCommitProtocol(), ConditionalPutCommitProtocol()]


@pytest.mark.parametrize("proto", _protocols(), ids=lambda p: p.name)
def test_commit_protocol_end_to_end(spark, table, proto):
    """Both commit protocols carry the full snapshot lifecycle: write,
    CAS merge loop under a real two-writer race, pruned merge with
    inheritance, time travel, history — identical relational results."""
    from concurrent.futures import ThreadPoolExecutor

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_history,
        snapshot_merge_update,
        snapshot_merge_update_pruned,
        use_commit_protocol,
    )

    with use_commit_protocol(proto):
        base = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
        )
        assert snapshot_write(
            table, base.repartitionByRange(4, "k"), stats_cols=["k"]
        ) == 0

        # two writers race read-merge-commit; the CAS loop must land
        # BOTH updates with no lost update on either protocol
        def writer(i):
            ups = spark.createDataFrame(
                [(10 * (i + 1), -1.0 * (i + 1))], "k long, x double"
            )
            return snapshot_merge_update(
                spark, table, ups, on=["k"], update_cols=["x"],
                max_retries=5,
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            versions = sorted(pool.map(writer, range(2)))
        assert versions == [1, 2]
        got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
        assert got[10] == -1.0 and got[20] == -2.0  # both survived

        # pruned merge still inherits untouched files by reference
        ups = spark.createDataFrame([(3, 33.0)], "k long, x double")
        v = snapshot_merge_update_pruned(
            spark, table, ups, on=["k"], update_cols=["x"]
        )
        got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
        assert len(got) == 100 and got[3] == 33.0
        # time travel: the pre-race version still reads clean
        old = {r.k: r.x
               for r in snapshot_read(spark, table, version=0).collect()}
        assert old[10] == 10.0 and old[3] == 3.0
        kinds = [h["kind"] for h in snapshot_history(table)]
        assert kinds == ["overwrite", "merge_update", "merge_update",
                         "merge_update_pruned"]
        # every commit, overwrite and full-read merge included, lists
        # its files explicitly
        from exceldatatransform_py_spark.sources.snapshots import _manifests

        assert all("files" in m for m in _manifests(table))


def test_conditional_put_commit_path_never_renames_or_links(
    spark, table, monkeypatch
):
    """The object-store protocol's promise: after the parquet job
    lands (Spark's own committer is a separate, public concern), the
    snapshot layer's commit path calls NO os.rename/os.link/os.replace
    — the primitives object stores lack."""
    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, x double")
    with snap.use_commit_protocol(snap.ConditionalPutCommitProtocol()):
        # forbid the POSIX-only primitives inside the snapshots module
        def forbid(*a, **k):
            raise AssertionError("rename/link on object-store commit path")

        monkeypatch.setattr(snap.os, "rename", forbid)
        monkeypatch.setattr(snap.os, "link", forbid)
        monkeypatch.setattr(snap.os, "replace", forbid, raising=False)
        assert snap.snapshot_write(table, base) == 0
        ups = spark.createDataFrame([(2, 22.0)], "k int, x double")
        assert snap.snapshot_merge_update(
            spark, table, ups, on=["k"], update_cols=["x"]
        ) == 1
    assert _rows(snapshot_read(spark, table)) == [(1, 1.0), (2, 22.0)]
    # data dirs carry unique names: no rename-promote step exists
    dirs = sorted(d for d in os.listdir(table)
                  if d.startswith("d") and os.path.isdir(
                      os.path.join(table, d)))
    assert all("-" in d for d in dirs) and len(dirs) == 2


def test_conditional_put_publish_race_one_winner(tmp_path):
    """Eight threads race the conditional PUT for the same version:
    exactly one wins, seven conflict, and the manifest is one intact
    JSON — same guarantee the posix create-exclusive test pins."""
    import json
    from concurrent.futures import ThreadPoolExecutor

    from exceldatatransform_py_spark.sources.snapshots import (
        ConditionalPutCommitProtocol,
        SnapshotConflictError,
        _version_path,
    )

    table = str(tmp_path / "race")
    proto = ConditionalPutCommitProtocol()

    def attempt(i: int) -> str:
        try:
            proto.publish(table, {"version": 3, "writer": i,
                                  "kind": "overwrite", "parent": 2,
                                  "data_dir": f"d-w{i}"})
            return "won"
        except SnapshotConflictError:
            return "conflict"

    with ThreadPoolExecutor(max_workers=8) as pool:
        outcomes = list(pool.map(attempt, range(8)))
    assert outcomes.count("won") == 1
    assert outcomes.count("conflict") == 7
    with open(_version_path(table, 3)) as f:
        m = json.load(f)  # parses → not torn
    assert m["version"] == 3 and m["data_dir"] == f"d-w{m['writer']}"


def test_vacuum_sweeps_crashed_conditional_put_dirs(spark, table):
    """A conditional-put writer that crashed after its parquet write
    but before publish leaves a uniquely-named dir no manifest
    references; vacuum sweeps it past the retention age but never
    touches a referenced unique dir or a young orphan."""
    import time

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.createDataFrame([(1, 1)], "k int, v int")
    with snap.use_commit_protocol(snap.ConditionalPutCommitProtocol()):
        snap.snapshot_write(table, base)
    live = next(d for d in os.listdir(table) if d.startswith("d00000"))
    orphan = os.path.join(table, "d00001-deadbeef")
    young = os.path.join(table, "d00001-cafef00d")
    for d in (orphan, young):
        os.makedirs(d)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    os.utime(os.path.join(table, live), (old, old))  # referenced: kept
    assert vacuum(table, keep_last=2, stage_retention_sec=3600) == []
    assert not os.path.exists(orphan)
    assert os.path.exists(young)  # in-flight writer survives
    assert os.path.exists(os.path.join(table, live))
    assert _rows(snapshot_read(spark, table)) == [(1, 1)]


def test_merge_full_clauses_match_duckdb(spark, table):
    """insert+update+delete merge commit hash-matches the DuckDB
    MERGE-equivalent (INNER-join survivors UNION ALL anti-joined
    inserts) on the same inputs."""
    import duckdb

    base = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)]
    ups = [(2, 99.0), (4, 77.0), (9, 7.0)]  # 2,4 update; 9 insert; 1,3 delete
    snapshot_write(
        table, spark.createDataFrame(base, "k int, s string, x double")
    )
    v = snapshot_merge_update(
        spark, table,
        spark.createDataFrame(ups, "k int, x double"),
        on=["k"], update_cols=["x"],
        when_not_matched_insert=True,
        when_not_matched_by_source_delete=True,
    )
    assert v == 1
    got = _rows(snapshot_read(spark, table))

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k int, s varchar, x double)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", base)
    con.execute("CREATE TABLE u (k int, x double)")
    con.executemany("INSERT INTO u VALUES (?, ?)", ups)
    exp = con.execute("""
        SELECT t.k, t.s, u.x FROM t JOIN u USING (k)
        UNION ALL
        SELECT u.k, NULL, u.x FROM u ANTI JOIN t USING (k)
    """).fetchall()
    assert got == sorted(tuple(r) for r in exp)
    # prior version untouched (snapshot isolation)
    assert _rows(snapshot_read(spark, table, version=0)) == sorted(base)


def test_merge_full_insert_only_and_delete_only(spark, table):
    """Each optional clause composes independently with the always-on
    update clause."""
    base = [(1, 10.0), (2, 20.0)]
    snapshot_write(table, spark.createDataFrame(base, "k int, x double"))
    ups = spark.createDataFrame([(2, 99.0), (5, 5.0)], "k int, x double")
    # insert only: unmatched target row 1 survives
    snapshot_merge_update(
        spark, table, ups, on=["k"], update_cols=["x"],
        when_not_matched_insert=True,
    )
    assert _rows(snapshot_read(spark, table)) == [(1, 10.0), (2, 99.0), (5, 5.0)]
    # delete only (fresh table): unmatched update row 5 is discarded
    t2 = table + "_d"
    snapshot_write(t2, spark.createDataFrame(base, "k int, x double"))
    snapshot_merge_update(
        spark, t2, ups, on=["k"], update_cols=["x"],
        when_not_matched_by_source_delete=True,
    )
    assert _rows(snapshot_read(spark, t2)) == [(2, 99.0)]


def test_merge_full_retry_converges_after_conflict(spark, table):
    """CAS loop with the full clause surface: a conflicting commit
    lands between the reader's read and commit; the retry re-reads the
    winner's state, so insert/delete decisions are re-taken against
    what actually committed — the loser's delete does not resurrect or
    double-drop anything."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, x double"
    )
    assert snapshot_write(table, base) == 0
    # writer A inserts key 3 (update-only merge + insert clause)
    upd_a = spark.createDataFrame([(3, 30.0)], "k int, x double")
    # writer B updates 1 and 3, deleting unmatched-by-source rows.
    # Against v0 (no key 3) B would drop key 3's row as unmatched-by-
    # source is irrelevant (3 matches), but key 2 is deleted; after
    # A's insert wins, B's retry must KEEP A's key-3 row (it matches
    # B's update set) and still delete key 2.
    upd_b = spark.createDataFrame([(1, 11.0), (3, 33.0)], "k int, x double")

    real_commit = snap._commit_files
    fired = {"done": False}

    def interloper(spark_, tbl, parent, kind, **kw):
        if not fired["done"]:
            fired["done"] = True
            from exceldatatransform_py_spark.operators.merge import merge_full

            real_commit(spark_, tbl, parent, "merge_update", df=merge_full(
                snapshot_read(spark, tbl, version=parent["version"]),
                upd_a, on=["k"], update_cols=["x"], insert=True,
            ), removed=snap._manifest_files(tbl, parent), rebase=False)
        return real_commit(spark_, tbl, parent, kind, **kw)

    with mock.patch.object(snap, "_commit_files", side_effect=interloper):
        v = snap.snapshot_merge_update(
            spark, table, upd_b, on=["k"], update_cols=["x"],
            when_not_matched_by_source_delete=True, max_retries=1,
        )
    assert v == 2
    assert _rows(snapshot_read(spark, table)) == [(1, 11.0), (3, 33.0)]
    # intermediate state shows A's insert won version 1
    assert _rows(snapshot_read(spark, table, version=1)) == [
        (1, 10.0), (2, 20.0), (3, 30.0),
    ]


def test_pruned_merge_insert_lands_in_new_files(spark, table):
    """File-pruned merge with the INSERT clause: unmatched update rows
    land in the new files while out-of-range files are still inherited
    by reference (never read, never copied)."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
    )

    # two files with disjoint key ranges: [0..4] and [100..104]
    lo = spark.createDataFrame([(i, float(i)) for i in range(5)],
                               "k int, x double").coalesce(1)
    hi = spark.createDataFrame([(100 + i, float(i)) for i in range(5)],
                               "k int, x double").coalesce(1)
    import exceldatatransform_py_spark.sources.snapshots as snap

    snapshot_write(table, lo.unionByName(hi).repartitionByRange(2, "k"),
                   stats_cols=["k"])
    # update key 2 (low file) and insert brand-new key 7 (in-bounds but
    # matching nothing) — the high file must be inherited untouched
    ups = spark.createDataFrame([(2, 99.0), (7, 7.5)], "k int, x double")
    v = snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"],
        when_not_matched_insert=True,
    )
    m = snap._manifests(table)[-1]
    assert m["pruning"]["inherited_files"] >= 1
    got = _rows(snapshot_read(spark, table, version=v))
    exp = sorted(
        [(i, float(i)) for i in range(5) if i != 2]
        + [(2, 99.0), (7, 7.5)]
        + [(100 + i, float(i)) for i in range(5)]
    )
    assert got == exp


def test_pruned_merge_insert_only_commit(spark, table):
    """All-new keys with ranges that overlap nothing rewrite zero
    files: the commit is the insert file plus pure inheritance."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
    )
    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.createDataFrame([(i, float(i)) for i in range(5)],
                                 "k int, x double").coalesce(1)
    snapshot_write(table, base, stats_cols=["k"])
    ups = spark.createDataFrame([(50, 1.0), (60, 2.0)], "k int, x double")
    v = snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"],
        when_not_matched_insert=True,
    )
    m = snap._manifests(table)[-1]
    assert m["pruning"]["rewritten_files"] == 0
    assert m["pruning"]["inherited_files"] == 1
    got = _rows(snapshot_read(spark, table, version=v))
    assert got == sorted([(i, float(i)) for i in range(5)]
                         + [(50, 1.0), (60, 2.0)])


def test_read_as_of_timestamp(spark, table):
    """TIMESTAMP AS OF: the latest version whose commit ts ≤ the given
    instant; before the first commit is an error; version and as_of_ts
    are mutually exclusive."""
    df0 = spark.createDataFrame([(1, 10.0)], "k int, x double")
    df1 = spark.createDataFrame([(1, 99.0)], "k int, x double")
    snapshot_write(table, df0)
    t_between = time.time()
    time.sleep(0.05)
    snapshot_write(table, df1)
    assert _rows(snapshot_read(spark, table, as_of_ts=t_between)) == [(1, 10.0)]
    assert _rows(snapshot_read(spark, table, as_of_ts=time.time())) == [(1, 99.0)]
    with pytest.raises(ValueError):
        snapshot_read(spark, table, as_of_ts=0.0)  # before any commit
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=0, as_of_ts=t_between)
    # history carries the commit timestamps
    from exceldatatransform_py_spark.sources.snapshots import snapshot_history

    hist = snapshot_history(table)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[0]["ts"] < hist[1]["ts"]


def test_streaming_cdc_apply_onto_snapshot_table(spark, table, tmp_path):
    """The production CDC pipeline end-to-end: a change-feed stream
    drained through foreachBatch; each micro-batch is collapsed to its
    latest change per key (sequence_by), played onto the CURRENT
    snapshot version with apply_changes, and committed as a new
    version. After two waves the table equals applying the whole feed
    at once, and every intermediate state is still time-travel
    readable."""
    from exceldatatransform_py_spark.operators.merge import (
        apply_changes,
        latest_changes,
    )

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, x double"
    )
    snapshot_write(table, base)

    ch_schema = "k int, op string, x double, seq long"
    wave1 = spark.createDataFrame(
        [(2, "U", 21.0, 1), (2, "U", 22.0, 2), (4, "I", 40.0, 1)], ch_schema
    )
    wave2 = spark.createDataFrame(
        [(1, "D", None, 3), (4, "U", 44.0, 4), (5, "I", 50.0, 3)], ch_schema
    )

    in_dir = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")

    def ingest(batch_df, _bid):
        latest = latest_changes(batch_df, on=["k"], seq_col="seq")
        current = snapshot_read(spark, table)
        applied = apply_changes(
            current, latest, on=["k"], update_cols=["x"], op_col="op"
        )
        snapshot_write(table, applied)

    def drain():
        q = (
            spark.readStream.schema(ch_schema)
            .parquet(in_dir)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    wave1.write.mode("append").parquet(in_dir)
    drain()
    assert _rows(snapshot_read(spark, table)) == [
        (1, 10.0), (2, 22.0), (3, 30.0), (4, 40.0),
    ]  # seq 2 beat seq 1 inside the batch
    wave2.write.mode("append").parquet(in_dir)
    drain()
    final = _rows(snapshot_read(spark, table))
    assert final == [(2, 22.0), (3, 30.0), (4, 44.0), (5, 50.0)]

    # equal to applying the WHOLE feed at once onto the base version
    all_latest = latest_changes(
        wave1.unionByName(wave2), on=["k"], seq_col="seq"
    )
    oneshot = apply_changes(
        snapshot_read(spark, table, version=0), all_latest,
        on=["k"], update_cols=["x"], op_col="op",
    )
    assert _rows(oneshot) == final
    # intermediate states remain readable (audit)
    assert _rows(snapshot_read(spark, table, version=1)) == [
        (1, 10.0), (2, 22.0), (3, 30.0), (4, 40.0),
    ]


def test_merge_schema_evolution_adds_new_column(spark, table):
    """Delta-style withSchemaEvolution: an update column the target
    lacks widens the table (NULL on unmatched rows); without the flag,
    the unknown column fails loudly instead of silently widening."""
    from exceldatatransform_py_spark.operators.merge import merge_full

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double")
    snapshot_write(table, base)
    ups = spark.createDataFrame(
        [(2, 99.0, "eu"), (5, 5.0, "us")], "k int, x double, region string"
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        merge_full(base, ups, on=["k"], update_cols=["x", "region"])
    v = snapshot_merge_update(
        spark, table, ups, on=["k"], update_cols=["x", "region"],
        when_not_matched_insert=True, evolve_schema=True,
    )
    got = _rows(snapshot_read(spark, table, version=v))
    assert got == [(1, 10.0, None), (2, 99.0, "eu"), (5, 5.0, "us")]
    # prior version keeps the narrow schema
    assert snapshot_read(spark, table, version=0).columns == ["k", "x"]


def test_snapshot_optimize_zorder_enables_two_column_pruning(spark, table):
    """OPTIMIZE ZORDER commit: rows identical, and the cached per-file
    stats let a pruned merge on the SECOND column inherit files —
    impossible under a 1-D layout on the first column, where every
    file spans the second column's full range."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
        snapshot_optimize_zorder,
    )
    import exceldatatransform_py_spark.sources.snapshots as snap

    n = 1024
    base = spark.range(n).select(
        (F.col("id") % 32).alias("a"),
        (F.col("id") / 32).cast("long").alias("b"),
        (F.col("id") * 1.0).alias("x"),
    )
    # 1-D layout clustered on `a`: every file spans b's full range
    snapshot_write(
        table, base.repartitionByRange(4, "a").sortWithinPartitions("a"),
        stats_cols=["b"],
    )
    ups = spark.createDataFrame([(2, -1.0)], "b long, x double")
    v1 = snapshot_merge_update_pruned(
        spark, table, ups, on=["b"], update_cols=["x"]
    )
    m1 = snap._manifests(table)[-1]
    assert m1["pruning"]["inherited_files"] == 0  # no skipping on b

    v2 = snapshot_optimize_zorder(spark, table, "a", "b", num_files=4)
    m2 = snap._manifests(table)[-1]
    assert m2["kind"] == "zorder" and m2["version"] == v2
    # rows byte-identical through the rewrite
    got = sorted(tuple(r) for r in snapshot_read(spark, table).collect())
    exp = sorted(tuple(r) for r in snapshot_read(spark, table, version=v1).collect())
    assert got == exp

    v3 = snapshot_merge_update_pruned(
        spark, table, ups, on=["b"], update_cols=["x"]
    )
    m3 = snap._manifests(table)[-1]
    assert m3["pruning"]["inherited_files"] >= 1  # b now data-skips
    assert len(sorted(tuple(r) for r in
                      snapshot_read(spark, table, version=v3).collect())) == n
    # ... and the leading column a still data-skips after the rewrite
    ups_a = spark.createDataFrame([(2, -2.0)], "a long, x double")
    snapshot_merge_update_pruned(
        spark, table, ups_a, on=["a"], update_cols=["x"]
    )
    assert snap._manifests(table)[-1]["pruning"]["inherited_files"] >= 1


def test_apply_changes_update_delete_only_uses_left_join(spark):
    """may_insert=False: the delete/update-only CDC feed drops to a
    LEFT join (broadcastable at scale); unmatched non-delete changes
    are discarded, results otherwise identical."""
    import contextlib
    import io

    from exceldatatransform_py_spark.operators.merge import apply_changes

    target = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, x double"
    )
    ch = spark.createDataFrame(
        [(2, "U", 22.0), (3, "D", None), (9, "U", 90.0)],
        "k int, op string, x double",
    )
    out = apply_changes(
        target, ch, on=["k"], update_cols=["x"], op_col="op",
        may_insert=False,
    )
    assert _rows(out) == [(1, 10.0), (2, 22.0)]  # 9 discarded, 3 deleted
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "LeftOuter" in plan and "FullOuter" not in plan


def test_apply_changes_null_op_upserts_not_deletes(spark):
    """A malformed CDC row with op IS NULL must act as an UPSERT (the
    non-delete default), never as a silent delete: `op != 'D'` is NULL
    for NULL ops and filter() drops NULL rows."""
    from exceldatatransform_py_spark.operators.merge import apply_changes

    target = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, x double"
    )
    ch = spark.createDataFrame(
        [(1, None, 11.0), (3, None, 33.0)],  # NULL op: matched + new key
        "k int, op string, x double",
    )
    out = apply_changes(target, ch, on=["k"], update_cols=["x"], op_col="op")
    # matched NULL-op row UPDATED (not deleted); unmatched INSERTED
    assert _rows(out) == [(1, 11.0), (2, 20.0), (3, 33.0)]


def test_pruned_merge_null_keys_match_full_merge(spark, table):
    """NULL merge keys: merge joins NULL-safely (NULL matches NULL)
    but min/max pruning is blind to NULLs. An all-NULL-key update set
    must still merge (it is NOT empty), and a NULL-keyed update must
    UPDATE the NULL-keyed target row — never be dropped or re-inserted
    as a duplicate — matching snapshot_merge_update exactly."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
    )

    base = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (None, 99.0)], "k int, x double"
    )
    snapshot_write(table, base.repartitionByRange(2, "k"))

    # all-NULL-key update set: previously treated as "empty" → dropped
    ups = spark.createDataFrame([(None, -9.0)], "k int, x double")
    v = snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"]
    )
    got = sorted(
        [(r.k, r.x) for r in snapshot_read(spark, table, version=v).collect()],
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == [(1, 1.0), (2, 2.0), (None, -9.0)]

    # mixed NULL + non-NULL keys WITH insert: the NULL-keyed update
    # must update in place, not duplicate; 7 is genuinely new → insert
    ups2 = spark.createDataFrame(
        [(None, -1.0), (1, -2.0), (7, 7.0)], "k int, x double"
    )
    v2 = snapshot_merge_update_pruned(
        spark, table, ups2, on=["k"], update_cols=["x"],
        when_not_matched_insert=True,
    )
    got2 = sorted(
        [(r.k, r.x)
         for r in snapshot_read(spark, table, version=v2).collect()],
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got2 == [(1, -2.0), (2, 2.0), (7, 7.0), (None, -1.0)]


def test_check_constraints_enforced_and_inherited(spark, table):
    """Delta-style CHECK constraints: declared at write, persisted in
    the manifest, enforced on EVERY later commit (merges included)
    BEFORE any data is staged — a rejected commit leaves no staged
    dirs and no new version. NULL passes (SQL CHECK semantics)."""
    from exceldatatransform_py_spark.sources.snapshots import (
        SnapshotConstraintError,
        snapshot_merge_update,
        snapshot_merge_update_pruned,
        snapshot_write,
    )

    base = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k int, x double"
    )
    # NULL x passes the CHECK (condition is not FALSE)
    v = snapshot_write(table, base, constraints={"x_nonneg": "x >= 0"})
    assert v == 0

    # a violating overwrite is rejected pre-stage: no version, no dirs
    bad = spark.createDataFrame([(9, -1.0)], "k int, x double")
    with pytest.raises(SnapshotConstraintError, match="x_nonneg"):
        snapshot_write(table, bad)
    assert latest_version(table) == 0
    dirs = _data_dirs(table)
    assert len(dirs) == 1 and dirs[0].startswith("d00000-")

    # merges inherit the constraint and reject violating updates
    ups_bad = spark.createDataFrame([(1, -5.0)], "k int, x double")
    with pytest.raises(SnapshotConstraintError, match="x_nonneg"):
        snapshot_merge_update(
            spark, table, ups_bad, on=["k"], update_cols=["x"]
        )
    with pytest.raises(SnapshotConstraintError, match="x_nonneg"):
        snapshot_merge_update_pruned(
            spark, table, ups_bad, on=["k"], update_cols=["x"]
        )
    assert latest_version(table) == 0

    # a clean merge passes and carries the constraint forward
    ups = spark.createDataFrame([(1, 11.0)], "k int, x double")
    v1 = snapshot_merge_update(spark, table, ups, on=["k"], update_cols=["x"])
    assert v1 == 1
    with pytest.raises(SnapshotConstraintError):
        snapshot_write(table, bad)  # still enforced after the merge

    # explicit {} drops all constraints
    v2 = snapshot_write(table, base, constraints={})
    assert v2 == 2
    assert snapshot_write(table, bad) == 3  # now admitted


def test_delete_range_rewrites_only_overlapping_files(spark, table):
    """File-pruned DELETE: only files whose key range overlaps the
    delete range are rewritten; inherited files stay byte-identical;
    the result equals a plain filter; NULL keys are always retained;
    prior versions still read the deleted rows (time travel)."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_delete_range,
    )

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).unionAll(
        spark.createDataFrame([(None, 99)], "k long, v long")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k")
    )
    before = _file_hashes(table)
    v = snapshot_delete_range(spark, table, "k", 100, 149)
    assert v == 1

    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        manifest = json.load(f)
    assert manifest["kind"] == "delete_range"
    assert manifest["pruning"]["rewritten_files"] <= 2
    assert manifest["pruning"]["inherited_files"] >= 2
    after = _file_hashes(table)
    for p in (p for p in manifest["files"] if p.startswith("d00000")):
        assert after[p] == before[p]  # inherited bytes untouched

    got = sorted(
        (r.k for r in snapshot_read(spark, table).collect()),
        key=lambda x: (x is None, x),
    )
    expected = [k for k in range(400) if not (100 <= k <= 149)] + [None]
    assert got == expected  # NULL row retained
    # time travel still sees the deleted rows
    assert len(snapshot_read(spark, table, version=0).collect()) == 401


def test_delete_range_with_extra_predicate_and_constraints(spark, table):
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_delete_range,
    )

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("v")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k"),
        constraints={"k_nonneg": "k >= 0"},
    )
    # delete only odd rows inside [10, 29]
    v = snapshot_delete_range(
        spark, table, "k", 10, 29, extra_predicate="v = 1"
    )
    got = sorted(r.k for r in snapshot_read(spark, table, version=v).collect())
    expected = [k for k in range(100) if not (10 <= k <= 29 and k % 2 == 1)]
    assert got == expected
    # constraints carried forward by the delete commit
    import json

    with open(os.path.join(table, "_versions", f"v{v:05d}.json")) as f:
        assert json.load(f)["constraints"] == {"k_nonneg": "k >= 0"}


def test_scored_delete_query_actually_prunes(spark):
    """The scored snapshot_delete_orders pair must exercise REAL file
    pruning at test scale: its manifest reports both rewritten and
    inherited files (an all-rewrite delete would hide pruning bugs)."""
    import json
    import os
    import tempfile

    from exceldatatransform_py_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    QUERIES["snapshot_delete_orders"](spark, sf).collect()
    table = os.path.join(
        tempfile.gettempdir(), "spark_graft_delq_sf0_001"
    )
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        m = json.load(f)
    assert m["kind"] == "delete_range"
    assert m["pruning"]["rewritten_files"] >= 1
    assert m["pruning"]["inherited_files"] >= 1


def test_snapshot_count_is_metadata_only(spark, table):
    """COUNT(*) answered from manifest row counts — no SparkSession,
    no data read — across write, merge-with-insert, pruned merge,
    delete, and rollback versions; always equal to the real count."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_count,
        snapshot_delete_range,
        snapshot_merge_update,
        snapshot_merge_update_pruned,
    )

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(table, base.repartitionByRange(4, "k"))
    ups = spark.createDataFrame(
        [(5, -1.0), (999, 9.0)], "k long, x double"
    )
    snapshot_merge_update(
        spark, table, ups, on=["k"], update_cols=["x"],
        when_not_matched_insert=True,
    )  # v1: 101 rows
    snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(7, -7.0)], "k long, x double"),
        on=["k"], update_cols=["x"],
    )  # v2: still 101 (mix of inherited + rewritten counts)
    snapshot_delete_range(spark, table, "k", 10, 19)  # v3: 91
    rollback(table, 1)  # v4: 101 again, metadata-only

    for v, expected in ((0, 100), (1, 101), (2, 101), (3, 91), (4, 101)):
        assert snapshot_count(table, version=v) == expected, v
        assert (
            snapshot_read(spark, table, version=v).count() == expected
        )
    assert snapshot_count(table) == 101  # latest


def test_pruned_merge_null_keys_still_prune_via_nullcount_stats(
    spark, table
):
    """NULL-keyed updates must NOT degrade the merge to a full
    rewrite: the manifest's per-file [min, max, null_count] lets the
    merge rewrite only files that may hold NULL keys plus files whose
    range overlaps the non-NULL update bounds — everything else is
    inherited byte-identically, with results equal to the full merge."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
    )

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    ).unionAll(spark.createDataFrame([(None, 999.0)], "k long, x double"))
    # range-clustered: NULLs sort into one partition; cache stats
    snapshot_write(
        table,
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    before = _file_hashes(table)
    assert len(before) == 4

    ups = spark.createDataFrame(
        [(None, -9.0), (350, -3.0)], "k long, x double"
    )
    v = snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"]
    )
    with open(os.path.join(table, "_versions", f"v{v:05d}.json")) as f:
        manifest = json.load(f)
    # only the NULL-carrying file and the file containing k=350
    # rewrite; at least one file is inherited untouched
    assert manifest["pruning"]["rewritten_files"] <= 2
    assert manifest["pruning"]["inherited_files"] >= 2
    for p in (p for p in manifest["files"] if p.startswith("d00000")):
        assert _file_hashes(table)[p] == before[p]

    got = sorted(
        ((r.k, r.x) for r in snapshot_read(spark, table).collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert (None, -9.0) in got and (350, -3.0) in got
    assert len(got) == 401 and (349, 349.0) in got


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read deletes).
# ---------------------------------------------------------------------------


def test_dv_delete_rewrites_zero_data_files(spark, table):
    """Merge-on-read DELETE: no data file is rewritten or copied —
    the commit writes only a position sidecar; reads subtract the
    positions, COUNT(*) subtracts cached cardinalities with no Spark
    job, and time travel still sees the deleted rows."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_count,
        snapshot_delete_dv,
        snapshot_history,
    )

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    snapshot_write(
        table,
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    before = _file_hashes(table)
    assert len(before) == 4

    v = snapshot_delete_dv(spark, table, "k", 100, 149)
    assert v == 1
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        m = json.load(f)
    assert m["kind"] == "delete_dv"
    assert m["pruning"]["rewritten_files"] == 0
    # min/max pruning bounded the position scan to overlapping files
    assert 1 <= m["pruning"]["scanned_files"] <= 2
    assert m["files"] == sorted(before)  # SAME data files as v0
    assert m["dv"] and all(e["count"] > 0 for e in m["dv"].values())
    # every data file byte-identical (the whole point)
    after = {
        p: h for p, h in _file_hashes(table).items()
        if not p.startswith("_dv")
    }
    assert after == before

    got = sorted(r.k for r in snapshot_read(spark, table).collect())
    assert got == [k for k in range(400) if not (100 <= k <= 149)]
    assert len(snapshot_read(spark, table, version=0).collect()) == 400
    assert snapshot_count(table, version=1) == 350  # metadata-only
    assert snapshot_count(table, version=0) == 400
    assert snapshot_history(table)[-1]["n_dv_files"] >= 1


def test_dv_delete_consolidates_exact_cardinalities(spark, table):
    """Two DV deletes with OVERLAPPING ranges: the second commit
    folds the first sidecar's positions into one fresh sidecar per
    touched file — cardinalities stay exact (no double count), and
    the extra predicate narrows like the copy-on-write path."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_count,
        snapshot_delete_dv,
    )

    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("v")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k"), stats_cols=["k"]
    )
    snapshot_delete_dv(spark, table, "k", 10, 49)                  # v1: -40
    snapshot_delete_dv(spark, table, "k", 30, 69, "v = 1")         # v2: -10 odd
    expected = [
        k for k in range(200)
        if not (10 <= k <= 49) and not (30 <= k <= 69 and k % 2 == 1)
    ]
    got = sorted(r.k for r in snapshot_read(spark, table).collect())
    assert got == expected
    assert snapshot_count(table) == len(expected)
    assert snapshot_count(table, version=1) == 160
    # v1 still reads its own subset (old sidecar untouched)
    assert len(snapshot_read(spark, table, version=1).collect()) == 160


def test_dv_applied_by_pruned_merge_and_materialized(spark, table):
    """A pruned merge over DV-carrying files must (a) not resurrect
    DV-deleted rows, (b) drop the DV entries of files it rewrites,
    and (c) keep inherited files' DVs by reference."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_count,
        snapshot_delete_dv,
        snapshot_merge_update_pruned,
    )

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k"), stats_cols=["k"]
    )
    snapshot_delete_dv(spark, table, "k", 0, 399, "k % 100 = 1")  # every file
    ups = spark.createDataFrame([(10, -1.0), (1, 5.0)], "k long, x double")
    v = snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"]
    )
    with open(os.path.join(table, "_versions", f"v{v:05d}.json")) as f:
        m = json.load(f)
    # rewritten files lost their DV entries; inherited kept theirs
    rewritten_dirs = {p.split("/")[0] for p in m["files"]
                      if not p.startswith("d00000")}
    assert rewritten_dirs  # something was rewritten
    assert all(rel.startswith("d00000") for rel in m.get("dv", {}))
    assert m.get("dv")  # inherited files still carry DVs
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    # k=1 was DV-deleted before the merge: update-only must NOT
    # resurrect it; k=10 updated; other %100=1 keys still deleted
    assert 1 not in got and 101 not in got and 301 not in got
    assert got[10] == -1.0 and len(got) == 396
    assert snapshot_count(table) == 396


def test_dv_compact_materializes_deletes_away(spark, table):
    """OPTIMIZE after a DV delete rewrites through the DV-aware read:
    the compacted version carries no DVs, has the same rows, and
    vacuum can then drop the old sidecar once unreferenced."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_count,
        snapshot_delete_dv,
    )

    base = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(table, base.repartitionByRange(3, "k"), stats_cols=["k"])
    snapshot_delete_dv(spark, table, "k", 50, 99)
    v = snapshot_compact(spark, table, target_rows_per_file=125)
    with open(os.path.join(table, "_versions", f"v{v:05d}.json")) as f:
        m = json.load(f)
    assert "dv" not in m
    assert snapshot_count(table, version=v) == 250
    got = sorted(r.k for r in snapshot_read(spark, table, version=v).collect())
    assert got == [k for k in range(300) if not (50 <= k <= 99)]

    # sidecar survives while v1 is retained...
    dropped = vacuum(table, keep_last=3, stage_retention_sec=0.0)
    assert dropped == []
    assert os.path.isdir(os.path.join(table, "_dv"))
    assert any(os.scandir(os.path.join(table, "_dv")))
    # ...and goes once only the compacted version (and its parent
    # window) is retained
    vacuum(table, keep_last=1, stage_retention_sec=0.0)
    dv_root = os.path.join(table, "_dv")
    assert not os.path.isdir(dv_root) or not any(os.scandir(dv_root))
    assert snapshot_read(spark, table, version=v).count() == 250


def test_scored_dv_delete_query_rewrites_nothing(spark):
    """The scored snapshot_dv_delete_orders pair must exercise a REAL
    merge-on-read delete at test scale: zero files rewritten, a live
    sidecar, and pruning that scanned fewer files than the table."""
    import json
    import tempfile

    from exceldatatransform_py_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    QUERIES["snapshot_dv_delete_orders"](spark, sf).collect()
    table = os.path.join(tempfile.gettempdir(), "spark_graft_dvq_sf0_001")
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        m = json.load(f)
    assert m["kind"] == "delete_dv"
    assert m["pruning"]["rewritten_files"] == 0
    assert m["pruning"]["scanned_files"] >= 1
    assert m["pruning"]["inherited_files"] >= 1
    assert m["dv"]


# ---------------------------------------------------------------------------
# Disjoint-commit concurrency resolution (rebase).
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "proto", ["posix", "conditional_put"], indirect=False
)
def test_disjoint_pruned_merges_both_commit(spark, table, proto):
    """Two writers merging DISJOINT key ranges race for the same
    version: the loser rebases its already-staged files onto the
    winner's version instead of failing — both updates land, versions
    are linear, no merge re-runs. Deterministic interleaving: a
    disjoint winner commits between the loser's read and publish.
    Works on both protocols."""
    import json
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    protocol = (
        snap.PosixCommitProtocol()
        if proto == "posix"
        else snap.ConditionalPutCommitProtocol()
    )
    with snap.use_commit_protocol(protocol):
        base = spark.range(400).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
        )
        snapshot_write(
            table,
            base.repartitionByRange(4, "k").sortWithinPartitions("k"),
            stats_cols=["k"],
        )

        real_publish = snap._publish
        fired = {"done": False}

        def interloper(tbl, manifest):
            # a DISJOINT winner (high keys — a different file) lands
            # v1 between the loser's read and publish, exactly once
            if (
                not fired["done"]
                and manifest["kind"] == "merge_update_pruned"
            ):
                fired["done"] = True
                snap.snapshot_merge_update_pruned(
                    spark, tbl,
                    spark.createDataFrame(
                        [(390, -2.0)], "k long, x double"
                    ),
                    on=["k"], update_cols=["x"],
                )
            return real_publish(tbl, manifest)

        with mock.patch.object(snap, "_publish", side_effect=interloper):
            v = snap.snapshot_merge_update_pruned(
                spark, table,
                spark.createDataFrame([(10, -1.0)], "k long, x double"),
                on=["k"], update_cols=["x"],
            )
        assert v == 2  # loser REBASED onto the winner's v1
        got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
        assert got[10] == -1.0 and got[390] == -2.0  # both updates live
        assert len(got) == 400
        with open(os.path.join(table, "_versions", "v00002.json")) as f:
            m2 = json.load(f)
        assert m2["pruning"]["rebased"] == 1
        assert snap.snapshot_count(table) == 400


def test_overlapping_pruned_merges_still_conflict(spark, table):
    """Writers whose touched file sets overlap must NOT rebase: the
    loser surfaces SnapshotConflictError deterministically (its state
    is stale) and withdraws its staged directory."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table,
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    real_publish = snap._publish
    fired = {"done": False}

    def interloper(tbl, manifest):
        # a winner updates key 11 — the SAME file as the loser's 10 —
        # between the loser's read and publish, exactly once
        if not fired["done"] and manifest["kind"] == "merge_update_pruned":
            fired["done"] = True
            snap.snapshot_merge_update_pruned(
                spark, tbl,
                spark.createDataFrame([(11, 111.0)], "k long, x double"),
                on=["k"], update_cols=["x"],
            )
        return real_publish(tbl, manifest)

    with mock.patch.object(snap, "_publish", side_effect=interloper):
        with pytest.raises(snap.SnapshotConflictError):
            snap.snapshot_merge_update_pruned(
                spark, table,
                spark.createDataFrame([(10, -1.0)], "k long, x double"),
                on=["k"], update_cols=["x"],
            )
    # winner intact; loser withdrew its staged dir (only published
    # dirs remain besides v0's)
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[11] == 111.0 and got[10] == 10.0
    import re as _re

    live = {
        os.path.dirname(f)
        for m in snap._manifests(table)
        for f in snap._manifest_files(table, m)
    } | {m["data_dir"] for m in snap._manifests(table)}
    on_disk = {
        d for d in os.listdir(table)
        if _re.fullmatch(r"d\d{5}(-[0-9a-f]{8})?", d)
    }
    assert on_disk == live


def test_rebase_rejected_when_winner_inserts_matching_key(spark, table):
    """A winner that INSERTS a key inside the loser's update range
    interacts with the loser's merge (the new row should have been
    updated) — rebase must refuse and surface the conflict."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table,
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    real_publish = snap._publish
    fired = {"done": False}

    def interloper(tbl, manifest):
        if not fired["done"] and manifest["kind"] == "merge_update_pruned":
            fired["done"] = True
            # winner inserts k=10000 — INSIDE the loser's key bounds
            # (10..10000), in a brand-new file
            snap.snapshot_merge_update_pruned(
                spark, tbl,
                spark.createDataFrame([(10000, 0.0)], "k long, x double"),
                on=["k"], update_cols=["x"],
                when_not_matched_insert=True,
            )
        return real_publish(tbl, manifest)

    ups = spark.createDataFrame(
        [(10, -1.0), (10000, -2.0)], "k long, x double"
    )
    with mock.patch.object(snap, "_publish", side_effect=interloper):
        with pytest.raises(snap.SnapshotConflictError):
            snap.snapshot_merge_update_pruned(
                spark, table, ups, on=["k"], update_cols=["x"]
            )
    # caller retries the merge against the new state: now it sees the
    # inserted row and updates it
    v = snap.snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"]
    )
    got = {r.k: r.x for r in snapshot_read(spark, table, version=v).collect()}
    assert got[10] == -1.0 and got[10000] == -2.0


def _race_once(snap, kinds, winner):
    """Patch helper: return a side_effect for ``snap._publish`` that
    fires ``winner()`` exactly once, right before the first publish of
    a manifest whose kind is in ``kinds`` — the deterministic
    read-to-publish interleaving every race test here uses."""
    real_publish = snap._publish
    fired = {"done": False}

    def interloper(tbl, manifest):
        if not fired["done"] and manifest["kind"] in kinds:
            fired["done"] = True
            winner(tbl)
        return real_publish(tbl, manifest)

    return interloper


def test_disjoint_dv_deletes_both_commit(spark, table):
    """Two concurrent DV deletes on DISJOINT keys (different files):
    the loser rebases — both commits land, both sidecars are live, and
    the table reads as if the deletes ran serially."""
    import json
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def winner(tbl):
        snap.snapshot_delete_dv(spark, tbl, "k", 390, 399)

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"delete_dv"}, winner),
    ):
        v = snap.snapshot_delete_dv(spark, table, "k", 10, 19)
    assert v == 2  # loser REBASED onto the winner's v1
    got = sorted(r.k for r in snapshot_read(spark, table).collect())
    assert got == [k for k in range(400) if not (10 <= k <= 19 or 390 <= k)]
    assert snap.snapshot_count(table) == 380  # manifest-only count too
    with open(os.path.join(table, "_versions", "v00002.json")) as f:
        m2 = json.load(f)
    assert m2["pruning"]["rebased"] == 1
    # BOTH sidecars live in the final manifest (disjoint files)
    dv_dirs = {e["dir"] for e in m2["dv"].values()}
    assert len(m2["dv"]) == 2 and len(dv_dirs) == 2


def test_dv_delete_rebases_onto_disjoint_pruned_merge(spark, table):
    """A DV delete losing the race to a pruned merge on a DIFFERENT
    file replays instead of failing; the winner's rewrite and the
    loser's sidecar are both honored."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def winner(tbl):
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(390, -2.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"delete_dv"}, winner),
    ):
        v = snap.snapshot_delete_dv(spark, table, "k", 10, 19)
    assert v == 2
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[390] == -2.0 and len(got) == 390
    assert not any(10 <= k <= 19 for k in got)


def test_dv_deletes_same_file_still_conflict(spark, table):
    """Two DV deletes hitting the SAME file interact (the loser's
    consolidated sidecar would drop the winner's positions): the loser
    must surface SnapshotConflictError; a retry then sees both."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def winner(tbl):
        snap.snapshot_delete_dv(spark, tbl, "k", 20, 29)  # same file as 10-19

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"delete_dv"}, winner),
    ):
        with pytest.raises(snap.SnapshotConflictError):
            snap.snapshot_delete_dv(spark, table, "k", 10, 19)
    # retry against the new state applies cleanly (consolidated DV)
    snap.snapshot_delete_dv(spark, table, "k", 10, 19)
    got = sorted(r.k for r in snapshot_read(spark, table).collect())
    assert got == [k for k in range(400) if not (10 <= k <= 29)]


def test_dv_delete_rejected_when_winner_rewrites_touched_file(spark, table):
    """A winner that REWRITES the file the loser's sidecar points at
    interacts (the DV references dead bytes): rebase must refuse."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def winner(tbl):
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(15, 0.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )

    # delete 10..19 of a table whose file holding 10..19 gets REWRITTEN
    # by the winner's matched update — touched-file check fires
    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"delete_dv"}, winner),
    ):
        with pytest.raises(snap.SnapshotConflictError):
            snap.snapshot_delete_dv(spark, table, "k", 10, 19)


def test_dv_delete_rejected_when_winner_adds_matching_file(spark, table):
    """A winner that ADDS a file holding keys inside the loser's
    delete range interacts (serial semantics would delete those rows):
    the rebase's added-file stats check must refuse — even though the
    loser's own touched set was EMPTY (no existing file overlapped)."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def winner(tbl):
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(15000, 0.0)], "k long, x double"),
            on=["k"], update_cols=["x"], when_not_matched_insert=True,
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"delete_dv"}, winner),
    ):
        with pytest.raises(snap.SnapshotConflictError):
            snap.snapshot_delete_dv(spark, table, "k", 10000, 20000)
    # retrying against the new state deletes the inserted row
    snap.snapshot_delete_dv(spark, table, "k", 10000, 20000)
    got = sorted(r.k for r in snapshot_read(spark, table).collect())
    assert got == list(range(400))


def test_range_delete_rebases_onto_disjoint_merge(spark, table):
    """Copy-on-write range delete losing to a pruned merge on a
    different file rebases: staged files are replayed verbatim."""
    import json
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def winner(tbl):
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(390, -2.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"delete_range"}, winner),
    ):
        v = snap.snapshot_delete_range(spark, table, "k", 10, 19)
    assert v == 2
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[390] == -2.0 and len(got) == 390
    with open(os.path.join(table, "_versions", "v00002.json")) as f:
        m2 = json.load(f)
    assert m2["pruning"]["rebased"] == 1


def test_small_file_compact_rebases_onto_disjoint_merge(spark, table):
    """The incremental OPTIMIZE folds only the small files; a merge
    rewriting a DIFFERENT (full-sized) file lands mid-compaction and
    the compaction REPLAYS its rewrite instead of discarding it."""
    import json
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    # v0: 4 full files of 100 rows; two merges leave small files behind
    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    # two single-file rewrites produce two ~100-row files; with
    # target_rows_per_file=150 BOTH count as small, the two untouched
    # 100-row files... also small. Use inserts to create tiny files.
    snap.snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(1000, 1.0), (1001, 2.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )
    snap.snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(2000, 3.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )

    def winner(tbl):
        # rewrites the 300..399 file — NOT part of the small-file set
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(390, -2.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"compact"}, winner),
    ):
        v = snap.snapshot_compact_small_files(
            spark, table, target_rows_per_file=50, stats_cols=["k"]
        )
    assert v == 4  # winner took v3; compaction rebased onto it
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[390] == -2.0 and got[1000] == 1.0 and got[2000] == 3.0
    assert len(got) == 403
    with open(os.path.join(table, "_versions", f"v{v:05d}.json")) as f:
        m = json.load(f)
    assert m["pruning"]["rebased"] == 1
    # the two tiny insert files folded together; base files untouched
    assert m["pruning"]["rewritten_files"] == 2


def test_full_compact_conflicts_with_file_rewriting_merge(spark, table):
    """A FULL-table compact races a merge that rewrote one of the
    files the compaction read: replaying would resurrect stale rows,
    so the loser must conflict (and withdraw its staged dir) — while
    an INSERT-ONLY winner rebases fine."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def rewriting_winner(tbl):
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(10, -1.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"compact"}, rewriting_winner),
    ):
        with pytest.raises(snap.SnapshotConflictError):
            snap.snapshot_compact(spark, table, target_rows_per_file=1000)
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[10] == -1.0  # winner intact

    def inserting_winner(tbl):
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(5000, 5.0)], "k long, x double"),
            on=["k"], update_cols=["x"], when_not_matched_insert=True,
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"compact"}, inserting_winner),
    ):
        v = snap.snapshot_compact(spark, table, target_rows_per_file=1000)
    got = {r.k: r.x for r in snapshot_read(spark, table, version=v).collect()}
    assert got[5000] == 5.0 and got[10] == -1.0 and len(got) == 401


def test_zorder_rebases_onto_insert_only_merge(spark, table):
    """OPTIMIZE ZORDER losing to an insert-only merge inherits the
    winner's new file and keeps its clustered rewrite."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(256).select(
        (F.col("id") % 16).alias("a"),
        (F.col("id") / 16).cast("long").alias("b"),
        F.col("id").alias("k"),
    )
    snapshot_write(table, base.repartition(4), stats_cols=["k"])

    def winner(tbl):
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(99, 99, 9999)], "a long, b long, k long"),
            on=["k"], update_cols=["a"], when_not_matched_insert=True,
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"zorder"}, winner),
    ):
        v = snap.snapshot_optimize_zorder(
            spark, table, "a", "b", num_files=4
        )
    got = sorted(r.k for r in snapshot_read(spark, table, version=v).collect())
    assert got == sorted(list(range(256)) + [9999])


# ---------------------------------------------------------------------------
# Exactly-once streaming commits by transaction id.
# ---------------------------------------------------------------------------


def test_txn_merge_commit_is_idempotent_on_replay(spark, table):
    """The Delta txnAppId/txnVersion pattern: a micro-batch commit
    records (app, batch) in the manifest; replaying the same batch —
    the foreachBatch retry after a driver crash — is a no-op, even as
    a LATE retry arriving after later batches already landed."""
    from exceldatatransform_py_spark.sources.snapshots import (
        last_committed_txn,
        snapshot_count,
        snapshot_merge_update,
    )

    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(table, base)

    def apply_batch(batch_id, k, x):
        ups = spark.createDataFrame([(k, x)], "k long, x double")
        return snapshot_merge_update(
            spark, table, ups, on=["k"], update_cols=["x"],
            txn=("cdc-app", batch_id),
        )

    assert apply_batch(0, 3, -3.0) == 1
    assert apply_batch(0, 3, -999.0) == 1      # replay: no-op, same v
    assert latest_version(table) == 1
    assert apply_batch(1, 4, -4.0) == 2
    assert apply_batch(0, 3, -999.0) == 2      # LATE replay: no-op
    assert apply_batch(1, 4, -999.0) == 2      # replay of batch 1 too
    assert latest_version(table) == 2
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[3] == -3.0 and got[4] == -4.0   # first apply won
    assert snapshot_count(table) == 10
    assert last_committed_txn(table, "cdc-app") == 1
    assert last_committed_txn(table, "other-app") is None
    # a different app's batch numbering is independent
    ups = spark.createDataFrame([(5, -5.0)], "k long, x double")
    assert snapshot_merge_update(
        spark, table, ups, on=["k"], update_cols=["x"],
        txn=("other-app", 0),
    ) == 3


def test_txn_replay_storm_applies_each_batch_once(spark, table):
    """A foreachBatch delivery sequence with duplicates (0,0,1,1,0,2)
    — the at-least-once contract a restarted stream actually gives —
    lands exactly three versions, one per distinct batch."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update,
    )

    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0.0).alias("x")
    )
    snapshot_write(table, base)
    for batch_id in (0, 0, 1, 1, 0, 2):
        ups = spark.createDataFrame(
            [(batch_id, batch_id + 1.0)], "k long, x double"
        )
        snapshot_merge_update(
            spark, table, ups, on=["k"], update_cols=["x"],
            txn=("stream", batch_id),
        )
    assert latest_version(table) == 3  # v0 + exactly one per batch
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[0] == 1.0 and got[1] == 2.0 and got[2] == 3.0


def test_txn_write_commit_idempotent(spark, table):
    from exceldatatransform_py_spark.sources.snapshots import snapshot_write

    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    assert snapshot_write(table, df, txn=("loader", 7)) == 0
    assert snapshot_write(table, df, txn=("loader", 7)) == 0  # replay
    assert latest_version(table) == 0
    assert snapshot_write(table, df, txn=("loader", 8)) == 1


def test_write_reads_only_the_parent_manifest(spark, table):
    """A non-txn commit on a table with history parses the parent's
    manifest alone, never the whole history, and still inherits the
    parent's constraints and field ids."""
    from unittest import mock

    from exceldatatransform_py_spark.sources import snapshots as snap

    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    for _ in range(3):
        snap.snapshot_write(table, df, constraints={"pos": "v >= 0"})
    with mock.patch.object(
        snap, "_manifests", side_effect=AssertionError("history parsed")
    ):
        v = snap.snapshot_write(table, df)
        assert v == latest_version(table) == 3
    with pytest.raises(snap.SnapshotConstraintError):
        snap.snapshot_write(table, df.withColumn("v", F.lit(-1)))
    ms = snap._manifests(table)
    assert ms[3]["schema"] == ms[2]["schema"]
    assert ms[3]["constraints"] == {"pos": "v >= 0"}


def test_latest_read_parses_only_the_latest_manifest(spark, table):
    """snapshot_read and snapshot_count of the latest version parse the
    newest manifest alone; only time travel loads the history."""
    from unittest import mock

    from exceldatatransform_py_spark.sources import snapshot_common
    from exceldatatransform_py_spark.sources import snapshots as snap

    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    for _ in range(3):
        snap.snapshot_write(table, df)
    snap.snapshot_delete_dv(spark, table, "id", 1, 1)
    parsed = AssertionError("history parsed")
    with mock.patch.object(
        snapshot_common, "load_manifests", side_effect=parsed
    ), mock.patch.object(snap, "_manifests", side_effect=parsed):
        assert snap.snapshot_count(table) == 4
        got = sorted(r.id for r in snap.snapshot_read(spark, table).collect())
        assert got == [0, 2, 3, 4]
    assert snap.snapshot_count(table, version=2) == 5


# ---------------------------------------------------------------------------
# Manifest bloom filters: point-lookup file skipping where min/max
# provably cannot prune.
# ---------------------------------------------------------------------------


def _interleaved_table(spark, table, n=400, files=4):
    """Every file holds keys from the FULL range (k % files layout):
    each file's min/max covers every key, so range pruning is
    provably useless — only the bloom can skip files."""
    base = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    from exceldatatransform_py_spark.sources.snapshots import snapshot_write

    return snapshot_write(
        table,
        base.repartitionByRange(files, F.col("k") % files),
        stats_cols=["k"],
        bloom_cols=["k"],
    )


def test_bloom_point_merge_prunes_where_minmax_cannot(spark, table):
    """A one-key merge on the interleaved layout rewrites ~1 file via
    the bloom; without blooms every file's range overlaps the key and
    all of them rewrite. Results identical to the full-read merge."""
    import json

    from exceldatatransform_py_spark.sources import snapshots as snap

    _interleaved_table(spark, table)
    with open(os.path.join(table, "_versions", "v00000.json")) as f:
        m0 = json.load(f)
    assert len(m0["blooms"]) == 4
    # sanity: min/max CANNOT prune — every file's range covers k=123
    for st in m0["stats"].values():
        assert st["k"][0] <= 123 <= st["k"][1]

    ups = spark.createDataFrame([(123, -1.0)], "k long, x double")
    v = snap.snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"]
    )
    with open(os.path.join(table, "_versions", f"v{v:05d}.json")) as f:
        m1 = json.load(f)
    # bloom skipped the provably-keyless files (FP allowance: ≤ 2)
    assert m1["pruning"]["rewritten_files"] <= 2
    assert m1["pruning"]["inherited_files"] >= 2
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[123] == -1.0 and len(got) == 400 and got[122] == 122.0
    # rewritten files got FRESH blooms: a second merge on the same key
    # must keep pruning (the key moved into the new file)
    ups2 = spark.createDataFrame([(123, -2.0)], "k long, x double")
    v2 = snap.snapshot_merge_update_pruned(
        spark, table, ups2, on=["k"], update_cols=["x"]
    )
    with open(os.path.join(table, "_versions", f"v{v2:05d}.json")) as f:
        m2 = json.load(f)
    assert m2["pruning"]["rewritten_files"] <= 2
    got = {r.k: r.x for r in snapshot_read(spark, table).collect()}
    assert got[123] == -2.0 and len(got) == 400


def test_bloom_point_delete_and_point_read(spark, table):
    """Point DELETE (both physical flavors) and point READ consult the
    bloom on the interleaved layout: fewer files touched/scanned than
    the table, identical results to the unpruned paths."""
    import json

    from exceldatatransform_py_spark.sources import snapshots as snap

    _interleaved_table(spark, table)
    # point read: the scan plan touches < 4 files, rows are exact
    got = snapshot_read(spark, table, point_filter=("k", [7, 250]))
    assert len(set(got.inputFiles())) <= 2  # ~1 file per key, FP slack
    assert sorted((r.k, r.x) for r in got.collect()) == [
        (7, 7.0), (250, 250.0),
    ]
    # a key that doesn't exist prunes everything (empty scan, no job)
    none = snapshot_read(spark, table, point_filter=("k", [40400]))
    assert none.collect() == []

    # copy-on-write point delete
    v = snap.snapshot_delete_range(spark, table, "k", 200, 200)
    with open(os.path.join(table, "_versions", f"v{v:05d}.json")) as f:
        m = json.load(f)
    assert m["pruning"]["rewritten_files"] <= 2
    assert m["pruning"]["inherited_files"] >= 2
    assert snapshot_read(spark, table).count() == 399

    # merge-on-read point delete: scanned_files < table via bloom
    v2 = snap.snapshot_delete_dv(spark, table, "k", 300, 300)
    with open(os.path.join(table, "_versions", f"v{v2:05d}.json")) as f:
        m2 = json.load(f)
    assert m2["pruning"]["rewritten_files"] == 0
    assert m2["pruning"]["scanned_files"] <= 2
    got = sorted(r.k for r in snapshot_read(spark, table).collect())
    assert 300 not in got and 200 not in got and len(got) == 398
    # point read on the DV table still subtracts deleted positions
    assert [
        tuple(r) for r in snapshot_read(
            spark, table, point_filter=("k", [300, 301])
        ).collect()
    ] == [(301, 301.0)]


def test_bloom_bulk_merge_skips_probe_and_stays_correct(spark, table):
    """A bulk merge (key set above the probe cap) must not pay the
    bloom probe — pruning falls back to range stats — and results
    stay identical."""
    from unittest import mock

    from exceldatatransform_py_spark.sources import snapshots as snap

    _interleaved_table(spark, table, n=100, files=2)
    ups = spark.range(100).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("x")
    )
    with mock.patch.object(snap, "_BLOOM_PROBE_CAP", 10), mock.patch.object(
        snap, "_bloom_may_contain", wraps=snap._bloom_may_contain
    ) as probe:
        v = snap.snapshot_merge_update_pruned(
            spark, table, ups, on=["k"], update_cols=["x"]
        )
    assert probe.call_count == 0  # the over-cap key set skipped the bloom
    got = {r.k: r.x for r in snapshot_read(spark, table, version=v).collect()}
    assert len(got) == 100 and all(x == -1.0 for x in got.values())


def test_change_feed_reconstructs_every_version(spark, table):
    """snapshot_changes invariant over a mixed history — write →
    DV-delete → PRUNED merge (file carry-over + rewrites) → compact
    (layout-only, MUST be silent) → rollback: for every version pair
    (a, b), rows(a) + inserts − deletes == rows(b) as multisets, and
    the compact step contributes nothing to the feed."""
    from collections import Counter

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_compact,
        snapshot_delete_dv,
        snapshot_merge_update_pruned,
        snapshot_read,
        snapshot_write,
        rollback,
    )

    base = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(200)], "k long, x double"
    )
    snapshot_write(
        table,
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                       # v0
    snapshot_delete_dv(spark, table, "k", 20, 39)           # v1: DV only
    ups = spark.createDataFrame(
        [(5, 999.0), (110, 111.0), (400, 4.0)], "k long, x double"
    )
    snapshot_merge_update_pruned(
        spark, table, ups, on=["k"], update_cols=["x"], prune_col="k",
        when_not_matched_insert=True,
    )                                                       # v2: pruned
    snapshot_compact(spark, table, target_rows_per_file=1000)  # v3: layout
    rollback(table, 1)                                      # v4: restore

    feed = snapshot_changes(spark, table, 0, 4)
    by_step = {
        r["_commit_version"]
        for r in feed.select("_commit_version").distinct().collect()
    }
    assert 3 not in by_step  # compaction is dataChange=false

    # the DV-only step emits deletes and no inserts
    v1 = [r for r in feed.collect() if r._commit_version == 1]
    assert v1 and all(r._change_type == "delete" for r in v1)
    assert sorted(r.k for r in v1) == list(range(20, 40))

    def rows_at(v):
        return Counter(
            (r.k, r.x) for r in snapshot_read(spark, table, version=v).collect()
        )

    for a in range(0, 5):
        for b in range(a + 1, 5):
            acc = Counter(rows_at(a))
            for r in snapshot_changes(spark, table, a, b).collect():
                key = (r.k, r.x)
                if r._change_type == "insert":
                    acc[key] += 1
                else:
                    acc[key] -= 1
            assert +acc == rows_at(b), f"feed {a}->{b} broken"


def test_change_feed_drives_replication(spark, table, tmp_path):
    """The CDC-replication recipe: a replica bootstrapped at v0 and
    advanced ONLY by each commit's change feed (apply deletes by key,
    then append inserts — Delta's merge-from-CDF pattern) stays
    row-identical to the source at every version, across a DV delete,
    a pruned merge with inserts, and a full-rewrite merge."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_delete_dv,
        snapshot_merge_update,
        snapshot_merge_update_pruned,
        snapshot_read,
        snapshot_write,
    )

    src = table
    dst = str(tmp_path / "replica")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(120)], "k long, x double"
    )
    snapshot_write(
        src, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_delete_dv(spark, src, "k", 30, 49)                # v1
    ups1 = spark.createDataFrame(
        [(7, 700.0), (300, 3.0)], "k long, x double"
    )
    snapshot_merge_update_pruned(
        spark, src, ups1, on=["k"], update_cols=["x"], prune_col="k",
        when_not_matched_insert=True,
    )                                                          # v2
    ups2 = spark.createDataFrame(
        [(100, -1.0), (301, 1.0)], "k long, x double"
    )
    snapshot_merge_update(
        spark, src, ups2, on=["k"], update_cols=["x"],
        when_not_matched_insert=True,
    )                                                          # v3

    snapshot_write(dst, snapshot_read(spark, src, version=0))  # bootstrap
    for v in range(1, 4):
        feed = snapshot_changes(spark, src, v - 1, v)
        dels = feed.filter(F.col("_change_type") == "delete").select("k")
        ins = feed.filter(F.col("_change_type") == "insert").select("k", "x")
        cur = snapshot_read(spark, dst)
        snapshot_write(
            dst, cur.join(dels, "k", "left_anti").unionByName(ins)
        )
        assert _rows(snapshot_read(spark, dst)) == _rows(
            snapshot_read(spark, src, version=v)
        ), f"replica diverged at source version {v}"


def test_change_feed_scans_only_changed_files(spark, table):
    """Physical posture of the feed: a DV-only commit's change feed
    reads the DV'd data file and its sidecar — NOT the table's other
    data files (the docstring's 'only files that changed hands'
    claim, checked against the plan's actual input files)."""
    from exceldatatransform_py_spark.sources.snapshots import (
        _manifest_files,
        _manifests,
        snapshot_changes,
        snapshot_delete_dv,
        snapshot_write,
    )

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, x double"
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                            # v0: 4 range-clustered files
    snapshot_delete_dv(spark, table, "k", 10, 19)  # v1: one file DV'd
    ms = {m["version"]: m for m in _manifests(table)}
    all_files = set(_manifest_files(table, ms[0]))
    assert len(all_files) == 4
    dv_files = set(ms[1]["dv"])
    assert len(dv_files) == 1  # the range hit exactly one file

    feed = snapshot_changes(spark, table, 0, 1)
    scanned = {f.replace("file://", "") for f in feed.inputFiles()}
    scanned_data = {
        rel for rel in all_files
        if any(s.endswith(rel) for s in scanned)
    }
    assert scanned_data == dv_files, (
        f"feed scanned {scanned_data}, expected only {dv_files}"
    )
    # and the feed is exactly the 10 deleted rows
    rows = feed.collect()
    assert sorted(r.k for r in rows) == list(range(10, 20))
    assert all(r._change_type == "delete" for r in rows)


def test_change_feed_plan_build_jobs_do_not_grow_with_window(spark, table):
    """Building snapshot_changes' plan runs no more Spark jobs for a
    43-version window than for a 2-version one (at most two: file
    listing), because the feed is one scan of the action list's files
    under an explicit schema. The long window is rollback-heavy, and
    still satisfies rows(a) + inserts − deletes == rows(b), rows a
    rollback restores from a shrunken deletion vector included."""
    from collections import Counter

    from exceldatatransform_py_spark.sources import snapshots as snap
    from tests.conftest import spark_jobs

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, x double"
    )
    snap.snapshot_write(
        table, base.repartitionByRange(2, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snap.snapshot_delete_dv(spark, table, "k", 3, 4)           # v1
    snap.snapshot_delete_dv(spark, table, "k", 5, 6)           # v2: DV grows
    snap.snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(30, -1.0), (99, 9.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v3
    for i in range(40):  # metadata-only commits that change rows
        snap.rollback(table, (1, 2, 3)[i % 3])
    n = snap.latest_version(table)

    def rows_at(v):
        return Counter(
            (r.k, r.x) for r in snap.snapshot_read(spark, table, version=v).collect()
        )

    jobs = {}
    for b in (2, n):
        with spark_jobs(spark) as count:
            feed = snap.snapshot_changes(spark, table, 0, b)
        jobs[b] = count()
    assert jobs[n] <= 2 and jobs[n] == jobs[2], jobs
    acc = rows_at(0)
    for r in feed.collect():
        acc[(r.k, r.x)] += 1 if r._change_type == "insert" else -1
    assert {k: c for k, c in acc.items() if c} == rows_at(n)


def test_replicate_snapshot_changes_incremental_loop(spark, table, tmp_path):
    """The version-cursor replication loop (txn ledger as the cursor):
    each call drains the source versions that exist AT CALL TIME —
    commits landing between calls arrive in the next call — applying
    one version at a time; replaying a drained state is a no-op, so
    the loop is exactly-once by the existing transaction records."""
    from exceldatatransform_py_spark.sources.snapshots import (
        last_committed_txn,
        replicate_snapshot_changes,
        snapshot_compact,
        snapshot_delete_dv,
        snapshot_merge_update,
        snapshot_merge_update_pruned,
        snapshot_read,
        snapshot_write,
    )

    src, dst = table, str(tmp_path / "replica")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(120)], "k long, x double"
    )
    snapshot_write(
        src, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_delete_dv(spark, src, "k", 30, 49)                # v1
    snapshot_merge_update_pruned(
        spark, src,
        spark.createDataFrame([(7, 700.0), (300, 3.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v2

    # cycle 1: bootstrap + v1 + v2
    n = replicate_snapshot_changes(spark, src, dst, keys=["k"])
    assert n == 3 and last_committed_txn(dst, "cdf-replica") == 2
    assert _rows(snapshot_read(spark, dst)) == _rows(
        snapshot_read(spark, src, version=2)
    )

    # concurrent source commits: a layout-only compact (empty feed,
    # cursor still advances) and an update+insert merge
    snapshot_compact(spark, src, target_rows_per_file=1000)    # v3
    snapshot_merge_update(
        spark, src,
        spark.createDataFrame([(100, -1.0), (301, 1.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v4

    # cycle 2 picks them up
    n = replicate_snapshot_changes(spark, src, dst, keys=["k"])
    assert n == 2 and last_committed_txn(dst, "cdf-replica") == 4
    assert _rows(snapshot_read(spark, dst)) == _rows(
        snapshot_read(spark, src)
    )

    # replay: fully drained → no-op, replica unchanged
    v_before = latest_version(dst)
    assert replicate_snapshot_changes(spark, src, dst, keys=["k"]) == 0
    assert latest_version(dst) == v_before


def test_rename_column_field_id_reads_and_merges(spark, table):
    """RENAME COLUMN via stable field IDs: metadata-only commit; files
    written before the rename read under the NEW name (id-matched);
    time travel to a pre-rename version shows the OLD name; merges
    after the rename keep pruning on the manifest's re-keyed stats."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
        snapshot_rename_column,
    )

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "k long, x double"
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(500, 5.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v1
    v = snapshot_rename_column(table, "x", "amount")           # v2
    assert v == 2

    # latest read: new name everywhere, including the pre-rename files
    got = snapshot_read(spark, table)
    assert got.columns == ["k", "amount"]
    vals = {r.k: r.amount for r in got.collect()}
    assert vals[7] == 7.0 and vals[500] == 5.0 and len(vals) == 201

    # time travel: each version owns its schema
    old = snapshot_read(spark, table, version=1)
    assert old.columns == ["k", "x"]
    assert {r.k: r.x for r in old.collect()}[500] == 5.0

    # rename is metadata-only: same files, same field id
    with open(os.path.join(table, "_versions", "v00002.json")) as f:
        m2 = json.load(f)
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        m1 = json.load(f)
    assert m2["files"] == m1["files"]
    ids1 = {
        f["name"]: f["metadata"]["parquet.field.id"]
        for f in m1["schema"]["fields"]
    }
    ids2 = {
        f["name"]: f["metadata"]["parquet.field.id"]
        for f in m2["schema"]["fields"]
    }
    assert ids2["amount"] == ids1["x"] and ids2["k"] == ids1["k"]

    # merge AFTER the rename updates the renamed column in pre-rename
    # files — and still FILE-PRUNES on the re-keyed stats
    snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(10, -1.0)], "k long, amount double"),
        on=["k"], update_cols=["amount"],
    )                                                          # v3
    with open(os.path.join(table, "_versions", "v00003.json")) as f:
        m3 = json.load(f)
    assert m3["pruning"]["rewritten_files"] == 1
    got = {r.k: r.amount for r in snapshot_read(spark, table).collect()}
    assert got[10] == -1.0 and got[11] == 11.0 and len(got) == 201

    # a second rename of the MERGE KEY column keeps pruning alive
    snapshot_rename_column(table, "k", "id")                   # v4
    snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(150, -2.0)], "id long, amount double"),
        on=["id"], update_cols=["amount"],
    )                                                          # v5
    with open(os.path.join(table, "_versions", "v00005.json")) as f:
        m5 = json.load(f)
    assert m5["pruning"]["rewritten_files"] == 1
    got = {r.id: r.amount for r in snapshot_read(spark, table).collect()}
    assert got[150] == -2.0 and got[10] == -1.0


def test_rename_column_change_feed_stays_coherent(spark, table):
    """The change feed ACROSS a rename: the rename itself emits
    nothing (no rows changed), and every step reads under the
    to-version schema — rows from pre-rename files come out under the
    new name instead of NULL-filling a second column set."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_delete_dv,
        snapshot_merge_update_pruned,
        snapshot_rename_column,
    )

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, x double"
    )
    snapshot_write(
        table, base.repartitionByRange(2, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(500, 5.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v1
    snapshot_rename_column(table, "x", "amount")               # v2
    snapshot_delete_dv(spark, table, "k", 10, 12)              # v3

    feed = snapshot_changes(spark, table, 0)
    assert set(feed.columns) == {"k", "amount", "_change_type",
                                 "_commit_version"}
    rows = sorted(
        (r.k, r.amount, r._change_type, r._commit_version)
        for r in feed.collect()
    )
    # v1's insert under the NEW name (non-null), v2 silent, v3 deletes
    assert rows == [
        (10, 10.0, "delete", 3), (11, 11.0, "delete", 3),
        (12, 12.0, "delete", 3), (500, 5.0, "insert", 1),
    ]


def test_rename_column_guards(spark, table):
    """Error paths: unknown/duplicate names, constraints referencing
    the renamed column, and legacy id-less tables."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_rename_column,
    )

    df = spark.createDataFrame([(1, 2.0)], "k long, x double")
    snapshot_write(table, df, constraints={"pos": "x > 0"})
    with pytest.raises(ValueError, match="not in"):
        snapshot_rename_column(table, "nope", "y")
    with pytest.raises(ValueError, match="already exists"):
        snapshot_rename_column(table, "x", "k")
    with pytest.raises(ValueError, match="constraint"):
        snapshot_rename_column(table, "x", "amount")
    # legacy table: strip the ids from the manifest → clear refusal
    p = os.path.join(table, "_versions", "v00000.json")
    with open(p) as f:
        m = json.load(f)
    for fld in m["schema"]["fields"]:
        fld.get("metadata", {}).pop("parquet.field.id", None)
    m.pop("constraints")
    with open(p, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="legacy"):
        snapshot_rename_column(table, "x", "amount")


@pytest.mark.parametrize("proto", ["posix", "conditional_put"])
def test_disjoint_dv_deletes_rebase_on_both_protocols(spark, table, proto):
    """The r9 DV-delete rebase is protocol-independent: both the
    POSIX hardlink commit point and the object-store conditional-put
    commit point resolve the disjoint race by replaying the loser's
    sidecar."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    protocol = (
        snap.PosixCommitProtocol()
        if proto == "posix"
        else snap.ConditionalPutCommitProtocol()
    )
    with snap.use_commit_protocol(protocol):
        base = spark.range(400).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
        )
        snapshot_write(
            table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
            stats_cols=["k"],
        )

        def winner(tbl):
            snap.snapshot_delete_dv(spark, tbl, "k", 390, 399)

        with mock.patch.object(
            snap, "_publish",
            side_effect=_race_once(snap, {"delete_dv"}, winner),
        ):
            v = snap.snapshot_delete_dv(spark, table, "k", 10, 19)
        assert v == 2
        got = sorted(r.k for r in snapshot_read(spark, table).collect())
        assert got == [
            k for k in range(400) if not (10 <= k <= 19 or 390 <= k)
        ]
        assert snap.snapshot_count(table) == 380


def test_widening_merge_assigns_fresh_field_id_and_rename_survives(
    spark, table
):
    """Schema evolution + rename interplay: a merge that ADDS a column
    gives it the next unused field id (existing ids untouched), and a
    later rename of the ORIGINAL column still id-resolves rows from
    files written at every epoch — including the pre-widening ones
    that lack the added column entirely (NULL backfill)."""
    import json

    from exceldatatransform_py_spark.operators.merge import merge_full
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, x double"
    )
    snapshot_write(table, base, stats_cols=["k"])              # v0
    # widen by overwrite-commit (the snapshot layer's schema-evolution
    # path): same rows plus a new column
    widened = snapshot_read(spark, table).withColumn(
        "note", F.concat(F.lit("n"), F.col("k").cast("string"))
    )
    snapshot_write(table, widened)                             # v1
    with open(os.path.join(table, "_versions", "v00000.json")) as f:
        m0 = json.load(f)
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        m1 = json.load(f)
    ids0 = {
        f["name"]: f["metadata"]["parquet.field.id"]
        for f in m0["schema"]["fields"]
    }
    ids1 = {
        f["name"]: f["metadata"]["parquet.field.id"]
        for f in m1["schema"]["fields"]
    }
    assert ids1["k"] == ids0["k"] and ids1["x"] == ids0["x"]
    assert ids1["note"] == max(ids0.values()) + 1

    snapshot_rename_column(table, "x", "amount")               # v2
    got = snapshot_read(spark, table)
    assert got.columns == ["k", "amount", "note"]
    vals = {r.k: (r.amount, r.note) for r in got.collect()}
    assert vals[7] == (7.0, "n7") and len(vals) == 50
    # time travel to v0: original two-column schema
    assert snapshot_read(spark, table, version=0).columns == ["k", "x"]


def test_drop_column_metadata_only_and_no_resurrection(spark, table):
    """DROP COLUMN: metadata-only (same files); readers project it
    away; time travel still shows it; and a LATER column with the
    SAME NAME gets a fresh field id, so old files NULL-fill instead
    of resurrecting the dropped values — even when the dropped id was
    the highest ever assigned (the retired-id floor)."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_drop_column,
        snapshot_merge_update_pruned,
        snapshot_read,
        snapshot_write,
    )

    base = spark.createDataFrame(
        [(i, float(i), f"n{i}") for i in range(40)],
        "k long, x double, note string",
    )
    snapshot_write(table, base, stats_cols=["k"])              # v0
    v = snapshot_drop_column(table, "note")                    # v1
    assert v == 1
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        m1 = json.load(f)
    with open(os.path.join(table, "_versions", "v00000.json")) as f:
        m0 = json.load(f)
    import exceldatatransform_py_spark.sources.snapshots as _snap

    assert _snap._manifest_files(table, m1) == _snap._manifest_files(
        table, m0
    )  # zero bytes rewritten
    got = snapshot_read(spark, table)
    assert got.columns == ["k", "x"]
    assert snapshot_read(spark, table, version=0).columns == [
        "k", "x", "note"
    ]

    # merges after the drop keep working on the remaining columns
    snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(3, -1.0)], "k long, x double"),
        on=["k"], update_cols=["x"],
    )                                                          # v2
    assert {r.k: r.x for r in snapshot_read(spark, table).collect()}[3] == -1.0

    # re-add a column with the SAME NAME (overwrite commit): fresh id
    cur = snapshot_read(spark, table)
    snapshot_write(table, cur.withColumn("note", F.lit("fresh")))  # v3
    with open(os.path.join(table, "_versions", "v00003.json")) as f:
        m3 = json.load(f)
    ids0 = {
        f["name"]: f["metadata"]["parquet.field.id"]
        for f in m0["schema"]["fields"]
    }
    ids3 = {
        f["name"]: f["metadata"]["parquet.field.id"]
        for f in m3["schema"]["fields"]
    }
    assert ids3["note"] > ids0["note"]  # retired id never reused
    vals = {r.k: r.note for r in snapshot_read(spark, table).collect()}
    assert set(vals.values()) == {"fresh"}  # no resurrection


def test_drop_column_guards(spark, table):
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_drop_column,
        snapshot_write,
    )

    snapshot_write(
        table, spark.createDataFrame([(1, 2.0)], "k long, x double"),
        constraints={"pos": "x > 0"},
    )
    with pytest.raises(ValueError, match="not in"):
        snapshot_drop_column(table, "nope")
    with pytest.raises(ValueError, match="constraint"):
        snapshot_drop_column(table, "x")
    snapshot_write(
        table, spark.createDataFrame([(1,)], "k long"), constraints={}
    )
    with pytest.raises(ValueError, match="last column"):
        snapshot_drop_column(table, "k")


def test_change_feed_past_vacuum_horizon_raises_typed_error(spark, table):
    """The change feed reconstructs deletes from files live at the
    PARENT version — files vacuum may have dropped. A feed read past
    the retention horizon must fail with the typed retention error
    naming the oldest fully retained version (Delta's
    VersionNotFoundException analogue), never a raw file-not-found or
    a silently empty scan."""
    from exceldatatransform_py_spark.sources.snapshot_common import (
        SnapshotRetentionError,
    )
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_changes,
    )

    snapshot_write(
        table, spark.createDataFrame([(i,) for i in range(8)], "k long")
    )                                                          # v0
    snapshot_write(
        table, spark.createDataFrame([(i,) for i in range(4)], "k long")
    )                                                          # v1
    snapshot_write(
        table, spark.createDataFrame([(i,) for i in range(2)], "k long")
    )                                                          # v2
    vacuum(table, keep_last=1)

    with pytest.raises(SnapshotRetentionError) as ei:
        snapshot_changes(spark, table, 0, 1).collect()
    assert ei.value.horizon == 2  # oldest fully retained version
    assert ei.value.version == 1  # the step that needed vacuumed files
    assert "oldest fully retained version is 2" in str(ei.value)

    # within the horizon the feed still works (nothing to diff at the
    # latest version alone, but the manifests and files are live)
    assert snapshot_changes(spark, table, 2, 2).count() == 0


def test_rename_rebases_onto_disjoint_file_commit(spark, table):
    """A metadata-only RENAME losing the version race to a writer
    that did NOT change the schema (a pruned merge on other files)
    REPLAYS onto the winner instead of aborting — the winner's fresh
    files/stats are inherited and re-keyed, and both commits land."""
    import json
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
    )
    snapshot_write(
        table, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["x"],
    )                                                          # v0

    def winner(tbl):
        snap.snapshot_merge_update_pruned(
            spark, tbl,
            spark.createDataFrame([(5, -5.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"rename_column"}, winner),
    ):
        v = snap.snapshot_rename_column(table, "x", "amount")
    assert v == 2  # rename rebased onto the merge's v1
    with open(os.path.join(table, "_versions", "v00002.json")) as f:
        m2 = json.load(f)
    assert m2["rebased"] == 1 and m2["kind"] == "rename_column"
    got = snapshot_read(spark, table)
    assert got.columns == ["k", "amount"]
    vals = {r.k: r.amount for r in got.collect()}
    assert vals[5] == -5.0 and vals[7] == 7.0  # winner's merge honored
    # per-file stats re-keyed to the new name (the winner's fresh
    # file carries merge-key "k" stats; no entry keeps the old name)
    assert any("amount" in st for st in m2["stats"].values())
    assert not any("x" in st for st in m2["stats"].values())


def test_rename_racing_schema_change_conflicts(spark, table):
    """A rename racing a winner that itself CHANGED the schema (a
    widening merge) must conflict deterministically — replaying the
    rename onto a different schema is not provably safe."""
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    snapshot_write(
        table,
        spark.createDataFrame([(1, 1.0)], "k long, x double"),
    )                                                          # v0

    def winner(tbl):
        snap.snapshot_merge_update(
            spark, tbl,
            spark.createDataFrame(
                [(1, 2.0, "w")], "k long, x double, note string"
            ),
            on=["k"], update_cols=["x", "note"], evolve_schema=True,
        )

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"rename_column"}, winner),
    ):
        with pytest.raises(snap.SnapshotConflictError):
            snap.snapshot_rename_column(table, "x", "amount")
    # the winner's widening landed untouched; a retry then succeeds
    assert snapshot_read(spark, table).columns == ["k", "x", "note"]
    snap.snapshot_rename_column(table, "x", "amount")
    assert snapshot_read(spark, table).columns == ["k", "amount", "note"]


def test_last_field_id_recorded_and_read_from_parent_only(spark, table):
    """Commits record Iceberg-style ``last_field_id`` so the id floor
    is read from the PARENT manifest alone — without the full
    history re-parse that made long-lived tables quadratic. The
    retired-id floor survives drop and rollback."""
    import json
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap

    snapshot_write(
        table,
        spark.createDataFrame([(1, 1.0, "a")], "k long, x double, n string"),
    )                                                          # v0
    with open(os.path.join(table, "_versions", "v00000.json")) as f:
        assert json.load(f)["last_field_id"] == 3
    snap.snapshot_drop_column(table, "n")                      # v1
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        assert json.load(f)["last_field_id"] == 3  # retired, not reused

    # once the parent records the floor, commits never re-scan the
    # full history: _max_field_id must not be called at all
    with mock.patch.object(
        snap, "_max_field_id",
        side_effect=AssertionError("full-history scan on a recorded table"),
    ):
        snapshot_write(
            table,
            spark.createDataFrame(
                [(1, 1.0, "a", 9)], "k long, x double, n string, extra long"
            ),
        )                                                      # v2
        snap.snapshot_merge_update_pruned(
            spark, table,
            spark.createDataFrame([(1, -1.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )                                                      # v3
        rollback(table, 0)                                     # v4
    with open(os.path.join(table, "_versions", "v00002.json")) as f:
        m2 = json.load(f)
    ids2 = {
        f["name"]: f["metadata"]["parquet.field.id"]
        for f in m2["schema"]["fields"]
    }
    # the re-added name and the new column both minted FRESH ids past
    # the recorded floor (no resurrection of the dropped n)
    assert ids2["n"] > 3 and ids2["extra"] > 3 and m2["last_field_id"] == 5
    with open(os.path.join(table, "_versions", "v00003.json")) as f:
        assert json.load(f)["last_field_id"] == 5
    # a rollback to v0 must NOT lower the floor to v0's snapshot —
    # ids minted since stay retired
    with open(os.path.join(table, "_versions", "v00004.json")) as f:
        assert json.load(f)["last_field_id"] == 5


def test_replicate_applies_incrementally_not_by_rewrite(spark, table, tmp_path):
    """The replication loop's physical shape (the r9 gap): each source
    version lands as ONE cdc_apply commit — deletes as deletion
    vectors, inserts as appended files, EVERY pre-existing replica
    file inherited by reference (rewritten_files == 0 always; a
    delete-only version appends nothing). Still row-identical to the
    source and exactly-once across a replayed drain. Pins the strict
    one-commit-per-version drain (``fold_versions=1``); the r12
    default folds consecutive row-change versions — covered by
    ``test_replicate_folded_drain_matches_one_at_a_time``."""
    import json

    from exceldatatransform_py_spark.sources.snapshots import (
        last_committed_txn,
        replicate_snapshot_changes,
        snapshot_delete_dv,
        snapshot_merge_update_pruned,
        snapshot_read,
        snapshot_write,
    )

    src, dst = table, str(tmp_path / "replica")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "k long, x double"
    )
    snapshot_write(
        src, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_delete_dv(spark, src, "k", 30, 49)                # v1 delete-only
    snapshot_merge_update_pruned(
        spark, src,
        spark.createDataFrame([(7, 700.0), (500, 5.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v2 update+insert

    assert replicate_snapshot_changes(
        spark, src, dst, keys=["k"], fold_versions=1
    ) == 3
    assert _rows(snapshot_read(spark, dst)) == _rows(snapshot_read(spark, src))

    with open(os.path.join(dst, "_versions", "v00000.json")) as f:
        m0 = json.load(f)
    with open(os.path.join(dst, "_versions", "v00001.json")) as f:
        m1 = json.load(f)
    with open(os.path.join(dst, "_versions", "v00002.json")) as f:
        m2 = json.load(f)
    import exceldatatransform_py_spark.sources.snapshots as snap

    files0 = snap._manifest_files(dst, m0)
    # delete-only source version: ZERO rewrites, ZERO appends — the
    # bootstrap's files inherited by reference, deletes in a sidecar
    assert m1["kind"] == "cdc_apply"
    assert m1["pruning"]["rewritten_files"] == 0
    assert m1["pruning"]["appended_files"] == 0
    assert m1["files"] == files0  # byte-identical rel references
    assert m1["dv"] and sum(e["count"] for e in m1["dv"].values()) == 20
    # update+insert version: appended files only; every parent file
    # still inherited by reference (the update lands as DV + append)
    assert m2["pruning"]["rewritten_files"] == 0
    assert m2["pruning"]["appended_files"] >= 1
    assert set(files0) <= set(m2["files"])

    # replayed drain: ledger-cursored no-op, replica unchanged
    v_before = latest_version(dst)
    assert replicate_snapshot_changes(spark, src, dst, keys=["k"]) == 0
    assert latest_version(dst) == v_before and last_committed_txn(
        dst, "cdf-replica"
    ) == 2


def test_replicate_replays_schema_evolution(spark, table, tmp_path):
    """ADVICE r9: a source rename/drop used to yield an empty feed
    that just advanced the cursor, silently forking the renamed
    column in the replica. Schema commits now replay AS schema
    commits — renames re-key the loop's own join keys mid-drain,
    widened inserts widen the replica, and dropping a replication
    key fails fast."""
    from exceldatatransform_py_spark.sources.snapshots import (
        replicate_snapshot_changes,
        snapshot_drop_column,
        snapshot_merge_update,
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    src, dst = table, str(tmp_path / "replica")
    snapshot_write(
        src,
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "k long, x double"
        ),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_rename_column(src, "x", "amount")                 # v1
    snapshot_merge_update(
        spark, src,
        spark.createDataFrame([(3, -3.0), (100, 1.0)], "k long, amount double"),
        on=["k"], update_cols=["amount"], when_not_matched_insert=True,
    )                                                          # v2
    snapshot_merge_update(
        spark, src,
        spark.createDataFrame(
            [(5, -5.0, "w")], "k long, amount double, note string"
        ),
        on=["k"], update_cols=["amount", "note"], evolve_schema=True,
    )                                                          # v3 widen
    snapshot_rename_column(src, "k", "id")                     # v4 KEY rename
    snapshot_merge_update(
        spark, src,
        spark.createDataFrame(
            [(7, 77.0, None)], "id long, amount double, note string"
        ),
        on=["id"], update_cols=["amount"],
    )                                                          # v5

    assert replicate_snapshot_changes(spark, src, dst, keys=["k"]) == 6
    got, want = snapshot_read(spark, dst), snapshot_read(spark, src)
    assert got.columns == want.columns == ["id", "amount", "note"]
    assert _rows(got) == _rows(want)

    # resumed drain re-derives the key epoch from pre-cursor renames
    snapshot_drop_column(src, "note")                          # v6
    snapshot_merge_update(
        spark, src,
        spark.createDataFrame([(9, 99.0)], "id long, amount double"),
        on=["id"], update_cols=["amount"],
    )                                                          # v7
    assert replicate_snapshot_changes(spark, src, dst, keys=["k"]) == 2
    got, want = snapshot_read(spark, dst), snapshot_read(spark, src)
    assert got.columns == want.columns == ["id", "amount"]
    assert _rows(got) == _rows(want)

    # dropping a replication key fails fast with a clear error
    snapshot_drop_column(src, "id")                            # v8
    with pytest.raises(ValueError, match="replication key"):
        replicate_snapshot_changes(spark, src, dst, keys=["k"])


def test_replicate_rollback_same_schema_ok_reverting_schema_fails(
    spark, table, tmp_path
):
    """Replication across a ROLLBACK: a data-only rollback (schema
    unchanged) replays as an ordinary row diff; a rollback that
    REVERTS schema evolution fails fast — replaying it as a row diff
    would fork columns exactly like the pre-r10 rename bug."""
    from exceldatatransform_py_spark.sources.snapshots import (
        replicate_snapshot_changes,
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    src, dst = table, str(tmp_path / "replica")
    snapshot_write(
        src,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, x double"
        ),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_write(
        src,
        spark.createDataFrame([(1, -1.0), (2, -2.0)], "k long, x double"),
    )                                                          # v1
    rollback(src, 0)                                           # v2 (data-only)
    assert replicate_snapshot_changes(spark, src, dst, keys=["k"]) == 3
    assert _rows(snapshot_read(spark, dst)) == _rows(snapshot_read(spark, src))

    snapshot_rename_column(src, "x", "amount")                 # v3
    rollback(src, 2)                                           # v4 REVERTS rename
    with pytest.raises(ValueError, match="re-bootstrap"):
        replicate_snapshot_changes(spark, src, dst, keys=["k"])


def test_set_constraints_metadata_only_and_enforced(spark, table):
    """ALTER TABLE ADD/DROP CONSTRAINT as a metadata-only commit: the
    new set validates existing rows with one scan and rewrites ZERO
    files (the old path was a full snapshot_write re-commit); later
    commits enforce it; a violating ADD is rejected with the table
    untouched; {} drops the set; and a pruned merge racing a
    constraint change conflicts deterministically (its rows were
    never validated against the new rules)."""
    import json
    from unittest import mock

    import exceldatatransform_py_spark.sources.snapshots as snap
    from exceldatatransform_py_spark.sources.snapshots import (
        SnapshotConstraintError,
        snapshot_merge_update_pruned,
        snapshot_set_constraints,
    )

    snapshot_write(
        table,
        spark.createDataFrame(
            [(i, float(i + 1)) for i in range(50)], "k long, x double"
        ),
        stats_cols=["k"],
    )                                                          # v0
    v = snapshot_set_constraints(spark, table, {"pos": "x > 0"})   # v1
    assert v == 1
    with open(os.path.join(table, "_versions", "v00001.json")) as f:
        m1 = json.load(f)
    with open(os.path.join(table, "_versions", "v00000.json")) as f:
        m0 = json.load(f)
    assert snap._manifest_files(table, m1) == snap._manifest_files(
        table, m0
    )  # zero bytes rewritten
    assert m1["constraints"] == {"pos": "x > 0"}

    # later commits enforce the new set
    with pytest.raises(SnapshotConstraintError):
        snapshot_merge_update_pruned(
            spark, table,
            spark.createDataFrame([(3, -1.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )
    # a violating ADD is rejected BEFORE any commit
    with pytest.raises(SnapshotConstraintError):
        snapshot_set_constraints(spark, table, {"big": "x > 100"})
    assert latest_version(table) == 1

    # {} drops the set; the violating merge then lands
    snapshot_set_constraints(spark, table, {})                 # v2
    snapshot_merge_update_pruned(
        spark, table,
        spark.createDataFrame([(3, -1.0)], "k long, x double"),
        on=["k"], update_cols=["x"],
    )                                                          # v3
    assert {r.k: r.x for r in snapshot_read(spark, table).collect()}[3] == -1.0

    # race: a pruned merge losing to a concurrent constraint change
    # must conflict (no blind rebase over a new rule set)
    def winner(tbl):
        snapshot_set_constraints(spark, tbl, {"pos2": "x > -100"})

    with mock.patch.object(
        snap, "_publish",
        side_effect=_race_once(snap, {"merge_update_pruned"}, winner),
    ):
        with pytest.raises(snap.SnapshotConflictError):
            snapshot_merge_update_pruned(
                spark, table,
                spark.createDataFrame([(4, 40.0)], "k long, x double"),
                on=["k"], update_cols=["x"],
            )


def test_replicate_replays_set_constraints(spark, table, tmp_path):
    """A source ADD CONSTRAINT replays on the replica as the same
    metadata-only commit (validation skipped — rows are identical),
    so the replica ENFORCES what the source enforces."""
    from exceldatatransform_py_spark.sources.snapshots import (
        SnapshotConstraintError,
        replicate_snapshot_changes,
        snapshot_merge_update,
        snapshot_read,
        snapshot_set_constraints,
        snapshot_write,
    )

    src, dst = table, str(tmp_path / "replica")
    snapshot_write(
        src,
        spark.createDataFrame(
            [(i, float(i + 1)) for i in range(20)], "k long, x double"
        ),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_set_constraints(spark, src, {"pos": "x > 0"})     # v1
    snapshot_merge_update(
        spark, src,
        spark.createDataFrame([(3, 33.0)], "k long, x double"),
        on=["k"], update_cols=["x"],
    )                                                          # v2
    assert replicate_snapshot_changes(spark, src, dst, keys=["k"]) == 3
    assert _rows(snapshot_read(spark, dst)) == _rows(snapshot_read(spark, src))
    # the replayed constraint is LIVE on the replica
    with pytest.raises(SnapshotConstraintError):
        snapshot_merge_update(
            spark, dst,
            spark.createDataFrame([(5, -5.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )


def test_replicate_bootstrap_carries_v0_constraints(spark, table, tmp_path):
    """Bootstrapping a replica from source v0 carries v0's CHECK
    constraints into the replica's first manifest — without this the
    replica lacks enforcement until a later set_constraints commit
    happens to replay."""
    from exceldatatransform_py_spark.sources.snapshots import (
        SnapshotConstraintError,
        _latest_manifest,
        replicate_snapshot_changes,
    )
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_write as sw,
    )

    src, dst = table, str(tmp_path / "replica")
    sw(
        src,
        spark.createDataFrame(
            [(i, float(i + 1)) for i in range(10)], "k long, x double"
        ),
        stats_cols=["k"],
        constraints={"pos": "x > 0"},
    )                                                          # v0
    assert replicate_snapshot_changes(spark, src, dst, keys=["k"]) == 1
    assert _latest_manifest(dst)["constraints"] == {"pos": "x > 0"}
    # and it is LIVE on the replica
    with pytest.raises(SnapshotConstraintError):
        snapshot_merge_update(
            spark, dst,
            spark.createDataFrame([(3, -1.0)], "k long, x double"),
            on=["k"], update_cols=["x"],
        )


def test_replicate_bootstrap_vacuumed_v0_raises_retention(
    spark, table, tmp_path
):
    """Bootstrapping from a source whose v0 data was vacuumed raises
    the typed SnapshotRetentionError, not a raw file-not-found from
    the parquet scan."""
    from exceldatatransform_py_spark.sources.snapshot_common import (
        SnapshotRetentionError,
    )
    from exceldatatransform_py_spark.sources.snapshots import (
        replicate_snapshot_changes,
    )

    src, dst = table, str(tmp_path / "replica")
    for n in (8, 4, 2):
        snapshot_write(
            src,
            spark.createDataFrame([(i,) for i in range(n)], "k long")
            .coalesce(1),
            stats_cols=["k"],
        )                                                      # v0..v2
    vacuum(src, keep_last=1)
    with pytest.raises(SnapshotRetentionError):
        replicate_snapshot_changes(spark, src, dst, keys=["k"])


def test_metadata_commit_same_txn_race_returns_winner(spark, table):
    """Two concurrent replays of the SAME (app, batch) rename both
    pass the upfront ledger check; the loser's publish conflicts and
    rebase_ok fails (the winner changed the schema) — the loser must
    recognize the txn already landed and return the winner's version
    instead of raising SnapshotConflictError."""
    from exceldatatransform_py_spark.sources import snapshots as snap

    snapshot_write(
        table,
        spark.createDataFrame([(1, 2.0)], "a long, x double"),
        stats_cols=["a"],
    )                                                          # v0
    stale = snap._latest_manifest(table)
    winner = snap.snapshot_rename_column(table, "a", "b", txn=("app", 7))

    def mutate(manifest):
        for f in manifest["schema"]["fields"]:
            if f["name"] == "a":
                f["name"] = "b"
        manifest["rename"] = {"from": "a", "to": "b"}

    # the loser built against the pre-winner parent
    v = snap._metadata_commit(
        table, stale, mutate, "rename_column", ("app", 7),
        rebase=True, max_rebase=5,
    )
    assert v == winner == latest_version(table)


def test_set_constraints_same_txn_race_returns_winner(
    spark, table, monkeypatch
):
    """Same-txn race on ALTER CONSTRAINT: the loser that read state
    before the winner landed must return the winner's version, not
    raise, once the ledger shows the txn applied."""
    from exceldatatransform_py_spark.sources import snapshots as snap

    snapshot_write(
        table,
        spark.createDataFrame([(1, 2.0)], "k long, x double"),
        stats_cols=["k"],
    )                                                          # v0
    stale = snap._latest_manifest(table)
    winner = snap.snapshot_set_constraints(
        spark, table, {"pos": "x > 0"}, txn=("a", 2)
    )

    # loser: pretend both the ledger check and the latest read
    # happened before the winner published
    real_txn, real_latest = snap._txn_already_applied, snap._latest_manifest
    calls = {"txn": 0, "latest": 0}

    def fake_txn(t, txn):
        calls["txn"] += 1
        return None if calls["txn"] == 1 else real_txn(t, txn)

    def fake_latest(t):
        calls["latest"] += 1
        return stale if calls["latest"] == 1 else real_latest(t)

    monkeypatch.setattr(snap, "_txn_already_applied", fake_txn)
    monkeypatch.setattr(snap, "_latest_manifest", fake_latest)
    v = snap.snapshot_set_constraints(
        spark, table, {"pos": "x > 0"}, txn=("a", 2), max_retries=0
    )
    assert v == winner == latest_version(table)


def test_apply_cdc_multikey_pruning_intersects_exclusions(spark, table):
    """Composite-key delete-side pruning: a file the FIRST key's stats
    cannot exclude but the SECOND key's stats can must not be scanned
    — exclusions intersect across all keys with cached stats."""
    from exceldatatransform_py_spark.sources import snapshots as snap

    # two files: k1 overlaps everywhere, k2 ranges are disjoint
    df = spark.createDataFrame(
        [(i % 10, i, float(i)) for i in range(20)]
        + [(i % 10, 100 + i, float(i)) for i in range(20)],
        "k1 long, k2 long, x double",
    ).repartitionByRange(2, "k2")
    snap.snapshot_write(table, df, stats_cols=["k1", "k2"])       # v0
    m0 = snap._latest_manifest(table)
    files = snap._manifest_files(table, m0)
    assert len(files) == 2
    # both files hold k1 = 5; only the low-range file holds k2 = 5
    dels = spark.createDataFrame([(5, 5)], "k1 long, k2 long")
    v = snap._apply_cdc_version(
        spark, table, dels, None, ["k1", "k2"], ("app", 1)
    )
    m = snap._latest_manifest(table)
    assert m["version"] == v
    # single-key (k1) pruning would scan BOTH files; k2 excludes one
    assert m["pruning"]["scanned_files"] == 1
    assert m["pruning"]["cols"] == ["k1", "k2"]
    assert m["pruning"]["rewritten_files"] == 0
    got = _rows(snap.snapshot_read(spark, table))
    want = _rows(df.filter("NOT (k1 = 5 AND k2 = 5)"))
    assert got == want


def test_apply_cdc_retries_past_concurrent_replica_writer(
    spark, table, tmp_path, monkeypatch
):
    """VERDICT r10 #2: a local append racing the drain's cdc_apply
    publish must NOT abort the drain — the apply retries from the new
    latest; both commits land, replica ≡ source (plus the local row),
    and the ledger advances exactly once per version."""
    from exceldatatransform_py_spark.sources import snapshots as snap

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snap.snapshot_write(
        src,
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "k long, x double"
        ),
        stats_cols=["k"],
    )                                                          # src v0
    snap.snapshot_delete_dv(spark, src, "k", 3, 3)             # src v1
    # bootstrap the replica up to v0 only
    assert snap.replicate_snapshot_changes(
        spark, src, dst, keys=["k"], max_versions=1
    ) == 1

    # inject a concurrent local append on the REPLICA right before
    # the drain's first cdc_apply publish
    real_publish = snap._publish
    state = {"raced": False}

    def racing_publish(t, manifest):
        if (
            t == dst
            and manifest.get("kind") == "cdc_apply"
            and not state["raced"]
        ):
            state["raced"] = True
            snap.snapshot_merge_update_pruned(
                spark, dst,
                spark.createDataFrame(
                    [(999, 9.9)], "k long, x double"
                ),
                on=["k"], update_cols=["x"],
                when_not_matched_insert=True,
            )
        return real_publish(t, manifest)

    monkeypatch.setattr(snap, "_publish", racing_publish)
    assert snap.replicate_snapshot_changes(spark, src, dst, keys=["k"]) == 1
    monkeypatch.undo()

    assert state["raced"]
    got = _rows(snap.snapshot_read(spark, dst))
    want = _rows(
        snap.snapshot_read(spark, src).unionByName(
            spark.createDataFrame([(999, 9.9)], "k long, x double")
        )
    )
    assert got == want
    # ledger advanced exactly once for src v1
    entries = [
        m["txn"]["batch"]
        for m in snap._manifests(dst)
        if m.get("txn", {}).get("app") == "cdf-replica"
    ]
    assert sorted(entries) == [0, 1]


def test_replicate_folded_drain_matches_one_at_a_time(
    spark, table, tmp_path
):
    """VERDICT r10 #3: ``fold_versions=N`` drains a long backlog of
    row-change versions in a handful of cdc_apply commits, lands the
    exact same final state as the one-at-a-time drain, sequences
    delete-after-insert correctly, stops folds at schema commits, and
    resumes from the ledger after a crash between folds."""
    from exceldatatransform_py_spark.sources import snapshots as snap

    src = table
    dst_fold = str(tmp_path / "replica_fold")
    dst_one = str(tmp_path / "replica_one")
    snap.snapshot_write(
        src,
        spark.createDataFrame(
            [(i, float(i)) for i in range(30)], "k long, x double"
        ),
        stats_cols=["k"],
    )                                                          # v0
    # 20 row-change versions: updates, fresh inserts, deletes —
    # including insert-then-later-delete (k=100+i deleted 3 versions
    # later) and update-then-update on the same key
    for i in range(20):
        if i % 4 == 0:
            snap.snapshot_merge_update_pruned(
                spark, src,
                spark.createDataFrame(
                    [(i % 7, float(1000 + i))], "k long, x double"
                ),
                on=["k"], update_cols=["x"],
            )
        elif i % 4 == 1:
            snap.snapshot_merge_update_pruned(
                spark, src,
                spark.createDataFrame(
                    [(100 + i, float(i))], "k long, x double"
                ),
                on=["k"], update_cols=["x"],
                when_not_matched_insert=True,
            )
        elif i % 4 == 2:
            snap.snapshot_delete_dv(spark, src, "k", 20 + i, 20 + i)
        else:
            # delete the key inserted 2 versions ago
            snap.snapshot_delete_dv(spark, src, "k", 100 + i - 2, 100 + i - 2)

    # one-at-a-time reference replica (explicit: folding is the
    # default since r12)
    snap.replicate_snapshot_changes(
        spark, src, dst_one, keys=["k"], fold_versions=1
    )
    # folded drain, crash-interrupted after the first fold
    n1 = snap.replicate_snapshot_changes(
        spark, src, dst_fold, keys=["k"], fold_versions=8, max_versions=9
    )
    assert n1 == 9  # bootstrap + one 8-version fold
    n2 = snap.replicate_snapshot_changes(
        spark, src, dst_fold, keys=["k"], fold_versions=8
    )
    assert n1 + n2 == 21  # bootstrap + all 20 source versions
    assert _rows(snap.snapshot_read(spark, dst_fold)) == _rows(
        snap.snapshot_read(spark, src)
    )
    assert _rows(snap.snapshot_read(spark, dst_fold)) == _rows(
        snap.snapshot_read(spark, dst_one)
    )
    # 20 versions in <= 3 cdc_apply commits
    cdc = [
        m for m in snap._manifests(dst_fold)
        if m.get("kind") == "cdc_apply"
    ]
    assert len(cdc) <= 3
    # ledger cursor is the last folded version
    assert snap.last_committed_txn(dst_fold, "cdf-replica") == 20


def test_replicate_fold_stops_at_schema_commit(spark, table, tmp_path):
    """A fold window must end BEFORE a rename/drop/constraint commit —
    the schema commit replays individually and the drain continues
    folding after it."""
    from exceldatatransform_py_spark.sources import snapshots as snap

    src, dst = table, str(tmp_path / "replica")
    snap.snapshot_write(
        src,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, x double"
        ),
        stats_cols=["k"],
    )                                                          # v0
    for i in range(3):                                         # v1..v3
        snap.snapshot_merge_update_pruned(
            spark, src,
            spark.createDataFrame([(i, float(50 + i))], "k long, x double"),
            on=["k"], update_cols=["x"],
        )
    snap.snapshot_rename_column(src, "x", "amount")            # v4
    for i in range(3):                                         # v5..v7
        snap.snapshot_merge_update_pruned(
            spark, src,
            spark.createDataFrame(
                [(i, float(70 + i))], "k long, amount double"
            ),
            on=["k"], update_cols=["amount"],
        )
    assert snap.replicate_snapshot_changes(
        spark, src, dst, keys=["k"], fold_versions=100
    ) == 8
    assert _rows(snap.snapshot_read(spark, dst)) == _rows(
        snap.snapshot_read(spark, src)
    )
    kinds = [m["kind"] for m in snap._manifests(dst)]
    # bootstrap + fold(v1-3) + rename + fold(v5-7)
    assert kinds == ["overwrite", "cdc_apply", "rename_column", "cdc_apply"]


def test_replicate_fold_stops_at_schema_widening_merge(spark, table, tmp_path):
    """A widening merge (a row-change kind whose schema signature
    differs) ends the fold window before it and starts the next one:
    the first window's cdc_apply keeps the old column set, the second
    starts at the widening version and carries the new column, and
    the replica equals the source."""
    from exceldatatransform_py_spark.sources import snapshots as snap

    src, dst = table, str(tmp_path / "replica")
    snap.snapshot_write(
        src,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, x double"
        ),
        stats_cols=["k"],
    )                                                          # v0
    for i in range(2):                                         # v1..v2
        snap.snapshot_merge_update_pruned(
            spark, src,
            spark.createDataFrame([(i, float(50 + i))], "k long, x double"),
            on=["k"], update_cols=["x"],
        )
    snapshot_merge_update(                                     # v3
        spark, src,
        spark.createDataFrame(
            [(3, -3.0, "w")], "k long, x double, note string"
        ),
        on=["k"], update_cols=["x", "note"], evolve_schema=True,
    )
    for i in range(2):                                         # v4..v5
        snap.snapshot_merge_update_pruned(
            spark, src,
            spark.createDataFrame(
                [(5 + i, float(70 + i), "n")],
                "k long, x double, note string",
            ),
            on=["k"], update_cols=["x", "note"],
        )
    assert snap.replicate_snapshot_changes(
        spark, src, dst, keys=["k"], fold_versions=100
    ) == 6
    cdc = [m for m in snap._manifests(dst) if m["kind"] == "cdc_apply"]
    assert [m["txn"]["batch"] for m in cdc] == [2, 5]
    cols = [[f["name"] for f in m["schema"]["fields"]] for m in cdc]
    assert cols == [["k", "x"], ["k", "x", "note"]]
    assert _rows(snap.snapshot_read(spark, dst)) == _rows(
        snap.snapshot_read(spark, src)
    )


def test_snapshot_history_after_vacuum_lists_every_version(spark, table):
    """Every version lists its files in its manifest, so the audit log
    reports every version's file count after vacuum has removed the
    older data directories."""
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_history,
    )

    for n in (1, 2, 3):
        snapshot_write(table, spark.range(30).repartition(n))
    assert vacuum(table, keep_last=1) == [0, 1]
    assert [d[:6] for d in _data_dirs(table)] == ["d00002"]
    hist = snapshot_history(table)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["n_files"] for h in hist] == [1, 2, 3]
