"""Custom connector (Python Data Source API): the 'workbook directory'
source must expose one input partition per sheet, carry sheet lineage
on every row, and compose with from_csv for downstream typing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from exceldatatransform_py_spark.sources.pysource import register


@pytest.fixture()
def sheet_dir(tmp_path):
    d = str(tmp_path / "sheets")
    os.makedirs(d)
    for name, rows in [
        ("Foglio1", ["a,b", "1,2", "3,4"]),
        ("C300", ["a,b", "5,6"]),
        ("Empty", ["a,b"]),
    ]:
        with open(os.path.join(d, f"{name}.csv"), "w", encoding="utf-8") as f:
            f.write("\n".join(rows) + "\n")
    return d


def test_sheetdir_source_partitions_and_lineage(spark, sheet_dir):
    register(spark)
    df = spark.read.format("sheetdir").option("path", sheet_dir).load()
    # one partition per sheet — a 10k-sheet workbook ingests 10k-wide.
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert {(r["sheet"], r["line"]) for r in rows} == {
        ("Foglio1", "1,2"), ("Foglio1", "3,4"), ("C300", "5,6"),
    }
    # header rows skipped; the empty sheet contributes zero rows.
    assert all(r["line_no"] >= 1 for r in rows)


def test_sheetdir_composes_with_from_csv(spark, sheet_dir):
    register(spark)
    parsed = (
        spark.read.format("sheetdir").option("path", sheet_dir).load()
        .select("sheet", F.from_csv("line", "a int, b int").alias("r"))
        .select("sheet", "r.*")
    )
    got = {(r["sheet"], r["a"], r["b"]) for r in parsed.collect()}
    assert got == {("Foglio1", 1, 2), ("Foglio1", 3, 4), ("C300", 5, 6)}


def test_sheetdir_requires_path(spark):
    register(spark)
    with pytest.raises(Exception, match="path"):
        spark.read.format("sheetdir").load().collect()


def test_sheetdir_streams_new_sheets_as_microbatches(spark, sheet_dir):
    """Sheets dropped after the stream starts must arrive in later
    micro-batches; nothing is re-emitted (offset = seen-file list)."""
    import tempfile, shutil

    register(spark)
    ckpt = tempfile.mkdtemp(prefix="sheetdir_ckpt_")
    try:
        q = (
            spark.readStream.format("sheetdir").option("path", sheet_dir).load()
            .writeStream.format("memory")
            .queryName("sheet_stream")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            first = spark.sql("SELECT * FROM sheet_stream").count()
            assert first == 3  # Foglio1 x2 + C300 x1

            with open(os.path.join(sheet_dir, "Late.csv"), "w") as f:
                f.write("a,b\n7,8\n9,10\n")
            q.processAllAvailable()
            rows = spark.sql("SELECT sheet, line FROM sheet_stream").collect()
            assert len(rows) == 5  # no re-emission of the first batch
            assert {(r["sheet"], r["line"]) for r in rows if r["sheet"] == "Late"} == {
                ("Late", "7,8"), ("Late", "9,10"),
            }
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_sheetdir_writer_sheet_per_key_commit(spark, tmp_path):
    """Custom sink: one CSV per sheet key, published only at driver
    commit (two-phase protocol — no partial sheets from failed
    tasks; staging dir gone after commit)."""
    out = str(tmp_path / "book_out")
    os.makedirs(out)
    register(spark)
    df = spark.createDataFrame(
        [("rossi", "1,2"), ("rossi", "3,4"), ("bianchi", "5,6")],
        "sheet string, line string",
    ).repartition(2, "sheet")
    df.write.format("sheetdir").option("path", out).mode("append").save()

    files = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    assert files == ["bianchi.csv", "rossi.csv"]
    assert not os.path.exists(os.path.join(out, "_staging"))
    with open(os.path.join(out, "rossi.csv")) as f:
        assert sorted(f.read().splitlines()) == ["1,2", "3,4"]
    # round-trip through the batch reader of the same connector.
    back = (
        spark.read.format("sheetdir").option("path", out)
        .option("header", "false").load()
    )
    assert back.count() == 3


def test_sheetdir_writer_merges_multitask_sheets(spark, tmp_path):
    """A sheet whose rows land in MULTIPLE tasks (caller didn't
    repartition by sheet) must still publish every row — commit merges
    the staged fragments instead of last-write-wins."""
    out = str(tmp_path / "book_multi")
    os.makedirs(out)
    register(spark)
    lines = [("rossi", f"{i},{i}") for i in range(8)]
    # round-robin over 4 partitions: every task holds rossi rows.
    df = spark.createDataFrame(lines, "sheet string, line string").repartition(4)
    df.write.format("sheetdir").option("path", out).mode("append").save()
    with open(os.path.join(out, "rossi.csv")) as f:
        got = sorted(f.read().splitlines())
    assert got == sorted(line for _, line in lines)


def test_sheetdir_writer_overwrite_clears_stale_sheets(spark, tmp_path):
    """mode('overwrite') replaces the directory's sheet set; append
    keeps pre-existing sheets."""
    out = str(tmp_path / "book_ow")
    os.makedirs(out)
    with open(os.path.join(out, "stale.csv"), "w") as f:
        f.write("9,9\n")
    register(spark)
    df = spark.createDataFrame([("fresh", "1,1")], "sheet string, line string")
    df.write.format("sheetdir").option("path", out).mode("overwrite").save()
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "fresh.csv"
    ]
    df2 = spark.createDataFrame([("more", "2,2")], "sheet string, line string")
    df2.write.format("sheetdir").option("path", out).mode("append").save()
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "fresh.csv", "more.csv",
    ]


def test_sheetdir_stream_picks_up_appended_rows(spark, sheet_dir):
    """Bytes appended to an already-emitted sheet arrive as a later
    micro-batch (offset records (name, size), not just name)."""
    import tempfile, shutil

    register(spark)
    ckpt = tempfile.mkdtemp(prefix="sheetdir_append_ckpt_")
    try:
        q = (
            spark.readStream.format("sheetdir").option("path", sheet_dir).load()
            .writeStream.format("memory")
            .queryName("sheet_stream_append")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.sql("SELECT * FROM sheet_stream_append").count() == 3

            with open(os.path.join(sheet_dir, "C300.csv"), "a") as f:
                f.write("7,8\n")
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT sheet, line FROM sheet_stream_append"
            ).collect()
            assert len(rows) == 4  # exactly the appended row, no re-emit
            assert {(r["sheet"], r["line"]) for r in rows if r["sheet"] == "C300"} == {
                ("C300", "5,6"), ("C300", "7,8"),
            }
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


# ---------------------------------------------------------------------------
# Offset-protocol unit tests (no Spark needed): the stream reader's
# exactly-once contract under legacy offsets, partial writes, and
# multi-task merge ordering (ADVICE round-3 findings).
# ---------------------------------------------------------------------------


def _mk_stream_reader(d):
    from exceldatatransform_py_spark.sources.pysource import SheetDirStreamReader

    return SheetDirStreamReader({"path": str(d)})


def test_stream_replay_of_legacy_offset_emits_nothing(tmp_path):
    """A pre-upgrade checkpoint recorded files as bare names (no byte
    size). Crash-recovery replay between two such offsets must treat
    the file as fully emitted — NOT re-emit every row from byte 0,
    which would duplicate data and break exactly-once."""
    import os

    d = tmp_path / "legacy"
    os.makedirs(d)
    with open(d / "Foglio1.csv", "w") as f:
        f.write("a,b\n1,2\n3,4\n")
    r = _mk_stream_reader(d)
    legacy_start = {"seen": ["Foglio1.csv"]}
    # live read() from the legacy offset emits nothing (file unchanged)
    rows, end = r.read(legacy_start)
    assert list(rows) == []
    # replay of the SAME range must agree with the live read: nothing.
    assert list(r.readBetweenOffsets(legacy_start, end)) == []
    # a file that appeared after the legacy offset still replays fully.
    with open(d / "New.csv", "w") as f:
        f.write("a,b\n9,9\n")
    rows2, end2 = r.read(end)
    live = sorted(list(rows2))
    assert [x[0] for x in live] == ["New"]
    assert sorted(r.readBetweenOffsets(end, end2)) == live


def test_stream_partial_trailing_line_is_never_torn(tmp_path):
    """A file whose writer has appended a partial line (no trailing
    newline yet) must NOT have the fragment emitted as a truncated row;
    the offset stops at the last complete line and the finished line
    arrives whole in a later batch."""
    import os

    d = tmp_path / "torn"
    os.makedirs(d)
    with open(d / "S.csv", "w") as f:
        f.write("a,b\n1,2\n34")  # "34" is half of "34,99"
    r = _mk_stream_reader(d)
    rows, end = r.read(r.initialOffset())
    assert [x[2] for x in sorted(rows)] == ["1,2"]  # no torn "34" row
    # writer finishes the line
    with open(d / "S.csv", "a") as f:
        f.write(",99\n5,6\n")
    rows2, end2 = r.read(end)
    got = [x[2] for x in sorted(rows2)]
    assert got == ["34,99", "5,6"]  # whole line, exactly once
    # replay of each committed range reproduces it exactly
    assert [x[2] for x in sorted(r.readBetweenOffsets(end, end2))] == got


def test_sheetdir_writer_merge_order_is_partition_order(spark, tmp_path):
    """Multi-task fragments of one sheet must merge in PARTITION order
    (deterministic across runs/retries), not in random-uuid filename
    order."""
    import os

    from exceldatatransform_py_spark.sources.pysource import register

    out = str(tmp_path / "book_order")
    os.makedirs(out)
    register(spark)
    # sc.parallelize with explicit slices: partition i holds chunk i,
    # so the expected merged order is exactly the input order.
    lines = [("s", f"row{i:02d}") for i in range(8)]
    rdd = spark.sparkContext.parallelize(lines, 4)
    df = spark.createDataFrame(rdd, "sheet string, line string")
    assert df.rdd.getNumPartitions() == 4
    df.write.format("sheetdir").option("path", out).mode("append").save()
    with open(os.path.join(out, "s.csv")) as f:
        assert f.read().splitlines() == [line for _, line in lines]


def test_stream_quiescent_unterminated_tail_emits_once(tmp_path):
    """A file whose FINAL row legitimately lacks a trailing newline:
    the tail is held back while the file may still be mid-append, then
    emitted exactly once after the size is unchanged for
    tailQuiesceTriggers consecutive polls — so batch and stream agree
    on unterminated CSVs instead of the stream losing the last row."""
    import os

    d = tmp_path / "quiesce"
    os.makedirs(d)
    with open(d / "S.csv", "w") as f:
        f.write("a,b\n1,2\n3,4")  # final row, no trailing newline
    r = _mk_stream_reader(d)
    rows1, o1 = r.read(r.initialOffset())
    assert [x[2] for x in sorted(rows1)] == ["1,2"]  # tail held (poll 1)
    rows2, o2 = r.read(o1)
    assert [x[2] for x in sorted(rows2)] == ["3,4"]  # quiescent → emitted
    rows3, o3 = r.read(o2)
    assert list(rows3) == []  # exactly once
    # replay of the committed ranges reproduces the same split
    assert [x[2] for x in sorted(r.readBetweenOffsets(o1, o2))] == ["3,4"]
    # a LATER append after the tail was emitted arrives as new rows;
    # the newline that merely terminates the already-emitted tail
    # does not produce a spurious empty row.
    with open(d / "S.csv", "a") as f:
        f.write("\n5,6\n")
    rows4, _ = r.read(o3)
    assert [x[2] for x in sorted(rows4)] == ["5,6"]


def test_stream_post_quiescence_growth_is_not_lost(tmp_path):
    """Bytes appended to a line AFTER its unterminated tail was
    emitted by the quiescence rule must not vanish: the continuation
    bytes arrive as their own row (a fragment — the documented
    split-row failure mode) instead of being silently skipped as
    'emitted by an earlier batch'."""
    import os

    d = tmp_path / "resume"
    os.makedirs(d)
    with open(d / "S.csv", "w") as f:
        f.write("a,b\n1,2\n3,4")  # final row, no trailing newline
    r = _mk_stream_reader(d)
    rows1, o1 = r.read(r.initialOffset())
    assert [x[2] for x in sorted(rows1)] == ["1,2"]
    rows2, o2 = r.read(o1)
    assert [x[2] for x in sorted(rows2)] == ["3,4"]  # quiescent → emitted
    # the writer was merely paused mid-row: it resumes the SAME line
    with open(d / "S.csv", "a") as f:
        f.write("5,6\n7,8\n")  # line is now "3,45,6"
    rows3, o3 = r.read(o2)
    got = [x[2] for x in sorted(rows3)]
    assert got == ["5,6", "7,8"]  # continuation surfaced, nothing lost
    # replay of the committed range reproduces the same rows
    assert [x[2] for x in sorted(r.readBetweenOffsets(o2, o3))] == got


def test_stream_continuation_fragment_keys_and_header(tmp_path):
    """Continuation fragments must not collide with already-emitted
    rows on (sheet, line_no) — they carry a NEGATIVE line_no unique
    per fragment — and a HEADER line that grows after being consumed
    stays skipped under header=true instead of leaking a fragment."""
    import os

    d = tmp_path / "fragkeys"
    os.makedirs(d)
    with open(d / "S.csv", "w") as f:
        f.write("a,b\n1,2\n3,4")  # unterminated data tail
    r = _mk_stream_reader(d)
    rows1, o1 = r.read(r.initialOffset())
    rows2, o2 = r.read(o1)  # quiescence emits ("S", 2, "3,4")
    head_keys = {(x[0], x[1]) for x in [*rows1, *rows2]}
    with open(d / "S.csv", "a") as f:
        f.write("5,6\n")  # resumes line 2: now "3,45,6"
    rows3, o3 = r.read(o2)
    frags = [x for x in rows3 if x[2] == "5,6"]
    assert len(frags) == 1
    assert frags[0][1] < 0  # flagged as a fragment
    assert (frags[0][0], frags[0][1]) not in head_keys  # no key collision

    # header growth: a file whose ONLY line is the header, emitted via
    # quiescence, then grown — the header fragment must NOT appear.
    d2 = tmp_path / "fraghdr"
    os.makedirs(d2)
    with open(d2 / "H.csv", "w") as f:
        f.write("a,b")  # header only, unterminated
    r2 = _mk_stream_reader(d2)
    _, p1 = r2.read(r2.initialOffset())
    rows_h, p2 = r2.read(p1)  # quiescent: header consumed (skipped)
    assert list(rows_h) == []
    with open(d2 / "H.csv", "a") as f:
        f.write(",c\n9,8\n")  # header grew to "a,b,c"; one data row
    rows_h2, _ = r2.read(p2)
    got = [(x[1], x[2]) for x in sorted(rows_h2)]
    assert got == [(1, "9,8")]  # header fragment ",c" suppressed


def test_stream_growing_tail_resets_quiescence(tmp_path):
    """A tail that keeps growing (writer mid-append) is never emitted:
    each size change resets the stability counter."""
    import os

    d = tmp_path / "grow"
    os.makedirs(d)
    with open(d / "S.csv", "w") as f:
        f.write("a,b\n1,2\n3")
    r = _mk_stream_reader(d)
    rows1, o1 = r.read(r.initialOffset())
    assert [x[2] for x in sorted(rows1)] == ["1,2"]
    with open(d / "S.csv", "a") as f:
        f.write("4")  # tail grows: 3 → 34
    rows2, o2 = r.read(o1)
    assert list(rows2) == []  # counter reset, still held
    with open(d / "S.csv", "a") as f:
        f.write(",99\n")  # writer completes the line
    rows3, _ = r.read(o2)
    assert [x[2] for x in sorted(rows3)] == ["34,99"]


def test_last_newline_backward_block_scan(tmp_path):
    """The newline locator reads bounded blocks from the END of the
    delta, not the whole delta: correct across block boundaries."""
    from exceldatatransform_py_spark.sources.pysource import (
        SheetDirStreamReader,
    )

    p = tmp_path / "big.csv"
    data = b"x" * 100_000 + b"\n" + b"y" * 50_000  # newline at 100000
    p.write_bytes(data)
    f = SheetDirStreamReader._last_newline
    assert f(str(p), 0, len(data), block=4096) == 100_000
    assert f(str(p), 0, 99_999, block=4096) == -1
    assert f(str(p), 100_001, len(data), block=4096) == -1
    assert f(str(p), 0, len(data)) == 100_000


def test_snapshot_cdf_streams_commits_as_microbatches(spark, tmp_path):
    """The change feed as a streaming source: commits landing after
    the stream starts arrive as later micro-batches with version
    offsets; a DV delete arrives as merge-on-read delete rows; a
    layout-only compact emits nothing; nothing is re-emitted."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from exceldatatransform_py_spark.sources.pysource import (
        register_snapshot_cdf,
    )
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_delete_dv,
        snapshot_merge_update_pruned,
        snapshot_write,
    )

    src = str(tmp_path / "cdfsrc")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(80)], "k long, x double"
    )
    snapshot_write(
        src, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snapshot_delete_dv(spark, src, "k", 10, 14)                # v1

    register_snapshot_cdf(spark)
    ckpt = tempfile.mkdtemp(prefix="cdf_ckpt_")
    try:
        q = (
            spark.readStream.format("snapshot_cdf")
            .option("path", src).load()
            .writeStream.format("memory")
            .queryName("cdf_stream")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM cdf_stream").collect()
            # v1's feed: exactly the 5 DV-deleted rows
            assert sorted((r.k, r._change_type, r._commit_version)
                          for r in got) == [
                (k, "delete", 1) for k in range(10, 15)
            ]

            # commits AFTER the stream started: layout-only compact
            # (silent) + an insert merge
            snapshot_compact(spark, src, target_rows_per_file=1000)  # v2
            snapshot_merge_update_pruned(
                spark, src,
                spark.createDataFrame([(500, 5.0)], "k long, x double"),
                on=["k"], update_cols=["x"], when_not_matched_insert=True,
            )                                                        # v3
            q.processAllAvailable()
            got = spark.sql(
                "SELECT * FROM cdf_stream ORDER BY _commit_version, k"
            ).collect()
            assert [(r.k, r._change_type, r._commit_version)
                    for r in got if r._commit_version > 1] == [
                (500, "insert", 3)
            ]
            assert len(got) == 6  # no re-emission
        finally:
            q.stop()

        # restart from the checkpoint: nothing replays; a new commit
        # resumes from the stored version offset (memory sinks cannot
        # recover a checkpoint, so the restarted query collects via
        # foreachBatch)
        snapshot_delete_dv(spark, src, "k", 20, 20)            # v4
        seen = []

        def collect_batch(batch, _bid):
            seen.extend(
                (r.k, r._change_type, r._commit_version)
                for r in batch.collect()
            )

        q2 = (
            spark.readStream.format("snapshot_cdf")
            .option("path", src).load()
            .writeStream.foreachBatch(collect_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q2.processAllAvailable()
            assert sorted(seen) == [(20, "delete", 4)]
        finally:
            q2.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_snapshot_cdf_streaming_replica_stays_identical(spark, tmp_path):
    """The streaming replication loop: a foreachBatch consumer applies
    the feed to a replica snapshot table (per source version, deletes
    by key then inserts — with txn records so a replayed batch cannot
    double-apply) while the source commits DV deletes, merges, and a
    compact between micro-batches; the replica is row-identical to
    the source after every drain."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from exceldatatransform_py_spark.sources.pysource import (
        register_snapshot_cdf,
    )
    from exceldatatransform_py_spark.sources import snapshots as snap

    src = str(tmp_path / "rsrc")
    dst = str(tmp_path / "rdst")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, x double"
    )
    snap.snapshot_write(
        src, base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    # bootstrap the replica at v0
    snap.snapshot_write(dst, snap.snapshot_read(spark, src, version=0),
                        txn=("cdf-stream", 0))

    def apply_batch(batch, batch_id):
        # a micro-batch may span several source versions: apply them
        # in version order (a key updated twice needs its pairs in
        # sequence); version-level txn records make replays no-ops
        s = batch.sparkSession
        versions = [
            r[0] for r in batch.select("_commit_version")
            .distinct().orderBy("_commit_version").collect()
        ]
        for v in versions:
            fv = batch.filter(F.col("_commit_version") == v)
            dels = fv.filter(F.col("_change_type") == "delete").select("k")
            ins = fv.filter(F.col("_change_type") == "insert").select("k", "x")
            cur = snap.snapshot_read(s, dst)
            snap.snapshot_write(
                dst,
                cur.join(dels, ["k"], "left_anti").unionByName(ins),
                txn=("cdf-stream", v),
            )

    register_snapshot_cdf(spark)
    ckpt = tempfile.mkdtemp(prefix="cdf_repl_ckpt_")
    snap.snapshot_delete_dv(spark, src, "k", 30, 49)           # v1
    snap.snapshot_merge_update_pruned(
        spark, src,
        spark.createDataFrame([(7, 700.0), (300, 3.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v2
    try:
        q = (
            spark.readStream.format("snapshot_cdf")
            .option("path", src).load()
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            assert sorted(tuple(r) for r in
                          snap.snapshot_read(spark, dst).collect()) == \
                sorted(tuple(r) for r in
                       snap.snapshot_read(spark, src, version=2).collect())

            snap.snapshot_compact(spark, src, target_rows_per_file=1000)
            snap.snapshot_merge_update(
                spark, src,
                spark.createDataFrame([(100, -1.0)], "k long, x double"),
                on=["k"], update_cols=["x"],
            )                                                  # v4
            q.processAllAvailable()
            assert sorted(tuple(r) for r in
                          snap.snapshot_read(spark, dst).collect()) == \
                sorted(tuple(r) for r in
                       snap.snapshot_read(spark, src).collect())
            assert snap.last_committed_txn(dst, "cdf-stream") == 4
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_snapshot_cdf_stream_matches_batch_feed_on_every_window(
    spark, tmp_path
):
    """The stream reader and snapshot_changes run one action list:
    over every (a, b) window of a mixed history — a write with stats,
    two DV deletes on one file, a rollback that shrinks that DV, a
    pruned merge with insert, a full merge, compact and a rename —
    they emit the same rows as multisets."""
    from collections import Counter
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from exceldatatransform_py_spark.sources import snapshots as snap
    from exceldatatransform_py_spark.sources.pysource import (
        SnapshotCDFStreamReader,
    )

    t = str(tmp_path / "parity")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, x double"
    )
    snap.snapshot_write(
        t, base.repartitionByRange(2, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snap.snapshot_delete_dv(spark, t, "k", 3, 4)               # v1
    snap.snapshot_delete_dv(spark, t, "k", 5, 6)               # v2: same file
    snap.rollback(t, 1)                                        # v3: DV shrinks
    snap.snapshot_merge_update_pruned(
        spark, t,
        spark.createDataFrame([(30, -1.0), (99, 9.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v4
    snap.snapshot_merge_update(
        spark, t, spark.createDataFrame([(10, -2.0)], "k long, x double"),
        on=["k"], update_cols=["x"],
    )                                                          # v5
    snap.snapshot_compact(spark, t, target_rows_per_file=1000)  # v6
    snap.snapshot_rename_column(t, "x", "amount")              # v7

    windows = [(a, b) for a in range(7) for b in range(a + 1, 8)]
    # one collect for every window's batch feed (positional union: the
    # windows before the rename name the column x)
    batch = {w: Counter() for w in windows}
    for r in reduce(DataFrame.unionAll, [
        snap.snapshot_changes(spark, t, a, b).select(
            F.lit(a).alias("a"), F.lit(b).alias("b"), "*"
        )
        for a, b in windows
    ]).collect():
        batch[(r[0], r[1])][tuple(r[2:])] += 1
    reader = SnapshotCDFStreamReader({"path": t})
    for a, b in windows:
        stream = Counter(
            reader.readBetweenOffsets({"version": a}, {"version": b})
        )
        assert stream == batch[(a, b)], f"window {a}->{b}"
    # the rollback restores k = 5, 6
    assert batch[(2, 3)] == Counter(
        {(5, 5.0, "insert", 3): 1, (6, 6.0, "insert", 3): 1}
    )


def test_snapshot_cdf_stream_reads_across_rename(spark, tmp_path):
    """A stream started AFTER a column rename emits pre-rename files'
    rows under the new name (the Python reader resolves file columns
    by parquet field id, mirroring the Spark-side read)."""
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.pysource import (
        register_snapshot_cdf,
    )
    from exceldatatransform_py_spark.sources import snapshots as snap

    src = str(tmp_path / "rnsrc")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, x double"
    )
    snap.snapshot_write(
        src, base.repartitionByRange(2, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )                                                          # v0
    snap.snapshot_merge_update_pruned(
        spark, src,
        spark.createDataFrame([(500, 5.0)], "k long, x double"),
        on=["k"], update_cols=["x"], when_not_matched_insert=True,
    )                                                          # v1 (pre-rename file)
    snap.snapshot_rename_column(src, "x", "amount")            # v2
    snap.snapshot_delete_dv(spark, src, "k", 3, 4)             # v3

    register_snapshot_cdf(spark)
    ckpt = tempfile.mkdtemp(prefix="cdf_rn_ckpt_")
    try:
        q = (
            spark.readStream.format("snapshot_cdf")
            .option("path", src).load()
            .writeStream.format("memory")
            .queryName("cdf_rn")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM cdf_rn").collect()
            assert set(got[0].asDict()) == {
                "k", "amount", "_change_type", "_commit_version"
            }
            rows = sorted(
                (r.k, r.amount, r._change_type, r._commit_version)
                for r in got
            )
            assert rows == [
                (3, 3.0, "delete", 3), (4, 4.0, "delete", 3),
                (500, 5.0, "insert", 1),
            ]
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_snapshot_cdf_stream_no_resurrection_after_drop_readd(spark, tmp_path):
    """Strict field-id resolution in the stream reader: after DROP
    COLUMN and a later re-add of the same name (fresh id), rows from
    pre-drop files must NULL-fill the re-added column — name fallback
    would resurrect the dropped values, diverging from the Spark
    batch read (which resolves strictly by id)."""
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.pysource import (
        register_snapshot_cdf,
    )
    from exceldatatransform_py_spark.sources import snapshots as snap

    src = str(tmp_path / "drsrc")
    base = spark.createDataFrame(
        [(i, float(i), f"n{i}") for i in range(6)],
        "k long, x double, note string",
    )
    snap.snapshot_write(src, base.coalesce(1))                 # v0
    snap.snapshot_drop_column(src, "note")                     # v1
    cur = snap.snapshot_read(spark, src)
    snap.snapshot_write(
        src, cur.withColumn("note", F.lit("fresh")).coalesce(1)
    )                                                          # v2 re-add

    register_snapshot_cdf(spark)
    ckpt = tempfile.mkdtemp(prefix="cdf_dr_ckpt_")
    try:
        q = (
            spark.readStream.format("snapshot_cdf")
            .option("path", src).load()
            .writeStream.format("memory")
            .queryName("cdf_dr")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM cdf_dr").collect()
            # v2 overwrite: v0 files leave (deletes), new files arrive
            dels = [r for r in got if r._change_type == "delete"]
            ins = [r for r in got if r._change_type == "insert"]
            assert len(dels) == 6 and len(ins) == 6
            # pre-drop files: the re-added name has a FRESH id the old
            # files don't carry — NULL, never the dropped "n{i}" values
            assert {r.note for r in dels} == {None}
            assert {r.note for r in ins} == {"fresh"}
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_snapshot_cdf_stream_schema_contract_mid_stream(spark, tmp_path):
    """The pinned mid-stream schema-evolution contract: a RENAME
    (same field ids) and a DROP (NULL-filled dead column) keep the
    stream alive under its init-time schema; an ADDED column raises
    the restart-required error instead of silently emitting rows
    with the new column's values missing."""
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.pysource import (
        register_snapshot_cdf,
    )
    from exceldatatransform_py_spark.sources import snapshots as snap

    src = str(tmp_path / "evsrc")
    base = spark.createDataFrame(
        [(i, float(i), f"n{i}") for i in range(8)],
        "k long, x double, note string",
    )
    snap.snapshot_write(src, base.coalesce(1), stats_cols=["k"])   # v0

    register_snapshot_cdf(spark)
    ckpt = tempfile.mkdtemp(prefix="cdf_ev_ckpt_")
    try:
        q = (
            spark.readStream.format("snapshot_cdf")
            .option("path", src).load()
            .writeStream.format("memory")
            .queryName("cdf_ev")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            # mid-stream: rename x (ids unchanged) then drop note,
            # then a data commit whose new files lack both old names
            snap.snapshot_rename_column(src, "x", "amount")        # v1
            snap.snapshot_drop_column(src, "note")                 # v2
            snap.snapshot_merge_update_pruned(
                spark, src,
                spark.createDataFrame(
                    [(100, 100.0)], "k long, amount double"
                ),
                on=["k"], update_cols=["amount"],
                when_not_matched_insert=True,
            )                                                      # v3
            q.processAllAvailable()
            got = spark.sql(
                "SELECT * FROM cdf_ev WHERE _commit_version = 3 "
                "AND _change_type = 'insert'"
            ).collect()
            # output schema is STABLE (init-time names); the renamed
            # column emits by id under the init name, the dropped one
            # NULL-fills for post-drop files
            by_k = {r.k: r for r in got}
            assert by_k[100].x == 100.0 and by_k[100].note is None

            # an ADD mid-stream kills the stream with the typed error
            cur = snap.snapshot_read(spark, src)
            snap.snapshot_write(
                src, cur.withColumn("extra", F.lit(1)).coalesce(1)
            )                                                      # v4
            import pytest as _pytest

            with _pytest.raises(Exception, match="restart the stream"):
                q.processAllAvailable()
                raise RuntimeError(str(q.exception()))
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_snapshot_cdf_stream_retention_error_past_vacuum(spark, tmp_path):
    """A checkpointed offset range whose files vacuum dropped must
    surface the typed retention error (naming the resume horizon),
    not a raw pyarrow file-not-found."""
    import pytest as _pytest

    from exceldatatransform_py_spark.sources.pysource import (
        SnapshotCDFStreamReader,
    )
    from exceldatatransform_py_spark.sources.snapshot_common import (
        SnapshotRetentionError,
    )
    from exceldatatransform_py_spark.sources import snapshots as snap

    src = str(tmp_path / "vacsrc")
    for n in (8, 4, 2):
        snap.snapshot_write(
            src,
            spark.createDataFrame([(i,) for i in range(n)], "k long")
            .coalesce(1),
        )                                                      # v0..v2
    snap.vacuum(src, keep_last=1)

    reader = SnapshotCDFStreamReader({"path": src})
    with _pytest.raises(SnapshotRetentionError) as ei:
        it, _ = reader.read({"version": 0})
        list(it)
    assert ei.value.horizon == 2


def test_snapshot_cdf_idle_read_parses_no_history(spark, tmp_path, monkeypatch):
    """A trigger with no new version reads only the newest manifest;
    the history is loaded once there is a version to emit."""
    from exceldatatransform_py_spark.sources import pysource
    from exceldatatransform_py_spark.sources import snapshots as snap

    src = str(tmp_path / "idle")
    df = spark.createDataFrame([(1,)], "k long").coalesce(1)
    snap.snapshot_write(src, df)                               # v0
    reader = pysource.SnapshotCDFStreamReader({"path": src})
    real = pysource.load_manifests
    calls = []
    monkeypatch.setattr(
        pysource, "load_manifests", lambda t: calls.append(t) or real(t)
    )
    it, end = reader.read({"version": 0})
    assert list(it) == [] and end == {"version": 0} and calls == []
    snap.snapshot_write(src, df)                               # v1
    it, end = reader.read({"version": 0})
    assert end == {"version": 1} and len(calls) == 1
    assert sorted(r[-2] for r in it) == ["delete", "insert"]


def test_snapshot_cdf_stream_retype_mid_stream_raises(spark, tmp_path):
    """A mid-stream commit that RETYPES a column under the same field
    id (full rewrite with a cast) must raise the typed
    restart-required error — the fixed init-time schema cannot
    represent the new values, and without the check the stream fails
    later with an opaque Arrow conversion error."""
    import pytest as _pytest

    from exceldatatransform_py_spark.sources.pysource import (
        SnapshotCDFStreamReader,
    )
    from exceldatatransform_py_spark.sources.snapshot_common import (
        SnapshotStreamSchemaChangedError,
    )
    from exceldatatransform_py_spark.sources import snapshots as snap

    src = str(tmp_path / "retypesrc")
    snap.snapshot_write(
        src,
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, x double"
        ).coalesce(1),
    )                                                          # v0
    reader = SnapshotCDFStreamReader({"path": src})

    # a rewrite that keeps names (ids inherited by name) but casts x
    # to string — same field id, new type
    cur = snap.snapshot_read(spark, src)
    snap.snapshot_write(
        src, cur.withColumn("x", F.col("x").cast("string")).coalesce(1)
    )                                                          # v1
    with _pytest.raises(SnapshotStreamSchemaChangedError) as ei:
        it, _ = reader.read({"version": 0})
        list(it)
    assert ei.value.retyped == ["x"] and not ei.value.added


def test_snapshot_batch_source_matches_snapshot_read(spark, tmp_path):
    """The batch ``snapshot`` source (the connector story's missing
    half): format-read ≡ ``snapshot_read`` at head, at a time-travel
    version, and AS OF a timestamp — DV-deletes respected, renamed
    columns resolved by field id, and the table readable from plain
    SQL via CREATE TEMPORARY VIEW ... USING."""
    from exceldatatransform_py_spark.sources.pysource import (
        register_snapshot,
    )
    from exceldatatransform_py_spark.sources import snapshots as snap

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, float(i), f"s{i}") for i in range(50)],
        "k long, x double, s string",
    )
    snap.snapshot_write(t, df.repartition(3), stats_cols=["k"])    # v0
    snap.snapshot_delete_dv(spark, t, "k", 10, 19)                 # v1
    snap.snapshot_rename_column(t, "x", "amount")                  # v2
    ts_after_v1 = snap._manifests(t)[1]["ts"]

    register_snapshot(spark)

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    head = spark.read.format("snapshot").load(t)
    assert head.columns == ["k", "amount", "s"]  # rename visible
    assert rows(head) == rows(snap.snapshot_read(spark, t))
    # time travel by version — pre-rename names, DV respected
    v1 = spark.read.format("snapshot").option("version", 1).load(t)
    assert v1.columns == ["k", "x", "s"]
    assert rows(v1) == rows(snap.snapshot_read(spark, t, version=1))
    assert v1.count() == 40  # the DV-deleted rows are gone
    # TIMESTAMP AS OF
    asof = (
        spark.read.format("snapshot").option("asofts", ts_after_v1).load(t)
    )
    assert rows(asof) == rows(
        snap.snapshot_read(spark, t, as_of_ts=ts_after_v1)
    )
    # plain-SQL surface
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_batch_t "
        f"USING snapshot OPTIONS (path '{t}', version '0')"
    )
    assert rows(spark.sql("SELECT * FROM snap_batch_t")) == rows(
        snap.snapshot_read(spark, t, version=0)
    )
    spark.catalog.dropTempView("snap_batch_t")
    # one input partition per data file (the scan parallelizes)
    assert (
        spark.read.format("snapshot").option("version", 0).load(t)
        .rdd.getNumPartitions() == 3
    )


def test_snapshot_batch_source_vacuumed_version_raises_retention(
    spark, tmp_path
):
    """Reading a vacuumed version through the batch source raises the
    typed SnapshotRetentionError, not a raw pyarrow error."""
    import pytest as _pytest

    from exceldatatransform_py_spark.sources.pysource import (
        register_snapshot,
    )
    from exceldatatransform_py_spark.sources.snapshot_common import (
        SnapshotRetentionError,
    )
    from exceldatatransform_py_spark.sources import snapshots as snap

    t = str(tmp_path / "tbl")
    for n in (8, 4, 2):
        snap.snapshot_write(
            t,
            spark.createDataFrame([(i,) for i in range(n)], "k long")
            .coalesce(1),
        )                                                      # v0..v2
    snap.vacuum(t, keep_last=1)
    register_snapshot(spark)
    with _pytest.raises(Exception) as ei:
        spark.read.format("snapshot").option("version", 0).load(t).collect()
    # the planner may wrap it, but the typed message must surface
    assert "vacuum removed" in str(ei.value) or isinstance(
        ei.value, SnapshotRetentionError
    )
