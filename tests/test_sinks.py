"""Sink round-trips (S4 partitioned write, S5 merge-update write)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from exceldatatransform_py_spark.sources.readers import read_table
from exceldatatransform_py_spark.sources.writers import (
    merge_update_write,
    write_partitioned_by_key,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdir_():
    d = tempfile.mkdtemp(prefix="sink_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_partitioned_write_drops_key_from_data(spark, tmpdir_):
    df = spark.createDataFrame(
        [("averyveryverylongsurnamethatneedstruncating", 1.0), ("rossi", 2.0)],
        ["surname", "ore"],
    )
    path = os.path.join(tmpdir_, "out")
    write_partitioned_by_key(df, path, ["surname"], sanitize_len=31)

    dirs = sorted(
        d for d in os.listdir(path) if d.startswith("surname=")
    )
    # one directory per key, value truncated to 31 chars (the Excel
    # sheet-name cap analogue).
    assert dirs == [
        "surname=averyveryverylongsurnamethatnee",
        "surname=rossi",
    ]
    back = spark.read.parquet(path)
    assert {r["ore"] for r in back.collect()} == {1.0, 2.0}
    # the partition column lives in directory names, not data files —
    # reading a leaf directly must show only the payload column.
    leaf = spark.read.parquet(os.path.join(path, "surname=rossi"))
    assert leaf.columns == ["ore"]


def test_merge_update_write_roundtrip(spark, tmpdir_):
    path = os.path.join(tmpdir_, "target")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["k", "label", "val"]
    ).write.parquet(path)

    updates = spark.createDataFrame([(2, "B!", 99.0)], ["k", "label", "val"])
    merge_update_write(
        spark, path, updates, on=["k"], update_cols=["label", "val"]
    )
    got = {r["k"]: (r["label"], r["val"])
           for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("B!", 99.0)}


def test_csv_json_roundtrip(spark, tmpdir_):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "k int, s string, v double"
    )
    cpath = os.path.join(tmpdir_, "c")
    jpath = os.path.join(tmpdir_, "j")
    df.write.option("header", "true").csv(cpath)
    df.write.json(jpath)

    from exceldatatransform_py_spark.sources.readers import read_csv, read_json

    back_c = read_csv(spark, cpath, schema="k int, s string, v double")
    back_j = read_json(spark, jpath, schema="k int, s string, v double")
    want = {(1, "a", 1.5), (2, "b", 2.5)}
    assert {tuple(r) for r in back_c.collect()} == want
    assert {tuple(r) for r in back_j.select("k", "s", "v").collect()} == want


def test_excel_reader_shim_types(spark, tmpdir_):
    """The stdlib shim reader types columns like pandas would: all-int
    → bigint, numeric mix → double, else string; NULLs tolerated."""
    from exceldatatransform_py_spark.sources import xlsx_shim
    from exceldatatransform_py_spark.sources.readers import read_excel_workbook

    path = os.path.join(tmpdir_, "in.xlsx")
    xlsx_shim.write_workbook(
        path,
        {
            "Foglio1": (
                ["Autore", "Ore", "Giorni"],
                [["Mario Rossi", 7.5, 1], [None, 2, 2], ["Ada F", None, 3]],
            )
        },
    )
    sheets = read_excel_workbook(spark, path)
    df = sheets["Foglio1"]
    assert df.schema.simpleString() == (
        "struct<Autore:string,Ore:double,Giorni:bigint>"
    )
    rows = sorted(df.collect(), key=lambda r: r["Giorni"])
    assert rows[0]["Autore"] == "Mario Rossi" and rows[0]["Ore"] == 7.5
    assert rows[1]["Autore"] is None and rows[1]["Ore"] == 2.0


def test_orc_roundtrip_with_pushdown(spark, tmpdir_):
    """ORC is a first-class columnar source/sink (built into Spark):
    write, read back, and verify predicate pushdown reaches the ORC
    scan like it does for parquet."""
    import io
    import contextlib

    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1.5).alias("v"),
    )
    path = os.path.join(tmpdir_, "orc_out")
    df.write.format("orc").mode("overwrite").save(path)

    back = spark.read.format("orc").load(path).filter(F.col("grp") == 3)
    assert back.count() == len([i for i in range(1000) if i % 7 == 3])

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(grp), EqualTo(grp,3)" in plan, plan


def test_csv_json_orc_same_values(spark, tmpdir_):
    """One DataFrame round-tripped through three formats reads back
    value-identical (modulo CSV's string-typed schema, recast here)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 5).cast("long").alias("g")
    )
    paths = {}
    for fmt in ("csv", "json", "orc"):
        p = os.path.join(tmpdir_, f"multi_{fmt}")
        w = df.write.format(fmt).mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        w.save(p)
        paths[fmt] = p

    expect = {(i, i % 5) for i in range(100)}
    for fmt, p in paths.items():
        r = spark.read.format(fmt)
        if fmt == "csv":
            r = r.option("header", True).option("inferSchema", True)
        back = spark.read.format(fmt).load(p) if fmt != "csv" else r.load(p)
        got = {(int(row["k"]), int(row["g"])) for row in back.collect()}
        assert got == expect, fmt


def test_range_clustered_files_are_disjoint(spark, tmpdir_):
    """Every output file must cover a non-overlapping l_shipdate range
    (that disjointness is exactly what makes parquet min/max stats
    prune files on a shipdate predicate)."""
    import glob

    import pyarrow.parquet as pq

    from exceldatatransform_py_spark.sources.writers import write_range_clustered

    li = read_table(spark, SF, "lineitem").select("l_orderkey", "l_shipdate")
    out = os.path.join(str(tmpdir_), "clustered")
    write_range_clustered(li, out, ["l_shipdate"], num_files=4)

    ranges = []
    for f in glob.glob(os.path.join(out, "*.parquet")):
        md = pq.read_metadata(f)
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
            "l_shipdate"
        ]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(col_idx).statistics
            mins.append(stats.min)
            maxs.append(stats.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 4
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # disjoint (boundary touch allowed)

    # and the clustered copy is lossless
    back = spark.read.parquet(out)
    assert back.count() == li.count()


def test_json_badrow_side_channel(spark, tmpdir_):
    """PERMISSIVE ingest: parsed rows land in `good`, malformed lines
    are captured verbatim in `bad`, nothing is dropped silently."""
    from exceldatatransform_py_spark.sources.readers import read_json_with_badrows

    path = os.path.join(tmpdir_, "events.json")
    with open(path, "w", encoding="utf-8") as f:
        f.write('{"id": 1, "v": 10.5}\n')
        f.write('{"id": 2, "v": "not-a-number"}\n')  # type mismatch -> corrupt
        f.write("this is not json at all\n")
        f.write('{"id": 4, "v": 2.0}\n')

    good, bad = read_json_with_badrows(spark, path, schema="id bigint, v double")
    good_rows = {r["id"]: r["v"] for r in good.collect()}
    bad_rows = sorted(r["_corrupt_record"] for r in bad.collect())

    assert good_rows == {1: 10.5, 4: 2.0}
    assert len(bad_rows) == 2
    assert "not-a-number" in bad_rows[0] or "not-a-number" in bad_rows[1]
    assert any("not json at all" in b for b in bad_rows)


# ---------------------------------------------------------------------------
# Excel workbook sink (S4/S5 in their native format). The Spark-side
# semantics — per-sheet partitioning, key-column drop, 31-char name
# truncation, update collapse — are tested via the staging layout;
# the xlsx emit round-trips with whichever engine is present
# (openpyxl preferred, stdlib SpreadsheetML shim otherwise).
# ---------------------------------------------------------------------------


def test_stage_sheet_partitions_semantics(spark, tmpdir_):
    from exceldatatransform_py_spark.sources.writers import stage_sheet_partitions

    df = spark.createDataFrame(
        [
            ("averyveryverylongsurnamethatneedstruncating", "2025-01-06", 8.0),
            ("rossi", "2025-01-06", 4.0),
            ("rossi", "2025-01-07", 2.0),
        ],
        ["surname", "data", "ore"],
    )
    staging = os.path.join(tmpdir_, "staging")
    parts = stage_sheet_partitions(df, staging, "surname")
    # sheet names truncated to Excel's 31-char cap, one dir per sheet
    assert sorted(parts) == ["averyveryverylongsurnamethatnee", "rossi"]
    # the sheet key lives in the directory name, not the sheet data
    rossi = spark.read.parquet(parts["rossi"])
    assert sorted(rossi.columns) == ["data", "ore"]
    assert rossi.count() == 2


def test_excel_writer_roundtrip(spark, tmpdir_):
    from exceldatatransform_py_spark.sources.readers import read_excel_workbook
    from exceldatatransform_py_spark.sources.writers import write_excel_workbook

    df = spark.createDataFrame(
        [("rossi", "A; B", 8.0), ("fava", "C", 4.0)],
        ["surname", "commessa", "ore"],
    )
    out = os.path.join(tmpdir_, "book.xlsx")
    write_excel_workbook(df, out, "surname")
    sheets = read_excel_workbook(spark, out)
    assert sorted(sheets) == ["fava", "rossi"]
    assert {r["commessa"] for r in sheets["rossi"].collect()} == {"A; B"}


def test_excel_update_in_place_touches_only_matches(spark, tmpdir_):
    import datetime

    from exceldatatransform_py_spark.sources import xlsx_shim
    from exceldatatransform_py_spark.sources.writers import (
        update_excel_workbook_in_place,
    )

    path = os.path.join(tmpdir_, "target.xlsx")
    # Date cells as strings — the reference tolerates string-or-datetime
    # date cells and compares at day granularity (P6/J2).
    xlsx_shim.write_workbook(
        path,
        {
            "Rossi": (  # sheet match is case-insensitive
                ["DATA", "COMMESSA", "ORE"],
                [
                    ["2025-01-06", "OLD", 1.0],
                    ["2025-01-07", "KEEP", 2.0],
                ],
            )
        },
    )

    updates = spark.createDataFrame(
        [
            ("ROSSI", datetime.date(2025, 1, 6), "X", 3.0),
            ("ROSSI", datetime.date(2025, 1, 6), "A", 4.0),  # re-aggregated
            ("ROSSI", datetime.date(2025, 1, 9), "NOMATCH", 9.0),  # discarded
        ],
        ["surname", "data", "commessa", "ore"],
    )
    update_excel_workbook_in_place(path, updates)

    header, rows = xlsx_shim.read_workbook(path)["Rossi"]
    assert header == ["DATA", "COMMESSA", "ORE"]
    assert rows[0][1:] == ["A; X", 7.0]
    assert rows[1] == ["2025-01-07", "KEEP", 2.0]
    assert len(rows) == 2  # never inserts


def test_xlsx_shim_escaping_and_widths(tmpdir_):
    """Shim-level round-trip: XML-special characters, ragged rows,
    multi-sheet order, and the empty-sheet edge."""
    from exceldatatransform_py_spark.sources import xlsx_shim

    path = os.path.join(tmpdir_, "edge.xlsx")
    xlsx_shim.write_workbook(
        path,
        {
            "a&b <c>": (
                ["k", 'q"uote'],
                [["<&>", None], [None, 'x"y'], [1.25, -3]],
            ),
            "second": (["only"], []),
        },
    )
    back = xlsx_shim.read_workbook(path)
    assert list(back) == ["a&b <c>", "second"]
    header, rows = back["a&b <c>"]
    assert header == ["k", 'q"uote']
    assert rows == [["<&>", None], [None, 'x"y'], [1.25, -3]]
    assert back["second"] == (["only"], [])


def test_incremental_agg_merge_equals_full_recompute(spark):
    """agg(full) == merge(agg(old), agg(delta)) for algebraic
    aggregates, including groups present on only one side (the
    full-outer null paths)."""
    from pyspark.sql import functions as F

    from exceldatatransform_py_spark.operators.merge import (
        incremental_agg_merge,
    )

    li = read_table(spark, SF, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"
    )
    old_part = li.filter(F.col("l_shipdate") < "1996-01-01")
    delta = li.filter(F.col("l_shipdate") >= "1996-01-01")

    def agg(df):
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("sum_qty"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )

    merged = incremental_agg_merge(
        agg(old_part),
        agg(delta),
        keys=["l_returnflag", "l_linestatus"],
        add_cols=["n", "sum_qty"],
        min_cols=["first_ship"],
        max_cols=["last_ship"],
    )
    got = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.sum_qty, r.first_ship, r.last_ship)
        for r in merged.collect()
    }
    want = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.sum_qty, r.first_ship, r.last_ship)
        for r in agg(li).collect()
    }
    assert got == want
    # one-sided groups must survive the full outer (delta-only group)
    only_delta = agg(delta.limit(0))  # empty old side
    m2 = incremental_agg_merge(
        only_delta, agg(delta), keys=["l_returnflag", "l_linestatus"],
        add_cols=["n", "sum_qty"], min_cols=["first_ship"],
        max_cols=["last_ship"],
    )
    got2 = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.sum_qty, r.first_ship, r.last_ship)
        for r in m2.collect()
    }
    want2 = {
        (r.l_returnflag, r.l_linestatus): (r.n, r.sum_qty, r.first_ship, r.last_ship)
        for r in agg(delta).collect()
    }
    assert got2 == want2


def test_merge_schema_reads_evolved_table(spark, tmpdir_):
    """Schema evolution on read: a table whose later files gained a
    column must union-read with mergeSchema — old files surface NULL
    for the new column, new files carry it. The engine's multi-sheet
    union (S2) relies on the same allowMissingColumns semantics; this
    pins the parquet-source flavor a long-lived 100 TB table needs
    when columns are added mid-lifetime."""
    import os

    from pyspark.sql import functions as F

    d = os.path.join(tmpdir_, "evolved")
    v1 = spark.range(0, 10).select(F.col("id"), F.lit("a").alias("tag"))
    v1.write.mode("append").parquet(d)
    v2 = spark.range(10, 15).select(
        F.col("id"), F.lit("b").alias("tag"), (F.col("id") * 2).alias("extra")
    )
    v2.write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "tag", "extra"}
    assert merged.count() == 15
    # old files: extra IS NULL; new files carry the value.
    assert merged.filter(F.col("extra").isNull()).count() == 10
    got = {r["id"]: r["extra"] for r in merged.filter(F.col("extra").isNotNull()).collect()}
    assert got == {i: 2 * i for i in range(10, 15)}


def test_incremental_join_agg_maintenance(spark):
    """Materialized-view maintenance for a star-join aggregate:
    revenue per (nation, month) over orders ⋈ customer ⋈ nation,
    maintained under an orders delta as
    merge(agg(old ⋈ dims), agg(delta ⋈ dims)) — must equal the full
    recompute. The fact is scanned once per delta; dims broadcast;
    the merge moves only aggregate-sized rows (the 100 TB nightly
    pattern for keeping a rollup current)."""
    from pyspark.sql import functions as F

    from exceldatatransform_py_spark.operators.merge import incremental_agg_merge
    from exceldatatransform_py_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    orders = read_table(spark, sf, "orders")
    customer = read_table(spark, sf, "customer")
    nation = read_table(spark, sf, "nation")

    def view(o):
        return (
            o.join(customer, o.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
            .groupBy(
                F.col("n_name").alias("nation"),
                F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
            )
        )

    cut = F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    merged = incremental_agg_merge(
        view(orders.filter(cut)),
        view(orders.filter(~cut)),
        keys=["nation", "month"],
        add_cols=["n_orders", "rev"],
    )
    full = view(orders)

    canon = lambda df: sorted(
        (r["nation"], r["month"], r["n_orders"], str(r["rev"])) for r in df.collect()
    )
    assert canon(merged) == canon(full)


def test_xlsx_shim_nonfinite_floats_are_not_numeric_cells(tmpdir_):
    """NaN/Infinity cannot appear in a SpreadsheetML numeric <v> —
    Excel rejects <v>nan</v>. The shim must match the pandas/openpyxl
    engine cell-for-cell: NaN → EMPTY cell (na_rep=''), ±inf → inline
    strings (inf_rep='inf'), so workbook content does not depend on
    which engine is installed; its own reader round-trips it."""
    import zipfile

    from exceldatatransform_py_spark.sources import xlsx_shim

    path = os.path.join(tmpdir_, "nonfinite.xlsx")
    xlsx_shim.write_workbook(
        path,
        {
            "S": (
                ["x", "y"],
                [
                    [float("nan"), 1.5],
                    [float("inf"), float("-inf")],
                ],
            )
        },
    )
    with zipfile.ZipFile(path) as z:
        sheet_xml = z.read("xl/worksheets/sheet1.xml").decode()
    assert "<v>nan</v>" not in sheet_xml
    assert "<v>inf</v>" not in sheet_xml and "<v>-inf</v>" not in sheet_xml
    header, rows = xlsx_shim.read_workbook(path)["S"]
    assert header == ["x", "y"]
    # finite neighbor survives as a number; NaN is an empty cell
    # (pandas parity), infinities land as text
    assert rows[0][1] == 1.5
    assert rows[0][0] is None
    assert rows[1] == ["inf", "-inf"]


def test_excel_writer_rejects_truncation_collisions(spark, tmpdir_):
    """Two sheet names identical after the 31-char truncation would
    silently merge at the staging partitionBy (one combined sheet) —
    the writer must refuse instead of mixing two groups' rows."""
    import pytest

    from exceldatatransform_py_spark.sources.writers import write_excel_workbook

    df = spark.createDataFrame(
        [
            ("rossi_verylongtail_A", "X", 1.0),
            ("rossi_verylongtail_B", "Y", 2.0),
        ],
        ["surname", "commessa", "ore"],
    )
    out = os.path.join(tmpdir_, "collide.xlsx")
    with pytest.raises(ValueError, match="collide"):
        write_excel_workbook(df, out, "surname", sheet_name_len=10)
    assert not os.path.exists(out)
    # non-colliding names at the same cap still write fine
    ok = spark.createDataFrame(
        [("rossi", "X", 1.0), ("fava", "Y", 2.0)],
        ["surname", "commessa", "ore"],
    )
    write_excel_workbook(ok, out, "surname", sheet_name_len=10)
    assert os.path.exists(out)


def test_training_shards_physical_order_is_the_permutation(spark, tmp_path):
    """write_training_shards must emit one file per shard whose
    PHYSICAL row order is the seed-keyed (h, id) permutation — read
    back with pyarrow (no Spark reordering) and checked against the
    hash recomputed in pure Python; union of shards == corpus."""
    import glob
    import hashlib

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from exceldatatransform_py_spark.sources.readers import read_table
    from exceldatatransform_py_spark.sources.writers import (
        write_training_shards,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "shards")
    k, seed = 8, 17
    write_training_shards(docs, out, k_shards=k, seed=seed)

    def h32(i: int) -> int:
        return int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)

    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    seen: list[int] = []
    for shard in range(k):
        files = glob.glob(f"{out}/shard={shard}/*.parquet")
        assert len(files) == 1, f"shard {shard}: one file expected"
        ids = pq.read_table(files[0], columns=["doc_id"])["doc_id"].to_pylist()
        expected = sorted(
            (i for i in all_ids if h32(i) % k == shard),
            key=lambda i: (h32(i), i),
        )
        assert ids == expected  # physical order IS the permutation
        seen.extend(ids)
    assert sorted(seen) == sorted(all_ids)  # nothing lost or duplicated

    # a different seed produces a different permutation (it's a knob,
    # not an accident of partitioning)
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, k_shards=k, seed=18)
    order1 = [
        tuple(pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist())
        for f in sorted(glob.glob(f"{out}/shard=*/*.parquet"))
    ]
    order2 = [
        tuple(pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist())
        for f in sorted(glob.glob(f"{out2}/shard=*/*.parquet"))
    ]
    assert order1 != order2
