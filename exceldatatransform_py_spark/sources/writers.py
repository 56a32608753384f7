"""Sinks (SURVEY.md §2.1, S4/S5).

S4 — the reference writes one Excel sheet per SURNAME group, dropping
the partition column from each sheet and truncating the sheet name to
31 chars (``timesheet_transform_v1.py:92-100``). The exact Spark
analogue is a ``partitionBy`` parquet write: one directory per key,
partition column removed from data files, partition values sanitized.

S5 — the reference's in-place workbook update
(``timesheet_transform.py:105-138``) is MERGE-INTO semantics with only
a WHEN MATCHED clause: matched target rows get two columns
overwritten, unmatched target rows are untouched, unmatched *source*
rows are discarded. Core Spark has no transactional in-place update,
so this is restated as join + coalesce + full rewrite (the Delta Lake
upgrade path is ``MERGE INTO ... WHEN MATCHED THEN UPDATE``). The
relational core lives in ``operators.merge.merge_update`` so it can
be oracle-checked without filesystem effects.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned_by_key(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    sanitize_len: int | None = None,
) -> None:
    """One-directory-per-group sink (S4).

    ``sanitize_len`` mirrors the reference's 31-char Excel sheet-name
    cap (``timesheet_transform_v1.py:99`` ``str(surname)[:31]``) as
    partition-value truncation.

    Scale note: the write is a single distributed job; to avoid a
    many-small-files explosion at high key cardinality, callers can
    pre-``repartition(*partition_cols)`` so each key lands in one
    task's output (we do not force it here because low-cardinality
    keys benefit from parallel writers per key).
    """
    out = df
    if sanitize_len is not None:
        for c in partition_cols:
            out = out.withColumn(c, F.substring(F.col(c).cast("string"), 1, sanitize_len))
    out.write.partitionBy(*partition_cols).format(fmt).mode(mode).save(path)


def stage_sheet_partitions(
    df: DataFrame,
    staging_dir: str,
    sheet_col: str,
    sheet_name_len: int | None = 31,
) -> dict[str, str]:
    """Distributed half of the Excel workbook sink: partition the data
    one-directory-per-sheet and return ``{sheet name: partition dir}``.

    All the Spark-visible semantics of the reference's per-surname
    workbook write (``timesheet_transform_v1.py:92-100``) happen here,
    scale-safely: grouping by the sheet key, dropping the key column
    from each sheet's data (``:97``), and truncating the sheet name to
    Excel's 31-char cap (``:99``). The xlsx packaging step
    (``write_excel_workbook``) consumes this layout; so do tests in
    environments without openpyxl.
    """
    write_partitioned_by_key(
        df, staging_dir, [sheet_col], fmt="parquet", mode="overwrite",
        sanitize_len=sheet_name_len,
    )
    out: dict[str, str] = {}
    prefix = f"{sheet_col}="
    for entry in sorted(os.listdir(staging_dir)):
        if entry.startswith(prefix):
            # Spark URL-escapes special chars in partition values.
            name = urllib.parse.unquote(entry[len(prefix):])
            out[name] = os.path.join(staging_dir, entry)
    return out


def write_excel_workbook(
    df: DataFrame,
    path: str,
    sheet_col: str,
    staging_dir: str | None = None,
    sheet_name_len: int = 31,
) -> None:
    """S4 in its native format: ONE workbook with one sheet per
    ``sheet_col`` value, the sheet column dropped from each sheet and
    sheet names truncated to 31 chars — the reference's output
    (``timesheet_transform_v1.py:92-100``).

    Two halves: (1) a distributed ``partitionBy`` parquet stage
    (``stage_sheet_partitions`` — every Spark-side semantic lives
    there); (2) a driver-side packaging step that zips the staged
    partitions into one xlsx. xlsx is a zipped-XML container — not
    splittable, not appendable — so a single workbook can only ever be
    emitted by one writer process regardless of engine; the packaging
    streams one sheet's (already aggregated, human-scale) rows at a
    time and nothing flows through Spark's driver. Engine selection
    mirrors ``readers.read_excel_workbook``: pandas+openpyxl when
    installed, else the stdlib SpreadsheetML shim
    (``sources.xlsx_shim``).
    """
    if staging_dir is None:
        staging_dir = path + ".staging"
    try:
        # Stage by the FULL sheet name; truncation to Excel's 31-char
        # cap happens only at packaging below. Two names identical
        # after truncation would otherwise merge silently (at a
        # truncated partitionBy, or in the shim's sheet dict); the
        # collision check is derived from the staged directories
        # themselves — one job total, and exact even for a
        # non-deterministic df (a separate pre-check job would
        # recompute rand/uuid-derived names and could pass while the
        # staging run still collides).
        parts = stage_sheet_partitions(
            df, staging_dir, sheet_col, sheet_name_len=None
        )
        by_short: dict[str, list[str]] = {}
        for name in parts:
            by_short.setdefault(name[:sheet_name_len], []).append(name)
        collided = [ns for ns in by_short.values() if len(ns) > 1]
        if collided:
            raise ValueError(
                f"sheet names {sorted(collided[0])!r} collide "
                f"after truncation to {sheet_name_len} chars"
            )
        try:
            import openpyxl  # noqa: F401
            import pandas as pd

            with pd.ExcelWriter(path, engine="openpyxl") as writer:
                for name, part_dir in parts.items():
                    pd.read_parquet(part_dir).to_excel(
                        writer, sheet_name=name[:sheet_name_len], index=False
                    )
        except ImportError:
            from exceldatatransform_py_spark.sources import xlsx_shim

            sheets = {
                name[:sheet_name_len]: _read_part_rows(part_dir)
                for name, part_dir in parts.items()
            }
            xlsx_shim.write_workbook(path, sheets)
    finally:
        shutil.rmtree(staging_dir, ignore_errors=True)


def _read_part_rows(part_dir: str) -> tuple[list[str], list[list]]:
    """Read one staged partition directory into (header, rows) via
    pyarrow — the shim writer's input. Human-scale data by contract
    (one sheet of an output workbook)."""
    import pyarrow.parquet as pq

    table = pq.read_table(part_dir)
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    rows = [list(r) for r in zip(*cols)] if cols else []
    return list(table.column_names), rows


def update_excel_workbook_in_place(
    path: str,
    updates: DataFrame,
    surname_col: str = "surname",
    date_col: str = "data",
    update_cols: Sequence[str] = ("commessa", "ore"),
    staging_dir: str | None = None,
) -> None:
    """S5 in its native format: formatting-preserving in-place workbook
    update (``timesheet_transform.py:105-138``) — load the workbook
    with openpyxl (keeps formatting), overwrite ONLY matched cells,
    never insert rows, save the same file.

    Reference semantics preserved: sheet↔surname match is
    case-insensitive (``:109``); the sheet layout is assumed to be
    headers in row 1 with columns A/B/C = DATA/COMMESSA/ORE
    (``:115``); date cells may be strings or datetimes and compare at
    day granularity (``:118-128``); several update rows hitting one
    date are re-aggregated, not multiplied (``:129-134``) — that
    re-agg runs SPARK-side here (J3 collapse-before-merge: distinct-
    sorted commessa concat + ore sum per (surname, date)), so the
    driver probe is a plain dict lookup.

    Split like ``write_excel_workbook``: the collapse + per-surname
    staging is a distributed job; only the cell-level patching of one
    small human-facing workbook is driver-side. Engine selection:
    openpyxl when installed (the only engine that preserves rich
    formatting, exactly like the reference's ``load_workbook``); else
    the stdlib shim, which preserves every untouched CELL VALUE and
    the update-only merge semantics but not styling.
    """
    import pandas as pd

    from exceldatatransform_py_spark.functions.columns import (
        dec_sum,
        distinct_sorted_concat,
    )

    collapsed = (
        updates.withColumn("__sheet", F.lower(F.col(surname_col)))
        .withColumn("__date", F.to_date(F.col(date_col)))
        .groupBy("__sheet", "__date")
        .agg(
            distinct_sorted_concat(update_cols[0]).alias(update_cols[0]),
            dec_sum(update_cols[1]).alias(update_cols[1]),
        )
    )
    if staging_dir is None:
        staging_dir = path + ".updates"
    parts = stage_sheet_partitions(collapsed, staging_dir, "__sheet")

    def part_by_date(part_dir: str) -> dict:
        import pyarrow.parquet as pq

        table = pq.read_table(part_dir)
        # to_pylist() yields Python natives (openpyxl rejects numpy
        # scalars on direct cell assignment).
        return dict(
            zip(
                table.column("__date").to_pylist(),
                zip(
                    table.column(update_cols[0]).to_pylist(),
                    table.column(update_cols[1]).to_pylist(),
                ),
            )
        )

    def day_of(cell_value):
        """Day-granularity key of a sheet date cell (string or
        datetime — ``timesheet_transform.py:118-125``); None = skip."""
        if isinstance(cell_value, str):
            try:
                return pd.to_datetime(cell_value).date()
            except (ValueError, TypeError):
                return None
        if hasattr(cell_value, "date"):
            return cell_value.date()
        return None

    try:
        try:
            import openpyxl

            wb = openpyxl.load_workbook(path)
            for sheet_name in wb.sheetnames:
                part_dir = parts.get(sheet_name.lower())
                if part_dir is None:
                    continue
                by_date = part_by_date(part_dir)
                ws = wb[sheet_name]
                for date_cell, commessa_cell, ore_cell in ws.iter_rows(
                    min_row=2, max_col=3, values_only=False
                ):
                    key = day_of(date_cell.value)
                    hit = by_date.get(key) if key is not None else None
                    if hit is not None:
                        commessa_cell.value, ore_cell.value = hit
            wb.save(path)
        except ImportError:
            from exceldatatransform_py_spark.sources import xlsx_shim

            sheets = xlsx_shim.read_workbook(path)
            for sheet_name, (header, rows) in sheets.items():
                part_dir = parts.get(sheet_name.lower())
                if part_dir is None:
                    continue
                by_date = part_by_date(part_dir)
                for row in rows:
                    if not row:
                        continue
                    key = day_of(row[0])
                    hit = by_date.get(key) if key is not None else None
                    if hit is not None:
                        row[1], row[2] = hit
            xlsx_shim.write_workbook(path, sheets)
    finally:
        shutil.rmtree(staging_dir, ignore_errors=True)


def merge_update_write(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    on: Sequence[str],
    update_cols: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """Update-only merge into a stored table (S5): read target, apply
    ``operators.merge.merge_update``, rewrite.

    Plain-parquet approximation of Delta's
    ``whenMatchedUpdate`` — a full rewrite is required because parquet
    files are immutable. With Delta/Iceberg this becomes a metadata
    + touched-file-only commit; the relational semantics are
    identical.
    """
    from exceldatatransform_py_spark.operators.merge import merge_update

    target = spark.read.format(fmt).load(target_path)
    merged = merge_update(target, updates, on=on, update_cols=update_cols)
    # Materialize before overwriting the files we read from.
    merged_local = merged.localCheckpoint(eager=True)
    merged_local.write.format(fmt).mode("overwrite").save(target_path)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    num_files: int,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Range-clustered sink: co-locate rows by sort order so scans can
    skip whole files/row groups.

    ``repartitionByRange`` samples the cluster key to build
    range-disjoint partitions, ``sortWithinPartitions`` orders rows
    inside each, so every output file covers a narrow, non-overlapping
    key range and its parquet min/max statistics become selective:
    a predicate on the cluster key prunes most files without reading
    them. This is the single-dimension form of what Delta/Iceberg call
    Z-ordering or liquid clustering — at 100 TB, clustering the fact
    table on its dominant filter column (e.g. ship date) turns
    full-table scans into touched-range scans, the same win partition
    pruning gives but without a directory per value.

    ``num_files`` sizes the layout: target ~128 MB-1 GB per file at
    scale (here: small numbers for tests). The range exchange is one
    extra shuffle at write time, amortized over every later read.
    """
    (
        df.repartitionByRange(num_files, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )


#: bits per dimension of the z-value; 2 dims × 12 bits = 24-bit keys.
_Z_BITS = 12


def zorder_value(a: Column, b: Column) -> Column:
    """Interleave the bits of two ``_Z_BITS``-bit bucket ids into one
    Morton (Z-order) key: bit i of ``a`` lands at position 2i, bit i of
    ``b`` at 2i+1. Pure integer expression — map-side, codegen'd."""
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i) % 2, 2 * i).cast("bigint")
            + F.shiftleft(F.shiftright(b, i) % 2, 2 * i + 1).cast("bigint")
        )
    return z


def zorder_frame(
    df: DataFrame, col_a: str, col_b: str, num_files: int
) -> DataFrame:
    """The Z-order rewrite as a DataFrame transform (the snapshot
    OPTIMIZE ZORDER commit's layout): rows range-partitioned and
    sorted on the Morton interleave of both columns' bucket ids, so
    parquet min/max stats prune files on a predicate over EITHER
    column — the property the 1-D ``write_range_clustered`` only
    gives its leading column. Each column is normalized into
    ``2^_Z_BITS`` equal-width buckets between its min and max, the
    extremes joined back as one broadcast scalar row; z-key dropped
    from the output."""
    stats = df.agg(
        F.min(col_a).alias("__amin"),
        F.max(col_a).alias("__amax"),
        F.min(col_b).alias("__bmin"),
        F.max(col_b).alias("__bmax"),
    )
    n_buckets = float(2**_Z_BITS)

    def bucket(c: str, lo: str, hi: str) -> Column:
        span = F.col(hi).cast("double") - F.col(lo).cast("double")
        frac = (F.col(c).cast("double") - F.col(lo).cast("double")) / F.greatest(
            span, F.lit(1e-12)
        )
        b = F.floor(frac * n_buckets).cast("bigint")
        return F.least(F.greatest(b, F.lit(0)), F.lit(2**_Z_BITS - 1))

    zed = df.join(F.broadcast(stats)).withColumn(
        "__z",
        zorder_value(
            bucket(col_a, "__amin", "__amax"), bucket(col_b, "__bmin", "__bmax")
        ),
    )
    return (
        zed.repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", "__amin", "__amax", "__bmin", "__bmax")
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    k_shards: int,
    seed: int = 17,
    id_col: str = "doc_id",
) -> None:
    """Deterministic corpus shuffle + shard writer — the last serving
    step of a training-data pipeline: emit the corpus as ``k_shards``
    shard directories whose concatenation in (shard, position) order
    is a SEED-KEYED pseudorandom permutation of the documents.

    Order comes from a portable hash, not an RNG: every document gets
    ``h = md5_hash32(seed, id)``; its shard is ``h % k_shards`` and
    its position within the shard is the (h, id) sort order — so the
    permutation is a pure function of (seed, ids), reproducible on any
    engine/cluster/partitioning, and changing the seed reshuffles.
    ``training_shard_manifest`` (plans/queries_llm.py) pins the exact
    permutation under the oracle via order-sensitive per-shard chained
    hashes.

    Physical shape: ONE hash shuffle into ``k_shards`` tasks (each
    shard lives in exactly one task), ``sortWithinPartitions`` for the
    in-shard order (local sort, no global sort anywhere — the point:
    training order needs a pseudorandom permutation, which a hash
    gives without total ordering the corpus), and a ``partitionBy``
    directory layout → one parquet file per shard, rows already in
    serving order.
    """
    from exceldatatransform_py_spark.functions.text import md5_hash32

    h = md5_hash32(F.col(id_col), seed=seed)
    (
        docs.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % k_shards).cast("int"))
        .repartition(k_shards, F.col("shard"))
        .sortWithinPartitions("shard", "__h", id_col)
        .drop("__h")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
