"""Index-table maintenance: OPTIMIZE, tombstone deletes and purges.

Every streaming-ingest loop in this engine (LSH / IVF / IVF-SQ8 /
MinHash / SimHash / BM25 appends) adds one file per partition or
bucket per batch — correct, but a year of batches serves from
thousands of tiny files: scan planning, footer reads, and task
scheduling all degrade with file count long before data size matters.
``compact_index`` folds them back to one file per partition/bucket
WITHOUT changing a single row, and purges the tombstones that
``delete_from_index`` recorded. ``INDEX_FAMILIES`` declares every
index kind once (its tables, id columns and delete/purge hooks).

Every overwrite of an existing index table goes through
``replace_table``:

* the layout (partition columns, bucket spec + sort columns,
  location) is INTROSPECTED from the catalog, so a rewrite cannot
  drift from what the index's serve path planned against — bucketed
  tables are rewritten through the same ``write_bucketed`` used at
  build time (one file per bucket, ``sortBy`` order re-established,
  which is exactly the state Spark requires to elide downstream
  sorts), and partitioned tables are repartitioned by their partition
  columns so each partition value lands in one task → one file.
* rows are snapshotted with an eager ``localCheckpoint`` before the
  overwrite, cutting the plan's lineage back to the table being
  replaced (Spark otherwise refuses to overwrite a path it reads).
  This makes the rewrite a read-then-replace, not transactional —
  the documented upgrade path for a 100 TB deployment is to write to
  a fresh directory and publish it through the snapshot layer's
  ``CommitProtocol`` (``sources.snapshots``), exactly how
  ``snapshot_compact`` commits; the sizing/one-file-per-unit logic
  is identical here.

Scale posture: compaction is one shuffle of the index (partitioned by
exactly the columns the index already clusters on) — never of the
corpus — and runs offline like Delta's OPTIMIZE.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from importlib import import_module

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from exceldatatransform_py_spark.sources.bucketing import write_bucketed


def table_layout(spark: SparkSession, table: str) -> dict:
    """Catalog introspection: partition columns, bucket spec, sort
    columns, and filesystem location of a saved table."""
    pcols = [c.name for c in spark.catalog.listColumns(table) if c.isPartition]
    bcols = [c.name for c in spark.catalog.listColumns(table) if c.isBucket]
    n_buckets, sort_cols, location = 0, [], None
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        key = (row.col_name or "").strip()
        val = (row.data_type or "").strip()
        if key == "Num Buckets":
            n_buckets = int(val)
        elif key == "Sort Columns":
            sort_cols = [
                c.strip(" `") for c in val.strip("[]").split(",") if c.strip()
            ]
        elif key == "Location":
            location = val
    return {
        "partition_cols": pcols,
        "bucket_cols": bcols,
        "n_buckets": n_buckets,
        "sort_cols": sort_cols,
        "location": location,
    }


def _count_data_files(location: str | None) -> int:
    if not location:
        return -1
    path = location.removeprefix("file:")
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def replace_table(spark: SparkSession, table: str, rows) -> dict:
    """Overwrite ``table`` with ``rows`` (which may read ``table``)
    in its introspected layout: one file per bucket, per partition
    value, or in all (see module docstring).
    Returns ``{"files_before": int, "files_after": int}``."""
    lay = table_layout(spark, table)
    before = _count_data_files(lay["location"])
    # eager snapshot: the rewrite must not read the files it replaces
    rows = rows.localCheckpoint(eager=True)
    if lay["bucket_cols"]:
        write_bucketed(
            rows, table, lay["bucket_cols"], lay["n_buckets"],
            sort_cols=lay["sort_cols"] or None, path=lay["location"],
            mode="overwrite",
        )
    else:
        pcols = lay["partition_cols"]
        # one task, hence one file, per partition value (or in all)
        out = (
            rows.repartition(*[rows[c] for c in pcols])
            if pcols else rows.coalesce(1)
        )
        (
            out.write.mode("overwrite")
            .partitionBy(*pcols)
            .option("path", lay["location"])
            .saveAsTable(table)
        )
    rows.unpersist()
    spark.catalog.refreshTable(table)  # ``rows`` may be another session's
    return {"files_before": before,
            "files_after": _count_data_files(lay["location"])}


def compact_table(
    spark: SparkSession, table: str, minus: tuple | None = None
) -> dict:
    """Rewrite ``table`` with one file per partition value (or per
    bucket), preserving its introspected layout; rows are unchanged —
    unless ``minus=(ids_df, id_col)`` is given, in which case rows
    matching the ids are PURGED during the rewrite (the tombstone
    materialization step of ``purge_index_deletes``).
    Returns ``{"files_before": int, "files_after": int}``."""
    src = spark.table(table)
    if minus is not None:
        ids_df, idc = minus
        src = src.join(F.broadcast(ids_df.select(idc)), idc, "left_anti")
    return replace_table(spark, table, src)


def _family(kind: str) -> "IndexFamily":
    """The registered spec of index ``kind`` (``INDEX_FAMILIES``)."""
    if kind not in INDEX_FAMILIES:
        raise ValueError(
            f"unknown index kind {kind!r}; one of {sorted(INDEX_FAMILIES)}"
        )
    return INDEX_FAMILIES[kind]


def compact_index(
    spark: SparkSession, table_prefix: str, kind: str
) -> dict:
    """OPTIMIZE an index family's data tables (see ``INDEX_FAMILIES``);
    returns per-table before/after file counts. Serve results are
    byte-identical afterwards — compaction changes layout economics,
    never content: tombstoned ids recorded by ``delete_from_index``
    are PURGED physically here, but probes were already subtracting
    them logically."""
    family = _family(kind)
    return purge_index_deletes(spark, table_prefix, kind) or {
        suffix: compact_table(spark, f"{table_prefix}_{suffix}")
        for suffix in (*family.tables, *family.aggregates)
    }


_SIMBAND_LAYOUT_COLS = {"simhash", "band", "bv"}


def _table_id_col(spark: SparkSession, table: str, declared: str | None) -> str:
    if declared is not None:
        return declared
    extra = [
        c for c in spark.table(table).columns
        if c not in _SIMBAND_LAYOUT_COLS
    ]
    if len(extra) != 1:
        raise ValueError(
            f"cannot introspect the id column of {table}: "
            f"non-layout columns {extra}"
        )
    return extra[0]


def index_tombstones(spark: SparkSession, table_prefix: str):
    """The index's deleted-ids table (one ``id`` column), or None when
    no delete was ever recorded. Consulted by every probe/serve path —
    the retrieval layer must not resurrect what the storage layer
    deleted."""
    t = f"{table_prefix}_deleted"
    if not spark.catalog.tableExists(t):
        return None
    return spark.table(t)


def _append_index_table(
    spark: SparkSession, table_prefix: str, suffix: str, rows, beside: str
) -> None:
    """Append ``rows`` to ``<prefix>_<suffix>``, or create it as a
    single-file external table next to the ``<prefix>_<beside>`` data,
    so the whole index stays one relocatable directory."""
    table = f"{table_prefix}_{suffix}"
    if spark.catalog.tableExists(table):
        rows.coalesce(1).write.mode("append").insertInto(table)
        return
    lay = table_layout(spark, f"{table_prefix}_{beside}")
    root = os.path.dirname(lay["location"].removeprefix("file:"))
    (
        rows.coalesce(1).write.mode("overwrite")
        .option("path", os.path.join(root, suffix)).saveAsTable(table)
    )


def delete_from_index(
    spark: SparkSession,
    table_prefix: str,
    kind: str,
    ids,
    id_col: str,
) -> int:
    """Evict documents/vectors from a persisted index family —
    DV-style: the ids land in a ``<prefix>_deleted`` tombstone table
    that every probe anti-joins (O(batch) write, zero index rows
    touched), and the next ``compact_index`` purges them physically.
    This is the retrieval-layer twin of the snapshot layer's deletion
    vectors: a curation loop that admits AND evicts documents
    continuously needs the indexes to stop returning dead ids the
    moment the delete commits, without a rebuild.

    ``ids`` is any DataFrame carrying ``id_col``; duplicates and
    already-deleted ids collapse, and the family's ``on_delete`` hook
    sees the new batch (BM25 records its df corrections). Returns the
    number of NEW tombstones recorded."""
    family = _family(kind)
    new = minus_tombstones(
        spark, table_prefix,
        ids.select(F.col(id_col).alias("id")).dropDuplicates(), "id",
    ).localCheckpoint(eager=True)  # pin before any overwrite
    n_new = new.count()
    if not n_new:
        return 0
    _append_index_table(
        spark, table_prefix, "deleted", new, next(iter(family.tables))
    )
    if family.on_delete is not None:
        family.hook("on_delete")(spark, table_prefix, new)
    return n_new


def purge_index_deletes(
    spark: SparkSession, table_prefix: str, kind: str
) -> dict:
    """Physically remove tombstoned rows from every id-bearing table
    of the family (rewrite preserving the introspected layout — the
    purge half of ``compact_index``), run the family's ``on_purge``
    hook (BM25 rebuilds df/stats from the purged tables and truncates
    its correction table), then truncate the tombstones. Serve results
    are IDENTICAL before and after: probes already subtracted the
    tombstones logically."""
    family = _family(kind)
    tomb = index_tombstones(spark, table_prefix)
    if tomb is None:
        return {}
    tomb = tomb.localCheckpoint(eager=True)  # survives the truncation
    stats = {}
    for suffix, declared in family.tables.items():
        table = f"{table_prefix}_{suffix}"
        idc = _table_id_col(spark, table, declared)
        stats[suffix] = compact_table(
            spark, table,
            minus=(tomb.withColumnRenamed("id", idc), idc),
        )
    if family.on_purge is not None:
        stats.update(family.hook("on_purge")(spark, table_prefix))
    _truncate_index_table(spark, f"{table_prefix}_deleted")
    return stats


def _truncate_index_table(spark: SparkSession, table: str) -> None:
    if spark.catalog.tableExists(table):
        replace_table(spark, table, spark.table(table).filter("1 = 0"))


def minus_tombstones(
    spark: SparkSession, table_prefix: str, df, id_col: str
):
    """Anti-join ``df`` against the index's tombstones on ``id_col``
    (a no-op when no delete was ever recorded). The one consultation
    point every probe/serve path routes through — tombstones are
    delete-batch-sized, so the anti-join broadcasts."""
    tomb = index_tombstones(spark, table_prefix)
    if tomb is None:
        return df
    return df.join(
        F.broadcast(tomb.withColumnRenamed("id", id_col)),
        id_col, "left_anti",
    )


@dataclass(frozen=True)
class IndexFamily:
    """What the storage layer knows of one persisted index kind.

    ``tables``: each per-row data table suffix → its stored id column
    (``None`` = introspect: the banded fingerprint table keeps the
    caller's id column). ``aggregates``: data tables without per-row
    ids (BM25's df), rebuilt by ``on_purge(spark, prefix)`` instead of
    anti-joined. ``on_delete(spark, prefix, new_ids)`` sees each new
    tombstone batch. The hooks are ``"module:function"`` refs under
    ``operators``, imported on use since those modules import this
    one. One-row control tables (planes, centroids, codebook, stats)
    never accumulate append files and are absent."""

    tables: dict[str, str | None]
    aggregates: tuple[str, ...] = ()
    on_delete: str | None = None
    on_purge: str | None = None

    def hook(self, name: str) -> Callable:
        """The operator function behind hook ``name``."""
        module, fn = getattr(self, name).split(":")
        return getattr(
            import_module(f"exceldatatransform_py_spark.operators.{module}"),
            fn,
        )


#: every index kind, exactly once (the CLI's ``index`` kinds); kinds
#: that share a table layout share a spec
INDEX_FAMILIES: dict[str, IndexFamily] = {
    # MinHash; novelty probes score against the dedup index
    **dict.fromkeys(("dedup", "novelty"), IndexFamily(
        {"bands": "doc", "shingles": "doc"})),
    # SimHash text and the media fingerprints: one banded table
    **dict.fromkeys(("simhash", "phash", "audio", "video"), IndexFamily(
        {"simbands": None})),
    **dict.fromkeys(("ivf", "ivf_sq8", "ivf_pq"), IndexFamily(
        {"cells": "neighbor_id"})),
    "lsh": IndexFamily({"buckets": "neighbor_id"}),
    "bm25": IndexFamily(
        {"postings": "doc_id", "doclen": "doc_id"},
        aggregates=("df",),
        on_delete="retrieval:_record_bm25_deletes",
        on_purge="retrieval:_purge_bm25_aggregates",
    ),
}
