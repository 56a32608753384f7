"""Command-line entry point — the reference tool's user workflows.

The reference is an interactive script: tkinter file pickers choose a
weekly-timesheet workbook, a code-mapping file, and (in the final
version) an existing target workbook to update in place
(``timesheet_transform.py:140-179``; v1 instead writes one sheet per
surname, ``timesheet_transform_v1.py:92-100``). A user of the
reference runs exactly two workflows, restated here as subcommands
with file arguments instead of dialogs:

``transform`` — v1/v2 behavior::

    python -m exceldatatransform_py_spark transform \
        --input timesheets.xlsx --mapping codes.csv --output out/

    reads every sheet, builds the daily ledger, writes one partition
    per surname (the Spark analogue of one-sheet-per-surname).

``update`` — final-version behavior::

    python -m exceldatatransform_py_spark update \
        --input timesheets.xlsx --mapping codes.csv --target ledger/

    builds the same ledger, then update-only-merges it into the
    stored target table: matched (surname, date) rows get commessa/
    ore overwritten, nothing is inserted, unmatched updates are
    discarded.

Input formats (decided by extension):

* ``.xlsx``/``.xls`` — whole workbook, one source per sheet
  (needs pandas+openpyxl; gated exactly like ``read_excel_workbook``)
* a directory — every ``*.csv`` inside is one "sheet" named by its
  file stem
* a single ``.csv``/``.parquet`` — a one-sheet workbook

The mapping file is any of those with the key in column 1 and the
replacement in column 2 (``timesheet_transform.py:17-18``). The target
is a parquet directory with at least (surname, data, commessa, ore).
"""

from __future__ import annotations

import argparse
import os
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from exceldatatransform_py_spark.operators import dedup as dd
from exceldatatransform_py_spark.operators import multimodal as mm
from exceldatatransform_py_spark.operators import retrieval as ret
from exceldatatransform_py_spark.operators import similarity as sim
from exceldatatransform_py_spark.plans.pipeline import (
    build_daily_ledger,
    merge_ledger_into_target,
)
from exceldatatransform_py_spark.session import get_spark
from exceldatatransform_py_spark.sources.maintenance import (
    INDEX_FAMILIES,
    compact_index,
    delete_from_index,
)
from exceldatatransform_py_spark.sources.readers import read_excel_workbook
from exceldatatransform_py_spark.sources.writers import (
    update_excel_workbook_in_place,
    write_excel_workbook,
    write_partitioned_by_key,
)


def _read_one(spark: SparkSession, path: str) -> DataFrame:
    if path.endswith(".parquet"):
        return spark.read.parquet(path)
    # Deliberately untyped (all strings), like the reference's Excel
    # cells: per-sheet inference would give the same column different
    # types on different sheets (one sheet's dirty hours column infers
    # string, another's infers bigint) and the union's coercion then
    # hard-fails on the dirty cells under ANSI. The pipeline owns the
    # typing: week_start_date parses dates, clean_numeric parses hours.
    return spark.read.option("header", "true").csv(path)


def read_sheets(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Input file/dir → {sheet name: DataFrame} (see module doc)."""
    if path.endswith((".xlsx", ".xls")):
        return read_excel_workbook(spark, path)
    if os.path.isdir(path) and not path.endswith(".parquet"):
        sheets = {
            os.path.splitext(f)[0]: _read_one(spark, os.path.join(path, f))
            for f in sorted(os.listdir(path))
            if f.endswith(".csv")
        }
        if not sheets:
            raise SystemExit(f"no *.csv sheets found in {path}")
        return sheets
    name = os.path.splitext(os.path.basename(path))[0]
    return {name: _read_one(spark, path)}


def _build_ledger(spark: SparkSession, args: argparse.Namespace) -> DataFrame:
    sheets = read_sheets(spark, args.input)
    mapping = _read_one(spark, args.mapping)
    return build_daily_ledger(
        sheets,
        mapping,
        week_range_col=args.week_range_col,
        code_col=args.code_col,
        author_col=args.author_col,
    )


def cmd_transform(spark: SparkSession, args: argparse.Namespace) -> None:
    ledger = _build_ledger(spark, args)
    # v1 writes one sheet per surname with the surname column dropped
    # and the sheet name capped at Excel's 31 chars. --format xlsx (or
    # an .xlsx output path) emits the reference's literal artifact —
    # one workbook, one sheet per surname; the default partitionBy
    # parquet sink is the exact distributed analogue (partition col
    # removed from data files).
    fmt = args.format or ("xlsx" if args.output.endswith(".xlsx") else "parquet")
    if fmt == "xlsx":
        write_excel_workbook(ledger, args.output, "surname")
        print(f"wrote per-surname workbook to {args.output}", file=sys.stderr)
    else:
        write_partitioned_by_key(
            ledger, args.output, ["surname"], sanitize_len=31
        )
        print(f"wrote per-surname partitions to {args.output}", file=sys.stderr)


def cmd_update(spark: SparkSession, args: argparse.Namespace) -> None:
    ledger = _build_ledger(spark, args)
    if ledger.isEmpty():
        # the reference's empty-result short-circuit (":173-175").
        raise SystemExit("no valid records found in the input; target untouched")
    if args.target.endswith(".xlsx"):
        # the reference's literal final workflow: formatting-preserving
        # cell-level update of an existing workbook.
        update_excel_workbook_in_place(args.target, ledger)
        print(f"updated matched cells in {args.target}", file=sys.stderr)
        return
    target = spark.read.parquet(args.target)
    merged = merge_ledger_into_target(target, ledger).localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(args.target)
    print(f"updated matched rows in {args.target}", file=sys.stderr)


def cmd_explain(spark: SparkSession, args: argparse.Namespace) -> None:
    """Print a registered query's physical plan plus a one-line cost
    summary (shuffles / scans / codegen spans) — the plan-review loop
    ("explain, then iterate until it's the plan you'd want") as a
    first-class tool instead of an ad-hoc snippet."""
    from exceldatatransform_py_spark.plans.queries import QUERIES

    if args.query == "list" or args.query not in QUERIES:
        names = "\n".join(sorted(QUERIES))
        if args.query == "list":
            print(names)
            return
        raise SystemExit(f"unknown query {args.query!r}; one of:\n{names}")
    df = QUERIES[args.query](spark, args.sf_dir)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(args.mode)
    txt = df._jdf.queryExecution().explainString(mode)
    print(txt)
    print(
        f"-- summary: {txt.count('Exchange')} exchange(s), "
        f"{txt.count('Scan parquet')} parquet scan(s), "
        f"{txt.count('WholeStageCodegen')} codegen span(s), "
        f"{txt.count('BroadcastExchange')} broadcast(s)",
        file=sys.stderr,
    )


def _deliver(df: DataFrame, args: argparse.Namespace, what: str) -> None:
    """Save ``df`` to ``--output`` (csv by extension, else parquet), or
    print ``--limit`` rows when no output is given."""
    if not args.output:
        df.show(args.limit, truncate=False)
        return
    fmt = "csv" if args.output.endswith(".csv") else "parquet"
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(args.output)
    print(f"wrote {what} to {args.output}", file=sys.stderr)


def cmd_query(spark: SparkSession, args: argparse.Namespace) -> None:
    """Run any registered query against an sf_dir and deliver the
    result — to stdout (default, ``--limit`` rows) or to a parquet/csv
    sink. This is how a user of the engine runs the whole 130+-query
    surface without writing code."""
    from exceldatatransform_py_spark.plans.queries import QUERIES

    if args.name not in QUERIES:
        names = "\n".join(sorted(QUERIES))
        raise SystemExit(f"unknown query {args.name!r}; one of:\n{names}")
    _deliver(QUERIES[args.name](spark, args.sf_dir), args, f"{args.name} result")


@dataclass(frozen=True)
class IndexCommand:
    """The operator functions ``index build/append/probe`` call for one
    kind, and the input they take: ``docs`` (``--id-col``,
    ``--text-col``), ``media`` (payloads that ``featurize(df, args)``
    turns into ``fp_col`` fingerprints, indexed like SimHash's),
    ``vectors`` (``--id-col``, ``--vec-col``; ``centroids``: the build
    takes the trained ``--centroids``) or ``terms`` (documents to
    build and append, query terms to probe)."""

    input: str
    build: Callable
    append: Callable
    probe: Callable
    featurize: Callable | None = None
    fp_col: str | None = None
    centroids: bool = False

    @property
    def ranked(self) -> bool:
        """Top-k kinds: probes take ``k``, appends take the session."""
        return self.input in ("vectors", "terms")

    def run(self, action: str, spark: SparkSession, table_prefix: str,
            df: DataFrame, **opts):
        """Call ``action`` (build / append / probe) on ``df`` with
        keyword ``opts``; returns what it returns."""
        fn = getattr(self, action)
        if action == "build":
            return fn(df, table_prefix=table_prefix, **opts)
        if action == "append":
            lead = (spark,) if self.ranked else ()
            return fn(*lead, df, table_prefix, **opts)
        return fn(spark, table_prefix, df, **opts)


def _media(featurize: Callable, fp_col: str) -> IndexCommand:
    return IndexCommand(
        "media", dd.build_fingerprint_index, dd.append_to_fingerprint_index,
        dd.incremental_fingerprint_near_dup, featurize=featurize,
        fp_col=fp_col,
    )


def _vectors(build: Callable, append: Callable, probe: Callable,
             centroids: bool = True) -> IndexCommand:
    return IndexCommand("vectors", build, append, probe, centroids=centroids)


#: ``index`` entry points of every kind in ``INDEX_FAMILIES``
INDEX_COMMANDS: dict[str, IndexCommand] = {
    "dedup": IndexCommand(
        "docs", dd.build_dedup_index, dd.append_to_dedup_index,
        dd.incremental_near_dup,
    ),
    "novelty": IndexCommand(  # probes novelty against the dedup index
        "docs", dd.build_dedup_index, dd.append_to_dedup_index,
        dd.incremental_novelty,
    ),
    "simhash": IndexCommand(
        "docs", dd.build_simhash_index, dd.append_to_simhash_index,
        dd.incremental_simhash_near_dup,
    ),
    "phash": _media(lambda df, a: mm.image_phash(
        df, id_col=a.id_col, image_col=a.image_col), "phash"),
    "audio": _media(lambda df, a: mm.audio_fingerprint(
        df, id_col=a.id_col, audio_col=a.audio_col,
        window_samples=a.audio_window or None,  # 0 = whole clip
    ), "afp"),
    "video": _media(lambda df, a: mm.video_fingerprint(
        df, id_col=a.id_col, video_col=a.video_col), "vfp"),
    "ivf": _vectors(sim.build_ivf_index, sim.append_to_ivf_index,
                    sim.ivf_topk_from_index),
    "ivf_sq8": _vectors(sim.build_ivf_sq8_index, sim.append_to_ivf_sq8_index,
                        sim.ivf_sq8_topk_from_index),
    "ivf_pq": _vectors(sim.build_ivf_pq_index, sim.append_to_ivf_pq_index,
                       sim.ivf_pq_topk_from_index),
    "lsh": _vectors(sim.build_lsh_index, sim.append_to_lsh_index,
                    sim.lsh_topk_from_index, centroids=False),
    "bm25": IndexCommand(
        "terms", ret.build_bm25_index, ret.append_to_bm25_index,
        ret.bm25_topk_from_index,
    ),
}


def cmd_index(spark: SparkSession, args: argparse.Namespace) -> None:
    """Drive a persisted index kind from the command line: build →
    probe → append, delete and compact. ``probe`` delivers its result
    like ``query`` does (stdout or a parquet/csv sink)."""
    if args.action == "compact":
        # OPTIMIZE: fold streaming-append small files back to one per
        # partition/bucket and purge tombstones; serve output unchanged.
        for t, s in compact_index(spark, args.prefix, args.kind).items():
            print(f"{args.prefix}_{t}: {s['files_before']} -> "
                  f"{s['files_after']} files", file=sys.stderr)
        return
    command = INDEX_COMMANDS[args.kind]
    # Validate up front (a clear SystemExit beats an opaque TypeError
    # out of spark.read.parquet(None)): every other action reads
    # --input; build writes under --path, and IVF builds read the
    # trained --centroids.
    if not args.input:
        raise SystemExit(f"index {args.action} {args.kind}: --input is required")
    if args.action == "build" and not args.path:
        raise SystemExit(f"index build {args.kind}: --path is required")
    if args.action == "build" and command.centroids and not args.centroids:
        raise SystemExit(f"index build {args.kind}: --centroids is required")
    df = spark.read.parquet(args.input)
    if args.action == "delete":
        # evict the --id-col ids (extra columns ignored): tombstones
        # consulted by every probe; the next compact purges them.
        n = delete_from_index(spark, args.prefix, args.kind, df, args.id_col)
        print(f"recorded {n} new tombstones for {args.prefix}",
              file=sys.stderr)
        return

    # the options each entry point takes follow the kind's input
    opts = {"id_col": args.id_col}
    if command.input == "media":
        df = command.featurize(df, args)
        opts["fp_col"] = command.fp_col
    elif command.input == "vectors":
        opts["vec_col"] = args.vec_col
    else:
        opts["text_col"] = args.text_col
    if args.action == "build":
        opts["path"] = args.path
        if command.centroids:
            opts["centroids"] = spark.read.parquet(args.centroids)
        elif command.input != "vectors":
            opts["n_buckets"] = args.buckets
    elif args.action == "probe":
        if command.input == "terms":  # query terms carry no column options
            opts = {}
        if command.ranked:
            opts["k"] = args.k
    out = command.run(args.action, spark, args.prefix, df, **opts)
    if args.action == "probe":
        _deliver(out, args, "probe result")


def _checks(args: argparse.Namespace) -> dict[str, str]:
    """``--check name=expr`` items → {name: SQL boolean}."""
    cons = {}
    for item in args.check or []:
        name, _, cond = item.partition("=")
        if not cond:
            raise SystemExit(
                f"snapshot {args.action}: --check expects name=expr, "
                f"got {item!r}"
            )
        cons[name] = cond
    return cons


def cmd_snapshot(spark: SparkSession, args: argparse.Namespace) -> None:
    """Drive the versioned snapshot table layer from the command line
    — the table-format workflows (write / merge / read / history /
    rollback / vacuum / compact) that are otherwise API-only."""
    from exceldatatransform_py_spark.sources import snapshots as snap

    a = args.action
    if a in ("write", "merge") and not args.input:
        raise SystemExit(f"snapshot {a}: --input is required")
    if a == "merge" and (not args.on or not args.update_cols):
        raise SystemExit("snapshot merge: --on and --update-cols are required")

    if a == "write":
        df = spark.read.parquet(args.input)
        stats = args.stats_cols.split(",") if args.stats_cols else ()
        cons = _checks(args) if args.check else None
        v = snap.snapshot_write(
            args.table, df, stats_cols=stats, constraints=cons
        )
        print(f"committed version {v}", file=sys.stderr)
    elif a == "merge":
        df = spark.read.parquet(args.input)
        v = snap.snapshot_merge_update(
            spark, args.table, df,
            on=args.on.split(","),
            update_cols=args.update_cols.split(","),
            max_retries=args.max_retries,
            when_not_matched_insert=args.insert,
            when_not_matched_by_source_delete=args.delete_by_source,
        )
        print(f"committed version {v}", file=sys.stderr)
    elif a == "read":
        out = snap.snapshot_read(
            spark, args.table, version=args.version, as_of_ts=args.as_of_ts
        )
        _deliver(out, args, "snapshot read")
    elif a == "history":
        for entry in snap.snapshot_history(args.table):
            print(entry)
    elif a == "changes":
        if args.from_version is None:
            raise SystemExit("snapshot changes: --from-version is required")
        out = snap.snapshot_changes(
            spark, args.table, args.from_version, to_version=args.version
        )
        _deliver(out, args, "change feed")
    elif a == "rollback":
        if args.version is None:
            raise SystemExit("snapshot rollback: --version is required")
        v = snap.rollback(args.table, args.version)
        print(f"restored v{args.version} as version {v}", file=sys.stderr)
    elif a == "vacuum":
        dropped = snap.vacuum(args.table, keep_last=args.keep_last)
        print(f"vacuumed versions {dropped}", file=sys.stderr)
    elif a == "rename":
        if not args.old or not args.new:
            raise SystemExit("snapshot rename: --old and --new are required")
        v = snap.snapshot_rename_column(args.table, args.old, args.new)
        print(f"renamed {args.old} -> {args.new} as version {v}",
              file=sys.stderr)
    elif a == "drop":
        if not args.old:
            raise SystemExit("snapshot drop: --old is required")
        v = snap.snapshot_drop_column(args.table, args.old)
        print(f"dropped {args.old} as version {v}", file=sys.stderr)
    elif a == "alter-check":
        cons = _checks(args)
        v = snap.snapshot_set_constraints(spark, args.table, cons)
        what = cons if cons else "ALL DROPPED"
        print(f"set constraints {what} as version {v}", file=sys.stderr)
    elif a == "compact":
        v = snap.snapshot_compact(
            spark, args.table, target_rows_per_file=args.target_rows
        )
        print(f"committed compacted version {v}", file=sys.stderr)
    else:  # replicate
        if not args.replica or not args.keys:
            raise SystemExit(
                "snapshot replicate: --replica and --keys are required"
            )
        n = snap.replicate_snapshot_changes(
            spark, args.table, args.replica,
            keys=args.keys.split(","), app_id=args.app_id,
            fold_versions=args.fold_versions,
        )
        print(f"applied {n} source versions to {args.replica}",
              file=sys.stderr)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(
        prog="exceldatatransform_py_spark",
        description="weekly timesheets -> daily ledger (Spark-native)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--input", required=True, help="workbook/dir/csv/parquet")
    common.add_argument("--mapping", required=True, help="2-column code mapping")
    common.add_argument("--week-range-col", default="WeekRange")
    common.add_argument("--code-col", default="Codice Commessa")
    common.add_argument("--author-col", default="Autore")

    t = sub.add_parser("transform", parents=[common],
                       help="write one partition per surname (v1 workflow)")
    t.add_argument("--output", required=True)
    t.add_argument("--format", choices=["parquet", "xlsx"], default=None,
                   help="output format (default: by extension; xlsx = one "
                        "workbook, one sheet per surname)")
    u = sub.add_parser("update", parents=[common],
                       help="update-only merge into a stored target (final workflow)")
    u.add_argument("--target", required=True)
    e = sub.add_parser("explain",
                       help="print a registered query's physical plan "
                            "('explain list' lists query names)")
    e.add_argument("query")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    e.add_argument("--mode", default="formatted",
                   choices=["simple", "extended", "formatted", "cost", "codegen"])
    sink = argparse.ArgumentParser(add_help=False)  # see _deliver
    sink.add_argument("--output", default=None,
                      help="parquet dir or .csv path; omit to print")
    sink.add_argument("--limit", type=int, default=20)
    q = sub.add_parser("query", parents=[sink],
                       help="run a registered query and print or save "
                            "the result")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    ix = sub.add_parser("index", parents=[sink],
                        help="build / probe / append the persisted "
                             "retrieval & dedup indexes")
    ix.add_argument("action",
                    choices=["build", "probe", "append", "delete",
                             "compact"])
    ix.add_argument("kind", choices=list(INDEX_FAMILIES))
    ix.add_argument("--prefix", required=True,
                    help="catalog table prefix, e.g. corpus_dedup")
    ix.add_argument("--input", default=None,
                    help="parquet of docs / vectors / query terms")
    ix.add_argument("--path", default=None,
                    help="external-table root (build only)")
    ix.add_argument("--centroids", default=None,
                    help="parquet of (cent_id, cent_vec) — ivf build only")
    ix.add_argument("--buckets", type=int, default=16)
    ix.add_argument("--id-col", default="doc_id")
    ix.add_argument("--text-col", default="text")
    ix.add_argument("--vec-col", default="embedding")
    ix.add_argument("--image-col", default="image",
                    help="BMP payload column — phash kind only")
    ix.add_argument("--audio-col", default="audio",
                    help="WAV payload column — audio kind only")
    ix.add_argument("--audio-window", type=int, default=128,
                    help="leading-excerpt samples for the audio "
                         "fingerprint (0 = whole clip)")
    ix.add_argument("--video-col", default="video",
                    help="SVC payload column — video kind only")
    ix.add_argument("--k", type=int, default=5)

    sn = sub.add_parser("snapshot", parents=[sink],
                        help="versioned snapshot tables: write / merge / "
                             "read / history / rollback / vacuum / compact")
    sn.add_argument("action",
                    choices=["write", "merge", "read", "history", "changes",
                             "rollback", "vacuum", "compact", "replicate",
                             "rename", "drop", "alter-check"])
    sn.add_argument("--table", required=True, help="snapshot table root dir")
    sn.add_argument("--input", default=None,
                    help="parquet of rows to write / merge")
    sn.add_argument("--on", default=None, help="merge keys, comma-separated")
    sn.add_argument("--update-cols", default=None,
                    help="columns the merge overwrites, comma-separated")
    sn.add_argument("--insert", action="store_true",
                    help="merge: WHEN NOT MATCHED THEN INSERT")
    sn.add_argument("--delete-by-source", action="store_true",
                    help="merge: WHEN NOT MATCHED BY SOURCE THEN DELETE")
    sn.add_argument("--max-retries", type=int, default=2,
                    help="merge: CAS retries on concurrent-commit conflict")
    sn.add_argument("--stats-cols", default=None,
                    help="write: cache per-file min/max for these columns")
    sn.add_argument("--check", action="append", default=None,
                    metavar="NAME=EXPR",
                    help="write/alter-check: CHECK constraint "
                         "(repeatable); persists and is enforced on every "
                         "later commit; alter-check with none drops all")
    sn.add_argument("--version", type=int, default=None,
                    help="read/rollback: version number")
    sn.add_argument("--from-version", type=int, default=None,
                    help="change-feed start version (changes only)")
    sn.add_argument("--as-of-ts", type=float, default=None,
                    help="read: TIMESTAMP AS OF (epoch seconds)")
    sn.add_argument("--keep-last", type=int, default=2,
                    help="vacuum: versions to retain")
    sn.add_argument("--target-rows", type=int, default=1_000_000,
                    help="compact: target rows per file")
    sn.add_argument("--replica", default=None,
                    help="replicate: replica table root dir")
    sn.add_argument("--keys", default=None,
                    help="replicate: row-identity keys, comma-separated")
    sn.add_argument("--app-id", default="cdf-replica",
                    help="replicate: txn-ledger writer id (the cursor)")
    sn.add_argument("--fold-versions", type=int, default=64,
                    help="replicate: drain up to N consecutive "
                         "row-change versions as one commit (1: one "
                         "commit per source version)")
    sn.add_argument("--old", default=None, help="rename: current column name")
    sn.add_argument("--new", default=None, help="rename: new column name")

    args = p.parse_args(argv)
    spark = get_spark(app_name=f"edt-{args.cmd}")
    {
        "transform": cmd_transform,
        "update": cmd_update,
        "explain": cmd_explain,
        "query": cmd_query,
        "index": cmd_index,
        "snapshot": cmd_snapshot,
    }[args.cmd](spark, args)


if __name__ == "__main__":
    main()
