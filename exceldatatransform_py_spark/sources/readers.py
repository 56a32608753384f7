"""Readers (SURVEY.md §2.1).

S1/S2 — the reference reads Excel workbooks (one DataFrame per sheet,
``timesheet_transform.py:21-29``) and unions all sheets, synthesizing
a missing ``Codice Commessa`` column from the sheet name. The Spark
restatement treats each "sheet" as an independent source DataFrame
and unions by name with missing-column tolerance, adding a lineage
column. S3 — the 2-column mapping file becomes a small dimension
DataFrame that callers broadcast. S6 — parquet/csv/json scans are
Spark built-ins; `read_table` is the thin entry point the whole
engine uses, keeping predicate pushdown / column pruning intact
(never collect-then-recreate).

Schema cache: a schema-less ``spark.read.parquet`` launches one Spark
job to infer the schema, and `read_table` is called on every plan
build, so `read_table` remembers each inferred ``StructType`` and
reads later calls with ``spark.read.schema(s).parquet`` (no job). The
key is the file's identity — real path, ``st_ino``, ``st_size``,
``st_mtime_ns`` — plus the session confs that change what inference
returns (``_SCHEMA_CONFS``). An entry is stored only when the file's
mtime is at least ``_RACY_NS`` older than the inference (the racy-git
rule: a rewrite within the timestamp granularity could keep all four
identity fields, so a young file is inferred again every time). The
cache is an LRU of ``_SCHEMA_CACHE_SIZE`` entries; a path that is not
a local regular file (a directory, a remote URI) is read as before.
"""

from __future__ import annotations

import os
import stat
import threading
import time
from collections import OrderedDict
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: the session confs that change the schema parquet inference returns
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_CACHE_SIZE = 256
#: a file modified less than this before its inference is not cached
_RACY_NS = 2_000_000_000
_schema_cache: OrderedDict[tuple, T.StructType] = OrderedDict()
_schema_lock = threading.Lock()


def _file_key(path: str) -> tuple | None:
    """(real path, inode, size, mtime ns) of a local regular file, else
    None."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except (OSError, ValueError):
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (real, st.st_ino, st.st_size, st.st_mtime_ns)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the inference job when this
    file's schema was already inferred under the same confs (see the
    module docstring)."""
    ident = _file_key(path)
    if ident is None:
        return spark.read.parquet(path)
    key = ident + tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
    with _schema_lock:
        schema = _schema_cache.get(key)
        if schema is not None:
            _schema_cache.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    inferred_at = time.time_ns()
    df = spark.read.parquet(path)
    if ident[3] <= inferred_at - _RACY_NS and _file_key(path) == ident:
        with _schema_lock:
            _schema_cache[key] = df.schema
            while len(_schema_cache) > _SCHEMA_CACHE_SIZE:
                _schema_cache.popitem(last=False)
    return df


def read_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Scan one parquet table lazily (filters/projections push down).

    ``fan_out=True`` round-robin-repartitions the scan to the session's
    default parallelism. Parquet is only splittable at row-group
    granularity, and the local testdata files are written as a SINGLE
    row group — without this, every map-side pipeline over them runs
    as one task on one core. Use it for expression-heavy map-only
    plans over such files. Production-scale data has many row
    groups/files, so scans parallelize natively and the extra shuffle
    would be pure cost: leave it off unless the source is known to be
    few-big-row-group files.
    """
    if name == "events":
        # Some generations of the events table store TIMESTAMP(NANOS),
        # which Spark's parquet reader rejects outright
        # ([PARQUET_TYPE_ILLEGAL]); with nanosAsLong the column arrives
        # as raw INT64 nanos and is converted exactly: integer-div to
        # micros (matches DuckDB's nanos→micros truncation), then to a
        # naive timestamp. `div` keeps the arithmetic in longs — a
        # double round-trip would lose precision above 2^53 ns. Newer
        # generations store TIMESTAMP(MICROS), which reads natively —
        # only normalize when the column actually surfaces as a long.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    else:
        df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if fan_out:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def read_all_tables(
    spark: SparkSession, sf_dir: str, names: Sequence[str] = TABLES
) -> dict[str, DataFrame]:
    """Scan a directory of tables → {name: DataFrame} (the reference's
    workbook-as-dict-of-sheets abstraction, ``timesheet_transform.py:21``)."""
    return {name: read_table(spark, sf_dir, name) for name in names}


def scan_sheets_with_lineage(
    sheets: Mapping[str, DataFrame],
    lineage_col: str = "source_sheet",
    synthesize_col: str | None = None,
) -> DataFrame:
    """Union heterogeneous per-sheet DataFrames with lineage (S2).

    Mirrors ``timesheet_transform.py:21-29``: every sheet is read; if
    ``synthesize_col`` is named and a sheet lacks that column, the
    sheet *name* is injected as its value; all sheets are concatenated
    tolerating missing columns (pandas ``concat(ignore_index=True)``
    → ``unionByName(allowMissingColumns=True)``).

    Scale note: each input stays an independent lazy scan; the union
    is a no-shuffle bag union, so this works for arbitrarily many
    arbitrarily large sources.
    """
    out: DataFrame | None = None
    for name, df in sheets.items():
        if synthesize_col is not None:
            if synthesize_col not in df.columns:
                df = df.withColumn(synthesize_col, F.lit(name))
            else:
                # Reference keeps existing values; only fills a wholly
                # missing column. NULL cells stay NULL.
                pass
        df = df.withColumn(lineage_col, F.lit(name))
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    if out is None:
        raise ValueError("scan_sheets_with_lineage: no input sheets")
    return out


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan (S6). With an explicit ``schema`` the read is a single
    pass (no inference job) and malformed rows go to PERMISSIVE-mode
    NULLs — the reference's skip-don't-crash posture (P6) as reader
    policy."""
    reader = spark.read.option("header", str(header).lower()).option(
        "mode", "PERMISSIVE"
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: str | None = None, **options: str
) -> DataFrame:
    """JSON-lines scan (S6); PERMISSIVE mode keeps corrupt records in
    ``_corrupt_record`` instead of failing the job."""
    reader = spark.read.option("mode", "PERMISSIVE")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_excel_workbook(
    spark: SparkSession, path: str, header_row: int = 0
) -> dict[str, DataFrame]:
    """Excel workbook → {sheet name: DataFrame} (S1/S2 — the
    reference's native source, ``timesheet_transform.py:21``:
    ``pd.read_excel(path, sheet_name=None)``).

    Implementation: pandas/openpyxl parse on the DRIVER, then
    ``createDataFrame`` per sheet. Workbooks are small interactive
    inputs (the reference's are KBs); anything big enough to need
    distributed parsing should be landed as CSV/parquet first — xlsx
    (zipped XML) is not splittable, so a distributed Excel scan would
    be one task per file regardless of engine.

    Engine selection: pandas+openpyxl when installed (full fidelity);
    otherwise the stdlib SpreadsheetML shim (``sources.xlsx_shim`` —
    zipfile + xml.etree over the public ECMA-376 format), which covers
    everything the reference's workbooks contain. The rest of the
    engine treats the resulting dict exactly like any other
    ``scan_sheets_with_lineage`` input.
    """
    try:
        import openpyxl  # noqa: F401 — preferred engine when present
        import pandas as pd

        sheets = pd.read_excel(path, sheet_name=None, header=header_row)
        return {name: spark.createDataFrame(pdf) for name, pdf in sheets.items()}
    except ImportError:
        from exceldatatransform_py_spark.sources import xlsx_shim

        out: dict[str, DataFrame] = {}
        for name, (header, rows) in xlsx_shim.read_workbook(path).items():
            out[name] = _rows_to_df(spark, header, rows)
        return out


def _rows_to_df(
    spark: SparkSession, header: Sequence[str], rows: Sequence[Sequence]
) -> DataFrame:
    """Driver-side rows → typed DataFrame, with pandas-like per-column
    inference: all-int → bigint, numeric mix → double, all-bool →
    boolean, anything else (or mixed) → string."""

    def col_type(i: int) -> T.DataType:
        seen = {type(r[i]) for r in rows if r[i] is not None}
        if seen == {int}:
            return T.LongType()
        if seen and seen <= {int, float}:
            return T.DoubleType()
        if seen == {bool}:
            return T.BooleanType()
        return T.StringType()

    types = [col_type(i) for i in range(len(header))]
    schema = T.StructType(
        [T.StructField(str(c), t, True) for c, t in zip(header, types)]
    )

    def coerce(v, t: T.DataType):
        if v is None:
            return None
        if isinstance(t, T.DoubleType):
            return float(v)
        if isinstance(t, (T.LongType, T.BooleanType)):
            return v
        return str(v)

    data = [tuple(coerce(v, t) for v, t in zip(r, types)) for r in rows]
    return spark.createDataFrame(data, schema)


def read_json_with_badrows(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON scan with an explicit bad-row side channel.

    The reference tolerates malformed rows by skipping them with a
    logged reason (``timesheet_transform.py:47-52``) — P6's
    error-tolerant cast generalized to ingestion: parse what parses,
    capture what doesn't, fail nothing. Returns ``(good, bad)``:
    ``good`` has the data columns of rows that parsed, ``bad`` has the
    raw text of rows that didn't.

    A schema (DDL string) should be passed at scale — without one the
    reader runs an extra inference pass over the data. The corrupt
    column must be queried from a cached/materialized frame in Spark
    4: a bare select of only the corrupt column from a lazy scan is
    rejected (the analyzer forbids plans that would *only* keep
    corrupt records without the parse attempt) — the materialization
    here is the documented pattern and bounds the extra cost to one
    scan. ``localCheckpoint`` + immediate ``unpersist`` is used
    instead of a bare ``persist`` so repeated ingest calls in one
    session don't accumulate cached frames for the session lifetime:
    the checkpoint cuts lineage to the materialized blocks, and the
    returned frames own their storage independently of the cache.
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        df = reader.schema(f"{schema}, {corrupt_col} string").json(path)
    else:
        df = reader.json(path)
        if corrupt_col not in df.columns:  # everything parsed
            return df, df.limit(0).select(F.lit("").alias(corrupt_col)).limit(0)
    df = df.localCheckpoint(eager=True)
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return good, bad
