"""``read_table``'s parquet schema cache: a repeated read of an
unchanged file infers nothing, and a changed or too-young file is
inferred again."""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from exceldatatransform_py_spark.sources.readers import read_table
from tests.conftest import spark_jobs


def _write(path, table, age_s):
    pq.write_table(table, path)
    t = time.time() - age_s
    os.utime(path, (t, t))


def test_read_table_reuses_the_schema_of_an_unchanged_file(spark, tmp_path):
    """A second read of a file older than the racy window launches no
    job and returns the same schema; a rewrite that adds a column is
    seen at once."""
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"k": [1, 2], "x": [0.5, 1.5]}), age_s=60)
    with spark_jobs(spark) as jobs:
        first = read_table(spark, str(tmp_path), "t")
    assert jobs() >= 1  # the inference job the cache saves
    with spark_jobs(spark) as jobs:
        again = read_table(spark, str(tmp_path), "t")
    assert jobs() == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    _write(
        path,
        pa.table({"k": [1, 2], "x": [0.5, 1.5], "y": ["a", "b"]}),
        age_s=30,
    )
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "x", "y"]
    assert sorted(df.collect())[0]["y"] == "a"


def test_read_table_does_not_cache_a_file_younger_than_the_racy_window(
    spark, tmp_path
):
    """A file modified within the last 2 s could be rewritten again
    with the same size and mtime, so its schema is inferred on every
    read."""
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"k": [1]}), age_s=0)
    read_table(spark, str(tmp_path), "t")
    with spark_jobs(spark) as jobs:
        read_table(spark, str(tmp_path), "t")
    assert jobs() >= 1


def test_read_table_events_converts_nanos_from_the_cached_schema(
    spark, tmp_path
):
    """The ``events`` branch reads TIMESTAMP(NANOS) as longs and
    converts them to micros, also when the schema comes from the
    cache."""
    ts = dt.datetime(2024, 3, 1, 12, 30, 15, 123456)
    nanos = pa.array([int(ts.timestamp() * 1e6) * 1000 + 789],
                     pa.timestamp("ns"))
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"event_id": [1], "ts": nanos}), path,
                   version="2.6")
    t = time.time() - 60
    os.utime(path, (t, t))
    read_table(spark, str(tmp_path), "events")
    with spark_jobs(spark) as jobs:
        df = read_table(spark, str(tmp_path), "events")
        schema = df.schema
    assert jobs() == 0
    assert schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert df.collect()[0]["ts"] == ts
