"""Every registered query with an oracle twin must match DuckDB —
the local mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from exceldatatransform_py_spark.plans.queries import ORACLE, QUERIES
from tests.oracle_utils import compare_with_oracle

ORACLE_CHECKED = sorted(ORACLE)


# DuckDB result type -> Spark simpleString families the driver's hasher
# serializes identically. Anything outside this table (HUGEINT, DECIMAL,
# FLOAT-vs-DOUBLE drift, ...) diverges in the driver's pandas/Arrow
# fetch even when every cell value is equal — the exact defect class
# that cost winsorized_mean_by_priority / rfm_customer_segments in r2.
_DUCK_TO_SPARK_OK = {
    "BIGINT": {"bigint", "int"},
    "INTEGER": {"int", "bigint"},
    "BIGINT[]": {"array<bigint>"},
    "VARCHAR[]": {"array<string>"},
    "BLOB": {"binary"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "DOUBLE": {"double"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "VARCHAR": {"string"},
}


def _dtype_drift(df, oracle_sql: str, sf_dir: str) -> list[tuple]:
    """DESCRIBE the oracle and pin its output types to the Spark
    query's schema via the driver-safe family table above."""
    from tests.oracle_utils import duck_connection

    desc = duck_connection(sf_dir).execute(
        f"DESCRIBE ({oracle_sql})"
    ).fetchall()
    sp = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for col, du_type, *_ in desc:
        du_fam = du_type.split("(")[0]
        sp_type = sp.get(col, "<missing>").split("(")[0]
        ok = _DUCK_TO_SPARK_OK.get(du_fam)
        if ok is None or sp_type not in ok:
            problems.append((col, du_type, sp_type))
    return problems


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    compare_with_oracle(df, ORACLE[name], sf_dir)
    drift = _dtype_drift(df, ORACLE[name], sf_dir)
    assert not drift, f"driver-visible dtype drift: {drift}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_approx_distinct_within_rsd(spark, sf_dir):
    # The query emits within_rsd = |HLL estimate - exact| <= max(6%, 2)
    # computed Spark-side; the oracle twin hash-compares it as TRUE, and
    # this test keeps a direct assertion for clearer failure messages.
    rows = QUERIES["approx_distinct_parts"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["within_rsd"] is True, r


def test_ann_recall_meets_floor(spark, sf_dir):
    # Quality gate for the approximate similarity paths: recall@5 vs
    # the exact brute force must clear the per-method pinned floor
    # (ivf >= 0.7, lsh >= 0.3 — see _ANN_RECALL_FLOORS).
    rows = QUERIES["ann_recall_at_k"](spark, sf_dir).collect()
    assert {r["method"] for r in rows} == {"ivf", "lsh"}
    for r in rows:
        assert r["meets_floor"] is True, (r["method"], r["recall_at_k"])
