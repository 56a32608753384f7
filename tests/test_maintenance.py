"""Index compaction (OPTIMIZE for index tables): after N streaming
appends the data tables hold N small files per partition/bucket;
compaction folds them to one file per unit with serve output
byte-identical and the layout contract (partitioning / bucket spec /
sort order) intact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from exceldatatransform_py_spark.sources.maintenance import (
    compact_index,
    compact_table,
    delete_from_index,
    table_layout,
)
from exceldatatransform_py_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def test_compact_lsh_index_after_appends(spark, tmp_path):
    from exceldatatransform_py_spark.operators.similarity import (
        append_to_lsh_index,
        build_lsh_index,
        lsh_topk_from_index,
    )

    emb = read_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    prefix = "compact_lsh_idx"
    build_lsh_index(
        emb.filter(F.col("vec_id") % 16 == 0), prefix,
        path=str(tmp_path / "lsh"), id_col="vec_id", vec_col="embedding",
    )
    try:
        for r in range(1, 9):  # 8 streaming batches
            append_to_lsh_index(
                spark, emb.filter(F.col("vec_id") % 16 == r), prefix,
                id_col="vec_id", vec_col="embedding",
            )

        def serve():
            return sorted(
                tuple(r)
                for r in lsh_topk_from_index(
                    spark, prefix, queries, id_col="vec_id",
                    vec_col="embedding", k=5, probe_hamming=1,
                ).collect()
            )

        before = serve()
        stats = compact_index(spark, prefix, "lsh")["buckets"]
        assert stats["files_after"] * 4 <= stats["files_before"]
        assert serve() == before  # byte-identical serving
        lay = table_layout(spark, f"{prefix}_buckets")
        assert lay["partition_cols"] == ["bucket"]
    finally:
        for t in ("buckets", "planes"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_compact_bucketed_dedup_index_after_appends(spark, tmp_path):
    from exceldatatransform_py_spark.operators.dedup import (
        append_to_dedup_index,
        build_dedup_index,
        incremental_near_dup,
    )

    docs = read_table(spark, SF, "documents")
    prefix = "compact_dedup_idx"
    build_dedup_index(
        docs.filter(F.col("doc_id") % 16 == 0), prefix,
        n_buckets=4, path=str(tmp_path / "dd"),
    )
    try:
        for r in range(1, 9):
            append_to_dedup_index(
                docs.filter(F.col("doc_id") % 16 == r), prefix
            )
        batch = docs.filter(F.col("doc_id") % 16 == 9)

        def probe():
            return sorted(
                tuple(r)
                for r in incremental_near_dup(
                    spark, prefix, batch, threshold=0.2
                ).collect()
            )

        before = probe()
        stats = compact_index(spark, prefix, "dedup")
        for t in ("bands", "shingles"):
            assert stats[t]["files_after"] * 4 <= stats[t]["files_before"]
        assert probe() == before
        # bucket spec survived the rewrite (shuffle-free probes intact)
        lay = table_layout(spark, f"{prefix}_bands")
        assert lay["bucket_cols"] == ["bucket"] and lay["n_buckets"] == 4
    finally:
        for t in ("bands", "shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_compact_preserves_sorted_bucket_layout(spark, tmp_path):
    from exceldatatransform_py_spark.operators.retrieval import (
        build_bm25_index,
        bm25_topk_from_index,
        tokenize,
    )

    docs = read_table(spark, SF, "documents")
    prefix = "compact_bm25_idx"
    build_bm25_index(
        docs, prefix, n_buckets=4, path=str(tmp_path / "bm")
    )
    try:
        q_terms = (
            tokenize(docs.filter(F.col("doc_id") < 5), "doc_id", "text")
            .select(F.col("doc_id").alias("query_id"), "tok")
            .distinct()
        )

        def serve():
            return sorted(
                tuple(r)
                for r in bm25_topk_from_index(
                    spark, prefix, q_terms, k=5
                ).collect()
            )

        before_rows = serve()
        before_lay = table_layout(spark, f"{prefix}_postings")
        compact_index(spark, prefix, "bm25")
        after_lay = table_layout(spark, f"{prefix}_postings")
        assert after_lay["bucket_cols"] == before_lay["bucket_cols"]
        assert after_lay["n_buckets"] == before_lay["n_buckets"]
        assert after_lay["sort_cols"] == before_lay["sort_cols"] == ["tok"]
        assert serve() == before_rows
    finally:
        for t in ("postings", "df", "doclen", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_compact_unknown_kind_raises(spark):
    with pytest.raises(ValueError, match="unknown index kind"):
        compact_index(spark, "x", "nope")
    with pytest.raises(ValueError, match="unknown index kind"):
        delete_from_index(spark, "x", "nope", spark.range(1), "id")
    assert not spark.catalog.tableExists("x_deleted")


def test_compact_plain_table_single_file(spark, tmp_path):
    t = "compact_plain_t"
    spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(8).write.option(
        "path", str(tmp_path / "plain")
    ).saveAsTable(t)
    try:
        stats = compact_table(spark, t)
        assert stats["files_before"] >= 8
        assert stats["files_after"] == 1
        assert spark.table(t).count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")

