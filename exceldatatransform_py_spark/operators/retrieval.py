"""BM25 lexical retrieval: live scoring and a persisted inverted index.

The pattern worth owning at 100 TB is the BUILD/SERVE split: tokenize
the corpus ONCE into a bucketed inverted index (postings bucketed by
term, document lengths bucketed by doc id, one-row corpus stats), then
answer every retrieval query from the index without touching document
text again. Build cost amortizes across queries exactly like the IVF
cell assignment in ``operators.similarity``; the serving join reads
only the query terms' posting lists.

Scoring is engine-exact by the module's fixed-point rule: each term's
BM25 contribution floor-scales to a BIGINT before summing (double
addition is not associative; BIGINT addition is), and idf is the
rational N/df — no ``ln``, so DuckDB oracles reproduce scores
bit-for-bit (see ``plans.queries_llm.bm25_topk_docs``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from exceldatatransform_py_spark.functions.text import ws_tokens
from exceldatatransform_py_spark.sources.bucketing import write_bucketed
from exceldatatransform_py_spark.sources.maintenance import (
    _append_index_table,
    _truncate_index_table,
    index_tombstones,
    replace_table,
)

BM25_K1 = 1.2
BM25_B = 0.75
BM25_SCALE = 1_000_000_000


def tokenize(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, tok) pairs: lowercased whitespace tokens, one row per
    occurrence (term frequency preserved)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )


def _term_freqs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, tok, tf): what the index stores per posting."""
    return tokenize(docs, id_col, text_col).groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )


def bm25_stage(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict[str, DataFrame]:
    """Derive the three index relations live (no persistence):
    ``postings`` (tok, doc_id, tf, df), ``doclen`` (doc_id, dl),
    ``stats`` (n_docs, sum_dl, avgdl). The returned frames share one
    tokenize+tf subtree — callers that consume several of them should
    persist that subtree (the live query does)."""
    toks = tokenize(docs, id_col, text_col)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return {
        "postings": tf.join(df_, "tok"),
        "doclen": doclen,
        "stats": _corpus_stats(doclen),
    }


def bm25_contrib() -> Column:
    """One term's floor-scaled BM25 contribution, from columns
    (tf, df, dl, n_docs, avgdl) — the single source of truth for both
    the live query and the index-served path (and, via the same
    constants, the DuckDB oracle string)."""
    return F.floor(
        (F.col("n_docs").cast("double") / F.col("df"))
        * (F.col("tf") * (BM25_K1 + 1))
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * (F.col("dl") / F.col("avgdl")))
        )
        * BM25_SCALE
    ).cast("bigint")


def bm25_topk(
    query_terms: DataFrame,
    postings: DataFrame,
    doclen: DataFrame,
    stats: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k BM25 matches per query from staged index relations.

    ``query_terms``: (query_id, tok), distinct — small, broadcast.
    Work is the sum of the query terms' posting-list sizes; the df cap
    (drop terms with df above a fraction of N before calling) is the
    stopword knob that bounds it at corpus scale. Self-matches
    (query_id == doc_id) are excluded, mirroring ``cosine_topk``.
    """
    term = (
        F.broadcast(query_terms)
        .join(postings, "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", bm25_contrib().alias("contrib"))
    )
    score = term.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score_scaled"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id").asc()
    )
    return (
        score.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "doc_id",
            "score_scaled",
            "n_terms",
            (F.col("score_scaled").cast("double") / BM25_SCALE).alias("score"),
            "rk",
        )
    )


def build_bm25_index(
    docs: DataFrame,
    table_prefix: str,
    n_buckets: int,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the inverted index as bucketed catalog tables:
    ``<prefix>_postings`` (tok, doc_id, tf) bucketed+sorted by term,
    ``<prefix>_df`` (tok, df) bucketed+sorted by term — NORMALIZED out
    of the postings so a batch append only merges the vocab-sized df
    table instead of invalidating every stored posting row —
    ``<prefix>_doclen`` bucketed by doc id, and the one-row
    ``<prefix>_stats`` carrying ``sum_dl`` so corpus stats maintain
    incrementally. Serve re-joins postings⋈df on ``tok``: both sides
    bucketed identically, so the join is co-located (no exchange).
    Build is the only pass over document text; at 100 TB it runs once
    per ingest and every retrieval thereafter reads only index bytes.
    """
    tf = _term_freqs(docs, id_col, text_col).persist()
    write_bucketed(
        tf, f"{table_prefix}_postings", ["tok"], n_buckets,
        sort_cols=["tok"], path=f"{path}/postings",
    )
    write_bucketed(
        tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
        f"{table_prefix}_df", ["tok"], n_buckets,
        sort_cols=["tok"], path=f"{path}/df",
    )
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    write_bucketed(
        doclen, f"{table_prefix}_doclen", ["doc_id"], n_buckets,
        path=f"{path}/doclen",
    )
    (
        _corpus_stats(doclen).coalesce(1).write.mode("overwrite")
        .option("path", f"{path}/stats").saveAsTable(f"{table_prefix}_stats")
    )
    tf.unpersist()


def append_to_bm25_index(
    spark: SparkSession,
    new_docs: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Continuous ingest for the lexical index — work scales with the
    BATCH: the batch's postings and doc lengths bucket-append
    (``insertInto`` preserves the bucket spec), the vocab-sized df
    table merges by addition on its bucket key (one co-located
    aggregate-to-aggregate merge, the ``incremental_agg_merge``
    pattern), and the one-row stats maintain incrementally from the
    stored ``sum_dl``/``n_docs`` — no stored posting row is read or
    rewritten, and no document text outside the batch is touched.
    Serve output afterwards is identical to a full rebuild over the
    union (pinned by test): tf/df/dl are exact integers and avgdl is
    one exact-integer division.

    NOT ATOMIC across the four tables (same caveat as
    ``maintenance.replace_table``): postings/doclen append before the
    df merge and stats rewrite, so a writer that dies mid-append can
    leave postings whose tokens are missing from the df table — the
    serve-side inner postings⋈df join then silently drops them, and a
    blind retry double-appends the batch. Recovery: re-run the df
    merge + stats rewrite from the postings table (both are pure
    functions of it), or rebuild. The snapshot layer's
    ``CommitProtocol`` (sources/snapshots.py) is the documented
    upgrade path for making multi-table index commits atomic."""
    tf_b = _term_freqs(new_docs, id_col, text_col).persist()
    tf_b.write.mode("append").insertInto(f"{table_prefix}_postings")
    doclen_b = tf_b.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    doclen_b.write.mode("append").insertInto(f"{table_prefix}_doclen")

    df_b = tf_b.groupBy("tok").agg(F.count(F.lit(1)).alias("__bdf"))
    merged = (
        spark.table(f"{table_prefix}_df")
        .join(df_b, "tok", "full_outer")
        .select("tok", (
            F.coalesce("df", F.lit(0)) + F.coalesce("__bdf", F.lit(0))
        ).alias("df"))
    )
    # one-row stats: exact integer increments of the stored totals
    _replace_bm25_aggregates(
        spark, table_prefix, merged,
        _corpus_stats(doclen_b, stored=spark.table(f"{table_prefix}_stats")),
    )
    tf_b.unpersist()


def _corpus_stats(
    doclen: DataFrame, stored: DataFrame | None = None
) -> DataFrame:
    """The one-row stats (n_docs, sum_dl, avgdl) over the (doc_id, dl)
    rows of ``doclen``, on top of a ``stored`` stats row when given —
    exact integer totals, avgdl one division (0, 0, 0.0 when empty)."""
    parts = doclen.select(
        F.lit(1).cast("bigint").alias("n"), F.col("dl").cast("bigint").alias("s")
    )
    if stored is not None:
        parts = parts.unionByName(stored.select(
            F.col("n_docs").alias("n"), F.col("sum_dl").alias("s")
        ))
    n, s = (F.coalesce(F.sum(c), F.lit(0)) for c in ("n", "s"))
    return parts.agg(
        n.alias("n_docs"), s.alias("sum_dl"),
        F.when(n > 0, s.cast("double") / n)
        .otherwise(F.lit(0.0)).alias("avgdl"),
    )


def _replace_bm25_aggregates(
    spark: SparkSession, table_prefix: str, df_rows: DataFrame,
    stats_rows: DataFrame,
) -> dict:
    """Overwrite ``<prefix>_df`` and ``<prefix>_stats`` (the new rows
    may read the old tables) — the df/stats write that append and
    purge share. Returns the df table's file counts."""
    out = replace_table(spark, f"{table_prefix}_df", df_rows)
    replace_table(spark, f"{table_prefix}_stats", stats_rows)
    return out


def _record_bm25_deletes(
    spark: SparkSession, table_prefix: str, new_ids: DataFrame
) -> None:
    """The index's delete hook: per-token df removals for a NEW
    tombstone batch, computed ONCE from the postings index and
    appended to ``<prefix>_deldf`` (vocab-sized at most). Serves
    subtract it from the stored df; doc-length corrections come from
    ``doclen`` ⋈ tombstones at serve time (co-located on doc_id)."""
    dfrm = (
        spark.table(f"{table_prefix}_postings")
        .join(
            F.broadcast(new_ids.withColumnRenamed("id", "doc_id")),
            "doc_id",
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("dfrm"))
        .localCheckpoint(eager=True)
    )
    _append_index_table(spark, table_prefix, "deldf", dfrm, "postings")


def _purge_bm25_aggregates(spark: SparkSession, table_prefix: str) -> dict:
    """The index's purge hook: recompute df and stats as pure functions
    of the PURGED postings / doclen tables — exact integers, so serve
    scores land bit-equal to the logically-corrected pre-purge serve —
    then truncate the delete corrections they now include."""
    df_stats = _replace_bm25_aggregates(
        spark, table_prefix,
        spark.table(f"{table_prefix}_postings")
        .groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
        _corpus_stats(spark.table(f"{table_prefix}_doclen")),
    )
    _truncate_index_table(spark, f"{table_prefix}_deldf")
    return {"df": df_stats}


def bm25_topk_from_index(
    spark: SparkSession,
    table_prefix: str,
    query_terms: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Serve top-k from a persisted index — no document text is read.
    Scores are identical to the live ``bm25_topk`` over the same
    corpus (pinned by test): the index stores exact integer tf/df/dl
    and the scoring expression is shared. The postings⋈df re-join is
    co-located (both bucketed+sorted by ``tok``).

    Tombstones (``maintenance.delete_from_index``) are respected
    EXACTLY: deleted docs' postings and lengths anti-join away, the
    per-token df subtracts the removals recorded at delete time
    (``<prefix>_deldf``), and n_docs/avgdl recompute from the
    surviving doc lengths — all exact integers, so the serve is
    bit-identical before and after ``compact_index`` purges the
    tombstones physically."""
    postings_t = spark.table(f"{table_prefix}_postings")
    df_t = spark.table(f"{table_prefix}_df")
    doclen_t = spark.table(f"{table_prefix}_doclen")
    stats_t = spark.table(f"{table_prefix}_stats")
    tomb = index_tombstones(spark, table_prefix)
    if tomb is not None:
        tomb_d = F.broadcast(tomb.withColumnRenamed("id", "doc_id"))
        postings_t = postings_t.join(tomb_d, "doc_id", "left_anti")
        doclen_t = doclen_t.join(tomb_d, "doc_id", "left_anti")
        if spark.catalog.tableExists(f"{table_prefix}_deldf"):
            corr = (
                spark.table(f"{table_prefix}_deldf")
                .groupBy("tok")
                .agg(F.sum("dfrm").alias("__dfrm"))
            )
            df_t = (
                df_t.join(corr, "tok", "left")
                .select(
                    "tok",
                    (
                        F.col("df")
                        - F.coalesce(F.col("__dfrm"), F.lit(0))
                    ).alias("df"),
                )
                .filter(F.col("df") > 0)
            )
        stats_t = _corpus_stats(doclen_t)
    return bm25_topk(
        query_terms,
        postings_t.join(df_t, "tok"),
        doclen_t,
        stats_t,
        k=k,
    )
