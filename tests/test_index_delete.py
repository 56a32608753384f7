"""Delete propagation for the persisted index families (VERDICT r10
#1): after ``delete_from_index`` records tombstones, every probe must
stop returning the dead ids IMMEDIATELY (DV-style logical delete), and
``compact_index`` must purge them physically with probe results
IDENTICAL before and after the purge — the retrieval layer must not
resurrect what the storage layer deleted.

One lifecycle — build → append → delete → probe → compact — runs for
every index kind through the CLI's ``INDEX_COMMANDS`` entry points.
Its strongest check is equality against an index that never saw the
victims, built in one pass over the surviving rows: the tombstoned
index must serve exactly what that index serves (for BM25 that
includes the df/avgdl corrections, bit-exact).
The banded fingerprint family is exercised through SimHash text;
pHash/audio/video share the exact same table layout and probe."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from exceldatatransform_py_spark.cli import INDEX_COMMANDS
from exceldatatransform_py_spark.operators.retrieval import tokenize
from exceldatatransform_py_spark.sources.maintenance import (
    compact_index,
    delete_from_index,
    index_tombstones,
)
from exceldatatransform_py_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"

#: probe options per kind: exhaustive SimHash banding, one-bit LSH
#: probing, two IVF cells
PROBE_OPTS = {
    "dedup": {},
    "simhash": {"max_band_docs": None},
    "lsh": {"probe_hamming": 1},
    "ivf": {"n_probe": 2},
    "ivf_sq8": {"n_probe": 2},
    "ivf_pq": {"n_probe": 2},
    "bm25": {},
}
#: kinds whose build trains a quantizer on its input: their reference
#: index is built from the same seed and appended to, and the victims
#: come from the appended batch, so both indexes train on the same rows
TRAINED = {"ivf_sq8", "ivf_pq"}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _inputs(spark, kind):
    """(seed to build, batch to append, probe input, id column,
    build options) of ``kind``'s cycle."""
    command = INDEX_COMMANDS[kind]
    if command.input == "vectors":
        emb = read_table(spark, SF, "embeddings")
        opts = {"id_col": "vec_id", "vec_col": "embedding"}
        if command.centroids:
            opts["centroids"] = emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cent_vec"),
            )
        return (
            emb.filter(F.col("vec_id") % 2 == 0),
            emb.filter(F.col("vec_id") % 2 == 1),
            emb.filter(F.col("vec_id") < 10), "vec_id", opts,
        )
    docs = read_table(spark, SF, "documents")
    if command.input == "terms":
        q = (
            tokenize(docs.filter(F.col("doc_id") < 10), "doc_id", "text")
            .select(F.col("doc_id").alias("query_id"), "tok")
            .distinct()
        )
        return (
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            q, "doc_id", {"n_buckets": 4},
        )
    return (
        docs.filter(F.col("doc_id") % 3 == 1),
        docs.filter(F.col("doc_id") % 3 == 2),
        docs.filter(F.col("doc_id") % 3 == 0), "doc_id", {"n_buckets": 4},
    )


def _index_lifecycle(spark, tmp_path, kind):
    command = INDEX_COMMANDS[kind]
    seed, extra, probe_in, idc, build_opts = _inputs(spark, kind)
    col_opts = {
        k: v for k, v in build_opts.items() if k in ("id_col", "vec_col")
    }
    probe_opts = {**PROBE_OPTS[kind], **col_opts}
    if command.ranked:
        probe_opts["k"] = 5
    p, pr = f"del{kind}_idx", f"del{kind}_ref"

    def build(prefix, path, rows):
        command.run("build", spark, prefix, rows,
                    path=str(tmp_path / path), **build_opts)

    def append(prefix, rows):
        command.run("append", spark, prefix, rows, **col_opts)

    def serve(prefix, probe_kind=kind):
        return _rows(INDEX_COMMANDS[probe_kind].run(
            "probe", spark, prefix, probe_in, **probe_opts
        ))

    try:
        build(p, "a", seed)
        append(p, extra)
        pre = serve(p)
        assert pre, "synthetic corpus must produce matches"
        pool = {r[1] for r in pre}
        if kind in TRAINED:
            pool &= {r[0] for r in extra.select(idc).collect()}
        n_victims = 10 if command.ranked else max(1, len(pre) // 2)
        victims = sorted(pool)[:n_victims]
        vdf = spark.createDataFrame([(v,) for v in victims], f"{idc} long")
        assert delete_from_index(spark, p, kind, vdf, idc) == len(victims)
        # idempotent: re-deleting records nothing new
        assert delete_from_index(spark, p, kind, vdf, idc) == 0

        post = serve(p)
        assert not {r[1] for r in post} & set(victims)
        if not command.ranked:  # a match set, not a refilled top-k
            assert post == [r for r in pre if r[1] not in set(victims)]
        # ground truth: an index that never saw the victims
        keep = ~F.col(idc).isin(victims)
        if kind in TRAINED:
            build(pr, "b", seed.filter(keep))
            append(pr, extra.filter(keep))
        else:
            build(pr, "b", seed.unionByName(extra).filter(keep))
        assert post == serve(pr)
        if kind == "dedup":
            nov_post = serve(p, "novelty")
            assert nov_post == serve(pr, "novelty")

        bytes_before = _dir_bytes(str(tmp_path / "a"))
        compact_index(spark, p, kind)
        assert _dir_bytes(str(tmp_path / "a")) < bytes_before
        assert serve(p) == post
        if kind == "dedup":
            assert serve(p, "novelty") == nov_post
        assert index_tombstones(spark, p).count() == 0
        if kind == "bm25":  # the df corrections are folded in too
            assert spark.table(f"{p}_deldf").count() == 0
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith((f"{p}_", f"{pr}_")):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_dedup_index_delete_cycle(spark, tmp_path):
    """MinHash family, novelty probes included."""
    _index_lifecycle(spark, tmp_path, "dedup")


def test_fingerprint_index_delete_cycle(spark, tmp_path):
    """Banded-fingerprint family (SimHash text)."""
    _index_lifecycle(spark, tmp_path, "simhash")


def test_lsh_index_delete_cycle(spark, tmp_path):
    _index_lifecycle(spark, tmp_path, "lsh")


def test_ivf_index_delete_cycle(spark, tmp_path):
    _index_lifecycle(spark, tmp_path, "ivf")


def test_ivf_sq8_index_delete_cycle(spark, tmp_path):
    _index_lifecycle(spark, tmp_path, "ivf_sq8")


def test_ivf_pq_index_delete_cycle(spark, tmp_path):
    _index_lifecycle(spark, tmp_path, "ivf_pq")


def test_bm25_index_delete_cycle(spark, tmp_path):
    """BM25: df and avgdl are corpus aggregates, so a correct delete
    must adjust them, not just hide postings; the deldf corrections
    and the doclen recount make the tombstoned serve bit-identical."""
    _index_lifecycle(spark, tmp_path, "bm25")


def test_bm25_purge_of_every_document_then_append(spark, tmp_path):
    """Deleting and purging the whole corpus leaves the empty stats row
    (0, 0, 0.0); a later append then serves exactly what a build over
    the appended batch serves."""
    bm25 = INDEX_COMMANDS["bm25"]
    seed, batch, q, idc, opts = _inputs(spark, "bm25")
    p, pr = "delall_bm25_idx", "delall_bm25_ref"
    try:
        bm25.run("build", spark, p, seed, path=str(tmp_path / "a"), **opts)
        assert delete_from_index(spark, p, "bm25", seed, idc) == seed.count()
        assert _rows(bm25.run("probe", spark, p, q, k=5)) == []
        compact_index(spark, p, "bm25")
        for t in ("postings", "doclen", "df", "deldf", "deleted"):
            assert spark.table(f"{p}_{t}").count() == 0, t
        assert _rows(spark.table(f"{p}_stats")) == [(0, 0, 0.0)]

        bm25.run("append", spark, p, batch)
        bm25.run("build", spark, pr, batch, path=str(tmp_path / "b"), **opts)
        assert _rows(spark.table(f"{p}_stats")) == _rows(
            spark.table(f"{pr}_stats")
        )
        served = _rows(bm25.run("probe", spark, p, q, k=5))
        assert served and served == _rows(bm25.run("probe", spark, pr, q, k=5))
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith((f"{p}_", f"{pr}_")):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
