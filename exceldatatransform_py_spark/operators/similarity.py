"""Similarity search over embedding columns (north-star mandate).

``array<float>`` embeddings, cosine metric. Two paths:

* ``cosine_topk`` — exact brute force: broadcast the (small) query
  set against the candidate corpus; per-pair dot product as a
  JVM-side ``zip_with``/``aggregate`` expression (no Python, no UDF).
  The baseline and the verifier for the approximate path.
* ``hyperplane_lsh_topk`` — the scale path: random-hyperplane LSH
  (sign bits of projections onto P fixed planes → one bucket id);
  only same-bucket pairs are scored. Planes are generated driver-side
  from a fixed seed and inlined as literals, so the DuckDB oracle can
  embed the *same* planes and reproduce the bucketing bit-for-bit.

Determinism: dot products accumulate ``DECIMAL(24,12)`` terms (each
term is the correctly-rounded decimal of a double product) — decimal
addition is associative, so the sum is partition-order-independent
and engine-independent; the final cosine is a fixed-shape double
expression over those exact sums.

At 100 TB the brute-force path is O(|Q|·N) with a broadcast query
side — linear in the corpus and embarrassingly parallel; the LSH path
cuts the scored set by ~2^P. Neither ever collects vectors to the
driver.
"""

from __future__ import annotations

from functools import reduce

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from exceldatatransform_py_spark.sources.maintenance import (
    minus_tombstones as _minus_tombstones,
)


def _index_cells(spark, table_prefix: str) -> DataFrame:
    """The IVF-family cell lists minus any recorded tombstones — the
    one read path every serve/curve flavor shares, so a
    ``delete_from_index`` is respected everywhere at once."""
    return _minus_tombstones(
        spark, table_prefix,
        spark.table(f"{table_prefix}_cells"), "neighbor_id",
    )


def _index_buckets(spark, table_prefix: str) -> DataFrame:
    """The LSH bucket table minus any recorded tombstones."""
    return _minus_tombstones(
        spark, table_prefix,
        spark.table(f"{table_prefix}_buckets"), "neighbor_id",
    )


SCALE = 1_000_000_000_000  # 1e12: products ≤ ~1 → terms ≤ 1e12, 4096-dim sums < 2^62


def _dec_dot(a: Column, b: Column) -> Column:
    """Scaled-integer dot product of two float arrays.

    Each term is ``floor(xd * yd * 1e12)`` as a BIGINT; the sum is
    exact long arithmetic — associative (partition-order-independent)
    and engine-independent. ``floor`` rather than a decimal cast
    because double→decimal *rounding* differs between Spark and DuckDB
    (measured ~1e-11 drift over 64 terms); floor of an identical
    double is identical everywhere. The 1e12 scale cancels in the
    cosine ratio, so no precision is lost where it matters.
    """
    terms = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(float(SCALE))),
    )
    return F.aggregate(terms, F.lit(0).cast("bigint"), lambda acc, t: acc + t)


def _cosine(a: Column, b: Column) -> Column:
    dot = _dec_dot(a, b).cast("double")
    na = F.sqrt(_dec_dot(a, a).cast("double"))
    nb = F.sqrt(_dec_dot(b, b).cast("double"))
    return dot / (na * nb)


def _norm(v: Column) -> Column:
    """Per-ROW staged vector norm: sqrt of the exact scaled self-dot.

    Every scoring join below computes it on each side BEFORE the join,
    so the O(dim) interpreted self-dot runs once per vector instead of
    once per PAIR — same doubles, same bits, ~3x less HOF work (the
    array lambdas are interpreted, see NOTES). The join between the
    two projections keeps CollapseProject from inlining it back into
    the per-pair expression.
    """
    return F.sqrt(_dec_dot(v, v).cast("double"))


def _cosine_pre(qv: Column, cv: Column, qn: Column, cn: Column) -> Column:
    """Cosine from pre-staged norms — bit-identical to ``_cosine``."""
    return _dec_dot(qv, cv).cast("double") / (qn * cn)


def _corpus_norm(vec_col: str, norm_col: str | None) -> Column:
    """Corpus-side norm: computed per row, or read from a column the
    caller staged (and typically persisted) so one norm pass serves
    several searches over the same corpus — ``ann_recall_at_k`` runs
    exact + LSH + IVF over one staged frame. Same expression either
    way, so results are bit-identical."""
    return _norm(F.col(vec_col)) if norm_col is None else F.col(norm_col)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    norm_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` is broadcast (small — interactive search / eval sets);
    the corpus streams through in place with zero shuffle until the
    final per-query top-k (a tiny aggregate: ``|Q| * k`` rows).
    Output: ``(query_id, neighbor_id, cosine, rk)``; self-pairs
    excluded; ties broken by neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _corpus_norm(vec_col, norm_col).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _cosine_pre(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")),
        )
        .drop("__qv", "__cv", "__qn", "__cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-normal hyperplanes, rounded to 6 decimals so
    the literal values embedded in Spark plans and oracle SQL strings
    are exactly the same doubles."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    return [[round(float(v), 6) for v in p] for p in planes]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of ``vec`` against fixed hyperplanes.

    bit_p = 1 iff <vec, plane_p> > 0; bucket = Σ bit_p · 2^p. The dot
    product uses the same exact-decimal accumulation as scoring, so
    boundary signs are engine-independent.
    """
    bucket = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(v).cast("double") for v in plane])
        proj = _dec_dot(vec, arr)
        bucket = bucket + (proj > 0).cast("bigint") * F.lit(2**p).cast("bigint")
    return bucket


def hyperplane_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    seed: int = 42,
    probe_hamming: int = 1,
    norm_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's probed
    LSH buckets.

    ``probe_hamming=1`` is multi-probe LSH: each query also probes
    every bucket whose sign-bit code differs in one bit — a near
    neighbor that lands just across one hyperplane (the dominant LSH
    miss mode) is still scored. With P planes a query probes P+1 of
    2^P buckets; measured on the synthetic embeddings this lifts
    recall@5 from ~0.14 (single-probe) to ~0.5 while still scoring
    ~(P+1)/2^P of the corpus. ``probe_hamming=0`` is classic
    single-bucket LSH. The probe fan-out is an ``explode`` on the
    (small, broadcast) query side; the corpus is never expanded.

    Output schema matches ``cosine_topk``; ``rk`` ranks within the
    bucket-restricted candidate set.
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    corpus_buckets = _lsh_corpus(corpus, planes, id_col, vec_col, norm_col)
    return _lsh_serve(
        queries, corpus_buckets, planes, id_col, vec_col, k, probe_hamming
    )


def _lsh_corpus(
    corpus: DataFrame,
    planes: list[list[float]],
    id_col: str,
    vec_col: str,
    norm_col: str | None,
) -> DataFrame:
    """Bucketed corpus ``(neighbor_id, vec, vnorm, bucket)`` — the LSH
    index payload, live or persisted."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        _corpus_norm(vec_col, norm_col).alias("vnorm"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )


def _lsh_serve(
    queries: DataFrame,
    corpus_buckets: DataFrame,
    planes: list[list[float]],
    id_col: str,
    vec_col: str,
    k: int,
    probe_hamming: int,
) -> DataFrame:
    """Probe + score against bucketed corpus vectors (live or from a
    persisted index) — shared by ``hyperplane_lsh_topk`` and
    ``lsh_topk_from_index`` so the two paths are identical by
    construction."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        lsh_bucket(F.col(vec_col), planes).alias("__qb"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    if probe_hamming >= 1:
        probe_arr = F.array(
            F.col("__qb"),
            *[
                F.col("__qb").bitwiseXOR(F.lit(2**p).cast("bigint"))
                for p in range(len(planes))
            ],
        )
    else:
        probe_arr = F.array(F.col("__qb"))
    q = q.select(
        "query_id", "__qv", "__qn", F.explode(probe_arr).alias("bucket")
    )
    # each corpus vector owns exactly ONE bucket and a query's probe
    # list is distinct, so a (query, neighbor) pair meets at most once
    # — no post-join dedup needed.
    scored = (
        corpus_buckets.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _cosine_pre(
                F.col("__qv"), F.col("vec"), F.col("__qn"), F.col("vnorm")
            ),
        )
        .drop("__qv", "vec", "__qn", "vnorm", "bucket")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def build_lsh_index(
    corpus: DataFrame,
    table_prefix: str,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    seed: int = 42,
    norm_col: str | None = None,
) -> None:
    """Persist the hyperplane-LSH index: corpus vectors + norms
    PARTITIONED BY ``bucket`` (probes dynamic-partition-prune to the
    P+1 probed buckets' files) plus a ``<prefix>_planes`` table
    making the index self-describing — serve reconstructs the exact
    hyperplanes from it, never from caller-supplied parameters that
    could drift from what was indexed."""
    planes = random_hyperplanes(dim, n_planes, seed)
    rows = _lsh_corpus(corpus, planes, id_col, vec_col, norm_col)
    (
        rows.write.mode("overwrite")
        .partitionBy("bucket")
        .option("path", f"{path}/buckets")
        .saveAsTable(f"{table_prefix}_buckets")
    )
    spark = corpus.sparkSession
    plane_rows = [(p, coeffs) for p, coeffs in enumerate(planes)]
    (
        spark.createDataFrame(plane_rows, "p int, coeffs array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .option("path", f"{path}/planes")
        .saveAsTable(f"{table_prefix}_planes")
    )


def append_to_lsh_index(
    spark,
    new_vectors: DataFrame,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str | None = None,
) -> None:
    """Continuous ingest: bucket ONLY the new batch against the STORED
    planes and partition-append — work scales with the batch."""
    planes = _stored_planes(spark, table_prefix)
    rows = _lsh_corpus(new_vectors, planes, id_col, vec_col, norm_col)
    rows.write.mode("append").partitionBy("bucket").saveAsTable(
        f"{table_prefix}_buckets"
    )


def _stored_planes(spark, table_prefix: str) -> list[list[float]]:
    """The index's own hyperplanes (control-plane metadata: P·dim
    doubles, read once at plan-build time — they become expression
    literals, exactly like the live path's generated planes)."""
    return [
        list(r.coeffs)
        for r in spark.table(f"{table_prefix}_planes").orderBy("p").collect()
    ]


def lsh_topk_from_index(
    spark,
    table_prefix: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probe_hamming: int | str = 1,
    target_recall: float = 0.8,
) -> DataFrame:
    """Serve LSH top-k from a persisted index: corpus buckets and
    norms are index bytes (no re-hashing, no re-norming), and the
    bucket equi-join against the broadcast probe set partition-prunes
    the scan to the probed buckets. Identical to live
    ``hyperplane_lsh_topk`` over the same corpus (pinned by test).

    ``probe_hamming="auto"`` measures the index's operating curve on
    these queries and serves at the cheapest radius whose recall
    meets ``target_recall`` (``choose_probe_width``)."""
    if probe_hamming == "auto":
        curve = lsh_curve_from_index(
            spark, table_prefix, queries, id_col=id_col, vec_col=vec_col, k=k
        )
        probe_hamming = int(
            choose_probe_width(curve, target_recall, "probe_hamming").first()[
                "probe_hamming"
            ]
        )
    planes = _stored_planes(spark, table_prefix)
    return _lsh_serve(
        queries,
        _index_buckets(spark, table_prefix),
        planes,
        id_col,
        vec_col,
        k,
        probe_hamming,
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
    norm_col: str | None = None,
) -> DataFrame:
    """IVF build step: assign every vector to its nearest centroid
    (max cosine; ties → lowest centroid id).

    Centroids broadcast (they are tiny by construction); assignment is
    one map-side pass over the corpus plus a single groupBy on the
    vector id — the arg-max is ``max(struct(cosine, -cent_id))``, an
    associative partial-aggregatable reduction, NOT a window (a window
    would sort N·C rows; this streams them).

    Real deployments train centroids offline (k-means on a sample);
    any DataFrame of ``(cent_id, cent_vec)`` plugs in — the serving
    structure (assign + probe) is what this module owns.

    Output: ``(id_col, cell)``.
    """
    c = centroids.select(
        F.col(cent_id_col).alias("__cid"),
        F.col(cent_vec_col).alias("__cv"),
        _norm(F.col(cent_vec_col)).alias("__cvn"),
    )
    scored = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _corpus_norm(vec_col, norm_col).alias("__vn"),
    ).join(F.broadcast(c))
    best = (
        scored.withColumn(
            "__cos",
            _cosine_pre(F.col("__v"), F.col("__cv"), F.col("__vn"), F.col("__cvn")),
        )
        .groupBy(id_col)
        .agg(
            F.max(F.struct(F.col("__cos"), (-F.col("__cid")).alias("__ncid"))).alias(
                "__best"
            )
        )
    )
    return best.select(id_col, (-F.col("__best.__ncid")).alias("cell"))


def _ivf_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    norm_col: str | None,
) -> DataFrame:
    """Cell lists: ``(neighbor_id, vec, vnorm, cell)`` — every corpus
    vector tagged with its nearest centroid and its pre-staged norm.
    This is the IVF index payload, whether used live or persisted."""
    cells = ivf_assign(
        corpus, centroids, id_col=id_col, vec_col=vec_col, norm_col=norm_col
    )
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        _corpus_norm(vec_col, norm_col).alias("vnorm"),
    ).join(cells.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")


def _ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """Each query's ``n_probe`` nearest centroid cells:
    ``(query_id, __qv, __qn, cell, __prk)`` with ``__prk`` the cell's
    1-based probe rank — the coarse-quantizer ranking every IVF serve
    flavor and the operating curve start from (shared so the float,
    SQ8, PQ reconstruction, PQ-ADC and tuning paths probe
    identically)."""
    c = centroids.select(
        F.col("cent_id").alias("__cid"),
        F.col("cent_vec").alias("__cv0"),
        _norm(F.col("cent_vec")).alias("__cn0"),
    )
    q_scored = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    ).join(F.broadcast(c))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__qcos").desc(), F.col("__cid").asc()
    )
    return (
        q_scored.withColumn(
            "__qcos",
            _cosine_pre(F.col("__qv"), F.col("__cv0"), F.col("__qn"), F.col("__cn0")),
        )
        .withColumn("__prk", F.row_number().over(wq))
        .filter(F.col("__prk") <= n_probe)
        .select("query_id", "__qv", "__qn", F.col("__cid").alias("cell"), "__prk")
    )


def _ivf_serve(
    queries: DataFrame,
    corpus_cells: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
) -> DataFrame:
    """Probe + score against prepared cell lists (live or from a
    persisted index): each query ranks the centroids, keeps its
    ``n_probe`` nearest cells, and scores only those cells' vectors
    via the ``cell`` equi-join. Shared by ``ivf_topk`` and
    ``ivf_topk_from_index`` so the two paths are identical by
    construction."""
    probes = _ivf_probes(queries, centroids, id_col, vec_col, n_probe)

    scored = (
        corpus_cells.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _cosine_pre(
                F.col("__qv"), F.col("vec"), F.col("__qn"), F.col("vnorm")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    norm_col: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``n_probe``
    nearest centroid cells and scores ONLY the vectors assigned there
    — the inverted-file ANN structure (coarse quantizer → cell lists).

    Scale shape: the corpus is scored per (query, cell) via an
    equi-join on ``cell``, so work is |Q| · n_probe · avg-cell-size
    instead of |Q| · N. This live path recomputes cell assignment per
    call; production serving uses ``build_ivf_index`` +
    ``ivf_topk_from_index`` (cell lists partitioned by ``cell`` on
    disk, so a probe reads only the probed cells' files).

    Output matches ``cosine_topk``: ``(query_id, neighbor_id,
    cosine, rk)``, self-pairs excluded, ties by neighbor id.
    """
    corpus_cells = _ivf_cells(corpus, centroids, id_col, vec_col, norm_col)
    return _ivf_serve(
        queries, corpus_cells, centroids, id_col, vec_col, k, n_probe
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    table_prefix: str,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str | None = None,
) -> None:
    """Persist the IVF index (the ANN twin of ``build_bm25_index``):

    * ``<prefix>_cells`` — cell lists ``(neighbor_id, vec, vnorm)``
      PARTITIONED BY ``cell``. Partitioning (not bucketing) is the
      point: the serve-side equi-join on ``cell`` against the
      broadcast probe set triggers **dynamic partition pruning**, so
      a top-k probe reads only the |Q|·n_probe probed cells' files —
      at 100 TB the scan is index-bytes, never corpus-bytes.
    * ``<prefix>_centroids`` — ``(cent_id, cent_vec)``, one small
      file; the coarse quantizer every query broadcasts.

    Assignment and norms are computed ONCE here; serving never
    re-scores the corpus against centroids.
    """
    cells = _ivf_cells(corpus, centroids, id_col, vec_col, norm_col)
    (
        cells.write.mode("overwrite")
        .partitionBy("cell")
        .option("path", f"{path}/cells")
        .saveAsTable(f"{table_prefix}_cells")
    )
    (
        centroids.select("cent_id", "cent_vec")
        .coalesce(1)
        .write.mode("overwrite")
        .option("path", f"{path}/centroids")
        .saveAsTable(f"{table_prefix}_centroids")
    )


def append_to_ivf_index(
    spark,
    new_vectors: DataFrame,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_col: str | None = None,
) -> None:
    """Continuous-ingest step (the ANN twin of
    ``dedup.append_to_dedup_index``): assign ONLY the new batch
    against the stored centroids and append its cell lists to the
    index — work scales with the batch, the existing corpus is never
    re-read or re-scored, and the partition-append lands each new
    file inside its ``cell=`` directory so serve-side partition
    pruning keeps working."""
    centroids = spark.table(f"{table_prefix}_centroids")
    cells = _ivf_cells(new_vectors, centroids, id_col, vec_col, norm_col)
    cells.write.mode("append").partitionBy("cell").saveAsTable(
        f"{table_prefix}_cells"
    )


def ivf_topk_from_index(
    spark,
    table_prefix: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int | str = 2,
    target_recall: float = 0.8,
) -> DataFrame:
    """Serve top-k from a persisted IVF index — zero corpus
    re-scoring: cell assignment and corpus norms are read back from
    the index, and partition pruning on ``cell`` keeps the scan to
    the probed cells. Results are identical to live ``ivf_topk`` over
    the same corpus+centroids (pinned by test): floats round-trip
    parquet exactly and the scoring expression is shared.

    ``n_probe="auto"`` runs the one-time tuning pass: measure the
    index's operating curve on these queries and serve at the
    cheapest width whose recall meets ``target_recall``
    (``choose_probe_width``) — the deploy-time selection the
    operating-curve queries exist to feed."""
    if n_probe == "auto":
        curve = ivf_curve_from_index(
            spark, table_prefix, queries, id_col=id_col, vec_col=vec_col, k=k
        )
        n_probe = int(
            choose_probe_width(curve, target_recall, "n_probe").first()["n_probe"]
        )
    return _ivf_serve(
        queries,
        _index_cells(spark, table_prefix),
        spark.table(f"{table_prefix}_centroids"),
        id_col,
        vec_col,
        k,
        n_probe,
    )


# ---------------------------------------------------------------------------
# IVF-SQ8: the composed FAISS IVF-SQ layout — cell lists store uint8
# scalar-quantized codes instead of float vectors, cutting serve-side
# index bytes ~4x; search reconstructs vectors from the codes and the
# one-row broadcast codebook. Quality is MEASURED, not assumed: the
# sq8_quantization_recall query scores the same quantizer, and the
# pytest pins the sq8-served recall to the IVF recall floor.
# ---------------------------------------------------------------------------


def sq8_codebook(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Train the SQ8 codebook: per-dimension corpus min/max folded to
    ONE row ``(los array<double>, his array<double>)``. The posexplode
    partial-aggregates map-side (the shuffle carries ≤ dim rows per
    partition), and the codebook broadcasts everywhere it is used."""
    dims = (
        corpus.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").cast("double").alias("lo"),
             F.max("x").cast("double").alias("hi"))
    )
    return dims.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "lo"))), lambda s: s["lo"]
        ).alias("los"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "hi"))), lambda s: s["hi"]
        ).alias("his"),
    )


def _sq8_encode(vec: Column) -> Column:
    """float array → tinyint codes (bias −128 so the 0..255 level fits
    parquet's INT(8)); requires ``los``/``his`` columns in scope.

    Levels clamp to [0, 255]: a no-op for build-time data (every value
    sits inside its dimension's trained (lo, hi) by construction, so
    the oracle's unclamped floor formula matches exactly), load-bearing
    for APPENDED batches, whose values may fall outside the frozen
    codebook's range and must saturate rather than wrap the tinyint."""

    def enc(x, i):
        lo = F.element_at(F.col("los"), i + 1)
        hi = F.element_at(F.col("his"), i + 1)
        q = F.when(hi == lo, F.lit(0)).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (x.cast("double") - lo) * F.lit(255.0) / (hi - lo)
                    ).cast("int"),
                ),
            )
        )
        return (q - F.lit(128)).cast("tinyint")

    return F.transform(vec, enc)


def _sq8_decode(code: Column) -> Column:
    """tinyint codes → reconstructed double array (level midpoint-free
    floor reconstruction, matching ``sq8_quantization_recall``);
    requires ``los``/``his`` columns in scope."""

    def dec(c, i):
        lo = F.element_at(F.col("los"), i + 1)
        hi = F.element_at(F.col("his"), i + 1)
        return lo + (c.cast("double") + F.lit(128.0)) * (hi - lo) / F.lit(255.0)

    return F.transform(code, dec)


def build_ivf_sq8_index(
    corpus: DataFrame,
    centroids: DataFrame,
    table_prefix: str,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the quantized IVF index:

    * ``<prefix>_cells`` — ``(neighbor_id, code array<tinyint>)``
      PARTITIONED BY ``cell`` (same dynamic-partition-pruned probe
      scan as the float index, ~4x fewer bytes per cell);
    * ``<prefix>_centroids`` — the float coarse quantizer (tiny);
    * ``<prefix>_codebook`` — ONE row of per-dimension (lo, hi).

    Cell assignment runs on the ORIGINAL floats (quantization error
    never moves a vector between cells at build time)."""
    cb = sq8_codebook(corpus, vec_col)
    cells = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    coded = (
        corpus.join(F.broadcast(cb))
        .select(
            F.col(id_col).alias("neighbor_id"),
            _sq8_encode(F.col(vec_col)).alias("code"),
        )
        .join(cells.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
    )
    (
        coded.write.mode("overwrite")
        .partitionBy("cell")
        .option("path", f"{path}/cells")
        .saveAsTable(f"{table_prefix}_cells")
    )
    (
        centroids.select("cent_id", "cent_vec")
        .coalesce(1)
        .write.mode("overwrite")
        .option("path", f"{path}/centroids")
        .saveAsTable(f"{table_prefix}_centroids")
    )
    (
        cb.coalesce(1)
        .write.mode("overwrite")
        .option("path", f"{path}/codebook")
        .saveAsTable(f"{table_prefix}_codebook")
    )


def append_to_ivf_sq8_index(
    spark,
    new_vectors: DataFrame,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Continuous-ingest step for the quantized index (completing its
    build/serve/append triple): the new batch is assigned against the
    STORED centroids and encoded with the STORED codebook — the
    standard production contract: a scalar quantizer is trained once
    and replayed on new data (retraining would silently re-code the
    whole corpus, so appends deliberately never touch the codebook).
    Values outside the trained (lo, hi) range clamp to the extreme
    levels. Work scales with the batch; partition-append keeps the
    probe-time pruning working."""
    centroids = spark.table(f"{table_prefix}_centroids")
    cb = spark.table(f"{table_prefix}_codebook")
    cells = ivf_assign(new_vectors, centroids, id_col=id_col, vec_col=vec_col)
    coded = (
        new_vectors.join(F.broadcast(cb))
        .select(
            F.col(id_col).alias("neighbor_id"),
            _sq8_encode(F.col(vec_col)).alias("code"),
        )
        .join(cells.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
    )
    coded.write.mode("append").partitionBy("cell").saveAsTable(
        f"{table_prefix}_cells"
    )


def ivf_sq8_topk_from_index(
    spark,
    table_prefix: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Serve top-k from the quantized index: the probed cells' codes
    are reconstructed map-side against the broadcast codebook (a scan
    of code-bytes, never float-corpus-bytes), then scored by the same
    ``_ivf_serve`` the float paths share. Queries stay full-precision
    (the standard asymmetric-distance setup: only the corpus side is
    quantized)."""
    cb = spark.table(f"{table_prefix}_codebook")
    cells = (
        _index_cells(spark, table_prefix)
        .join(F.broadcast(cb))
        .select(
            "neighbor_id",
            _sq8_decode(F.col("code")).alias("vec"),
            "cell",
        )
        .withColumn("vnorm", _norm(F.col("vec")))
    )
    return _ivf_serve(
        queries,
        cells,
        spark.table(f"{table_prefix}_centroids"),
        id_col,
        vec_col,
        k,
        n_probe,
    )


# ---------------------------------------------------------------------------
# IVF-PQ (product quantization): the 8-16x compression step every
# 100 TB vector deployment runs after SQ8 stops being enough. Each
# vector splits into ``m`` subvectors; per subspace, a k-means
# codebook of ``k`` entries is trained on fixed-point coordinates
# (the exact-integer Lloyd's of ``operators.clustering`` — every
# argmin decision engine-exact, so an ITERATIVE trained quantizer
# stays fully oracle-checkable); the stored payload is ``m`` small
# code ids per vector. Serving is asymmetric distance: queries stay
# full-precision, the probed cells' codes reconstruct to codebook
# centroids map-side against one broadcast codebook row.
#
# Training all m subspace codebooks is clustering._lloyd keyed by
# ``sub`` — per round one map-only scoring pass over the exploded
# subvectors and one (sub, cid, dim)-keyed aggregate whose shuffle
# carries m·k·sub_dim rows regardless of corpus size; the codebooks
# broadcast as one aggregated ``__carr`` row (clustering._carr).
# ---------------------------------------------------------------------------

from exceldatatransform_py_spark.operators.clustering import (  # noqa: E402
    KMEANS_SCALE,
    _assign,
    _carr,
    _lloyd,
    quantize_vec,
)

#: PQ fixed-point scale (shared with k-means: |x| ≤ ~1 ⇒ coordinates
#: ≤ ~1e6, a 64-dim squared distance ≤ ~2.6e14 — far inside BIGINT).
PQ_SCALE = KMEANS_SCALE


def _pq_subpoints(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    dim: int,
    scale: int = PQ_SCALE,
) -> DataFrame:
    """Quantized subvector rows ``(id_col, sub, xs array<bigint>)`` —
    one row per (vector, subspace), ``xs`` the fixed-point slice
    ``floor(x·scale)`` of the subspace's ``dim/m`` coordinates."""
    sub_d = dim // m
    if sub_d * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    qv = quantize_vec(vec_col, scale)
    subs = F.array(*[F.slice(qv, s * sub_d + 1, sub_d) for s in range(m)])
    return corpus.select(F.col(id_col), F.posexplode(subs).alias("sub", "xs"))


def _pq_residualize(
    corpus: DataFrame,
    cells: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Replace each vector with its RESIDUAL x − centroid(cell(x)) —
    FAISS IVFPQ's encoding space. Residuals cluster around the origin
    regardless of which cell a vector lives in, so the m·k codebook
    entries spend their capacity on the within-cell geometry instead
    of re-describing the coarse quantizer — the reason residual PQ
    recall doesn't crater on isotropic data the way raw-subvector PQ
    does (NOTES: 0.24–0.38 pure-PQ recall at any (m, k) in reach).
    Exact IEEE subtraction, so the oracle replays it bit-identically.
    Output: ``(id_col, vec_col)`` with the residual in ``vec_col``."""
    cv = centroids.select(
        F.col("cent_id").alias("cell"), F.col("cent_vec").alias("__ctr")
    )
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .join(cells, id_col)
        .join(F.broadcast(cv), "cell")
        .select(
            F.col(id_col),
            F.zip_with(
                vec_col,
                "__ctr",
                lambda x, c: x.cast("double") - c.cast("double"),
            ).alias(vec_col),
        )
    )


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    k: int = 256,
    iters: int = 2,
    scale: int = PQ_SCALE,
) -> DataFrame:
    """Train the m per-subspace codebooks jointly: the k-means Lloyd
    loop keyed by ``sub`` (``iters`` assignment rounds, ``iters - 1``
    centroid updates). Seeds are the k smallest vector ids' subvectors
    — no RNG, so training is a pure function of the corpus and fully
    oracle-replayable. Returns ``(sub int, cid bigint,
    cs array<bigint>)`` — fixed-point codebook coordinates (the
    exact encode space; divide by ``scale`` for the reconstruction
    doubles)."""
    pts = _pq_subpoints(corpus, id_col, vec_col, m, dim, scale).persist()
    cents, _ = _lloyd(pts, id_col, k, iters, key=("sub",))
    return cents


def pq_encode(
    batch: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    scale: int = PQ_SCALE,
) -> DataFrame:
    """Encode vectors against TRAINED codebooks: per subspace the
    exact-integer nearest entry (the Lloyd loop's assignment step),
    reassembled into ``codes array<int>`` ordered by subspace. One
    map-only scoring pass (the codebooks broadcast as one row) plus a
    groupBy on the vector id — work scales with the batch, never the
    corpus."""
    pts = _pq_subpoints(batch, id_col, vec_col, m, dim, scale)
    assigned = _assign(pts, codebooks, id_col, key=("sub",))
    return assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cid"))),
            lambda s: s["cid"].cast("int"),
        ).alias("codes")
    )


def _pq_reconstruct(codes: Column) -> Column:
    """codes → concatenated codebook centroids as doubles; requires
    a broadcast ``__carr`` column (array<struct<sub, cid,
    cs array<bigint>>>) in scope. The transform index IS the
    subspace (codes are built ordered by sub), so flatten emits the
    sub_0..sub_{m-1} concatenation; dequantization is bigint/scale
    double division — exact and engine-identical."""
    return F.flatten(
        F.transform(
            codes,
            lambda code, sub: F.transform(
                F.element_at(
                    F.filter(
                        F.col("__carr"),
                        lambda c: (c["sub"] == sub)
                        & (c["cid"] == code.cast("bigint")),
                    ),
                    1,
                )["cs"],
                lambda v: v.cast("double") / F.lit(float(PQ_SCALE)),
            ),
        )
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    table_prefix: str,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    k: int = 256,
    iters: int = 2,
    residual: bool = True,
) -> None:
    """Persist the product-quantized IVF index:

    * ``<prefix>_cells`` — ``(neighbor_id, codes array<int>)``
      PARTITIONED BY ``cell`` (same dynamic-partition-pruned probe
      scan as the float/SQ8 indexes, m code ids instead of dim
      floats per vector — the 8-16x payload step);
    * ``<prefix>_centroids`` — the float coarse quantizer (tiny);
    * ``<prefix>_codebooks`` — m·k rows of fixed-point codebook
      coordinates plus the ``residual`` flag; the index is
      self-describing (m, sub_dim, and the encoding space are read
      back from this table, never from caller parameters that could
      drift from what was trained).

    Cell assignment runs on the ORIGINAL floats (quantization error
    never moves a vector between cells at build time). With
    ``residual`` (default — FAISS IVFPQ's encoding), codebooks are
    trained on and codes encode x − centroid(cell); serve adds the
    centroid back at reconstruction. Codebooks are trained on this
    corpus, then the corpus is encoded against the STORED table — the
    same artifact appends will replay against."""
    spark = corpus.sparkSession
    cells = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    enc_input = (
        _pq_residualize(corpus, cells, centroids, id_col, vec_col)
        if residual
        else corpus
    )
    cb = pq_train_codebooks(
        enc_input, id_col=id_col, vec_col=vec_col, m=m, dim=dim, k=k,
        iters=iters,
    ).withColumn("residual", F.lit(bool(residual)))
    (
        cb.coalesce(1)
        .write.mode("overwrite")
        .option("path", f"{path}/codebooks")
        .saveAsTable(f"{table_prefix}_codebooks")
    )
    stored_cb = spark.table(f"{table_prefix}_codebooks")
    codes = pq_encode(
        enc_input, stored_cb, id_col=id_col, vec_col=vec_col, m=m, dim=dim
    ).withColumnRenamed(id_col, "neighbor_id")
    coded = codes.join(cells.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
    (
        coded.write.mode("overwrite")
        .partitionBy("cell")
        .option("path", f"{path}/cells")
        .saveAsTable(f"{table_prefix}_cells")
    )
    (
        centroids.select("cent_id", "cent_vec")
        .coalesce(1)
        .write.mode("overwrite")
        .option("path", f"{path}/centroids")
        .saveAsTable(f"{table_prefix}_centroids")
    )


def _pq_stored_shape(spark, table_prefix: str) -> tuple[int, int, bool]:
    """(m, dim, residual) read back from the stored codebooks — one
    tiny control-plane aggregate at plan-build time. Pre-r9 indexes
    without the ``residual`` column decode as raw-subvector PQ."""
    tbl = spark.table(f"{table_prefix}_codebooks")
    aggs = [
        (F.max("sub") + 1).alias("m"),
        F.max(F.size("cs")).alias("sub_d"),
    ]
    if "residual" in tbl.columns:
        aggs.append(F.max("residual").alias("res"))
    row = tbl.agg(*aggs).collect()[0]
    res = bool(row.res) if "residual" in tbl.columns and row.res else False
    if row.m is None:  # empty corpus → empty codebooks: nothing to
        return 0, 0, res  # reconstruct; serve yields zero candidates
    return int(row.m), int(row.m) * int(row.sub_d), res


def append_to_ivf_pq_index(
    spark,
    new_vectors: DataFrame,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Continuous-ingest step (completing PQ's build/serve/append
    triple): the new batch is assigned against the STORED centroids
    and encoded with the STORED codebooks — the production contract:
    a product quantizer is trained once and replayed on new data
    (retraining would silently re-code the whole corpus). Work scales
    with the batch; partition-append keeps probe-time pruning. A
    residual-trained index residualizes the batch against the STORED
    centroids before encoding."""
    m, dim, residual = _pq_stored_shape(spark, table_prefix)
    centroids = spark.table(f"{table_prefix}_centroids")
    cells = ivf_assign(new_vectors, centroids, id_col=id_col, vec_col=vec_col)
    enc_input = (
        _pq_residualize(new_vectors, cells, centroids, id_col, vec_col)
        if residual
        else new_vectors
    )
    codes = pq_encode(
        enc_input,
        spark.table(f"{table_prefix}_codebooks"),
        id_col=id_col,
        vec_col=vec_col,
        m=m,
        dim=dim,
    ).withColumnRenamed(id_col, "neighbor_id")
    coded = codes.join(cells.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
    coded.write.mode("append").partitionBy("cell").saveAsTable(
        f"{table_prefix}_cells"
    )


def ivf_pq_topk_from_index(
    spark,
    table_prefix: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    refine_corpus: DataFrame | None = None,
    refine_factor: int = 5,
) -> DataFrame:
    """Serve top-k from the PQ index: the probed cells' codes
    reconstruct map-side against the broadcast codebook row (a scan
    of code-bytes, never float-corpus-bytes), then score through the
    same ``_ivf_serve`` every IVF flavor shares. Queries stay
    full-precision — the standard asymmetric-distance setup.

    ``refine_corpus`` enables the production two-stage serve (FAISS's
    IndexRefineFlat): PQ distances select each query's top
    ``k · refine_factor`` candidates, which are re-scored with their
    ORIGINAL float vectors fetched from the source table by id — an
    id-equi-join touching k·refine_factor rows per query, never the
    corpus. The returned ``cosine`` is then the exact one. At 100 TB
    this is the shape that makes 8-16x compression usable: the index
    scan stays code-bytes, and full vectors are read for a few dozen
    rows per query."""
    cbarr = _carr(spark.table(f"{table_prefix}_codebooks"), ("sub",))
    centroids = spark.table(f"{table_prefix}_centroids")
    _, _, residual = _pq_stored_shape(spark, table_prefix)
    cells = _index_cells(spark, table_prefix).join(F.broadcast(cbarr))
    if residual:
        # residual-trained index: reconstruction = centroid + decoded
        # residual (the centroid join is a broadcast on the partition
        # key, so the probe scan stays code-bytes + one tiny lookup)
        ctr = centroids.select(
            F.col("cent_id").alias("cell"), F.col("cent_vec").alias("__ctr")
        )
        cells = cells.join(F.broadcast(ctr), "cell").select(
            "neighbor_id",
            F.zip_with(
                _pq_reconstruct(F.col("codes")),
                "__ctr",
                lambda r, c: r + c.cast("double"),
            ).alias("vec"),
            "cell",
        )
    else:
        cells = cells.select(
            "neighbor_id",
            _pq_reconstruct(F.col("codes")).alias("vec"),
            "cell",
        )
    cells = cells.withColumn("vnorm", _norm(F.col("vec")))
    if refine_corpus is None:
        return _ivf_serve(queries, cells, centroids, id_col, vec_col, k, n_probe)
    cand = _ivf_serve(
        queries, cells, centroids, id_col, vec_col, k * refine_factor, n_probe
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = refine_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    rescored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            _cosine_pre(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def ivf_pq_adc_topk_from_index(
    spark,
    table_prefix: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Serve top-k by ASYMMETRIC DISTANCE COMPUTATION — how FAISS
    actually serves IVFPQ: per (query, probed cell) the m·k codebook
    entries' partial dot products and partial squared norms are
    computed ONCE into a dense lookup table, and each candidate then
    scores by m O(1) array lookups on its code ids — no per-candidate
    reconstruction, and the probed-cell scan stays on code bytes
    joined to one broadcast LUT (n_probe · m · k entries per query).

    EXACTLY the reconstruction path's results, not approximately: the
    scaled-integer dot terms (``_dec_dot``) are independent per
    coordinate and summed in associative BIGINT arithmetic, so
    grouping them into per-subspace LUT partials changes nothing —
    dot, norm, cosine doubles, and the tie-broken top-k are
    bit-identical to ``ivf_pq_topk_from_index`` on the same index
    (residual or raw — the LUT bakes the cell centroid in per probed
    cell).

    Measured honestly (NOTES r10): at 500 queries × ~1M candidate
    pairs on sf0.1 this serve runs ~2.3× SLOWER than the
    reconstruction serve (5.6–6.9s vs 2.4–4.1s) — in an
    interpreted-expression engine, the (dim/m)× arithmetic reduction
    is swamped by per-pair LUT-row copying and lookup overhead (and a
    map-keyed LUT was another ~25% worse: Spark's ``element_at`` on a
    map is a LINEAR scan, hence the dense-array scatter behind an
    exchange barrier below). FAISS's ADC win rests on SIMD
    dense-table scanning that expression eval cannot express, so
    ``ivf_pq_topk_from_index`` (reconstruction) stays the default
    serve; this path is the faithful ADC formulation,
    exactness-pinned, for shapes where the trade flips (large dim/m,
    candidate-heavy probes, columnar LUT kernels)."""
    m, dim, residual = _pq_stored_shape(spark, table_prefix)
    sub_d = (dim // m) if m else 1
    centroids = spark.table(f"{table_prefix}_centroids")
    probes = _ivf_probes(queries, centroids, id_col, vec_col, n_probe)
    cbarr = _carr(spark.table(f"{table_prefix}_codebooks"), ("sub",))
    lut_in = probes.join(F.broadcast(cbarr))
    if residual:
        ctr = centroids.select(
            F.col("cent_id").alias("cell"), F.col("cent_vec").alias("__ctr")
        )
        lut_in = lut_in.join(F.broadcast(ctr), "cell")

        def _vals(c):
            # decoded residual + cell centroid — the same per-element
            # ops as the reconstruction path (bit-identical doubles)
            return F.zip_with(
                F.transform(
                    c["cs"],
                    lambda v: v.cast("double") / F.lit(float(PQ_SCALE)),
                ),
                F.slice(F.col("__ctr"), c["sub"] * sub_d + 1, sub_d),
                lambda r, cc: r + cc.cast("double"),
            )
    else:

        def _vals(c):
            return F.transform(
                c["cs"],
                lambda v: v.cast("double") / F.lit(float(PQ_SCALE)),
            )

    def _pd(c):  # partial dot: this query's subvector × this entry
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("__qv"), c["sub"] * sub_d + 1, sub_d),
                _vals(c),
                lambda x, y: F.floor(
                    x.cast("double") * y.cast("double") * F.lit(float(SCALE))
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + t,
        )

    def _pn(c):  # partial squared norm of this entry's decoded values
        return F.aggregate(
            F.transform(
                _vals(c),
                lambda x: F.floor(
                    x.cast("double") * x.cast("double") * F.lit(float(SCALE))
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + t,
        )

    # One LUT row per (query, probed cell), as DENSE arrays indexed by
    # sub · dense + cid so each candidate lookup is O(1) array
    # indexing — Spark's map element_at is a LINEAR scan, which
    # measured 2.5x SLOWER than reconstruction at 1M candidate pairs
    # (the lookup cost ate the (dim/m)× arithmetic win). Density is
    # cheap by construction: codebook cids are the k smallest corpus
    # ids (``pq_train_codebooks`` seeds), so max(cid)+1 ≈ k. The
    # sparse→dense scatter costs m·dense map probes ONCE per
    # (query, cell) row, amortized over every candidate in the cell.
    cb_tbl = spark.table(f"{table_prefix}_codebooks")
    max_cid = cb_tbl.agg(F.max("cid")).first()[0]
    dense = int(max_cid) + 1 if max_cid is not None else 1
    lut_map = lut_in.select(
        "query_id",
        "cell",
        "__qn",
        F.map_from_entries(
            F.transform(
                F.col("__carr"),
                lambda c: F.struct(
                    (
                        c["sub"].cast("bigint") * F.lit(dense) + c["cid"]
                    ).alias("key"),
                    F.struct(
                        _pd(c).alias("pd"), _pn(c).alias("pn")
                    ).alias("val"),
                ),
            )
        ).alias("__map"),
    )
    # exchange barrier between the (expensive) partial computation and
    # the dense scatter: CollapseProject would otherwise inline the
    # m·k partial-dot map INTO the per-index transform below and
    # recompute it m·dense times per row
    idxs = F.sequence(
        F.lit(0).cast("bigint"), F.lit(m * dense - 1).cast("bigint")
    )
    lut = lut_map.repartition("query_id", "cell").select(
        "query_id",
        "cell",
        "__qn",
        F.transform(
            idxs, lambda i: F.element_at(F.col("__map"), i)
        ).alias("__arr"),
    )
    cells = _index_cells(spark, table_prefix).select(
        "neighbor_id", "codes", "cell"
    )

    def _lookup_sum(field: str) -> Column:
        return F.aggregate(
            F.transform(
                F.col("codes"),
                lambda code, s: F.element_at(
                    F.col("__arr"),
                    (
                        s.cast("bigint") * F.lit(dense)
                        + code.cast("bigint")
                        + F.lit(1)
                    ).cast("int"),
                )[field],
            ),
            F.lit(0).cast("bigint"),
            lambda a, t: a + t,
        )

    scored = (
        cells.join(F.broadcast(lut), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__pd", _lookup_sum("pd"))
        .withColumn("__pn", _lookup_sum("pn"))
        .withColumn(
            "cosine",
            F.col("__pd").cast("double")
            / (F.col("__qn") * F.sqrt(F.col("__pn").cast("double"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# ---------------------------------------------------------------------------
# Operating-point selection: the operating curves (recall vs probe
# cost per width) are only useful if something CONSUMES them.
# choose_probe_width picks the cheapest width meeting a recall
# target (falling back to the widest width when none does), and the
# from-index serve paths accept width="auto" to run the one-time
# tuning pass (curve from the index's own vectors — a deploy-time
# cost amortized over every subsequent probe) and serve at the
# chosen width.
# ---------------------------------------------------------------------------

#: probe widths the auto-tuned IVF serve evaluates.
IVF_PROBE_WIDTHS = (1, 2, 4)
#: probe radii the auto-tuned LSH serve evaluates (what _lsh_serve
#: supports: the exact bucket, or the exact bucket + 1-bit flips).
LSH_PROBE_WIDTHS = (0, 1)


def choose_probe_width(
    curve: DataFrame,
    target_recall: float,
    width_col: str,
    cost_col: str = "n_candidates",
    recall_col: str = "recall_at_5",
) -> DataFrame:
    """The cheapest operating point meeting ``target_recall`` — ONE
    row of the curve plus ``(target_recall, meets_target)``. Widths
    that meet the target rank before those that don't; among meeting
    widths the lowest ``cost_col`` wins (the cheapest adequate
    probe); if none meets it, the highest-cost (widest, best-recall)
    width wins — degrade to the best the index can do, never to the
    cheapest. Ties break on the width itself, so selection is
    deterministic. The curve is a handful of rows (one per width);
    orderBy+limit(1) plans as TakeOrderedAndProject — a streaming
    top-1, no exchange, no window sort."""
    meets = F.col(recall_col) >= F.lit(float(target_recall))
    return (
        curve.withColumn("target_recall", F.lit(float(target_recall)))
        .withColumn("meets_target", meets)
        .orderBy(
            F.when(F.col("meets_target"), 1).otherwise(0).desc(),
            F.when(F.col("meets_target"), F.col(cost_col))
            .otherwise(-F.col(cost_col))
            .asc(),
            F.col(width_col).asc(),
        )
        .limit(1)
    )


def _probe_curve(
    queries: DataFrame,
    index: DataFrame,
    probes: DataFrame,
    probe_key: str,
    id_col: str,
    vec_col: str,
    k: int,
    widths: tuple[int, ...],
    width_col: str,
    probed_col: str,
) -> DataFrame:
    """The recall/cost curve both index families share. ``index``
    holds ``(neighbor_id, vec, vnorm, probe_key)``; ``probes`` holds
    each query's probe rows ``(query_id, __qv, __qn, probe_key,
    __prk)`` at the widest width, ``__prk`` the smallest width that
    includes the row. Candidates are scored ONCE and sliced per
    width; the exact baseline is one brute-force pass over the
    index's own vectors (the tuning cost a deployment pays once).
    One row per width: ``(width_col int, probed_col bigint,
    n_candidates bigint, recall_at_5 double)``."""
    corpus = index.select(
        F.col("neighbor_id").alias(id_col), F.col("vec").alias(vec_col), "vnorm"
    )
    exact = (
        cosine_topk(
            queries, corpus, id_col=id_col, vec_col=vec_col, k=k,
            norm_col="vnorm",
        )
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    probes = probes.persist()
    cand = (
        index.join(F.broadcast(probes), probe_key)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _cosine_pre(F.col("__qv"), F.col("vec"), F.col("__qn"), F.col("vnorm")),
        )
        .select("query_id", "neighbor_id", "__prk", "cosine")
        .persist()
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    points = []
    for w in widths:
        sub = cand.filter(F.col("__prk") <= w)
        top = (
            sub.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id")
        )
        hits = top.join(exact, ["query_id", "neighbor_id"], "left_semi").agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        n_cand = sub.agg(F.count(F.lit(1)).alias("n_candidates"))
        n_probed = probes.filter(F.col("__prk") <= w).agg(
            F.count(F.lit(1)).alias(probed_col)
        )
        points.append(
            hits.crossJoin(n_cand)
            .crossJoin(n_probed)
            .crossJoin(n_exact)
            .select(
                F.lit(w).cast("int").alias(width_col),
                F.col(probed_col).cast("bigint").alias(probed_col),
                F.col("n_candidates").cast("bigint").alias("n_candidates"),
                (
                    F.col("n_hits").cast("double")
                    / F.greatest(F.col("n_exact"), F.lit(1))
                ).alias("recall_at_5"),
            )
        )
    return reduce(DataFrame.unionAll, points)


def ivf_curve_from_index(
    spark,
    table_prefix: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    widths: tuple[int, ...] = IVF_PROBE_WIDTHS,
) -> DataFrame:
    """Recall/cost curve of a persisted IVF index, measured on
    ``queries``: for each probe width, cells probed, candidates
    actually scored and recall@k vs the exact top-k over the index's
    own vectors. The candidate join runs ONCE at the widest width and
    is sliced by probe rank per point."""
    centroids = spark.table(f"{table_prefix}_centroids")
    probes = _ivf_probes(queries, centroids, id_col, vec_col, max(widths))
    return _probe_curve(
        queries, _index_cells(spark, table_prefix), probes, "cell",
        id_col, vec_col, k, widths, "n_probe", "n_cells_probed",
    )


def lsh_curve_from_index(
    spark,
    table_prefix: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    widths: tuple[int, ...] = LSH_PROBE_WIDTHS,
) -> DataFrame:
    """Recall/cost curve of a persisted LSH index on ``queries``:
    probe radius 0 (exact bucket) vs 1 (+ every 1-bit flip).
    Candidates are computed ONCE at the widest radius with their
    flip distance recorded as the probe rank, then sliced."""
    planes = _stored_planes(spark, table_prefix)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        lsh_bucket(F.col(vec_col), planes).alias("__qb"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    probe_arr = F.array(
        F.struct(F.col("__qb").alias("bucket"), F.lit(0).alias("hd")),
        *[
            F.struct(
                F.col("__qb").bitwiseXOR(F.lit(2**p).cast("bigint")).alias("bucket"),
                F.lit(1).alias("hd"),
            )
            for p in range(len(planes))
        ],
    )
    probes = q.select(
        "query_id", "__qv", "__qn", F.explode(probe_arr).alias("pr")
    ).select(
        "query_id", "__qv", "__qn", F.col("pr.bucket").alias("bucket"),
        F.col("pr.hd").alias("__prk"),
    )
    return _probe_curve(
        queries, _index_buckets(spark, table_prefix), probes, "bucket",
        id_col, vec_col, k, widths, "probe_hamming", "n_buckets_probed",
    )


def jl_sign_planes(dim: int, n_planes: int, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign planes (Achlioptas'
    database-friendly construction — signs, not Gaussians, so the
    projection of a fixed-point vector is EXACT integer arithmetic).
    Derived driver-side from md5 so the literal matrix embedded in
    Spark plans and oracle SQL is identical by construction."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()
            row.append(1 if int(h[:8], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def jl_project(qvec: Column, planes: list[list[int]]) -> Column:
    """Project a PRE-QUANTIZED bigint vector onto fixed ±1 sign
    planes as an exact bigint array: ``y_p = Σ_i sign_pi · x_i``.

    ``qvec`` must be a materialized fixed-point column (quantize once
    with ``clustering.quantize_vec`` and stage it — each plane's
    zip_with re-evaluates its input expression, so passing the raw
    quantize pipeline would run it n_planes times per row).

    Exactness: signed integer sums — associative and engine-
    identical, so similarity in the projected space is fully
    oracle-checkable. Magnitudes: |y| ≤ dim·scale (~2^26 at 64 dims
    ×1e6), projected dot products ≤ n_planes·(dim·scale)² ≈ 2^56 —
    int64-safe. At 100 TB this is THE pre-indexing shrink: project
    64→16 dims map-side (no shuffle), then feed the cheaper vectors
    to LSH/IVF; the JL lemma bounds the cosine distortion and the
    ``jl_distortion_audit`` query measures it on real pairs."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    qvec,
                    F.array(*[F.lit(s) for s in row]),
                    lambda x, sgn: x * sgn.cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            )
            for row in planes
        ]
    )
