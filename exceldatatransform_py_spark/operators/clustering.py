"""Distributed k-means over embedding columns (Lloyd's algorithm).

The reference has no clustering (SURVEY.md §0); this is the
training-data-pipeline operator that powers corpus bucketing /
semantic sharding at 100 TB: assign every embedding to one of k
centroids, iterating assignment → centroid update a fixed number of
rounds.

Engine-exact determinism (the property that makes an ITERATIVE
algorithm fully oracle-checkable, not rows-only):

* Points are quantized ONCE to fixed-point BIGINTs
  (``floor(x * 10^6)``) — every distance is then an exact integer
  (|x| ≤ ~1e6 ⇒ a 64-dim squared distance ≤ ~2.6e14, far inside
  BIGINT), so argmin decisions cannot drift between engines.
* Centroid updates divide exact BIGINT sums by exact counts in IEEE
  double (both magnitudes < 2^53 ⇒ the division inputs are exact, and
  double division + floor are bit-identical everywhere), then
  re-quantize with ``floor`` back to BIGINT coordinates.
* Ties in the argmin break on centroid id; initial centroids are the
  k smallest point ids — no RNG anywhere.

Scale shape: one broadcast of k centroids per iteration (a single
aggregated row — k·dim·8 bytes), one map-side scoring pass over the
points (no shuffle), and one (cid, dim)-keyed aggregate for the
update (shuffle rows = k·dim, independent of corpus size). Points are
persisted once and never reshuffled. The per-element higher-order
functions are interpreted (see NOTES) — at extreme dim·k a Pandas-UDF
scorer is the drop-in upgrade; the plan shape stays identical.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: fixed-point scale for point/centroid coordinates.
KMEANS_SCALE = 1_000_000


def quantize_vec(col: str | Column, scale: int = KMEANS_SCALE) -> Column:
    """``array<float>`` → exact fixed-point ``array<bigint>``:
    ``floor(cast(x as double) * scale)`` per element."""
    return F.transform(
        col, lambda e: F.floor(e.cast("double") * F.lit(float(scale))).cast("long")
    )


def _sqdist(xs: Column, cs: Column) -> Column:
    """Exact integer squared L2 distance between two bigint arrays."""
    return F.aggregate(
        F.zip_with(xs, cs, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def _carr(cents: DataFrame, key: Sequence[str] = ()) -> DataFrame:
    """Every centroid ``(*key, cid, cs)`` folded to ONE sorted row
    ``__carr`` — the broadcast-scalar pattern: scoring against it is a
    map-only pass (BroadcastNestedLoopJoin of a 1-row side), never a
    shuffle of the points."""
    return cents.agg(
        F.sort_array(F.collect_list(F.struct(*key, "cid", "cs"))).alias("__carr")
    )


def _assign(
    pts: DataFrame, cents: DataFrame, id_col: str, key: Sequence[str] = ()
) -> DataFrame:
    """One assignment step: every point ``(id_col, *key, xs)`` scored
    against the centroids sharing its key — a lexicographic
    ``(d2, cid)`` argmin, exact integer distances, ties → lowest cid.
    Output ``(id_col, *key, xs, cid, d2)``."""
    entries = reduce(
        lambda arr, c: F.filter(arr, lambda e: e[c] == F.col(c)),
        key,
        F.col("__carr"),
    )
    best = F.array_min(
        F.transform(
            entries,
            lambda e: F.struct(
                _sqdist(F.col("xs"), e["cs"]).alias("d2"), e["cid"].alias("cid")
            ),
        )
    )
    return pts.crossJoin(F.broadcast(_carr(cents, key))).select(
        id_col, *key, "xs", best["cid"].alias("cid"), best["d2"].alias("d2")
    )


def _lloyd(
    pts: DataFrame, id_col: str, k: int, iters: int, key: Sequence[str] = ()
) -> tuple[DataFrame, DataFrame]:
    """The one Lloyd loop over pre-quantized points ``(id_col, *key,
    xs)``, one independent quantizer per ``key`` value (``()`` for
    k-means / IVF centroids, ``("sub",)`` for PQ codebooks):
    ``iters`` assignment rounds, ``iters - 1`` centroid updates.
    Returns ``(cents, assigned)`` — the centroids the FINAL assignment
    scored against (``*key, cid, cs array<bigint>``) and that
    assignment (``_assign``'s columns). Both are lazy; a caller
    consuming only one never executes the other's tail."""
    # Seeds: the k smallest ids PRESENT, each seeding a centroid under
    # every key (every id carries every key, so the k smallest
    # (key, id) rows name them). A distributed top-k —
    # TakeOrderedAndProject, never a shuffle of the points; on a dense
    # 0-based corpus this is exactly ``id < k``, what the oracle replays.
    seeds = pts.orderBy(*key, id_col).limit(k)
    cents = pts.join(F.broadcast(seeds.select(id_col)), id_col).select(
        *key, F.col(id_col).alias("cid"), F.col("xs").alias("cs")
    )
    assigned = None
    for it in range(iters):
        assigned = _assign(pts, cents, id_col, key)
        if it == iters - 1:
            break
        # Update: per-(*key, cid, dim) exact sums — shuffle volume
        # keys·k·dim regardless of corpus size — then floor-requantized
        # means, reassembled into per-centroid arrays ordered by dim.
        ex = assigned.select(*key, "cid", F.posexplode("xs").alias("i", "x"))
        sums = ex.groupBy(*key, "cid", "i").agg(
            F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
        )
        cx = F.floor(F.col("s").cast("double") / F.col("n")).cast("long")
        cents = sums.groupBy(*key, "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", cx.alias("cx")))),
                lambda t: t["cx"],
            ).alias("cs")
        )
    return cents, assigned


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """Lloyd's k-means: ``iters`` assignment rounds with ``iters - 1``
    centroid updates between them; returns the final assignment
    ``(id_col, cluster_id, sqdist)``.

    ``cluster_id`` is the id of the point that seeded the centroid
    (the k smallest ids); ``sqdist`` is the exact fixed-point squared
    distance to the final centroid.
    """
    pts = df.select(
        F.col(id_col), quantize_vec(vec_col, scale).alias("xs")
    ).persist()
    _, assigned = _lloyd(pts, id_col, k, iters)
    return assigned.select(
        id_col, F.col("cid").alias("cluster_id"), F.col("d2").alias("sqdist")
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """The trained coarse quantizer: centroids after ``iters - 1``
    Lloyd updates, de-quantized back to double coordinates —
    ``(cid bigint, cvec array<double>)``. This is the DataFrame an IVF
    index plugs in as its centroid set (``similarity.ivf_topk``);
    because training is engine-exact, the composed index remains fully
    oracle-checkable end-to-end."""
    pts = df.select(
        F.col(id_col), quantize_vec(vec_col, scale).alias("xs")
    ).persist()
    cents, _ = _lloyd(pts, id_col, k, iters)
    return cents.select(
        "cid",
        F.transform(
            "cs", lambda c: c.cast("double") / F.lit(float(scale))
        ).alias("cvec"),
    )


# ---------------------------------------------------------------------------
# PCA top principal component — Gram-matrix power iteration, fully
# fixed-point so an iterative eigen-solve is engine-exact and
# oracle-checkable (the same property argument as k-means above).
# ---------------------------------------------------------------------------

#: |scaled Gram| is truncated below 2^G_BITS so a Gram·v term
#: (2^G_BITS · 2^V_BITS) times dim stays far inside int64.
PCA_G_BITS = 34
#: power-iteration vectors renormalize to |v| ≤ ~2^V_BITS each round.
PCA_V_BITS = 20


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = KMEANS_SCALE,
    iters: int = 6,
) -> DataFrame:
    """Leading principal component of an embedding column — the
    whitening/dimensionality-reduction prep step of an embedding
    pipeline — via power iteration on the centered Gram (scatter)
    matrix, entirely in exact integer arithmetic.

    Determinism (what makes 6 chained iterations oracle-checkable):

    * Points quantize once to fixed-point (``floor(x·10^6)``); the
      per-dimension integer mean uses truncating division (Spark
      ``DIV`` ≡ DuckDB ``//`` for ALL signs — both truncate toward
      zero), so residuals are exact integers.
    * Gram entries are exact integer sums of residual products; a
      data-dependent power-of-two truncation (``g DIV 2^shift`` with
      ``shift = max(bitlen(max|g|) − 34, 0)``) bounds them below
      2^34 — ``2^shift`` is an exactly-representable double, and the
      truncating division matches across engines.
    * Each iteration renormalizes ``w = Gs·v`` with another
      truncating division by ``(max|w| DIV 2^20) + 1``, keeping
      |v| ≤ ~2^20 forever; Σ gs·v ≤ dim·2^54 stays inside int64.
    * Init is all-ones — no RNG; the returned direction's sign is
      therefore deterministic too.

    Scale shape: the only data-sized work is quantize → residual →
    map-side pair expansion (dim² structs per row, partially
    aggregated BEFORE the shuffle — the exchange carries at most
    dim²·partitions rows toward dim² groups). Everything after runs
    on dim² ≤ 4096 rows; per-round frames are 64 rows with broadcast
    scalars. Magnitude audit at this scale: |r| ≤ ~2^20, so a Gram
    entry ≤ N·2^40 — int64-safe to N ≈ 2^22 rows per partition-sum
    and ≈ 2^22 total without re-scaling; beyond that, raise the
    quantization coarseness or sum into DECIMAL(38,0) (documented
    upgrade path, same plan shape).

    Output: ``(dim_i int, v_fixed bigint, loading double)`` — the
    fixed-point eigenvector and its unit-normalized loadings.
    """
    xs = df.select(quantize_vec(vec_col, scale).alias("xs"))
    ex = xs.select(F.posexplode("xs").alias("i", "x"))
    sums = ex.groupBy("i").agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    means = sums.select("i", F.expr("s DIV n").alias("m"))
    meanrow = means.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "m"))), lambda st: st["m"]
        ).alias("marr")
    )
    # Residual + indexed-struct arrays are STAGED (persisted) before
    # the nested-transform pair expansion: HOF lambdas re-evaluate
    # captured outer expression trees per element (NOTES.md), so the
    # cross product must read a materialized attribute, not the
    # zip_with pipeline — else the O(d) residual build reruns O(d²)
    # times per row.
    ri = (
        xs.crossJoin(F.broadcast(meanrow))
        .select(F.zip_with("xs", "marr", lambda x, m: x - m).alias("rs"))
        .select(
            F.transform(
                "rs", lambda x, i: F.struct(i.alias("i"), x.alias("x"))
            ).alias("ri")
        )
        .persist()
    )
    pairs = ri.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ri",
                    lambda a: F.transform(
                        F.col("ri"),
                        lambda b: F.struct(
                            a["i"].alias("i"),
                            b["i"].alias("j"),
                            (a["x"] * b["x"]).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("c")
    ).select(F.col("c.i").alias("i"), F.col("c.j").alias("j"), F.col("c.p").alias("p"))
    g = pairs.groupBy("i", "j").agg(F.sum("p").alias("gij")).persist()
    gdiv = g.agg(F.max(F.abs("gij")).alias("gmax")).select(
        F.pow(
            F.lit(2.0),
            F.greatest(
                F.length(F.bin("gmax")) - F.lit(1) - F.lit(PCA_G_BITS), F.lit(0)
            ),
        )
        .cast("long")
        .alias("gdiv")
    )
    # localCheckpoint (not persist): each round's w feeds BOTH the
    # max-renorm scalar and the next v, so a lazy chain doubles per
    # round — 2^iters copies of the whole preprocessing tree reach
    # the analyzer (measured minutes at iters=6). Truncating lineage
    # keeps every round's plan O(1); the checkpointed frames are
    # dim²/dim rows. Same per-step-checkpoint rule as the
    # connected-components loop (NOTES.md).
    gs = (
        g.crossJoin(F.broadcast(gdiv))
        .select("i", "j", F.expr("gij DIV gdiv").alias("gs"))
        .localCheckpoint()
    )
    v = means.select(
        F.col("i").alias("j"), F.lit(1 << PCA_V_BITS).cast("long").alias("v")
    )
    for _ in range(iters):
        w = (
            gs.join(v, "j")
            .groupBy("i")
            .agg(F.sum(F.col("gs") * F.col("v")).alias("w"))
            .localCheckpoint()
        )
        d = w.agg(F.max(F.abs("w")).alias("mx")).select(
            (F.expr(f"mx DIV {1 << PCA_V_BITS}") + F.lit(1)).alias("d")
        )
        v = w.crossJoin(F.broadcast(d)).select(
            F.col("i").alias("j"), F.expr("w DIV d").alias("v")
        )
    n2 = v.agg(F.sum(F.col("v") * F.col("v")).alias("n2"))
    return v.crossJoin(F.broadcast(n2)).select(
        F.col("j").alias("dim_i"),
        F.col("v").alias("v_fixed"),
        (F.col("v").cast("double") / F.sqrt(F.col("n2").cast("double"))).alias(
            "loading"
        ),
    )
