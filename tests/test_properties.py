"""Property-based tests (hypothesis): the reference-quirk scalar
functions agree with a literal Python restatement of the reference's
row-at-a-time semantics on arbitrary inputs, and the salted operators
are invisible in results for arbitrary data/bucket counts.

Each hypothesis example costs one Spark job, so max_examples is kept
small; every example still checks a whole batch of generated rows.
"""

from __future__ import annotations

import datetime
import math
import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from exceldatatransform_py_spark.functions.columns import (
    clean_numeric,
    distinct_sorted_concat,
    last_token_lower,
    week_start_date,
)

_FLOAT_RE = re.compile(r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$")
_WS_RE = re.compile("[\\s   ]+")

dirty_numeric = st.text(
    alphabet="0123456789.-+eE \t  xyz", min_size=0, max_size=12
)


def _expected_clean(s: str) -> float:
    cleaned = _WS_RE.sub("", s).strip()
    if _FLOAT_RE.match(cleaned):
        return float(cleaned)
    return 0.0


@settings(max_examples=15, deadline=None)
@given(st.lists(dirty_numeric, min_size=1, max_size=40))
def test_clean_numeric_matches_python_float(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string")
    got = {
        r["i"]: r["x"]
        for r in df.select("i", clean_numeric("s").alias("x")).collect()
    }
    for i, v in enumerate(values):
        exp = _expected_clean(v)
        if math.isnan(exp):
            assert math.isnan(got[i]), (v, got[i])
        else:
            assert got[i] == exp, (v, got[i], exp)


names = st.text(alphabet="ABCdef ghiRossi ", min_size=0, max_size=25)


@settings(max_examples=15, deadline=None)
@given(st.lists(names, min_size=1, max_size=40))
def test_last_token_lower_matches_python(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string")
    got = {
        r["i"]: r["t"]
        for r in df.select("i", last_token_lower("s").alias("t")).collect()
    }
    for i, v in enumerate(values):
        toks = v.strip().split()
        exp = toks[-1].lower() if toks else "unknown"
        assert got[i] == exp, (repr(v), got[i], exp)


week_strings = st.one_of(
    st.builds(
        lambda d, m, y, tail: f"{d}/{m}/{y} al {tail}",
        st.integers(1, 31),
        st.integers(1, 13),
        st.integers(1990, 2030),
        st.text(alphabet="0123456789/", max_size=10),
    ),
    st.text(alphabet="0123456789/ al", max_size=20),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(week_strings, min_size=1, max_size=40))
def test_week_start_date_matches_python(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string")
    got = {
        r["i"]: r["d"]
        for r in df.select("i", week_start_date("s").alias("d")).collect()
    }
    for i, v in enumerate(values):
        exp = None
        t = v.strip(" ")
        if " al " in t:
            left = t.split(" al ")[0].strip(" ")
            m = re.match(r"^(\d{1,2})/(\d{1,2})/(\d{4})$", left)
            if m:
                try:
                    exp = datetime.date(int(m[3]), int(m[2]), int(m[1]))
                except ValueError:
                    exp = None
        assert got[i] == exp, (repr(v), got[i], exp)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(alphabet="abcXYZ", min_size=1, max_size=4), min_size=1, max_size=30))
def test_distinct_sorted_concat_matches_python(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = df.agg(distinct_sorted_concat("v").alias("c")).collect()[0]["c"]
    assert got == "; ".join(sorted(set(values)))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 32),
)
def test_salted_sum_count_invisible(spark, rows, buckets):
    from exceldatatransform_py_spark.operators.skew import salted_sum_count

    df = spark.createDataFrame(rows, "k int, v int")
    got = {
        r["k"]: (r["sum_value"], r["n_rows"])
        for r in salted_sum_count(
            df, keys=["k"], sum_col="v", salt_buckets=buckets
        ).collect()
    }
    exp: dict[int, list[float]] = {}
    for k, v in rows:
        e = exp.setdefault(k, [0.0, 0])
        e[0] += v
        e[1] += 1
    assert got == {k: (e[0], e[1]) for k, e in exp.items()}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 100)),
        min_size=1,
        max_size=50,
    ),
    st.integers(2, 16),
)
def test_salted_join_invisible(spark, rows, buckets):
    from exceldatatransform_py_spark.operators.skew import salted_join

    left = spark.createDataFrame(rows, "k int, v int")
    right = spark.createDataFrame(
        [(k, f"lab{k}") for k in range(0, 6, 2)], "k int, lab string"
    )
    plain = sorted(
        (r["k"], r["v"], r["lab"]) for r in left.join(right, ["k"]).collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["lab"])
        for r in salted_join(left, right, on=["k"], salt_buckets=buckets).collect()
    )
    assert salted == plain


# ---------------------------------------------------------------------------
# Sessionization invariants against a literal Python restatement: for
# arbitrary (user, timestamp) streams, the session assignment from the
# lag+cumsum plan must equal single-threaded sequential grouping.
# ---------------------------------------------------------------------------

event_times = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user_id
        st.integers(min_value=0, max_value=200_000),    # seconds offset
    ),
    min_size=1,
    max_size=60,
)


def _expected_sessions(rows, gap_s=1800):
    """Sequential reference: sort per user by (ts, event_id); a new
    session starts when the gap exceeds gap_s."""
    by_user: dict = {}
    for eid, (u, off) in enumerate(rows):
        by_user.setdefault(u, []).append((off, eid))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        sid = 0
        prev = None
        for off, eid in evs:
            if prev is not None and off - prev > gap_s:
                sid += 1
            out[eid] = (u, sid)
            prev = off
    return out


@settings(max_examples=10, deadline=None)
@given(event_times)
def test_sessionization_matches_sequential_python(spark, rows):
    from pyspark.sql import Window

    base = datetime.datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [
            (eid, u, base + datetime.timedelta(seconds=off))
            for eid, (u, off) in enumerate(rows)
        ],
        "event_id long, user_id long, ts timestamp",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES"))).cast("int")
    got = {
        r["event_id"]: (r["user_id"], r["sid"])
        for r in df.select(
            "event_id",
            "user_id",
            (
                F.sum(is_new).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                - 1
            ).alias("sid"),
        ).collect()
    }
    assert got == _expected_sessions(rows)


# ---------------------------------------------------------------------------
# Merge invariants for arbitrary key overlaps: cardinality preserved,
# matched rows overwritten, unmatched target rows untouched, unmatched
# update rows discarded.
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 12), min_size=1, max_size=15, unique=True),
    st.lists(st.integers(0, 12), min_size=0, max_size=15, unique=True),
)
def test_merge_update_invariants(spark, target_keys, update_keys):
    from exceldatatransform_py_spark.operators.merge import merge_update

    target = spark.createDataFrame(
        [(k, f"t{k}", float(k)) for k in target_keys], "k int, v string, x double"
    )
    updates = spark.createDataFrame(
        [(k, f"u{k}") for k in update_keys], "k int, v string"
    ) if update_keys else spark.createDataFrame([], "k int, v string")

    got = {r["k"]: (r["v"], r["x"]) for r in
           merge_update(target, updates, on=["k"], update_cols=["v"]).collect()}

    assert set(got) == set(target_keys)          # cardinality preserved
    for k in target_keys:
        expect_v = f"u{k}" if k in update_keys else f"t{k}"
        assert got[k] == (expect_v, float(k))    # overwrite vs untouched


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 12), min_size=1, max_size=15, unique=True),
    st.lists(st.integers(0, 12), min_size=0, max_size=15, unique=True),
    st.booleans(),
    st.booleans(),
)
def test_merge_full_matches_sequential_reference(
    spark, target_keys, update_keys, insert, delete
):
    """For every clause combination, merge_full equals the sequential
    MERGE reference computed in plain Python: matched → overwrite,
    unmatched source → insert iff enabled (non-update cols NULL),
    unmatched target → delete iff enabled."""
    from exceldatatransform_py_spark.operators.merge import merge_full

    target = spark.createDataFrame(
        [(k, f"t{k}", float(k)) for k in target_keys],
        "k int, v string, x double",
    )
    updates = spark.createDataFrame(
        [(k, f"u{k}") for k in update_keys], "k int, v string"
    ) if update_keys else spark.createDataFrame([], "k int, v string")

    got = {
        r["k"]: (r["v"], r["x"])
        for r in merge_full(
            target, updates, on=["k"], update_cols=["v"],
            insert=insert, delete_unmatched_target=delete,
        ).collect()
    }

    expect = {}
    for k in target_keys:
        if k in update_keys:
            expect[k] = (f"u{k}", float(k))
        elif not delete:
            expect[k] = (f"t{k}", float(k))
    if insert:
        for k in update_keys:
            if k not in target_keys:
                expect[k] = (f"u{k}", None)
    assert got == expect


# ---------------------------------------------------------------------------
# Connected components: pointer-doubling must converge in O(log n)
# rounds on the adversarial chain shape (pure min-propagation needs
# O(diameter) rounds there and would silently truncate at max_iter),
# and must agree with a sequential union-find on arbitrary graphs.
# ---------------------------------------------------------------------------


def test_connected_components_chain_converges_logarithmically(spark):
    from exceldatatransform_py_spark.operators.dedup import connected_components

    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # max_iter=12 is the round budget: a 1000-node chain needs ~10
    # pointer-doubling rounds (+1 no-change confirmation); if the
    # algorithm regressed to diameter-bound propagation, 12 rounds
    # reach only ~24 hops and the assertion fails.
    labels = {
        r["v"]: r["cluster_id"]
        for r in connected_components(edges, max_iter=12).collect()
    }
    assert len(labels) == n
    assert set(labels.values()) == {0}


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    # min-id per component, only for nodes that appear in an edge
    roots = {}
    for v in sorted(touched):
        roots.setdefault(find(v), v)
    return {v: roots[find(v)] for v in touched}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, raw_edges):
    from exceldatatransform_py_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["v"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    assert got == _union_find_components(25, edges)


@pytest.mark.parametrize("id_offset", [0, 1000], ids=["from0", "from1000"])
def test_kmeans_assignment_is_argmin_and_matches_python(spark, id_offset):
    """Self-consistency of the distributed Lloyd loop, independent of
    the DuckDB oracle: re-running the exact fixed-point algorithm in
    plain Python on the collected vectors must give the same final
    assignment, and every point's cluster must be the true argmin over
    the final centroids (ties to the lowest centroid id). Seeds are
    the k smallest ids PRESENT, so ids that do not start at 0 train
    the same k centroids."""
    from exceldatatransform_py_spark.operators.clustering import (
        kmeans_assign,
        kmeans_centroids,
    )
    from exceldatatransform_py_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    k, iters, scale = 8, 3, 1_000_000
    emb = read_table(spark, sf, "embeddings").withColumn(
        "vec_id", F.col("vec_id") + id_offset
    )
    got = {
        r.vec_id: (r.cluster_id, r.sqdist)
        for r in kmeans_assign(
            emb, id_col="vec_id", vec_col="embedding", k=k, iters=iters,
            scale=scale,
        ).collect()
    }
    cents = {
        r.cid: r.cvec
        for r in kmeans_centroids(
            emb, id_col="vec_id", vec_col="embedding", k=k, iters=iters,
            scale=scale,
        ).collect()
    }

    import math

    pts = {
        r.vec_id: [math.floor(float(x) * scale) for x in r.embedding]
        for r in emb.collect()
    }

    # Plain-Python Lloyd on the quantized points.
    c = {i: pts[i][:] for i in sorted(pts)[:k]}

    def assign(cs):
        out = {}
        for v, xs in pts.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(xs, cs[cid])), cid)
                for cid in cs
            )
            out[v] = (best[1], best[0])
        return out

    for it in range(iters):
        a = assign(c)
        if it == iters - 1:
            break
        sums: dict[int, list] = {}
        counts: dict[int, int] = {}
        for v, (cid, _) in a.items():
            counts[cid] = counts.get(cid, 0) + 1
            s = sums.setdefault(cid, [0] * len(pts[v]))
            for i, x in enumerate(pts[v]):
                s[i] += x
        c = {
            cid: [math.floor(s[i] / counts[cid]) for i in range(len(s))]
            for cid, s in sums.items()
        }

    assert got == a
    # centroid de-quantization: cvec == quantized coords / scale
    for cid, cvec in cents.items():
        assert [round(x * scale) for x in cvec] == c[cid]
    # argmin property against the de-quantized centroids
    for v, (cid, d2) in got.items():
        dists = {
            cc: sum((x - y) * (x - y) for x, y in zip(pts[v], c[cc]))
            for cc in c
        }
        best = min((dv, cc) for cc, dv in dists.items())
        assert (best[1], best[0]) == (cid, d2)


# ---------------------------------------------------------------------------
# Parallelism invariance: the engine's replay/determinism claim is
# that results are a pure function of the data — not of partition
# count, reducer order, or cluster size. Exercise the newest
# fixed-point operators under deliberately mismatched shuffle
# parallelism and require cell-exact equality. (The oracle suite pins
# values at ONE parallelism; this pins that parallelism is irrelevant
# — the property a 1000-executor rerun needs.)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "qname",
    [
        "rolling_zscore_events",
        "winsorized_mean_by_priority",
        "bitmap_distinct_users",
        "token_rarity_score",
        "robust_stats_by_priority",
        "snapshot_diff_orders",
        "cms_heavy_hitters",
        "bpe_merge_candidates",
        "cusum_drift_per_user",
        "forward_fill_purchase_value",
        "ewma_value_per_user",
        "regression_price_qty_by_flag",
        "khop_parts_from_seeds",
        # round-3 statistical/ML-eval batch: the sorted-fold chi-square
        # total, the integer-arithmetic TVD/AUC/gain statistics, the
        # dyadic surprisal, and the retract/accumulate MV refresh must
        # all be pure functions of the data, not the partitioning.
        "chi_square_type_dow",
        "value_drift_tvd",
        "rank_auc_purchase_score",
        "decile_gain_table",
        "unigram_surprisal_score",
        "token_pmi_pairs",
        "incremental_agg_refresh",
        "semantic_dedup_kmeans",
        "pca_top_component",
        "bigram_surprisal_score",
        "windowed_drift_curve",
        "containment_pairs",
        "hybrid_rrf_retrieval",
        "jl_distortion_audit",
        "ks_two_sample_value",
        "k_anonymity_audit",
        "order_total_consistency_audit",
        "revenue_concentration_gini",
        # round-6 batch: decoded-pixel video stats, the full-clause
        # merge, and the scored build+probe twins (index build runs
        # inside the query, so the bucketed/partitioned layout itself
        # must make the probe partitioning-independent).
        "video_scene_cuts",
        "merge_full_orders",
        "incremental_novelty_probe",
        "incremental_near_dup_probe",
        "incremental_simhash_probe",
        "ann_ivf_sq8_topk",
        "cdc_apply_orders",
        "snapshot_timetravel_orders",
        "stopword_strip",
        "decontaminate_train_split",
        "wav_zero_crossing_rate",
        "minhash_estimate_error",
        "curation_pipeline_v2",
        "rerank_bm25_dense",
        # round-7 batch: the iterative trainers (logistic classifier,
        # BPE loop), the shard-permutation manifest's order-sensitive
        # chained hash, the IVF operating curve's sliced candidate
        # counts, and the learned-gate pipeline must all be pure
        # functions of the data, not the partitioning.
        "quality_classifier_score",
        "classifier_gated_corpus",
        "classifier_holdout_eval",
        "bpe_train_merges",
        "bpe_encode_corpus",
        "training_shard_manifest",
        "ivf_operating_curve",
        "lsh_operating_curve",
        "curation_pipeline_v3",
        "snapshot_delete_orders",
        # round-8 batch: the PQ trainer's joint Lloyd loop, the
        # encode, and the two-stage refine serve must be pure
        # functions of the data at any parallelism.
        "ann_ivf_pq_topk",
        "ann_ivf_pq_refine_topk",
        "ivf_auto_probe_width",
        "lsh_auto_probe_width",
        "image_near_dup_pairs",
        "bm25_index_topk",
        "incremental_image_dedup_probe",
        "image_similarity_topk",
        "snapshot_cdf_orders",
        "multimodal_rrf_retrieval",
        "snapshot_dv_delete_orders",
        # round-9 batch: the audio/video fingerprints and their
        # banded pairings are pure functions of the bytes.
        "audio_near_dup_pairs",
        "incremental_audio_dedup_probe",
        "video_near_dup_pairs",
        "ann_ivf_pq_residual_topk",
        "snapshot_rename_orders",
        # round-10 batch: the ADC serve is pinned bit-identical to
        # the reconstruction serve, which is itself fixed-point; the
        # cross-modal composition is a union of fixed-point pair sets
        # + min-label CC (a pure function of the edge set).
        "ann_ivf_pq_adc_topk",
        "cross_modal_dedup_clusters",
        "snapshot_replicate_orders",
        # round-11 batch: tombstoned probes are the fixed-point probe
        # minus a deterministic id set, and the v4 pipeline composes
        # fixed-point stages (edge sets, CC, classifier margins) —
        # pure functions of the data.
        "incremental_dedup_after_delete",
        "curation_pipeline_v4",
    ],
)
def test_result_invariant_to_shuffle_parallelism(spark, qname):
    from exceldatatransform_py_spark.plans.queries import QUERIES
    from tests.oracle_utils import canon_rows

    sf = "/root/testdata/sf0.001"
    orig = spark.conf.get("spark.sql.shuffle.partitions")

    def run():
        df = QUERIES[qname](spark, sf)
        return canon_rows(list(df.columns), [tuple(r) for r in df.collect()])

    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        low = run()
        spark.conf.set("spark.sql.shuffle.partitions", "37")
        high = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert low == high


# ---------------------------------------------------------------------------
# xlsx shim: write→read round-trip over arbitrary cell content. The
# shim is pure stdlib (no Spark), so examples are cheap — exercise it
# harder than the Spark-job-backed properties above.
# ---------------------------------------------------------------------------

_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**52), max_value=2**52),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc"),  # no surrogates/control
        ),
        max_size=40,
    ),
)


@settings(max_examples=60, deadline=None)
@given(
    header=st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=5,
    ),
    rows=st.lists(st.lists(_cell, min_size=0, max_size=5), max_size=8),
)
def test_xlsx_shim_roundtrip_property(tmp_path_factory, header, rows):
    import os

    from exceldatatransform_py_spark.sources import xlsx_shim

    # normalize rows to header width (the shim contract: sheets are
    # rectangular up to the header's width; extras are dropped)
    width = len(header)
    norm = [
        (r + [None] * width)[:width] for r in rows
    ]
    path = os.path.join(
        str(tmp_path_factory.mktemp("xlsx_prop")), "t.xlsx"
    )
    xlsx_shim.write_workbook(path, {"S": (header, norm)})
    got_header, got_rows = xlsx_shim.read_workbook(path)["S"]
    assert got_header == [str(h) for h in header]
    # trailing all-None rows have no cells and are indistinguishable
    # from the sheet simply ending — trim both sides before comparing.
    def trim(rs):
        out = [list(r) for r in rs]
        while out and all(v is None for v in out[-1]):
            out.pop()
        return out

    want = trim(norm)
    got = trim(got_rows)
    assert len(got) == len(want)
    for wr, gr in zip(want, got):
        for wv, gv in zip(wr, gr):
            if isinstance(wv, float) and not isinstance(wv, bool):
                assert gv == wv or (
                    isinstance(gv, (int, float)) and float(gv) == wv
                )
            elif isinstance(wv, int) and not isinstance(wv, bool):
                assert gv == wv
            else:
                assert gv == wv


# ---------------------------------------------------------------------------
# Pruned merge ≡ plain merge: for arbitrary key sets on both sides,
# the file-pruned snapshot merge commits exactly the rows the
# unpruned relational merge produces (pruning is physical only).
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    target_keys=st.lists(
        st.integers(min_value=0, max_value=60), min_size=1, max_size=40,
        unique=True,
    ),
    update_keys=st.lists(
        st.integers(min_value=0, max_value=80), min_size=0, max_size=15,
        unique=True,
    ),
    n_files=st.integers(min_value=1, max_value=4),
)
def test_pruned_merge_equals_plain_merge(
    spark, tmp_path_factory, target_keys, update_keys, n_files
):
    import os

    from exceldatatransform_py_spark.operators.merge import merge_update
    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
        snapshot_read,
        snapshot_write,
    )

    table = os.path.join(str(tmp_path_factory.mktemp("pm")), "tbl")
    base = spark.createDataFrame(
        [(k, float(k)) for k in target_keys], "k int, x double"
    )
    snapshot_write(
        table, base.repartitionByRange(n_files, "k").sortWithinPartitions("k")
    )
    ups = spark.createDataFrame(
        [(k, -float(k)) for k in update_keys], "k int, x double"
    )
    snapshot_merge_update_pruned(spark, table, ups, on=["k"], update_cols=["x"])
    got = sorted(
        (r.k, r.x) for r in snapshot_read(spark, table).collect()
    )
    want = sorted(
        (r.k, r.x)
        for r in merge_update(base, ups, on=["k"], update_cols=["x"]).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Copy-on-write delete ≡ merge-on-read delete ≡ plain filter: for
# arbitrary keys (NULLs included), ranges, point deletes on a
# bloom-indexed key and an optional extra predicate, both delete
# flavors leave exactly the rows a plain Spark filter keeps, and they
# prune identically — the files the range delete rewrites are the
# files the DV delete scans.
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    keys=st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=60)),
        min_size=1, max_size=40,
    ),
    lo=st.integers(min_value=-5, max_value=65),
    width=st.integers(min_value=0, max_value=20),
    point=st.booleans(),
    extra=st.booleans(),
    n_files=st.integers(min_value=1, max_value=4),
)
def test_range_and_dv_deletes_equal_plain_filter(
    spark, tmp_path_factory, keys, lo, width, point, extra, n_files
):
    import json
    import os
    import shutil

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_delete_dv,
        snapshot_delete_range,
        snapshot_read,
        snapshot_write,
    )

    root = str(tmp_path_factory.mktemp("del"))
    cow, mor = os.path.join(root, "cow"), os.path.join(root, "mor")
    base = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k int, i int"
    )
    snapshot_write(
        cow,
        base.repartitionByRange(n_files, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    shutil.copytree(cow, mor)  # same files, so pruning must agree
    hi = lo if point else lo + width
    pred = "i % 2 = 0" if extra else None
    v_cow = snapshot_delete_range(spark, cow, "k", lo, hi, pred)
    v_mor = snapshot_delete_dv(spark, mor, "k", lo, hi, pred)

    def rows(df):  # i is unique per row; k may be NULL
        return sorted((tuple(r) for r in df.collect()), key=lambda r: r[1])

    doomed = f"k BETWEEN {lo} AND {hi}" + (f" AND {pred}" if pred else "")
    want = rows(base.filter(f"NOT coalesce({doomed}, false)"))
    assert rows(snapshot_read(spark, cow)) == want
    assert rows(snapshot_read(spark, mor)) == want

    def pruning(table, v):
        path = os.path.join(table, "_versions", f"v{v:05d}.json")
        with open(path) as f:
            return json.load(f)["pruning"]

    assert (
        pruning(cow, v_cow)["rewritten_files"]
        == pruning(mor, v_mor)["scanned_files"]
    )


def test_simhash_near_dup_recall_is_exact_below_band_bound(spark):
    # Pigeonhole guarantee of the 4-band layout: EVERY pair of 63-bit
    # fingerprints within hamming distance 3 must be emitted, and no
    # pair above the threshold may appear. Fingerprints are synthetic
    # (the property targets the pairing operator, not simhash64).
    from exceldatatransform_py_spark.operators.dedup import simhash_near_dup

    base = 0x12345678_9ABCDE5
    flip_sets = [
        (),          # distance 0 from base
        (0,),        # 1
        (5, 40),     # 2
        (1, 30, 62),             # 3 — still must pair with base
        (2, 11, 33, 55),         # 4 — must NOT pair with base
        (3, 7, 21, 44, 60, 13),  # 6
        (0, 1, 2, 3, 4, 5, 6, 7, 8, 9),
    ]
    fps = []
    for i, flips in enumerate(flip_sets):
        v = base
        for b in flips:
            v ^= 1 << b
        fps.append((i, v))
    fps.append((99, 0x7FFFFFFF_00000000))  # unrelated far point
    expected = {
        (a, b)
        for ai, (a, av) in enumerate(fps)
        for b, bv in fps[ai + 1 :]
        if bin(av ^ bv).count("1") <= 3
    }
    df = spark.createDataFrame(fps, "doc_id long, simhash long")
    got = {
        (r["a_id"], r["b_id"])
        for r in simhash_near_dup(df, "doc_id", "simhash", ham_max=3).collect()
    }
    assert got == expected


def test_remove_duplicate_spans_micro_semantics(spark):
    """Hand-built corpus pinning the span-removal edit: a 10-token
    run shared verbatim by two docs is excised from both (coverage =
    island + n−1 trailing tokens), text below the min_span threshold
    survives, and a doc that is one whole duplicated span comes back
    empty."""
    from exceldatatransform_py_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))  # 10-token shared run
    rows = [
        (1, f"a1 a2 a3 {shared} z1 z2"),
        (2, f"b1 {shared} y1 y2 y3"),
        (3, shared),                      # exactly the span → empty
        (4, "u1 u2 u3 u4 u5 u6 u7 u8"),   # unique 8 tokens → untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in remove_duplicate_spans(
            df, "doc_id", "text", n=4, min_span=6
        ).collect()
    }
    # islands: every 4-gram inside the shared run duplicates across
    # docs → island of 7 starts → 10 covered tokens ≥ 6 → removed.
    assert got[1] == (15, 10, "a1 a2 a3 z1 z2")
    assert got[2] == (14, 10, "b1 y1 y2 y3")
    assert got[3] == (10, 10, "")
    assert got[4] == (8, 0, "u1 u2 u3 u4 u5 u6 u7 u8")
