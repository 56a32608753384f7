"""The benchmark's workloads: a fixed cycle of calls into the program.

Each workload has one client, one thread driving one Spark session,
and runs closed-loop: the next call starts when the previous one has
returned. A workload object builds its initial state (``setup``),
runs one cycle (``cycle``), checks the program's outputs once the
timed window is over (``checks``) and turns the trace into its
per-layer numbers (``layer_metrics``).

``relational`` runs eight registered read-only plans into the
``noop`` sink: Spark scan, join, aggregate and window execution do
most of the work. ``ingest`` keeps an ``orders`` snapshot table and
its CDC replica under a steady stream of merges and deletes, and a
MinHash dedup index under a steady stream of admissions and
evictions (the ``Curation`` slice, which also probes a BM25 and an
IVF index and trains the classifier): the commit, manifest,
deletion-vector and change-feed layer does most of the work, and
eager, many-job operator calls the rest.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import gen

from exceldatatransform_py_spark.functions.text import ws_tokens
from exceldatatransform_py_spark.operators import classifier, dedup, retrieval, similarity
from exceldatatransform_py_spark.plans.queries import ORACLE, QUERIES
from exceldatatransform_py_spark.sources import maintenance, snapshots

RELATIONAL_PLANS = (
    "flagship_daily_segment_ledger",
    "q1_pricing_summary",
    "q3_top_open_orders",
    "q5_regional_revenue",
    "q9_product_profit",
    "q18_large_volume_orders",
    "window_running_qty",
    "unpivot_lineitem_measures",
)

#: tables each plan scans, for the rows-consumed count
PLAN_TABLES = {
    "flagship_daily_segment_ledger": ("orders", "customer", "nation"),
    "q1_pricing_summary": ("lineitem",),
    "q3_top_open_orders": ("customer", "orders", "lineitem"),
    "q5_regional_revenue": (
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    ),
    "q9_product_profit": ("part", "nation", "supplier", "orders", "lineitem"),
    "q18_large_volume_orders": ("orders", "customer", "lineitem"),
    "window_running_qty": ("lineitem",),
    "unpivot_lineitem_measures": ("lineitem",),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _canon(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def _sorted_rows(table: pa.Table) -> list[tuple]:
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return sorted(
        (tuple(_canon(v) for v in row) for row in zip(*data)),
        key=lambda r: tuple((v is None, v) for v in r),
    )


def _same_rows(name: str, got: pa.Table, want: pa.Table) -> list[str]:
    """Mismatches between two results compared as bags of rows; empty
    when they hold the same rows. Tables with the same columns are
    compared sorted in Arrow; otherwise, or when they differ, row by row
    in Python, which also tolerates type differences and names the first
    differing row."""
    cols = sorted(got.column_names)
    if cols == sorted(want.column_names):
        keys = [(c, "ascending") for c in cols]
        g, w = got.sort_by(keys), want.sort_by(keys)
        # column by column: field nullability differs between engines
        if all(g.column(c).equals(w.column(c)) for c in cols):
            return []
    return _diff(name, _sorted_rows(got), _sorted_rows(want))


def _diff(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    if got == want:
        return []
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return [f"{name}: row {bad} is {got[bad]}, expected {want[bad]}"]


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            out[p] = os.path.getsize(p)
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def call_metrics(spans, prefix_to_metric) -> dict[str, float]:
    """Mean seconds and Spark jobs per call, over the traced calls of
    each named layer function; 0 for a function that never ran."""
    out = {}
    for name, (s_key, jobs_key) in prefix_to_metric.items():
        mine = [s for s in spans if s.name == name]
        out[s_key] = _mean(s.end - s.start for s in mine)
        out[jobs_key] = _mean(s.jobs for s in mine)
    return out


class Relational:
    """Eight read-only plans over a seeded TPC-H-shaped dataset, in a
    seed-permuted order that is the same in every cycle of a run."""

    name = "relational"
    N_ORDERS = 15_000  # 60k lineitems
    # The first cycle takes 2-3 times a steady one (JIT and codegen
    # warm-up); after two, the timed cycles of a run are 1-11 % apart.
    # The spread across runs follows the host's speed: 0.075 in one set
    # of ten runs with three warm-up cycles, 0.076-0.155 in four sets
    # with two (4 cores). A third would cost about 5 s per run.
    WARMUP_CYCLES = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        rng = np.random.default_rng([seed, 1])
        self.order = [RELATIONAL_PLANS[i] for i in rng.permutation(len(RELATIONAL_PLANS))]

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        tables = gen.tpch_tables(np.random.default_rng([self.seed, 0]), self.N_ORDERS)
        gen.write_tables(tables, self.sf_dir)
        self.plan_rows = {
            q: sum(tables[t].num_rows for t in PLAN_TABLES[q]) for q in RELATIONAL_PLANS
        }

    def cycle(self, h, i: int) -> int:
        for q in self.order:
            df = h.call(f"plans.{q}.build", lambda q=q: QUERIES[q](self.spark, self.sf_dir))
            if df is not None:
                h.call(f"plans.{q}.exec", lambda df=df: _noop(df), self.plan_rows[q])
        return sum(self.plan_rows.values())

    def checks(self, h) -> None:
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in RELATIONAL_PLANS:
            def one(q=q):
                got = QUERIES[q](self.spark, self.sf_dir).toArrow()
                return _same_rows(q, got, con.execute(ORACLE[q]).arrow())
            h.check(f"oracle.{q}", one)
        con.close()

    CALLS = {
        f"plans.{q}.{phase}": (f"plans.{q}.{phase}_s", f"plans.{q}.{phase}_jobs")
        for q in RELATIONAL_PLANS
        for phase in ("build", "exec")
    }
    LAYER_UNITS = {
        m: "count" if m.endswith("jobs") else "s"
        for pair in CALLS.values() for m in pair
    }

    SAMPLES: dict[str, str] = {}

    def layer_metrics(self, spans) -> dict[str, float]:
        return call_metrics(spans, self.CALLS)


class Curation:
    """The curation slice of the ``ingest`` cycle: a persisted MinHash
    dedup index under a steady stream of admissions and evictions, two
    serving probes and a classifier round.

    Set-up indexes ``N_DOCS`` documents plus the ``EVICT_AFTER``
    batches the first cycles evict into the dedup index, the same
    ``N_DOCS`` into a BM25 index and ``N_VECS`` vectors into an IVF
    index. Each cycle checks a seeded batch of ``BATCH`` fresh
    documents (``NEAR_DUPS`` of them near-duplicates of indexed ones)
    against the dedup index, admits it, evicts the batch admitted
    ``EVICT_AFTER`` cycles earlier, probes the BM25 and IVF indexes
    with fixed queries and trains the classifier on the batch for
    ``ROUNDS`` rounds. The live dedup corpus stays the same size; the
    evictions stay tombstones, because the run is too short for them
    to need a compaction."""

    N_DOCS = 300
    N_VECS = 300
    BATCH = 30
    NEAR_DUPS = 5
    EVICT_AFTER = 2
    DIM = 16
    N_CELLS = 8
    N_QUERIES = 10
    QUERY_ID0 = 1_000_000_000  # query ids never collide with corpus ids
    ROUNDS = 1
    FEATURES = 16  # hashed feature buckets

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        rng = np.random.default_rng([seed, 3])
        centers = rng.standard_normal((self.N_CELLS, self.DIM))
        self.base_docs = gen.documents(rng, np.arange(self.N_DOCS))
        self.vecs = gen.embeddings(rng, np.arange(self.N_VECS), centers)
        q_ids = self.QUERY_ID0 + np.arange(self.N_QUERIES)
        self.q_docs = gen.documents(rng, q_ids).select(["doc_id", "text"])
        self.q_vecs = gen.embeddings(rng, q_ids, centers)
        self.centroids = pa.table({
            "cent_id": pa.array(np.arange(self.N_CELLS), pa.int64()),
            "cent_vec": pa.array(list(centers.astype(np.float32)), pa.list_(pa.float32())),
        })
        self.pairs: list[int] = []  # near-dup pairs found per batch
        self.last_cycle = -1
        self.recall = 0.0

    def doc_batch(self, i: int) -> pa.Table:
        """Cycle ``i``'s documents, a pure function of (seed, i); the
        batches of cycles ``-EVICT_AFTER`` to -1 are indexed at set-up."""
        j = i + self.EVICT_AFTER
        rng = np.random.default_rng([self.seed, 4, j])
        ids = self.N_DOCS + j * self.BATCH + np.arange(self.BATCH)
        texts = self.base_docs.column("text").to_pylist()
        copies = rng.choice(self.N_DOCS, self.NEAR_DUPS, replace=False)
        return gen.documents(rng, ids, [texts[k] for k in copies])

    def _df(self, t: pa.Table):
        return self.spark.createDataFrame(t)

    def _query_terms(self):
        return (
            retrieval.tokenize(self._df(self.q_docs), "doc_id", "text")
            .select(F.col("doc_id").alias("query_id"), "tok")
            .distinct()
        )

    def _dedup_corpus(self, last: int) -> pa.Table:
        """What the dedup index holds after cycle ``last``."""
        live = range(last - self.EVICT_AFTER + 1, last + 1)
        return pa.concat_tables([self.base_docs, *(self.doc_batch(j) for j in live)])

    def setup(self) -> None:
        self.root = os.path.join(self.work, "idx")
        self.dd, self.bm, self.ivf = "cur_dd", "cur_bm", "cur_ivf"
        dedup.build_dedup_index(
            self._df(self._dedup_corpus(-1)), self.dd, 4, os.path.join(self.root, "dd"),
        )
        retrieval.build_bm25_index(
            self._df(self.base_docs), self.bm, 4, os.path.join(self.root, "bm"),
        )
        similarity.build_ivf_index(
            self._df(self.vecs), self._df(self.centroids), self.ivf,
            os.path.join(self.root, "ivf"),
        )

    def cycle(self, h, i: int) -> int:
        spark, b = self.spark, self.BATCH
        docs = self._df(self.doc_batch(i))
        pairs = h.call("dedup.incremental_near_dup", lambda: dedup.incremental_near_dup(
            spark, self.dd, docs,
        ).collect(), b)
        self.pairs.append(-1 if pairs is None else len(pairs))
        h.call("dedup.append_to_dedup_index",
               lambda: dedup.append_to_dedup_index(docs, self.dd), b)
        old = self._df(self.doc_batch(i - self.EVICT_AFTER).select(["doc_id"]))
        h.call("maintenance.delete_from_index", lambda: maintenance.delete_from_index(
            spark, self.dd, "dedup", old, "doc_id",
        ), b)
        h.call("retrieval.bm25_topk_from_index", lambda: retrieval.bm25_topk_from_index(
            spark, self.bm, self._query_terms(), k=5,
        ).collect(), self.N_QUERIES)
        h.call("similarity.ivf_topk_from_index", lambda: similarity.ivf_topk_from_index(
            spark, self.ivf, self._df(self.q_vecs), k=5, n_probe=2,
        ).collect(), self.N_QUERIES)
        feats = classifier.dense_hashed_features(
            docs, ws_tokens("text"), id_col="doc_id", n_buckets=self.FEATURES,
        )
        h.call("classifier.logreg_train", lambda: classifier.logreg_train(
            feats, dim=self.FEATURES + 1, iters=self.ROUNDS,
        ), self.ROUNDS * b)
        self.last_cycle = i
        return (3 + self.ROUNDS) * b + 2 * self.N_QUERIES

    def _recall(self) -> float:
        """Recall at 5 of the IVF index against exact cosine top-5."""
        q = self._df(self.q_vecs)
        exact = similarity.cosine_topk(q, self._df(self.vecs), k=5).select(
            "query_id", "neighbor_id"
        )
        hits = similarity.ivf_topk_from_index(self.spark, self.ivf, q, k=5, n_probe=2).join(
            exact, ["query_id", "neighbor_id"], "left_semi"
        ).count()
        return hits / max(exact.count(), 1)

    def checks(self, h) -> None:
        spark = self.spark

        def dedup_live_ids():
            # the ids the dedup index still serves, table by table
            want = sorted(self._dedup_corpus(self.last_cycle).column("doc_id").to_pylist())
            out = []
            for t in ("bands", "shingles"):
                live = maintenance.minus_tombstones(
                    spark, self.dd, spark.table(f"{self.dd}_{t}"), "doc",
                ).select("doc").distinct().collect()
                out += _diff(f"dedup {t} ids", sorted(r[0] for r in live), want)
            return out

        def bm25_vs_live():
            q = self._query_terms()
            st = retrieval.bm25_stage(self._df(self.base_docs))
            want = sorted(tuple(r) for r in retrieval.bm25_topk(
                q, st["postings"], st["doclen"], st["stats"], k=5,
            ).collect())
            got = sorted(tuple(r) for r in retrieval.bm25_topk_from_index(
                spark, self.bm, q, k=5,
            ).collect())
            return _diff("bm25 index vs live", got, want)

        def ivf_vs_live():
            q = self._df(self.q_vecs)
            want = sorted(tuple(r) for r in similarity.ivf_topk(
                q, self._df(self.vecs), self._df(self.centroids), k=5, n_probe=2,
            ).collect())
            got = sorted(tuple(r) for r in similarity.ivf_topk_from_index(
                spark, self.ivf, q, k=5, n_probe=2,
            ).collect())
            return _diff("ivf index vs live", got, want)

        def recall_repeats():
            self.recall = self._recall()
            again = self._recall()
            return [] if again == self.recall else [f"recall_at_k {self.recall} then {again}"]

        h.check("curation.dedup_live_ids", dedup_live_ids)
        h.check("curation.bm25_vs_live", bm25_vs_live)
        h.check("curation.ivf_vs_live", ivf_vs_live)
        h.check("curation.recall_repeats", recall_repeats)

    CALLS = {
        name: (f"{name}.s", f"{name}.jobs")
        for name in (
            "dedup.incremental_near_dup", "dedup.append_to_dedup_index",
            "maintenance.delete_from_index", "retrieval.bm25_topk_from_index",
            "similarity.ivf_topk_from_index", "classifier.logreg_train",
        )
    }
    LAYER_UNITS = {
        **{m: "count" if m.endswith("jobs") else "s" for pair in CALLS.values() for m in pair},
        "classifier.s_per_round": "s",
        "maintenance.index_files": "count",
        "maintenance.tombstones": "count",
        "similarity.recall_at_k": "ratio",
        "dedup.near_dup_pairs_per_batch": "count",
    }

    SAMPLES = {
        "maintenance.index_files": "end of the run",
        "maintenance.tombstones": "end of the run",
        "similarity.recall_at_k": "end of the run",
        "dedup.near_dup_pairs_per_batch": "every cycle, warm-up included",
    }

    def layer_metrics(self, spans) -> dict[str, float]:
        """The slice's numbers other than per-call time and jobs."""
        out = {}
        out["classifier.s_per_round"] = _mean(
            s.end - s.start for s in spans if s.name == "classifier.logreg_train"
        ) / self.ROUNDS
        out["maintenance.index_files"] = float(sum(
            p.endswith(".parquet") for p in _dir_files(os.path.join(self.root, "dd"))
        ))
        tomb = maintenance.index_tombstones(self.spark, self.dd)
        out["maintenance.tombstones"] = float(0 if tomb is None else tomb.count())
        out["similarity.recall_at_k"] = self.recall
        out["dedup.near_dup_pairs_per_batch"] = float(np.median(self.pairs))
        return out


class Ingest:
    """A long-lived ``orders`` snapshot table and its CDC replica.

    Each cycle merges a seeded batch (updates of the newest tenth of the
    live keys plus inserts above them, so the pruned merge rewrites only
    the files at the top of the key range), deletes an equal range at
    the bottom through deletion vectors, drains the change feed into the
    replica and reads the replica, so the live row count stays constant.
    Then both tables are compacted and vacuumed, so file counts and
    bytes on disk level off. Compaction runs in every cycle rather than
    every few: with a longer period a cycle's time depended on its place
    in the period (the replica read grows until the next compaction),
    and a window of a few cycles caught a different mix of places in
    each run.

    The cycle ends with the ``Curation`` slice, so the ``operators``
    and ``sources.maintenance`` layers are measured in the same runs."""

    name = "ingest"
    # Cycle times fall for three to four cycles (JIT warm-up): 13.3,
    # 11.6, 8.9, 8.7, 8.0 s in one run on 4 cores. After one warm-up
    # cycle the single timed cycle sat on the steep part of that slope
    # and its time spread by up to a quarter across runs; after two,
    # one timed cycle to the next falls by 0-6 %.
    WARMUP_CYCLES = 2
    N_ROWS = 20_000
    UPDATES = 500
    INSERTS = 500  # = rows deleted per cycle
    KEY = "o_orderkey"
    ROW_BYTES = 16  # one bigint key + one double price

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.v0 = gen.order_prices(np.random.default_rng([seed, 0]), np.arange(self.N_ROWS))
        self.batches: list[pa.Table] = []
        self.src_versions: list[int] = []
        self.io = {"new_files": 0, "new_bytes": 0, "commits": 0, "user_bytes": 0}
        self.curation = Curation(spark, work, seed)

    def batch(self, i: int) -> pa.Table:
        """Cycle ``i``'s merge batch, a pure function of (seed, i)."""
        rng = np.random.default_rng([self.seed, 2, i])
        lo = i * self.INSERTS
        hi = self.N_ROWS + lo
        upd = rng.choice(np.arange(hi - self.N_ROWS // 10, hi), self.UPDATES, replace=False)
        return gen.order_prices(rng, np.concatenate([upd, np.arange(hi, hi + self.INSERTS)]))

    def setup(self) -> None:
        root = os.path.join(self.work, "tables")
        self.src, self.dst = os.path.join(root, "src"), os.path.join(root, "dst")
        df = self.spark.createDataFrame(self.v0)
        snapshots.snapshot_write(
            self.src,
            df.repartitionByRange(4, self.KEY).sortWithinPartitions(self.KEY),
            stats_cols=[self.KEY],
        )
        snapshots.replicate_snapshot_changes(self.spark, self.src, self.dst, keys=[self.KEY])
        self.curation.setup()

    def _commits(self) -> int:
        return snapshots.latest_version(self.src) + snapshots.latest_version(self.dst)

    def _tracked(self, h, name: str, fn, rows: int):
        """``h.call`` plus, in traced cycles, the files and bytes the
        call wrote and the commits it made."""
        if not h.traced_cycle:
            return h.call(name, fn, rows)
        files, commits = {**_dir_files(self.src), **_dir_files(self.dst)}, self._commits()
        out = h.call(name, fn, rows)
        now = {**_dir_files(self.src), **_dir_files(self.dst)}
        new = {p: s for p, s in now.items() if p not in files}
        self.io["new_files"] += sum(p.endswith(".parquet") for p in new)
        self.io["new_bytes"] += sum(new.values())
        self.io["commits"] += self._commits() - commits
        return out

    def cycle(self, h, i: int) -> int:
        b = self.batch(i)
        self.batches.append(b)
        lo = i * self.INSERTS
        key = self.KEY
        changed = b.num_rows + self.INSERTS
        if h.traced_cycle:
            self.io["user_bytes"] += changed * self.ROW_BYTES
        self._tracked(h, "snapshots.merge_pruned", lambda: snapshots.snapshot_merge_update_pruned(
            self.spark, self.src, self.spark.createDataFrame(b), on=[key],
            update_cols=["o_totalprice"], when_not_matched_insert=True,
        ), b.num_rows)
        self._tracked(h, "snapshots.delete_dv", lambda: snapshots.snapshot_delete_dv(
            self.spark, self.src, key, lo, lo + self.INSERTS - 1,
        ), self.INSERTS)
        self.src_versions.append(snapshots.latest_version(self.src))
        self._tracked(h, "snapshots.replicate", lambda: snapshots.replicate_snapshot_changes(
            self.spark, self.src, self.dst, keys=[key],
        ), changed)
        h.call("snapshots.read", lambda: _noop(snapshots.snapshot_read(self.spark, self.dst)),
               self.N_ROWS)
        self._tracked(h, "snapshots.compact", lambda: [
            snapshots.snapshot_compact(self.spark, t, self.N_ROWS // 4, stats_cols=[key])
            for t in (self.src, self.dst)
        ], 2 * self.N_ROWS)
        self._tracked(h, "snapshots.vacuum", lambda: [
            snapshots.vacuum(t, keep_last=2) for t in (self.src, self.dst)
        ], 0)
        return changed * 2 + 3 * self.N_ROWS + self.curation.cycle(h, i)

    def checks(self, h) -> None:
        con = duckdb.connect()
        con.register("v0", self.v0)
        con.execute("CREATE TABLE model AS SELECT * FROM v0")
        for i, b in enumerate(self.batches):
            con.register("b", b)
            con.execute(
                "UPDATE model SET o_totalprice = b.o_totalprice FROM b "
                "WHERE model.o_orderkey = b.o_orderkey"
            )
            con.execute(
                "INSERT INTO model SELECT * FROM b WHERE o_orderkey NOT IN "
                "(SELECT o_orderkey FROM model)"
            )
            lo = i * self.INSERTS
            con.execute(
                f"DELETE FROM model WHERE o_orderkey BETWEEN {lo} AND {lo + self.INSERTS - 1}"
            )
            con.unregister("b")
        want = _sorted_rows(con.execute("SELECT * FROM model").arrow())
        con.close()
        cols = [self.KEY, "o_totalprice"]
        src = _sorted_rows(snapshots.snapshot_read(self.spark, self.src).select(*cols).toArrow())
        h.check("ingest.source_vs_model", lambda: _diff("source", src, want))
        h.check("ingest.replica_vs_source", lambda: _diff(
            "replica",
            _sorted_rows(snapshots.snapshot_read(self.spark, self.dst).select(*cols).toArrow()),
            src,
        ))
        self.curation.checks(h)

    CALLS = {
        **{
            f"snapshots.{f}": (f"snapshots.{f}.s", f"snapshots.{f}.jobs")
            for f in ("merge_pruned", "delete_dv", "replicate", "read", "compact", "vacuum")
        },
        **Curation.CALLS,
    }
    SAMPLES = {
        **Curation.SAMPLES,
        "snapshots.live_files": "end of the run",
        "snapshots.space_amp": "end of the run",
        "snapshots.versions_per_drain": "every cycle, warm-up included",
    }
    LAYER_UNITS = {
        **{m: "count" if m.endswith("jobs") else "s" for pair in CALLS.values() for m in pair},
        "snapshots.files_added_per_commit": "count",
        "snapshots.live_files": "count",
        "snapshots.versions_per_drain": "count",
        "snapshots.write_amp": "ratio",
        "snapshots.space_amp": "ratio",
        **Curation.LAYER_UNITS,
    }

    def layer_metrics(self, spans) -> dict[str, float]:
        out = call_metrics(spans, self.CALLS)
        out.update(self.curation.layer_metrics(spans))
        io = self.io
        drains = np.diff(self.src_versions) if len(self.src_versions) > 1 else []
        out["snapshots.files_added_per_commit"] = io["new_files"] / max(io["commits"], 1)
        out["snapshots.versions_per_drain"] = _mean(drains)
        out["snapshots.write_amp"] = io["new_bytes"] / max(io["user_bytes"], 1)
        live = {
            t: [p.removeprefix("file:") for p in snapshots.snapshot_read(self.spark, t).inputFiles()]
            for t in (self.src, self.dst)
        }
        out["snapshots.live_files"] = float(
            sum("/_dv/" not in p for p in live[self.src])  # deletion-vector sidecars
        )
        on_disk = sum(_dir_files(self.src).values()) + sum(_dir_files(self.dst).values())
        live_bytes = sum(os.path.getsize(p) for files in live.values() for p in files)
        out["snapshots.space_amp"] = on_disk / max(live_bytes, 1)
        return out


WORKLOADS = {w.name: w for w in (Relational, Ingest)}
