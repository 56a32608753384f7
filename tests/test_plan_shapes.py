"""Physical-plan assertions: the scale posture is part of the
contract, not an accident. Each test pins a property that must
survive refactors — broadcasts stay broadcasts, pushdowns stay pushed,
map-only plans stay shuffle-free."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from exceldatatransform_py_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    """Physical exchanges in a formatted plan (the node-detail headers
    — plain substring counts double-count tree + details)."""
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_flagship_broadcasts_dims(spark):
    plan = plan_of(spark, "flagship_daily_segment_ledger")
    # nation (25 rows) must ship as a broadcast, never shuffle the fact.
    assert "BroadcastHashJoin" in plan
    # the aggregate must be partial+final (map-side combine).
    assert plan.count("HashAggregate") >= 2


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # the shipdate predicate reaches the parquet scan.
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: unused lineitem columns never leave the scan.
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_lookup_is_broadcast_join(spark):
    plan = plan_of(spark, "lookup_passthrough_default")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unpivot_is_expand_no_shuffle(spark):
    plan = plan_of(spark, "unpivot_lineitem_measures")
    assert "Expand" in plan
    # the only exchange allowed is the deliberate fan-out repartition
    # of the single-row-group scan; the unpivot itself adds none.
    assert n_exchanges(plan) <= 1


def test_semi_anti_stay_semi_anti(spark):
    assert "LeftSemi" in plan_of(spark, "semi_customers_with_urgent_orders")
    assert "LeftAnti" in plan_of(spark, "anti_customers_without_orders")


def test_range_join_is_broadcast_nested_loop(spark):
    plan = plan_of(spark, "range_join_value_tiers")
    # tiny tier dim × non-equi predicate → BNLJ, not a cartesian sort.
    assert "BroadcastNestedLoopJoin" in plan


def test_merge_keeps_all_target_rows(spark):
    # merge = left outer join from the target's perspective.
    plan = plan_of(spark, "merge_update_orders")
    assert "LeftOuter" in plan


def test_window_queries_single_shuffle(spark):
    plan = plan_of(spark, "window_running_qty")
    # one exchange for the window partitioning, nothing else.
    assert n_exchanges(plan) == 1


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Both sides bucketed+sorted on the join key → sort-merge join
    with ZERO Exchange and ZERO Sort (the 100 TB co-location story)."""
    import pyspark.sql.functions as F

    from exceldatatransform_py_spark.sources.bucketing import (
        read_bucketed,
        write_bucketed,
    )

    base = str(tmp_path_factory.mktemp("buckets"))
    fact = spark.range(0, 10_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    write_bucketed(fact, "b_fact", ["k"], 8, sort_cols=["k"], path=f"{base}/fact")
    write_bucketed(dim, "b_dim", ["k"], 8, sort_cols=["k"], path=f"{base}/dim")
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # Since Spark 3.0 bucketed scans report output *partitioning*
        # but not *ordering* unless this opts into planning-time file
        # listing (one extra listing per query, worth it to skip the
        # per-partition sorts on a 100 TB fact).
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        try:
            joined = read_bucketed(spark, "b_fact").join(
                read_bucketed(spark, "b_dim"), "k"
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert re.search(r"\(\d+\) SortMergeJoin", plan), plan
            assert n_exchanges(plan) == 0, plan
            assert not re.search(r"\(\d+\) Sort\b", plan), plan
            assert joined.count() == 10_000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_fact")
        spark.sql("DROP TABLE IF EXISTS b_dim")


def test_bucketed_groupby_has_no_shuffle(spark, tmp_path_factory):
    """groupBy on the bucket key reuses the bucket partitioning —
    aggregation without an exchange."""
    import pyspark.sql.functions as F

    from exceldatatransform_py_spark.sources.bucketing import (
        read_bucketed,
        write_bucketed,
    )

    base = str(tmp_path_factory.mktemp("buckets_agg"))
    fact = spark.range(0, 10_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("v")
    )
    write_bucketed(fact, "b_fact_agg", ["k"], 8, path=f"{base}/fact")
    try:
        agg = read_bucketed(spark, "b_fact_agg").groupBy("k").agg(F.sum("v").alias("s"))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain("formatted")
        plan = buf.getvalue()
        assert n_exchanges(plan) == 0, plan
        assert agg.count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS b_fact_agg")


def test_q6_pushes_all_predicates_and_prunes(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # every predicate reaches the parquet scan...
    # day-granularity bounds are native timestamp predicates
    # (functions.columns.day_between), pushable without relying on
    # the optimizer unwrapping a to_date() cast.
    for f in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
              "IsNotNull(l_discount)", "LessThan(l_quantity,24.0)"):
        assert f in plan, f
    # ...and only the four needed columns are read.
    schema_line = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in schema_line and "l_returnflag" not in schema_line


def test_q10_global_topk_avoids_full_sort(spark):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # heaps + driver merge), never a total Sort of the aggregate.
    plan = plan_of(spark, "q10_returned_item_customers")
    assert "TakeOrderedAndProject" in plan


def test_q19_broadcasts_part_dim(spark):
    plan = plan_of(spark, "q19_bracket_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_array_hof_single_shuffle(spark):
    # ordered array_agg + every lambda op in one pass: exactly the
    # groupBy exchange, nothing else.
    plan = plan_of(spark, "array_hof_gallery")
    assert n_exchanges(plan) == 1


def test_posexplode_is_generate_no_extra_shuffle(spark):
    plan = plan_of(spark, "posexplode_doc_tokens")
    assert "Generate" in plan
    # only the deliberate fan-out repartition of the 1-row-group scan.
    assert n_exchanges(plan) <= 1


def test_tfidf_ranks_with_window_group_limit(spark):
    # top-3-per-doc must use the rank-pushdown (WindowGroupLimit) so
    # each partition drops non-qualifying rows before the full window.
    plan = plan_of(spark, "tfidf_top_terms")
    assert "WindowGroupLimit" in plan
    # the tf subtree is persisted (self-join reuse), not recomputed.
    assert "InMemoryRelation" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path_factory):
    """A fact laid out with write.partitionBy(key) + a selective dim
    filter on that key → the scan gets a runtime dynamicpruning
    partition filter (only matching partitions are read — the 100 TB
    date-partitioned-fact pattern)."""
    import pyspark.sql.functions as F

    base = str(tmp_path_factory.mktemp("dpp"))
    fact = spark.range(0, 20_000).select(
        (F.col("id") % 10).alias("y"), F.col("id").alias("v")
    )
    fact.write.partitionBy("y").mode("overwrite").parquet(f"{base}/fact")
    dim = spark.range(0, 10).select(
        F.col("id").alias("y"), (F.col("id") < 3).alias("keep")
    )
    joined = (
        spark.read.parquet(f"{base}/fact")
        .join(dim.filter("keep"), "y")
        .groupBy("y")
        .agg(F.sum("v").alias("s"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == 3


def test_q2_correlated_min_is_single_window_pass(spark):
    # q2's correlated MIN subquery must compile to ONE window over
    # p_partkey — never a self-join that scans lineitem twice.
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    # lineitem is scanned exactly once (no self-join recompute).
    assert plan.count("lineitem.parquet]") == 1
    # part/nation/region pinned as broadcasts.
    assert plan.count("BroadcastHashJoin") >= 3


def test_q16_not_in_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "q16_parts_supplier_cnt")
    assert "BroadcastHashJoin LeftAnti" in plan


def test_q17_correlated_avg_is_single_window_pass(spark):
    plan = plan_of(spark, "q17_small_qty_revenue")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    # lineitem is scanned exactly once (no self-join recompute).
    assert plan.count("lineitem.parquet]") == 1


def test_q21_exists_pair_is_two_level_agg_one_shuffle(spark):
    # The EXISTS / NOT EXISTS pair collapses to aggregates on
    # l_orderkey: lineitem scanned once, no lineitem self-joins.
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert plan.count("lineitem.parquet]") == 1
    assert plan.count("HashAggregate") >= 4  # two partial+final levels


def test_q15_scalar_max_is_broadcast_not_global_window(spark):
    plan = plan_of(spark, "q15_top_supplier")
    # the MAX arrives via a broadcast join of a one-row aggregate,
    # never a single-partition global window.
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan



def test_sessionization_single_shuffle(spark):
    # lag-flag window, running-sum window, and the per-session groupBy
    # all reuse the one user_id hash partitioning: exactly 1 exchange.
    plan = plan_of(spark, "event_sessions_gap30")
    assert n_exchanges(plan) == 1


def test_gaps_and_islands_single_shuffle(spark):
    # both row_number windows and the island groupBy run on the
    # custkey partitioning (narrower keys are satisfied by it).
    plan = plan_of(spark, "priority_runs_per_customer")
    assert n_exchanges(plan) == 1


def test_stratified_sample_is_map_only(spark):
    # hash-gated sampling must stay embarrassingly parallel: no
    # exchange, no window, no aggregate.
    plan = plan_of(spark, "stratified_sample_customers")
    assert n_exchanges(plan) == 0
    assert "Window" not in plan


def test_quantile_profile_single_shuffle(spark):
    # ranked window + count window + quantile-spec explode all run on
    # the one o_orderpriority partitioning.
    plan = plan_of(spark, "quantile_profile_by_priority")
    assert n_exchanges(plan) == 1


def test_keep_latest_uses_window_group_limit(spark):
    # rank-1 filter must push into the sort (WindowGroupLimit) so
    # superseded versions are dropped before the window buffers.
    plan = plan_of(spark, "latest_event_per_user")
    assert "WindowGroupLimit" in plan


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_query_plans_cartesian_or_row_python(spark, name):
    """Global invariants over EVERY registered query's physical plan:
    no CartesianProduct (unbounded pair blowup) and no BatchEvalPython
    (row-at-a-time Python in a hot path). Arrow-batched Python
    (mapInPandas) is allowed — that's the sanctioned slow path.
    One case per query, so a failure or a hang names the query."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_runtime_bloom_filter_on_selective_join(spark):
    """Runtime row-level filtering: a selective dim-side predicate
    injects a bloom filter (`might_contain`) on the fact side of a
    shuffle join, pruning fact rows before the exchange. Locally the
    10GB application-side threshold must be forced down; at 100 TB the
    defaults trigger this on any selective fact⋈fact join."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey", "o_totalprice"
        )
        j = li.join(sel, li.l_orderkey == sel.o_orderkey).groupBy(
            "l_returnflag"
        ).count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        assert "might_contain" in buf.getvalue()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kmeans_never_shuffles_points(spark):
    """Lloyd scoring must be map-only: centroids arrive as ONE
    broadcast row per iteration (BroadcastNestedLoopJoin of a 1-row
    side), and the only exchanges are the k×dim centroid-update
    aggregates — the 2000-point (at scale: billion-point) side is
    never hash-partitioned."""
    plan = plan_of(spark, "kmeans_embeddings")
    assert "BroadcastNestedLoopJoin" in plan
    # no exchange may partition on the point id (that would be a
    # corpus shuffle); update aggregates exchange on (cid, i) only.
    assert "hashpartitioning(vec_id" not in plan


def test_sketch_queries_partial_aggregate(spark):
    """Sketch aggregates must combine map-side (partial+final) — the
    property that makes them mergeable at 100 TB — and the 1-row
    estimate frames must broadcast, never shuffle."""
    for q in ("theta_sketch_repeat_customers", "hll_union_rollup_parts"):
        plan = plan_of(spark, q)
        assert plan.count("ObjectHashAggregate") >= 2, q
        assert "BroadcastNestedLoopJoin" in plan, q


def test_domain_quota_cap_pushes_group_limit(spark):
    """The per-source top-N must run as WindowGroupLimit (partitions
    drop non-qualifying rows before the full window buffers)."""
    plan = plan_of(spark, "domain_quota_cap")
    assert "WindowGroupLimit" in plan


def test_mixture_sample_is_map_side_until_summary(spark):
    """The keep/drop decision is a pure map expression; the only
    exchange is the per-source summary aggregate."""
    plan = plan_of(spark, "dataset_mixture_sample")
    assert n_exchanges(plan) <= 1


def test_profile_scans_read_single_columns(spark):
    # column_profile_orders promises one column-pruned scan per
    # profiled column: every parquet ReadSchema in the plan must carry
    # exactly one field (no accidental full-width scans).
    plan = plan_of(spark, "column_profile_orders")
    schemas = [seg.splitlines()[0] for seg in plan.split("ReadSchema")[1:]]
    assert schemas, "no scans found"
    for line in schemas:
        assert "," not in line, f"multi-column profile scan: {line}"


def test_constraint_audit_fk_is_broadcast_anti(spark):
    # the FK expectation must stay a broadcast anti-join — shuffling
    # the fact table to validate referential integrity is the 100 TB
    # failure mode this pin prevents.
    plan = plan_of(spark, "constraint_audit_orders")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_snapshot_diff_is_single_keyed_join(spark):
    # one full-outer join on the snapshot key and nothing else — the
    # CDC diff must not multiply joins per compared column.
    plan = plan_of(spark, "snapshot_diff_orders")
    assert plan.count("Join") >= 1
    assert "FullOuter" in plan
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan)) == 1


def test_rolling_zscore_single_window_shuffle(spark):
    # trailing-window stats = exactly one exchange (hash on user_id);
    # the integer z-score filter adds no further shuffles.
    plan = plan_of(spark, "rolling_zscore_events")
    assert n_exchanges(plan) <= 1
    assert "Window" in plan


def test_lateral_topk_decorrelates_to_window(spark):
    # the LATERAL ORDER BY..LIMIT 1 must decorrelate into a windowed
    # rank — never a per-customer nested-loop re-scan of orders.
    plan = plan_of(spark, "lateral_top_order_per_customer")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cube_rollup_expand_over_partials(spark):
    # cube/rollup must pre-aggregate before the Expand (the Expand
    # multiplies PARTIAL rows, never the fact): the rewrite shows up
    # as two aggregate pairs (base partial+final, cube partial+final)
    # around the Expand instead of one pair after it.
    for q in ("cube_flag_status", "rollup_returnflag_status"):
        plan = plan_of(spark, q)
        assert "Expand" in plan, q
        assert plan.count("HashAggregate") >= 4, q


def test_explicit_broadcast_survives_disabled_autobroadcast(spark):
    # F.broadcast is a guarantee, not a suggestion: with the automatic
    # size-based broadcast threshold disabled entirely, the pinned
    # lookup dim must STILL broadcast (at 100 TB, size estimates lie —
    # explicit hints on known-small dims must hold regardless).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, "lookup_passthrough_default")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_agg_spreads_hot_key_and_matches_plain(spark):
    """End-to-end skew story, aggregation half: on a table where ONE
    key holds 50% of all rows, the salted aggregate must (a) shuffle
    on (key, salt) — remove the salting and this plan assertion fails
    — and (b) bound per-reducer state: the hot key's largest partial
    group carries ~1/buckets of its rows, not all of them. Values stay
    identical to the plain GROUP BY."""
    import contextlib
    import io

    import pyspark.sql.functions as F

    from exceldatatransform_py_spark.operators.skew import salted_sum_count

    n, buckets = 20_000, 16
    skewed = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 50)
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    out = salted_sum_count(skewed, keys=["k"], sum_col="v", salt_buckets=buckets)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the first exchange partitions on the salt, not on the bare key
    first_exchange = plan.split("hashpartitioning(")[1].split(")")[0]
    assert "__salt" in first_exchange

    # effect: per-(key, salt) partial state for the hot key is bounded
    salt = (F.abs(F.hash(*[F.col(c) for c in skewed.columns])) % buckets)
    hot_partials = (
        skewed.filter(F.col("k") == 0)
        .groupBy(salt.alias("s"))
        .count()
        .collect()
    )
    hot_rows = n // 2
    assert len(hot_partials) == buckets
    assert max(r["count"] for r in hot_partials) < hot_rows / (buckets / 4)

    got = {r["k"]: (r["sum_value"], r["n_rows"]) for r in out.collect()}
    want = {
        r["k"]: (r["sum_value"], r["n_rows"])
        for r in skewed.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    }
    assert got == want


def test_aqe_skew_join_split_engages(spark):
    """End-to-end skew story, join half: with one key owning 50% of
    the left side and broadcast disabled, AQE's skew-join handling
    must split the hot partition — the executed plan carries the
    skew=true marker. Remove skew handling (or break the thresholds)
    and this fails."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 200_000
        left = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.col("id").alias("dim_v")
        )
        # no aggregation AFTER the join: a downstream groupBy on the
        # join key would reuse the join's partitioning, and AQE
        # (rightly) refuses to split a skewed partition when that
        # breaks a required distribution — the split applies where the
        # join output is consumed partition-agnostically.
        # collect() drives THIS DataFrame's own QueryExecution (write
        # and count() both execute a derived plan, whose final adaptive
        # form we could not read back); after it the plan is final.
        joined = left.join(right, "k").select("k", "payload", "dim_v")
        assert len(joined.collect()) == n
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bm25_query_side_broadcasts(spark):
    """BM25 scoring must ship the (tiny) query-term set as a
    broadcast against the posting lists — never shuffle the postings
    for the join."""
    plan = plan_of(spark, "bm25_topk_docs")
    assert "BroadcastHashJoin" in plan


def test_fk_audit_broadcasts_all_dimension_parents(spark):
    # every dimension-parent FK edge must validate via broadcast; only
    # the lineitem->orders edge may shuffle. 6 broadcast edges of 7.
    plan = plan_of(spark, "fk_orphan_audit")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 6
    # no FK edge may emit an inner/cartesian expansion.
    assert "CartesianProduct" not in plan


def test_pareto_window_runs_over_distinct_prices(spark):
    # the skyline's global window must consume the price-aggregated
    # table (one row per distinct price), never the raw dimension —
    # pinned as: exactly one Window, fed by a HashAggregate.
    plan = plan_of(spark, "pareto_frontier_parts")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "HashAggregate" in plan


def test_khop_is_one_lazy_plan_with_reused_edges(spark):
    # bounded BFS must stage the edge list once (InMemoryRelation from
    # the persist) and never plan a cartesian hop.
    plan = plan_of(spark, "khop_parts_from_seeds")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan


def test_trailing_distinct_broadcasts_report_days(spark):
    # the report-day spine is bounded (days, not data) — it must ship
    # as a broadcast, never shuffle the exploded cover set twice.
    plan = plan_of(spark, "active_users_trailing_7d")
    assert "BroadcastHashJoin" in plan


def test_pattern_audit_is_map_side_partial(spark):
    # the corpus scan aggregates map-side: partial+final HashAggregate
    # pair, and only the two needed columns are read.
    plan = plan_of(spark, "pii_pattern_audit")
    assert plan.count("HashAggregate") >= 2
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "text",
        "source",
    }


def test_statistical_audits_stage_margins_broadcast(spark):
    """chi_square/value_drift: after the first data-sized groupBy,
    every margin/total joins back via broadcast — nothing re-shuffles
    the fact, and the persisted cell table is reused (InMemory*), not
    recomputed per consumer."""
    for name in ("chi_square_type_dow", "value_drift_tvd"):
        plan = plan_of(spark, name)
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, name
        assert "CartesianProduct" not in plan, name
        # margins/totals are 1-to-35-row frames: broadcast, never SMJ.
        assert "SortMergeJoin" not in plan, name


def test_pmi_pairs_generate_map_side(spark):
    """token_pmi_pairs: pair generation must be the zip_with expansion
    over the staged token arrays — no positional self-join (zero Join
    nodes before the first aggregate), and the persisted stage reused."""
    plan = plan_of(spark, "token_pmi_pairs")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    # global top-k must be TakeOrdered, not a full sort.
    assert "TakeOrderedAndProject" in plan


def test_surprisal_reuses_persisted_tf(spark):
    # tf feeds both the corpus-frequency build and the scoring join;
    # the persist must show up (else the tokenize+agg runs twice).
    plan = plan_of(spark, "unigram_surprisal_score")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_containment_is_inverted_index_join(spark):
    # same candidate-generation posture as near_dup_jaccard: the only
    # pair-producing join runs on the (h, g) shingle key (an equi-join
    # over the persisted index), never a cartesian.
    plan = plan_of(spark, "containment_pairs")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan


def test_mv_refresh_joins_only_aggregated_frames(spark):
    """incremental_agg_refresh's contract: the only join in the plan
    is the MV ⊕ delta full-outer merge, and BOTH its inputs are
    already aggregated to group granularity — the exchanges feeding
    it carry ≤ |groups| rows, never the fact. (A full-outer equi-join
    cannot broadcast in Spark, so the join itself is SMJ over two
    ~7-row sides — immaterial; what must never appear is a
    row-granular diff join, which is the full-refresh shape this
    operator exists to avoid.)"""
    plan = plan_of(spark, "incremental_agg_refresh")
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 1
    assert "FullOuter" in plan
    # partial (map-side) + final aggregation below the join.
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan


def test_pca_pairs_aggregate_map_side(spark):
    """pca_top_component: the dim² pair expansion must partially
    aggregate BEFORE its exchange (the shuffle carries ≤ dim² rows per
    partition, not N·dim² structs), and the iteration frames come from
    checkpointed lineage (ExistingRDD), not a 2^iters lazy chain."""
    plan = plan_of(spark, "pca_top_component")
    assert plan.count("HashAggregate") >= 2
    assert "Scan ExistingRDD" in plan


def test_semantic_dedup_pairs_only_within_cells(spark):
    # the only pair-producing join is the cluster_id equi-join over
    # the persisted staged frame; k-means training is InMemory-reused.
    plan = plan_of(spark, "semantic_dedup_kmeans")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan


def test_drift_curve_margins_broadcast(spark):
    # windowed_drift_curve: after the one histogram groupBy, margins
    # and totals re-join via broadcast over the persisted histogram.
    plan = plan_of(spark, "windowed_drift_curve")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_pairs_quadratic_only_on_distinct_names(spark):
    """fuzzy_part_name_pairs: the levenshtein must run over the
    DISTINCT-name self-join (cardinality-bounded), never over a
    row-level brand-blocked self-join (quadratic in table size —
    the r4 scale-killer). Pins: (a) an aggregate (the distinct)
    sits below the levenshtein join, (b) candidate generation is
    bounded by bucket-blocked distinct names, not rows."""
    plan = plan_of(spark, "fuzzy_part_name_pairs")
    assert "levenshtein" in plan
    # distinct-name agg below the join: partial+final HashAggregate.
    assert plan.count("HashAggregate") >= 2
    # never a cartesian / broadcast-nested-loop over the fact rows.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # data-level bound: raw name-level candidates are O(sum of
    # bucket-block sizes squared), a tiny fraction of the row-level
    # brand-block pair count the old shape generated.
    import pyspark.sql.functions as F

    from exceldatatransform_py_spark.plans.queries_analytics import (
        fuzzy_name_pairs,
    )

    part = spark.read.parquet(f"{SF}/part.parquet")
    names = part.select("p_name").distinct()
    n_names = names.count()
    candidates = (
        fuzzy_name_pairs(names, "p_name", 2)
        .count()
    )
    row_pairs = (
        part.groupBy("p_brand")
        .count()
        .select(F.sum(F.col("count") * (F.col("count") - 1) / 2))
        .collect()[0][0]
    )
    # candidate table is at most all ordered name pairs + self pairs…
    assert candidates <= n_names * n_names
    # …and strictly smaller than the old row-level candidate set.
    assert candidates < row_pairs


def test_sq8_trains_once_and_broadcasts_codebook(spark):
    """sq8_quantization_recall: the per-dimension min/max codebook is
    a single broadcast row (never a shuffle of the corpus against
    stats), and the dimension agg partial-aggregates map-side."""
    plan = plan_of(spark, "sq8_quantization_recall")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row codebook × corpus
    assert plan.count("HashAggregate") >= 2   # partial+final dim stats
    assert "CartesianProduct" not in plan


def test_novelty_reuses_persisted_shingle_index(spark):
    """doc_novelty_ratio: first-occurrence agg and the join back both
    read the one persisted shingle index — no second tokenize/hash
    pass over document text."""
    plan = plan_of(spark, "doc_novelty_ratio")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    text_scans = [
        s for s in plan.split("ReadSchema")[1:]
        if "text:string" in s.splitlines()[0]
    ]
    assert len(text_scans) <= 1


def test_skew_audit_runs_at_key_cardinality(spark):
    """join_skew_audit: both sides pre-aggregate to key counts BEFORE
    the join (map-side combine), and the global top-10 is a
    TakeOrdered, not a single-partition window over every key."""
    plan = plan_of(spark, "join_skew_audit")
    assert plan.count("HashAggregate") >= 4  # partial+final per side
    assert "TakeOrderedAndProject" in plan


def test_span_clean_is_single_data_pass_plus_interval_map(spark):
    """span_dedup_clean: the rewrite is a map-side interval filter —
    no posexplode of tokens into a row-per-token join (the r5 rewrite
    halved the query); the only Expand/Generate allowed is the gram
    build inside the island subtree."""
    plan = plan_of(spark, "span_dedup_clean")
    assert "CartesianProduct" not in plan
    # anti-join shape is gone: no LeftAnti anywhere in the plan.
    assert "LeftAnti" not in plan


def test_video_pipeline_is_map_only(spark):
    """pack → demux → decode → frame stats must never shuffle the
    video bytes: the only Exchange allowed is the deliberate scan
    fan-out (single-row-group testdata parquet → repartition BEFORE
    any payload exists); after the first MapInPandas packs the
    containers, nothing may move them."""
    plan = plan_of(spark, "video_scene_cuts")
    assert n_exchanges(plan) <= 1  # the pre-pack scan fan-out only
    # pack_video + video_frame_stats, nothing else (detail headers,
    # like n_exchanges — tree + details double-count substrings)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2
    assert "Window" not in plan and "HashAggregate" not in plan
    # the fan-out exchange must sit BELOW both MapInPandas nodes in
    # the plan tree (i.e., later in the tree text = earlier execution)
    tree = plan.split("\n\n")[0]
    first_map = tree.find("MapInPandas")
    exch = tree.find("Exchange")
    assert exch == -1 or exch > first_map >= 0


def test_merge_full_clause_flags_pick_weakest_join(spark):
    """The clause combination decides the join type: update-only stays
    LEFT (broadcastable), update+delete collapses to INNER, and only
    INSERT pays an outer join that must keep unmatched source rows."""
    from pyspark.sql import functions as F

    from exceldatatransform_py_spark.operators.merge import merge_full
    from exceldatatransform_py_spark.sources.readers import read_table

    target = read_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    ups = target.limit(10).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )

    def plan(insert, delete):
        df = merge_full(
            target, ups, on=["o_orderkey"], update_cols=["o_totalprice"],
            insert=insert, delete_unmatched_target=delete,
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    assert "LeftOuter" in plan(False, False)
    assert "Inner" in plan(False, True) and "Outer" not in plan(False, True)
    assert "FullOuter" in plan(True, False)
    assert "RightOuter" in plan(True, True)


def test_scored_index_probes_scan_no_corpus_text(spark):
    """The scored build+probe twins must not re-read corpus text on
    the probe side: after the build, the probe plan's only
    documents-text scan is the batch filter (doc_id % 4 = 0)."""
    for name in ("incremental_near_dup_probe", "incremental_simhash_probe",
                 "incremental_novelty_probe"):
        plan = plan_of(spark, name)
        text_scans = [
            s for s in plan.split("ReadSchema")[1:]
            if "text:string" in s.splitlines()[0]
        ]
        assert len(text_scans) <= 1, f"{name} re-scans corpus text"


def test_shard_manifest_single_shuffle(spark):
    """The deterministic-shuffle manifest is one hash aggregate over a
    map-side hashed scan: exactly one exchange (the shard groupBy) —
    no global sort anywhere (the permutation comes from the hash, not
    an ordering of the corpus)."""
    plan = plan_of(spark, "training_shard_manifest")
    assert n_exchanges(plan) == 1
    # no total-order operator: Sort may appear only inside the
    # per-group array_sort expression, never as a physical global Sort
    assert "(1) Sort" not in plan  # defensive; checked via regex below
    import re as _re

    assert not _re.search(r"\(\d+\) Sort\b", plan)


def test_bpe_encode_join_is_broadcast(spark):
    """Corpus encoding joins exploded tokens against the encoded
    VOCABULARY — model-sized, so it must broadcast; the corpus is
    never shuffled for the join."""
    plan = plan_of(spark, "bpe_encode_corpus")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_classifier_gate_scoring_broadcast_only(spark):
    """The learned gate's corpus pass: scored predictions join docs on
    the id — both doc-sized. The scoring side is the trainer's LAZY
    final map pass (final weights are literals, so the subtree is one
    featurization + projection — r9 dropped the always-on eager
    checkpoint that cost single-action consumers ~1.4×), the feature
    cache is RELEASED before the trainer returns (repeated trainings
    must not accumulate persisted RDDs), and no Python eval appears
    anywhere (the trainer's Python runs at PLAN BUILD time, collecting
    a model-sized gradient; the scored plan itself is pure JVM)."""
    plan = plan_of(spark, "classifier_gated_corpus")
    assert "BatchEvalPython" not in plan
    # lazy scored subtree: no checkpoint scan, and no leaked cache
    assert "Scan ExistingRDD" not in plan
    assert "InMemoryTableScan" not in plan
