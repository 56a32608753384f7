"""Driver-scored query registry.

Every operator from SURVEY.md §2 gets a named query here plus (where
SQL-expressible) a DuckDB oracle twin. Conventions that make the
driver's order-insensitive value-hash comparison deterministic:

* Aliases: every computed column is aliased identically in the Spark
  plan and the oracle SQL (the driver sorts columns by name).
* Floats: SUM/AVG over doubles go through exact DECIMAL arithmetic
  and are cast back to double at the end (``functions.dec_sum``) —
  double summation is order-dependent, decimal is associative, and
  the exact-decimal→double cast is correctly rounded in both engines,
  so results are bit-identical regardless of partitioning.
* Order: queries need no ORDER BY (hash is order-insensitive), but
  every window/top-k ordering includes a unique tiebreaker key.
* Dates: the Spark session runs in UTC; parquet timestamps therefore
  render the same civil date/time as DuckDB's naive timestamps.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from exceldatatransform_py_spark.functions.columns import (
    clean_numeric,
    day_between,
    day_le,
    day_lt,
    dec_sum,
    distinct_sorted_concat,
    last_token_lower,
    week_start_date,
)
from exceldatatransform_py_spark.operators.lookup import lookup_with_default
from exceldatatransform_py_spark.operators.merge import merge_update
from exceldatatransform_py_spark.operators.topk import top_k_per_group
from exceldatatransform_py_spark.operators.unpivot import unpivot_measures
from exceldatatransform_py_spark.plans.registry import ORACLE, QUERIES, register
from exceldatatransform_py_spark.sources.readers import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship — the reference pipeline restated on testdata (SURVEY.md §7):
# fact scan → broadcast dim join → date truncation → group agg with
# distinct-sorted string concat (A2) + deterministic sum.
# ---------------------------------------------------------------------------


@register(
    "flagship_daily_segment_ledger",
    oracle="""
    SELECT CAST(o.o_orderdate AS DATE) AS order_date,
           c.c_mktsegment AS mktsegment,
           n.n_name AS nation,
           string_agg(DISTINCT o.o_orderpriority, '; ' ORDER BY o.o_orderpriority) AS priorities,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def flagship_daily_segment_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    cust = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner"
    )
    df = orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
    return df.groupBy(
        F.to_date("o_orderdate").alias("order_date"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("n_name").alias("nation"),
    ).agg(
        distinct_sorted_concat("o_orderpriority").alias("priorities"),
        dec_sum("o_totalprice").alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# A1/A5 — TPC-H Q1-style pricing summary: multi-aggregate hash group-by
# with partial+final aggregation; filter pushed to the parquet scan.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))
                    * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,2)")
    tax = F.col("l_tax").cast("decimal(8,2)")
    n = F.count(F.lit(1))
    return (
        li.filter(day_le("l_shipdate", "1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            (dec_sum("l_quantity") / n).alias("avg_qty"),
            (dec_sum("l_extendedprice") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J1 — broadcast lookup with unmatched-key passthrough
# (timesheet_transform.py:56 — dict.get(k, k)).
# The mapping is deliberately partial (nationkey < 15) so the
# passthrough branch is exercised.
# ---------------------------------------------------------------------------


@register(
    "lookup_passthrough_default",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(m.n_name, CAST(c.c_nationkey AS VARCHAR)) AS nation_label
    FROM customer c
    LEFT JOIN (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 15) m
      ON c.c_nationkey = m.n_nationkey
    """,
)
def lookup_passthrough_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    mapping = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 15)
        .select("n_nationkey", "n_name")
    )
    out = lookup_with_default(
        customer, mapping, key_col="c_nationkey", out_col="nation_label"
    )
    return out.select("c_custkey", F.col("nation_label").cast("string"))


# ---------------------------------------------------------------------------
# P2 — derived column: surname = last whitespace token, lowercased
# (timesheet_transform.py:59-60).
# ---------------------------------------------------------------------------


@register(
    "surname_extract",
    oracle=r"""
    SELECT c_custkey,
           CASE WHEN trim(c_name) IS NULL OR trim(c_name) = '' THEN 'unknown'
                ELSE lower((string_split_regex(trim(c_name), '\s+'))[-1])
           END AS surname
    FROM customer
    """,
)
def surname_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey", last_token_lower("c_name").alias("surname")
    )


# ---------------------------------------------------------------------------
# P6 — dirty-numeric-string cleaning with bad→default
# (timesheet_transform.py:66-73). Dirt is synthesized deterministically:
# NBSP + integer + trailing spaces, with every 7th line unparseable.
# ---------------------------------------------------------------------------


@register(
    "dirty_numeric_clean",
    oracle=r"""
    SELECT l_orderkey, l_linenumber,
           COALESCE(TRY_CAST(regexp_replace(
             CASE WHEN l_linenumber % 7 = 0 THEN 'x' ELSE '' END
               || chr(160) || CAST(l_suppkey AS VARCHAR) || '  ',
             '[\s\xa0]+', '', 'g') AS DOUBLE), 0.0) AS cleaned_val
    FROM lineitem
    """,
)
def dirty_numeric_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: per-row string synth + regex + cast over single-row-group
    # files — parallelize the map stage (see read_table docstring).
    li = read_table(spark, sf_dir, "lineitem", fan_out=True)
    dirty = F.concat(
        F.when(F.col("l_linenumber") % 7 == 0, F.lit("x")).otherwise(F.lit("")),
        F.lit("\xa0"),
        F.col("l_suppkey").cast("string"),
        F.lit("  "),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        clean_numeric(dirty, default=0.0).alias("cleaned_val"),
    )


# ---------------------------------------------------------------------------
# U1 — generic wide→long unpivot (Expand node, no shuffle).
# ---------------------------------------------------------------------------


@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: Expand multiplies rows 4x before the (single-task) scan
    # boundary would otherwise serialize the whole pipeline.
    li = read_table(spark, sf_dir, "lineitem", fan_out=True).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    )
    return unpivot_measures(
        li,
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


# ---------------------------------------------------------------------------
# U2 + P3/P6 — dayfirst week-range parse with malformed-row skip
# (timesheet_transform.py:44-52). Week strings are synthesized from
# l_shipdate; every linenumber-7 row is malformed and must be skipped.
# ---------------------------------------------------------------------------


@register(
    "week_range_parse",
    oracle="""
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber = 7 THEN 'not-a-range'
                  ELSE strftime(CAST(l_shipdate AS DATE), '%d/%m/%Y')
                       || ' al '
                       || strftime(CAST(l_shipdate AS DATE) + INTERVAL 6 DAY, '%d/%m/%Y')
             END AS week_range
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           CAST(try_strptime(trim(split_part(week_range, ' al ', 1)), '%d/%m/%Y') AS DATE) AS week_start
    FROM t
    WHERE week_range LIKE '% al %'
      AND try_strptime(trim(split_part(week_range, ' al ', 1)), '%d/%m/%Y') IS NOT NULL
    """,
)
def week_range_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem", fan_out=True)
    ship = F.to_date("l_shipdate")

    def ddmmyyyy(d):
        # 'dd/MM/yyyy' from day()/month()/year() field arithmetic.
        # NOT date_format() / cast(date→string): those run a java.time
        # DateTimeFormatter per row, and this tree gets inlined several
        # times into the downstream parse expression.
        return F.concat_ws(
            "/",
            F.lpad(F.day(d).cast("string"), 2, "0"),
            F.lpad(F.month(d).cast("string"), 2, "0"),
            F.year(d).cast("string"),
        )

    week_range = F.when(F.col("l_linenumber") == 7, F.lit("not-a-range")).otherwise(
        F.concat(ddmmyyyy(ship), F.lit(" al "), ddmmyyyy(F.date_add(ship, 6)))
    )
    # Stage the synthesized string as its own projection: the parse
    # references it several times, and keeping it a plain column stops
    # CollapseProject from inlining the synthesis into every use
    # (smaller codegen units JIT faster and evaluate cheaper).
    staged = li.select("l_orderkey", "l_linenumber", week_range.alias("week_range"))
    return (
        staged.withColumn("week_start", week_start_date("week_range"))
        .filter(F.col("week_start").isNotNull())
        .select("l_orderkey", "l_linenumber", "week_start")
    )


# ---------------------------------------------------------------------------
# J2/J3 — update-only merge: overwrite o_totalprice with the
# pre-aggregated lineitem revenue for matched orders; unmatched target
# rows keep their value; unmatched source rows are discarded.
# ---------------------------------------------------------------------------


@register(
    "merge_update_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           COALESCE(u.o_totalprice, o.o_totalprice) AS o_totalprice
    FROM orders o
    LEFT JOIN (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS o_totalprice
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      GROUP BY l_orderkey
    ) u ON o.o_orderkey = u.l_orderkey
    """,
)
def merge_update_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        _t(spark, sf_dir, "lineitem")
        .filter(day_lt("l_shipdate", "1998-01-01"))
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(dec_sum("l_extendedprice").alias("o_totalprice"))
    )
    return merge_update(
        orders, updates, on=["o_orderkey"], update_cols=["o_totalprice"]
    )


# ---------------------------------------------------------------------------
# Full MERGE clause surface (operators.merge.merge_full): one commit
# that UPDATEs matched orders (price bump), INSERTs unmatched update
# rows (synthetic negative keys — provably new), and DELETEs target
# rows no update row references. The oracle reconstructs the same
# three clauses with an INNER join (update+delete survivors) UNION ALL
# an anti-joined insert set.
# ---------------------------------------------------------------------------


@register(
    "merge_full_orders",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
    ),
    u AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) * 1.1 AS p
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT -o_orderkey, CAST(o_totalprice AS DOUBLE)
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, u.p AS o_totalprice
    FROM t JOIN u ON t.o_orderkey = u.k
    UNION ALL
    SELECT u.k, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), u.p
    FROM u LEFT JOIN t ON t.o_orderkey = u.k
    WHERE t.o_orderkey IS NULL
    """,
)
def merge_full_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.merge import merge_full

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    upd = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    ins = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        (-F.col("o_orderkey")).alias("o_orderkey"), "o_totalprice"
    )
    return merge_full(
        orders,
        upd.unionByName(ins),
        on=["o_orderkey"],
        update_cols=["o_totalprice"],
        insert=True,
        delete_unmatched_target=True,
    )


# ---------------------------------------------------------------------------
# APPLY CHANGES INTO (CDC apply): a change feed with out-of-order
# versions per key is collapsed to the latest change (sequence_by),
# then played onto the target — deletes remove, everything else
# upserts. The feed is derived deterministically from orders so the
# oracle can reconstruct the whole flow: keys %5==0 are deleted,
# %5==1 updated (two versions — seq 2 must win for keys also %3==0),
# %5==2 inserted under provably-new negative keys.
# ---------------------------------------------------------------------------


@register(
    "cdc_apply_orders",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
    ),
    ch AS (
      SELECT o_orderkey AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS price,
             1 AS seq
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, 'U', CAST(o_totalprice AS DOUBLE) * 2, 1
      FROM orders WHERE o_orderkey % 5 = 1
      UNION ALL
      SELECT o_orderkey, 'U', CAST(o_totalprice AS DOUBLE) * 3, 2
      FROM orders WHERE o_orderkey % 5 = 1 AND o_orderkey % 3 = 0
      UNION ALL
      SELECT -o_orderkey, 'I', CAST(o_totalprice AS DOUBLE), 1
      FROM orders WHERE o_orderkey % 5 = 2
    ),
    last AS (
      SELECT k, op, price FROM (
        SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM ch
      ) WHERE rn = 1
    )
    SELECT t.k AS o_orderkey, COALESCE(l.price, t.price) AS o_totalprice
    FROM t LEFT JOIN last l USING (k)
    WHERE l.op IS NULL OR l.op != 'D'
    UNION ALL
    SELECT l.k, l.price FROM last l ANTI JOIN t USING (k)
    WHERE l.op != 'D'
    """,
)
def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exceldatatransform_py_spark.operators.merge import (
        apply_changes,
        latest_changes,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    key = F.col("o_orderkey")
    price = F.col("o_totalprice")
    feed = (
        orders.filter(key % 5 == 0).select(
            key.alias("o_orderkey"),
            F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("o_totalprice"),
            F.lit(1).alias("seq"),
        )
        .unionByName(orders.filter(key % 5 == 1).select(
            key.alias("o_orderkey"), F.lit("U").alias("op"),
            (price * 2).alias("o_totalprice"), F.lit(1).alias("seq"),
        ))
        .unionByName(orders.filter((key % 5 == 1) & (key % 3 == 0)).select(
            key.alias("o_orderkey"), F.lit("U").alias("op"),
            (price * 3).alias("o_totalprice"), F.lit(2).alias("seq"),
        ))
        .unionByName(orders.filter(key % 5 == 2).select(
            (-key).alias("o_orderkey"), F.lit("I").alias("op"),
            price.alias("o_totalprice"), F.lit(1).alias("seq"),
        ))
    )
    latest = latest_changes(feed, on=["o_orderkey"], seq_col="seq")
    return apply_changes(
        orders, latest, on=["o_orderkey"], update_cols=["o_totalprice"],
        op_col="op",
    )


# ---------------------------------------------------------------------------
# The snapshot table layer, scored end-to-end: commit orders as v0,
# MERGE (update %3 keys, insert negative %7 keys) as v1, then read
# BOTH versions back via time travel and return them labeled. A
# broken commit point, manifest resolution, or merge clause changes
# the row set of one of the versions and the oracle catches it. The
# table lives under $TMPDIR with an sf-scoped name and is wiped at
# query start (deterministic v0/v1 on every run) — the same
# deliberate side effect the scored index builds make.
# ---------------------------------------------------------------------------


@register(
    "snapshot_timetravel_orders",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p FROM orders
    ),
    u AS (
      SELECT o_orderkey AS k, p * 1.1 AS np FROM t WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT -o_orderkey, p FROM t WHERE o_orderkey % 7 = 0
    )
    SELECT 0 AS version, o_orderkey, p AS o_totalprice FROM t
    UNION ALL
    SELECT 1, t.o_orderkey, COALESCE(u.np, t.p)
    FROM t LEFT JOIN u ON t.o_orderkey = u.k
    UNION ALL
    SELECT 1, u.k, u.np FROM u ANTI JOIN t ON t.o_orderkey = u.k
    """,
)
def snapshot_timetravel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update,
        snapshot_read,
        snapshot_write,
    )

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    table = os.path.join(tempfile.gettempdir(), f"spark_graft_snapq_{token}")
    shutil.rmtree(table, ignore_errors=True)
    snapshot_write(table, base)
    key = F.col("o_orderkey")
    ups = base.filter(key % 3 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice")
    ).unionByName(base.filter(key % 7 == 0).select(
        (-key).alias("o_orderkey"), "o_totalprice"
    ))
    snapshot_merge_update(
        spark, table, ups, on=["o_orderkey"], update_cols=["o_totalprice"],
        when_not_matched_insert=True,
    )
    v0 = snapshot_read(spark, table, version=0)
    v1 = snapshot_read(spark, table, version=1)
    return v0.select(
        F.lit(0).cast("int").alias("version"), "o_orderkey", "o_totalprice"
    ).unionByName(v1.select(
        F.lit(1).cast("int").alias("version"), "o_orderkey", "o_totalprice"
    ))


# ---------------------------------------------------------------------------
# File-pruned DELETE, scored end-to-end: commit a range-clustered
# orders snapshot (per-file stats cached in the manifest), DELETE a
# key range narrowed by a price predicate — only overlapping files
# rewrite, the rest inherit by reference — then read BOTH versions
# back. The oracle is the plain filter; time travel still shows the
# deleted rows at v0. Same $TMPDIR + sf-scoped + wipe-first side-
# effect discipline as the other scored build/serve pairs.
# ---------------------------------------------------------------------------

_DEL_LO, _DEL_HI = 1000, 3000


@register(
    "snapshot_delete_orders",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p FROM orders
    )
    SELECT 0 AS version, o_orderkey, p AS o_totalprice FROM t
    UNION ALL
    SELECT 1, o_orderkey, p FROM t
    WHERE NOT (o_orderkey BETWEEN {_DEL_LO} AND {_DEL_HI}
               AND p < 150000.0)
    """,
)
def snapshot_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_delete_range,
        snapshot_read,
        snapshot_write,
    )

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    table = os.path.join(tempfile.gettempdir(), f"spark_graft_delq_{token}")
    shutil.rmtree(table, ignore_errors=True)
    snapshot_write(
        table,
        base.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        stats_cols=["o_orderkey"],
    )
    snapshot_delete_range(
        spark, table, "o_orderkey", _DEL_LO, _DEL_HI,
        extra_predicate="o_totalprice < 150000.0",
    )
    v0 = snapshot_read(spark, table, version=0)
    v1 = snapshot_read(spark, table, version=1)
    return v0.select(
        F.lit(0).cast("int").alias("version"), "o_orderkey", "o_totalprice"
    ).unionByName(v1.select(
        F.lit(1).cast("int").alias("version"), "o_orderkey", "o_totalprice"
    ))


# ---------------------------------------------------------------------------
# Merge-on-read DELETE (deletion vectors), scored end-to-end: same
# logical delete as snapshot_delete_orders but ZERO data files are
# rewritten — the commit records deleted row positions in a parquet
# sidecar, the v1 read subtracts them with a position anti-join, and
# v0 time-travels to the full table. The oracle is identical to the
# copy-on-write twin's (the two physical strategies must be
# indistinguishable relationally); tests/test_snapshots.py pins the
# physical claim (rewritten_files == 0, sidecar present).
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# RENAME COLUMN, scored end-to-end: commit a range-clustered orders
# snapshot, file-pruned-merge a key range (v1, pre-rename files),
# RENAME the merge-key column (v2, metadata-only — stable field IDs;
# per-file stats re-keyed), then file-pruned-merge ON THE RENAMED KEY
# (v3: pre-rename files resolve by field id, pruning runs on the
# re-keyed stats), and read v1 (old schema) and v3 (new schema) back.
# The oracle is the two plain CASE projections — the rename machinery
# (id-matched reads, re-keyed pruning, per-version schemas) must be
# relationally invisible.
# ---------------------------------------------------------------------------

_RN_LO1, _RN_HI1 = 1000, 3000
_RN_LO2, _RN_HI2 = 4000, 6000


@register(
    "snapshot_rename_orders",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS p FROM orders
    )
    SELECT 1 AS version, k AS order_id,
           CASE WHEN k BETWEEN {_RN_LO1} AND {_RN_HI1}
                THEN p * 2 ELSE p END AS o_totalprice
    FROM t
    UNION ALL
    SELECT 3, k,
           CASE WHEN k BETWEEN {_RN_LO1} AND {_RN_HI1}
                THEN p * 2 ELSE p END
           + CASE WHEN k BETWEEN {_RN_LO2} AND {_RN_HI2}
                  THEN 100.0 ELSE 0.0 END
    FROM t
    """,
)
def snapshot_rename_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_merge_update_pruned,
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    table = os.path.join(tempfile.gettempdir(), f"spark_graft_rnq_{token}")
    shutil.rmtree(table, ignore_errors=True)
    snapshot_write(
        table,
        base.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        stats_cols=["o_orderkey"],
    )                                                          # v0
    key = F.col("o_orderkey")
    snapshot_merge_update_pruned(
        spark, table,
        base.filter(key.between(_RN_LO1, _RN_HI1)).select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ),
        on=["o_orderkey"], update_cols=["o_totalprice"],
    )                                                          # v1
    snapshot_rename_column(table, "o_orderkey", "order_id")    # v2
    v1 = snapshot_read(spark, table, version=1)  # old schema
    cur = snapshot_read(spark, table)            # renamed schema
    snapshot_merge_update_pruned(
        spark, table,
        cur.filter(F.col("order_id").between(_RN_LO2, _RN_HI2)).select(
            "order_id",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        ),
        on=["order_id"], update_cols=["o_totalprice"],
    )                                                          # v3
    v3 = snapshot_read(spark, table, version=3)
    return v1.select(
        F.lit(1).cast("int").alias("version"),
        F.col("o_orderkey").alias("order_id"),
        "o_totalprice",
    ).unionByName(v3.select(
        F.lit(3).cast("int").alias("version"), "order_id", "o_totalprice"
    ))


@register(
    "snapshot_dv_delete_orders",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p FROM orders
    )
    SELECT 0 AS version, o_orderkey, p AS o_totalprice FROM t
    UNION ALL
    SELECT 1, o_orderkey, p FROM t
    WHERE NOT (o_orderkey BETWEEN {_DEL_LO} AND {_DEL_HI}
               AND p < 150000.0)
    """,
)
def snapshot_dv_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_delete_dv,
        snapshot_read,
        snapshot_write,
    )

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    table = os.path.join(tempfile.gettempdir(), f"spark_graft_dvq_{token}")
    shutil.rmtree(table, ignore_errors=True)
    snapshot_write(
        table,
        base.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        stats_cols=["o_orderkey"],
    )
    snapshot_delete_dv(
        spark, table, "o_orderkey", _DEL_LO, _DEL_HI,
        extra_predicate="o_totalprice < 150000.0",
    )
    v0 = snapshot_read(spark, table, version=0)
    v1 = snapshot_read(spark, table, version=1)
    return v0.select(
        F.lit(0).cast("int").alias("version"), "o_orderkey", "o_totalprice"
    ).unionByName(v1.select(
        F.lit(1).cast("int").alias("version"), "o_orderkey", "o_totalprice"
    ))


# ---------------------------------------------------------------------------
# Change data feed, scored end-to-end: commit orders as v0, DV-delete
# a range as v1 (merge-on-read: the feed's deletes come from sidecar
# positions, no file-set change), full merge as v2 (rewrite: every
# pre-image row deletes, every post-image row inserts — Delta's CDF
# for a full-rewrite merge). The feed is reconstructed from manifests
# alone; the oracle recomputes all three change sets relationally.
# The steps are deliberately layout-INDEPENDENT (DV delete + full
# rewrite) so the row-level feed is a pure function of the data — a
# pruned merge's feed would depend on sampled file boundaries.
# ---------------------------------------------------------------------------


@register(
    "snapshot_cdf_orders",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p FROM orders
    ),
    d1 AS (
      SELECT o_orderkey, p FROM t
      WHERE o_orderkey BETWEEN {_DEL_LO} AND {_DEL_HI} AND p < 150000.0
    ),
    v1 AS (
      SELECT o_orderkey, p FROM t
      WHERE NOT (o_orderkey BETWEEN {_DEL_LO} AND {_DEL_HI}
                 AND p < 150000.0)
    ),
    u AS (
      SELECT o_orderkey AS k, p * 1.1 AS np FROM t WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT -o_orderkey, p FROM t WHERE o_orderkey % 7 = 0
    ),
    v2 AS (
      SELECT v1.o_orderkey, COALESCE(u.np, v1.p) AS p
      FROM v1 LEFT JOIN u ON v1.o_orderkey = u.k
      UNION ALL
      SELECT u.k, u.np FROM u ANTI JOIN v1 ON v1.o_orderkey = u.k
    )
    SELECT CAST(1 AS INTEGER) AS _commit_version,
           'delete' AS _change_type, o_orderkey, p AS o_totalprice
    FROM d1
    UNION ALL
    SELECT 2, 'delete', o_orderkey, p FROM v1
    UNION ALL
    SELECT 2, 'insert', o_orderkey, p FROM v2
    """,
)
def snapshot_cdf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_delete_dv,
        snapshot_merge_update,
        snapshot_write,
    )

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    table = os.path.join(tempfile.gettempdir(), f"spark_graft_cdfq_{token}")
    shutil.rmtree(table, ignore_errors=True)
    snapshot_write(
        table,
        base.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        stats_cols=["o_orderkey"],
    )
    snapshot_delete_dv(
        spark, table, "o_orderkey", _DEL_LO, _DEL_HI,
        extra_predicate="o_totalprice < 150000.0",
    )
    key = F.col("o_orderkey")
    ups = base.filter(key % 3 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice")
    ).unionByName(base.filter(key % 7 == 0).select(
        (-key).alias("o_orderkey"), "o_totalprice"
    ))
    snapshot_merge_update(
        spark, table, ups, on=["o_orderkey"], update_cols=["o_totalprice"],
        when_not_matched_insert=True,
    )
    return snapshot_changes(spark, table, 0).select(
        "_commit_version", "_change_type", "o_orderkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# CDC REPLICATION, scored end-to-end: commit a source snapshot table
# (v0), DV-delete a key range (v1 — delete-only), file-pruned
# update+insert merge (v2), RENAME a non-key column (v3 —
# metadata-only), then drain the change feed into a replica with
# replicate_snapshot_changes and read the REPLICA back. The two
# row-change versions fold into ONE cdc_apply commit (the default
# fold_versions=64) — deletes as deletion vectors on pruned files,
# inserts as appended files — and the rename replays as the same
# metadata commit (tests pin rewritten_files==0
# and the byte-identical inherited file lists; this query scores the
# relational contract: replica ≡ source under the final schema).
# ---------------------------------------------------------------------------

_RP_LO, _RP_HI = 2000, 5000


@register(
    "snapshot_replicate_orders",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p FROM orders
    ),
    v1 AS (
      SELECT o_orderkey, p FROM t
      WHERE NOT (o_orderkey BETWEEN {_RP_LO} AND {_RP_HI})
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN p * 1.5 ELSE p END AS p
      FROM v1
      UNION ALL
      SELECT -o_orderkey, p FROM t WHERE o_orderkey % 11 = 0
    )
    SELECT o_orderkey, p AS price FROM v2
    """,
)
def snapshot_replicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import shutil
    import tempfile

    from exceldatatransform_py_spark.sources.snapshots import (
        replicate_snapshot_changes,
        snapshot_delete_dv,
        snapshot_merge_update_pruned,
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    token = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    src = os.path.join(tempfile.gettempdir(), f"spark_graft_repsq_{token}")
    dst = os.path.join(tempfile.gettempdir(), f"spark_graft_repdq_{token}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    snapshot_write(
        src,
        base.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        stats_cols=["o_orderkey"],
    )                                                          # v0
    snapshot_delete_dv(spark, src, "o_orderkey", _RP_LO, _RP_HI)  # v1
    key = F.col("o_orderkey")
    ups = base.filter(
        (key % 5 == 0) & ~key.between(_RP_LO, _RP_HI)
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") * F.lit(1.5)).alias("o_totalprice"),
    ).unionByName(base.filter(key % 11 == 0).select(
        (-key).alias("o_orderkey"), "o_totalprice"
    ))
    snapshot_merge_update_pruned(
        spark, src, ups, on=["o_orderkey"], update_cols=["o_totalprice"],
        when_not_matched_insert=True,
    )                                                          # v2
    snapshot_rename_column(src, "o_totalprice", "price")       # v3
    replicate_snapshot_changes(spark, src, dst, keys=["o_orderkey"])
    return snapshot_read(spark, dst).select("o_orderkey", "price")


# ---------------------------------------------------------------------------
# §2.7 — top-K per group via ranked window (deterministic tiebreaker).
# ---------------------------------------------------------------------------


@register(
    "topk_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rk
    FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             CAST(row_number() OVER (PARTITION BY c.c_mktsegment
                              ORDER BY o.o_totalprice DESC, o.o_orderkey) AS INTEGER) AS rk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rk <= 5
    """,
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    df = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    return top_k_per_group(
        df,
        partition_cols=["c_mktsegment"],
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=5,
        rank_col="rk",
    )


# ---------------------------------------------------------------------------
# A6 — rollup with subtotal rows (NULL level markers, same as SQL).
# ---------------------------------------------------------------------------


@register(
    "rollup_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # pre-aggregate then rollup the partials (same algebraic-reagg
    # rewrite as cube_flag_status): the Expand multiplies 6 partial
    # rows instead of the fact — measured 3x on the cube twin.
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("__psum"),
        F.count(F.lit(1)).alias("__pn"),
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("__psum").cast("double").alias("sum_qty"),
        F.sum("__pn").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# §2.7 — set operations (INTERSECT / EXCEPT, distinct semantics).
# ---------------------------------------------------------------------------


@register(
    "setop_all_order_cadence",
    oracle="""
    WITH m95 AS (
      SELECT o_custkey, CAST(month(o_orderdate) AS INTEGER) AS order_month
      FROM orders WHERE year(o_orderdate) = 1995
    ),
    m94 AS (
      SELECT o_custkey, CAST(month(o_orderdate) AS INTEGER) AS order_month
      FROM orders WHERE year(o_orderdate) = 1994
    )
    SELECT 'kept' AS op, o_custkey, order_month
    FROM (SELECT * FROM m95 INTERSECT ALL SELECT * FROM m94)
    UNION ALL
    SELECT 'surplus' AS op, o_custkey, order_month
    FROM (SELECT * FROM m95 EXCEPT ALL SELECT * FROM m94)
    """,
)
def setop_all_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): per-customer
    order-month multiplicity matched between 1995 and 1994 ('kept') and
    the 1995 surplus. The ALL variants preserve duplicate counts —
    min(c95, c94) and c95 - min respectively — which the distinct
    variants above (setop_repeat/churned_customers) deliberately drop;
    both compile to one aggregate-with-counts + generate, no join."""
    orders = _t(spark, sf_dir, "orders")

    def months(y: int) -> DataFrame:
        return orders.filter(F.year("o_orderdate") == y).select(
            "o_custkey", F.month("o_orderdate").alias("order_month")
        )

    m95, m94 = months(1995), months(1994)
    kept = m95.intersectAll(m94).select(
        F.lit("kept").alias("op"), "o_custkey", "order_month"
    )
    surplus = m95.exceptAll(m94).select(
        F.lit("surplus").alias("op"), "o_custkey", "order_month"
    )
    return kept.unionByName(surplus)


@register(
    "setop_repeat_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def setop_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@register(
    "setop_churned_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def setop_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.subtract(y96)


# ---------------------------------------------------------------------------
# §2.7 — analytic window: running sum per key (exact decimal prefix
# sums so every prefix is engine-independent).
# ---------------------------------------------------------------------------


@register(
    "window_running_qty",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
    FROM lineitem
    """,
)
def window_running_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("running_qty"),
    )


# ---------------------------------------------------------------------------
# A5 — distinct counting.
# ---------------------------------------------------------------------------


@register(
    "distinct_parts_per_supplier",
    oracle="""
    SELECT l_suppkey,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two countDistincts on DIFFERENT columns in one agg make Catalyst
    # plan an Expand (every input row duplicated per distinct class)
    # and push both through one fat distinct shuffle; two clean
    # two-level aggregates joined on the tiny supplier key are ~2x
    # faster and partial-aggregate map-side. Same rows, same values.
    li = _t(spark, sf_dir, "lineitem")
    parts = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    orders = (
        li.groupBy("l_suppkey", "l_orderkey")
        .agg(F.lit(1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return parts.join(orders, "l_suppkey")


# ---------------------------------------------------------------------------
# Register the extension query modules (LLM-pipeline ops, event
# windows/joins). Import side effects populate QUERIES/ORACLE.
# ---------------------------------------------------------------------------

from exceldatatransform_py_spark.plans import queries_analytics  # noqa: E402,F401
from exceldatatransform_py_spark.plans import queries_events  # noqa: E402,F401
from exceldatatransform_py_spark.plans import queries_extra  # noqa: E402,F401
from exceldatatransform_py_spark.plans import queries_llm  # noqa: E402,F401
from exceldatatransform_py_spark.plans import queries_quality  # noqa: E402,F401
from exceldatatransform_py_spark.plans import queries_sql2  # noqa: E402,F401
from exceldatatransform_py_spark.plans import queries_tpch3  # noqa: E402,F401


# ---------------------------------------------------------------------------
# J4 composite — TPC-H Q5-style multi-join: 6-table star join with a
# selective region filter; Catalyst reorders and broadcasts the dims
# (region/nation), AQE picks the fact-join strategy at runtime.
# ---------------------------------------------------------------------------


@register(
    "q5_regional_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1995-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY 1
    """,
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        day_between("o_orderdate", "1995-01-01", "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    df = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,2)")
    return df.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue")
    )


# ---------------------------------------------------------------------------
# §2.7 — RANGE window frame: trailing-30-day quantity per supplier
# (value-based frame, not row-based; ties in the order key share one
# frame, so the result is deterministic without a tiebreaker).
# ---------------------------------------------------------------------------


@register(
    "window_trailing_30d_qty",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
             PARTITION BY l_suppkey
             ORDER BY date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_30d
    FROM lineitem
    """,
)
def window_trailing_30d_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    days = F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(days)
        .rangeBetween(-30, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("qty_30d"),
    )


# ---------------------------------------------------------------------------
# §2.7 — distribution analytics: ntile + percent_rank + cume_dist.
# ---------------------------------------------------------------------------


@register(
    "order_price_distribution",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def order_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Skew mitigation — salted two-phase aggregation; the oracle is the
# PLAIN group-by (salting must be invisible in the results).
# ---------------------------------------------------------------------------

from exceldatatransform_py_spark.operators.skew import salted_sum_count  # noqa: E402


@register(
    "salted_agg_by_returnflag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def salted_agg_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l_returnflag has 3 values over ~600k rows at sf0.1 — exactly the
    # hot-key shape where per-key reducer fan-in wants a salt.
    li = _t(spark, sf_dir, "lineitem")
    return salted_sum_count(li, keys=["l_returnflag"], sum_col="l_quantity")
