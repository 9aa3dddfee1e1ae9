"""Relational core queries (SURVEY.md §2.2-§2.8 + [ext] rows).

Each query is the Spark-native mapping of an operator family the reference
exercises (file:line cited per query), expressed declaratively so Catalyst
supplies pushdown/pruning/join-strategy/AQE, plus the engine-surface
extensions the survey marks [ext] (windows, set ops, cube/rollup, semi/anti
joins, JSON + time functions, as-of join).

Scale notes are inline per query: what shuffles, what broadcasts, and why
the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_micros, micros_between
from ..operators.rank import bucket_of, percentile_bounds
from ..sources.readers import load_table, local_relation
from .registry import register

# Cutoff used by the pricing-summary query; fixture shipdates span
# 1995-01-02 .. 2001-11-04, so this keeps ~85% of rows (selective but
# non-vacuous — the filter must actually push down to the parquet scan).
_Q1_CUTOFF = "2000-12-01"


def _r2(c):  # round to cents — applied on BOTH engine and oracle side
    return F.round(c, 2)


def _r4(c):
    return F.round(c, 4)


# --------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# --------------------------------------------------------------------------


@register(
    "global_count",
    oracle="SELECT count(*) AS n_rows FROM lineitem",
    doc="A1 (lab2.py:155): global corpus count as a single-row aggregate.",
)
def global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A single partial+final count; no data movement beyond one long per task.
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                        AS sum_qty,
               round(sum(l_extendedprice), 2)                                   AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               round(avg(l_quantity), 4)                                        AS avg_qty,
               round(avg(l_extendedprice), 4)                                   AS avg_price,
               round(avg(l_discount), 4)                                        AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    # displaced from the bench headline set in r6 (q3/q5 keep the TPC-H
    # join-agg representatives; the total stays within the <=16 s budget
    # as stream twins rotate in) — still driver-sampled and oracle-checked
    doc="A2/A6 analogue at TPC-H Q1 shape: filtered multi-agg groupBy.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 flavor).

    Scale: the filter pushes to the parquet scan (PushedFilters), the
    aggregation is partial+final hash agg over a 6-group key space — the
    shuffle moves 6 rows per map task regardless of input size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(f"{_Q1_CUTOFF} 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r2(F.sum(disc_price)).alias("sum_disc_price"),
            _r2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            _r4(F.avg("l_quantity")).alias("avg_qty"),
            _r4(F.avg("l_extendedprice")).alias("avg_price"),
            _r4(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "distinct_parts_per_supplier",
    oracle="""
        SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_lines
        FROM lineitem GROUP BY l_suppkey
    """,
    doc="A3 (lab2.py:167-170): distinct-count by key (document frequency shape).",
)
def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # countDistinct expands to a two-phase agg (distinct on (suppkey,partkey),
    # then count) — the same shape the reference hand-built with
    # distinct().map().reduceByKey() in three shuffles; Catalyst does it in one
    # exchange with partial aggregation.
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "approx_distinct_parts",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               TRUE AS sketch_within_3pct
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="A3 scale path [ext]: HyperLogLog++ distinct estimate for 100 TB "
    "cardinalities, upgraded from rows-only to a FULL hash oracle (r4 "
    "verdict item 6) by auditing the sketch against the exact count: the "
    "output carries the exact distinct (hash-checkable) plus a "
    "within-3-sigma flag (rsd=0.01 -> 3%% bound) the oracle states as "
    "TRUE — a wild estimate now fails the hash, not just a property test.",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # At 100 TB an exact countDistinct shuffles every distinct pair; HLL++
    # sketches merge in fixed space (rsd=0.01). The exact aggregate here
    # exists to AUDIT the sketch — production keeps only the sketch path.
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= 0.03 * F.col("exact_parts")
            ).alias("sketch_within_3pct"),
        )
    )


@register(
    "conditional_accuracy",
    oracle="""
        SELECT o_orderpriority,
               round(avg(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END), 6) AS fulfilled_rate,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
    """,
    doc="A6+P8 (lab2.py:257-260): mean-of-indicator accuracy metric as avg(when).",
)
def conditional_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.avg(F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)), 6
            ).alias("fulfilled_rate"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "rollup_revenue",
    oracle="""
        SELECT coalesce(r_name, 'ALL') AS region_name,
               coalesce(n_name, 'ALL') AS nation_name,
               round(sum(c_acctbal), 2) AS total_acctbal,
               count(*) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="[ext] §2.4: rollup with subtotal rows (grouping-set aggregation).",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region -> nation -> grand total.

    Scale: nation/region are tiny dims — Catalyst broadcasts them; the
    rollup is a single expand+hash-agg, not three passes over the fact.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(_r2(F.sum("c_acctbal")).alias("total_acctbal"), F.count("*").alias("n_customers"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "total_acctbal",
            "n_customers",
        )
    )


@register(
    "cube_status_priority",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               round(sum(o_totalprice), 2) AS total_price,
               count(*) AS n_orders
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="[ext] §2.4: cube over two dimensions (all grouping sets).",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(_r2(F.sum("o_totalprice")).alias("total_price"), F.count("*").alias("n_orders"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "total_price",
            "n_orders",
        )
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# --------------------------------------------------------------------------


@register(
    "q3_unshipped_revenue",
    oracle="""
        SELECT o_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    headline=True,
    doc="J1 inner equi-join chain (lab2.py:173 analogue) + grouped top-N (TPC-H Q3 shape).",
)
def q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of late-shipping BUILDING orders — join chain + agg + top-10.

    Scale: customer filter prunes before the join; orders⋈lineitem is the
    only big shuffle and AQE converts the (filtered, small) customer side to
    a broadcast. ORDER BY + LIMIT executes as TakeOrderedAndProject — no
    global sort materializes.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_volume",
    oracle="""
        SELECT n_name AS nation_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND s_nationkey = c_nationkey
        GROUP BY n_name
    """,
    # headline until r8: displaced for pii_redacted_rewrite (r7 verdict item 4;
    # mmr_diverse_topk blew the ≤16 s budget — see plans/ann.py) — q5 is
    # sub-0.5 s and its join shape is covered by q3 + the broadcast-join plan tests.
    doc="J1 multi-way join (TPC-H Q5 shape): fact ⋈ 5 dims with a same-nation theta condition.",
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue where supplier and customer share the nation.

    Scale: region/nation/supplier/customer are dims (broadcast); lineitem ⋈
    orders is the single large shuffle. The s_nationkey = c_nationkey
    equality rides on the join output as a filter.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .withColumnRenamed("n_name", "nation_name")
    )


@register(
    "left_join_null_fill",
    oracle="""
        SELECT c_custkey, coalesce(n_orders, 0) AS n_orders, round(coalesce(spend, 0.0), 2) AS spend
        FROM customer
        LEFT JOIN (
            SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
            FROM orders GROUP BY o_custkey
        ) o ON c_custkey = o_custkey
    """,
    doc="J2 (lab2.py:208-209): left outer join with null->default fill via coalesce.",
)
def left_join_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's leftOuterJoin + mapValues-null-fill, as one plan:
    # aggregate-below-join keeps the outer side narrow, coalesce() replaces
    # the Python null check (P7).
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("spend"))
    )
    return cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        _r2(F.coalesce("spend", F.lit(0.0))).alias("spend"),
    )


@register(
    "semi_join_active_customers",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    doc="[ext] §2.3: left-semi join (EXISTS) — needed by the dedup anti-join family.",
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    # left_semi: emits each customer at most once, never widens the row —
    # cheaper than join+distinct at any scale.
    return cust.join(recent, cust.c_custkey == recent.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_dormant_customers",
    oracle="""
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="[ext] §2.3: left-anti join (NOT EXISTS) — the dedup 'survivors' pattern.",
)
def anti_join_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "asof_join_purchase_click",
    oracle="""
        SELECT p.event_id,
               p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    # headline r2-r5; displaced r6 by stream_twin_sliding_counts (the bench
    # set displaces, not accumulates — r5 verdict item 7); still
    # oracle-checked every round via test_oracle_parity + the driver sample
    headline=False,
    doc="[ext] §2.3: as-of join — last click at-or-before each purchase, per user.",
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union+window formulation (Spark has no native ASOF).

    Instead of a range join (quadratic blowup per user), union both streams,
    sort once per user by event time, and carry the last seen click
    timestamp forward with last(ignorenulls) — one shuffle on user_id, cost
    O(n log n) per partition regardless of match fan-out. This is the
    scale-correct form of pd.merge_asof.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(None).cast("long").alias("p_event_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_event_id"), F.lit(None).cast("timestamp").alias("click_ts")
    )
    # Clicks sort before purchases at identical ts (kind 0 < 1) so "at or
    # before" is inclusive, matching DuckDB ASOF's >= bound.
    unioned = clicks.withColumn("kind", F.lit(0)).unionByName(
        purchases.withColumn("kind", F.lit(1))
    )
    w = W.partitionBy("user_id").orderBy("ts", "kind").rowsBetween(W.unboundedPreceding, 0)
    return (
        unioned.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            F.col("p_event_id").alias("event_id"),
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
        )
    )


# --------------------------------------------------------------------------
# Windows / sorts / top-k (SURVEY §2.5, §2.6)
# --------------------------------------------------------------------------


@register(
    "top1_order_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey AS best_orderkey, round(o_totalprice, 2) AS best_price
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
    doc="A5/T1 (lab2.py:250-251): deterministic arg-max per group (the reference's tie "
    "handling is partition-order-dependent; we tiebreak on o_orderkey).",
)
def top1_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_orderkey"),
            _r2(F.col("o_totalprice")).alias("best_price"),
        )
    )


@register(
    "topk_lineitems_per_order",
    oracle="""
        SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price, rnk
        FROM (
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_extendedprice DESC, l_linenumber) AS rnk
            FROM lineitem
        ) WHERE rnk <= 3
    """,
    doc="T1 generalized [ext]: top-k (k=3) per group via ranked window.",
)
def topk_lineitems_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (
        li.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        # row_number is int32 in Spark, BIGINT in the oracle — align dtypes
        .select(
            "l_orderkey",
            "l_linenumber",
            _r2(F.col("l_extendedprice")).alias("price"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "window_running_user_spend",
    oracle="""
        SELECT event_id, user_id,
               round(sum(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING), 4) AS running_value
        FROM events
    """,
    doc="[ext] §2.5: running aggregate over an ordered per-user frame.",
)
def window_running_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, 0)
    return ev.select(
        "event_id", "user_id", _r4(F.sum("value").over(w)).alias("running_value")
    )


@register(
    "window_lag_delta",
    oracle="""
        SELECT event_id, user_id,
               round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
                   AS delta_value
        FROM events
    """,
    doc="[ext] §2.5: lag/lead analytics (inter-event deltas per user).",
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        _r4(F.col("value") - F.lag("value").over(w)).alias("delta_value"),
    )


@register(
    "global_topn_orders",
    oracle="""
        SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    doc="T2/[ext] §2.6: global ordered top-N (TakeOrderedAndProject, no full sort).",
)
def global_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", _r2(F.col("o_totalprice")).alias("totalprice"))
    )


@register(
    "point_lookup",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_partkey, round(l_extendedprice, 2) AS price
        FROM lineitem WHERE l_orderkey = 42
    """,
    doc="P4 (lab2.py:323-324): point-predicate lookup; filter pushes to the scan.",
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") == 42)
        .select("l_orderkey", "l_linenumber", "l_partkey", _r2(F.col("l_extendedprice")).alias("price"))
    )


@register(
    "projection_filter_scan",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount), 4) AS net_price
        FROM lineitem
        WHERE l_returnflag = 'R'
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
    """,
    doc="P1/P2/P5 (lab2.py:70-73,141-144,317): projection + conjunctive predicate, "
    "column-pruned and pushed to the scan.",
)
def projection_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & F.col("l_shipdate").between("1996-01-01 00:00:00", "1996-12-31 00:00:00")
    ).select(
        "l_orderkey",
        "l_linenumber",
        _r4(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.7 — all [ext])
# --------------------------------------------------------------------------


@register(
    "setop_union_distinct",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    """,
    doc="[ext] §2.7: UNION (distinct) of two predicate-defined sets.",
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.union(b).distinct()


@register(
    "setop_intersect",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    doc="[ext] §2.7: INTERSECT.",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


@register(
    "setop_except",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    doc="[ext] §2.7: EXCEPT.",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    # subtract == SQL EXCEPT (DISTINCT): any row present in b is removed.
    # exceptAll().distinct() is NOT the same — a row occurring more often in
    # a than in b would survive (ADVICE r1).
    return a.subtract(b)


# --------------------------------------------------------------------------
# Scalar functions: JSON / time [ext] (SURVEY §2.8 "not present" row)
# --------------------------------------------------------------------------


@register(
    "json_props_stats",
    oracle="""
        SELECT event_type,
               round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
               max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
    doc="[ext] §2.8: JSON scalar extraction (get_json_object) + aggregation.",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        _r4(F.avg(k)).alias("avg_k"), F.max(k).alias("max_k"), F.count("*").alias("n")
    )


@register(
    "hourly_event_rollup",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events GROUP BY 1, 2
    """,
    doc="[ext] §2.8/§2.5: tumbling time-bucket aggregation (batch twin of the "
    "streaming windowed agg in streaming/events.py). Rotated out of the "
    "headline set r5 (displaced by event_lateness_watermark_profile).",
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), _r4(F.sum("value")).alias("total_value"))
    )


@register(
    "string_functions_cleanup",
    oracle="""
        SELECT p_partkey,
               lower(p_name) AS name_lower,
               regexp_replace(lower(p_type), '[^a-z]+', ' ', 'g') AS type_clean,
               concat(p_brand, ':', CAST(p_size AS VARCHAR)) AS brand_size
        FROM part
    """,
    doc="F1/F2/F3/F7 (lab2.py:70-91): lower / regexp_replace / concat string pipeline.",
)
def string_functions_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.regexp_replace(F.lower("p_type"), "[^a-z]+", " ").alias("type_clean"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_size").cast("string")).alias("brand_size"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="[ext] §2.4: explicit GROUPING SETS (the general form behind cube/rollup).",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(_r2(F.sum("o_totalprice")).alias("total_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "total_price",
        )
    )


@register(
    "monthly_order_stats",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(month(o_orderdate) AS INTEGER) AS order_month,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY 1, 2
    """,
    doc="[ext] §2.8 date functions: year/month extraction + calendar aggregation.",
)
def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
    ).agg(
        F.count("*").alias("n_orders"),
        _r2(F.sum("o_totalprice")).alias("total_price"),
    )


@register(
    "percentile_order_value",
    oracle="""
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    doc="[ext] §2.4: exact interpolated percentiles per group (Spark percentile == "
    "DuckDB quantile_cont); approx_percentile is the sketch twin at 100 TB.",
)
def percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
        F.count("*").alias("n_orders"),
    )


@register(
    "range_join_price_bracket",
    oracle="""
        SELECT b.bracket, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
        FROM part p
        JOIN (VALUES ('budget', 0.0, 930.0),
                     ('mid', 930.0, 970.0),
                     ('premium', 970.0, 100000.0)) AS b(bracket, lo, hi)
          ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
        GROUP BY b.bracket
    """,
    doc="[ext] §2.3: range (theta) join against a bracket dimension — broadcast "
    "nested-loop on an interval predicate.",
)
def range_join_price_bracket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the bracket dim is tiny and broadcast, so the range predicate
    evaluates map-side (BroadcastNestedLoopJoin) — no shuffle of the fact;
    for large range dims the scale path is bucketize + equi-join on bucket."""
    part = load_table(spark, sf_dir, "part")
    # brackets split the fixture's 900-1000 price range three ways so the
    # range predicate actually discriminates
    brackets = local_relation(
        spark,
        [("budget", 0.0, 930.0), ("mid", 930.0, 970.0), ("premium", 970.0, 100000.0)],
        "bracket string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(brackets),
            (part.p_retailprice >= brackets.lo) & (part.p_retailprice < brackets.hi),
        )
        .groupBy("bracket")
        .agg(F.count("*").alias("n_parts"), _r4(F.avg("p_retailprice")).alias("avg_price"))
    )


@register(
    "window_rank_frame",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               CAST(rank() OVER w AS BIGINT) AS bal_rank,
               CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
               round(c_acctbal - lead(c_acctbal) OVER w, 4) AS gap_to_next,
               round(avg(c_acctbal) OVER (PARTITION BY c_mktsegment
                                          ORDER BY c_acctbal DESC, c_custkey
                                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
                   AS trailing3_avg
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
    doc="[ext] §2.5: rank/dense_rank/lead + a bounded rows frame in one pass "
    "(all windows share one sort).",
)
def window_rank_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        _r4(F.col("c_acctbal") - F.lead("c_acctbal").over(w)).alias("gap_to_next"),
        _r4(F.avg("c_acctbal").over(w.rowsBetween(-2, 0))).alias("trailing3_avg"),
    )


@register(
    "setop_union_all",
    oracle="""
        SELECT c_custkey, 'building' AS cohort FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT c_custkey, 'rich' AS cohort FROM customer WHERE c_acctbal > 9000
    """,
    doc="[ext] §2.7: UNION ALL (bag union) with a provenance tag — the fuse used to "
    "parameterize the reference's copy-pasted title/abstract pipelines.",
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.lit("building").alias("cohort")
    )
    b = cust.filter(F.col("c_acctbal") > 9000).select(
        "c_custkey", F.lit("rich").alias("cohort")
    )
    return a.unionByName(b)


@register(
    "unpivot_order_measures",
    oracle="""
        SELECT o_orderkey, measure, round(value, 2) AS value FROM (
            SELECT o_orderkey, o_totalprice,
                   CAST(o_custkey AS DOUBLE) AS custkey_d
            FROM orders WHERE o_orderkey % 100 = 0
        ) UNPIVOT (value FOR measure IN (o_totalprice, custkey_d))
    """,
    doc="[ext] §2.7/pivot family: unpivot (melt) wide measures to long form — the "
    "inverse of the category-matrix pivot.",
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice"),
        F.col("o_custkey").cast("double").alias("custkey_d"),
    )
    return wide.unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "custkey_d"],
        variableColumnName="measure",
        valueColumnName="value",
    ).select("o_orderkey", "measure", F.round("value", 2).alias("value"))


@register(
    "global_sorted_orders",
    oracle="""
        SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS orderdate,
               round(o_totalprice, 2) AS totalprice
        FROM orders WHERE o_orderkey % 50 = 0
        ORDER BY o_orderdate, o_orderkey
    """,
    doc="[ext] §2.6: full global sort — executes as a sample-based "
    "rangepartitioning Exchange + per-partition sort, the scalable total "
    "order (contrast with the reference's repartition(1) writes).",
)
def global_sorted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .orderBy("o_orderdate", "o_orderkey")
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("orderdate"),
            _r2(F.col("o_totalprice")).alias("totalprice"),
        )
    )


@register(
    "approx_percentile_order_value",
    oracle="""
        SELECT o_orderpriority,
               round(quantile_disc(o_totalprice, 0.5), 2) AS p50,
               round(quantile_disc(o_totalprice, 0.9), 2) AS p90,
               round(quantile_disc(o_totalprice, 0.99), 2) AS p99
        FROM orders GROUP BY o_orderpriority
    """,
    doc="[ext] sketch-percentile (GK): the 100 TB twin of percentile_order_value — "
    "mergeable partial sketches instead of a full sort-shuffle. accuracy=1e5 makes "
    "it exact at oracle scale (= DuckDB quantile_disc), approximate-by-choice at 100 TB.",
)
def approx_percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 100000).alias("q"))
    )
    return q.select(
        "o_orderpriority",
        _r2(F.col("q")[0]).alias("p50"),
        _r2(F.col("q")[1]).alias("p90"),
        _r2(F.col("q")[2]).alias("p99"),
    )


_SQL_TOP_NATIONS = """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
    GROUP BY n_name
"""


@register(
    "sql_surface_revenue",
    oracle=_SQL_TOP_NATIONS,
    doc="[ext] SURVEY §3: the spark.sql entry surface — the SAME ANSI text runs on "
    "Spark (over register_views temp views) and on the DuckDB oracle; one dialect, "
    "two engines. Catalyst still broadcasts the dims and partial-aggs the revenue.",
)
def sql_surface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_views

    register_views(spark, sf_dir, ("lineitem", "orders", "customer", "nation"))
    return spark.sql(_SQL_TOP_NATIONS)


@register(
    "setop_except_all",
    oracle="""
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        EXCEPT ALL
        SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F' AND l_returnflag = 'R'
              AND l_quantity > 25
    """,
    doc="[ext] §2.7: EXCEPT ALL (bag difference — multiplicities subtract, the "
    "form dedup accounting needs; distinct EXCEPT would erase counts).",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(
        (F.col("l_linestatus") == "F") & (F.col("l_returnflag") == "R") & (F.col("l_quantity") > 25)
    ).select("l_partkey")
    return a.exceptAll(b)


@register(
    "setop_intersect_all",
    oracle="""
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        INTERSECT ALL
        SELECT l_partkey FROM lineitem WHERE l_quantity > 25
    """,
    doc="[ext] §2.7: INTERSECT ALL (bag intersection, min multiplicity).",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(F.col("l_quantity") > 25).select("l_partkey")
    return a.intersectAll(b)


@register(
    "pivot_status_by_priority",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS status_F,
               CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS status_O,
               CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS status_P
        FROM orders GROUP BY o_orderpriority
    """,
    doc="[ext] §2.4/§1.1: Spark-native groupBy().pivot() with EXPLICIT pivot values "
    "(no discovery pass) — replaces the reference's driver-side pandas pivot "
    "(lab2.py:303); one expand+hash-agg at any scale.",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit value list: skips the extra distinct-scan Spark otherwise runs
    # to discover pivot columns — at 100 TB that pass costs a full shuffle
    wide = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
        SELECT l_orderkey, l_partkey, l_suppkey, 'l_quantity' AS measure,
               round(l_quantity, 6) AS value
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_partkey, l_suppkey, 'l_extendedprice',
               round(l_extendedprice, 6)
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_partkey, l_suppkey, 'l_discount',
               round(l_discount, 6)
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_partkey, l_suppkey, 'l_tax', round(l_tax, 6)
        FROM lineitem
    """,
    doc="[ext] §2.7 reshape: wide->long UNPIVOT/melt of the four lineitem "
    "measures (the inverse of groupBy().pivot()) via the native "
    "DataFrame.unpivot operator — oracle stated as the portable UNION ALL "
    "expansion. Spark 4.1's unpivot RETAINS NULL measure values (verified), "
    "so the oracle carries no NULL filter either.",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: unpivot is a map-side Expand (k output rows per input row,
    zero shuffle) — the plan stays a single scan-project stage; never
    implement melt as k self-unions, which would scan the fact k times."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey", "l_partkey", "l_suppkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return long.withColumn("value", F.round("value", 6))


# --------------------------------------------------------------------------
# Statistical aggregates / window analytics / sliding time windows [ext]
# --------------------------------------------------------------------------


@register(
    "corr_stats_by_returnflag",
    oracle="""
        SELECT l_returnflag,
               round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
               round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_price_qty,
               round(stddev_samp(l_quantity), 6) AS std_qty,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="[ext] statistical aggregate family: Pearson correlation, sample "
    "covariance, sample stddev per group — single-pass co-moment "
    "aggregation (partial+final), the distributed form of feature-stats "
    "profiling.",
)
def corr_stats_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: co-moments are algebraic — partials merge exactly like sums,
    so the shuffle carries one small state row per (group, task)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_price_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.count("*").alias("n"),
    )


@register(
    "ntile_customer_quartiles",
    oracle="""
        SELECT c_custkey, c_nationkey,
               CAST(ntile(4) OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey) AS INTEGER)
                   AS balance_quartile
        FROM customer
    """,
    doc="[ext] ntile window ranking: within-nation account-balance quartiles "
    "(deterministic tie-break on the unique key).",
)
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: PARTITIONED ntile — each nation ranks independently in its own
    task. A GLOBAL ntile would serialize into one task; for whole-table
    quantiles at 100 TB use approx-percentile cutpoints (see
    approx_percentile_order_value) or range-partitioned rank instead."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey", "c_nationkey", F.ntile(4).over(w).alias("balance_quartile")
    )


@register(
    "sliding_window_event_counts",
    oracle="""
        WITH slots AS (
            SELECT event_type, value,
                   time_bucket(INTERVAL '15 minutes', ts)
                       - k.k * INTERVAL '15 minutes' AS win_start
            FROM events, (SELECT unnest(range(0, 4)) AS k) k
        )
        SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM slots GROUP BY 1, 2
    """,
    doc="[ext] SLIDING (overlapping) time windows: 1-hour window every 15 "
    "minutes — each event lands in 4 epoch-aligned windows; the batch twin "
    "of streaming hopping-window aggregation (same F.window operator).",
)
def sliding_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the window expand is map-side (4 rows per event before the
    partial agg), so the shuffle moves pre-combined (window, type) partials,
    not the 4x event stream."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), _r4(F.sum("value")).alias("total_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "hourly_rollup_gapfilled",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        counts AS (
            SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT strftime(s.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_bucket,
               t.event_type,
               CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events
        FROM spine s
        CROSS JOIN types t
        LEFT JOIN counts c ON c.hour_ts = s.hour_ts AND c.event_type = t.event_type
    """,
    doc="[ext] time-series GAP FILLING: an hour×type date spine (sequence + "
    "explode) left-joined to the rollup so silent hours surface as explicit "
    "zeros — the shape every downstream time-series consumer (anomaly "
    "detection, charting) needs.",
)
def hourly_rollup_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the spine is hours×types — thousands of rows at any data size
    (it grows with TIME RANGE, not volume), so it broadcasts; the only big
    shuffle is the same partial+final rollup hourly_event_rollup pays."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    counts = ev.groupBy(hour.alias("hour_ts"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    bounds = ev.agg(F.min(hour).alias("lo"), F.max(hour).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_ts")
    )
    types = ev.select("event_type").distinct()
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(counts), ["hour_ts", "event_type"], "left")
        .select(
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )


@register(
    "supplier_part_list",
    oracle="""
        SELECT l_suppkey,
               array_to_string(list_sort(list_distinct(list(CAST(l_partkey AS VARCHAR)))), ',')
                   AS part_list,
               count(DISTINCT l_partkey) AS n_parts
        FROM lineitem GROUP BY l_suppkey
    """,
    doc="A4 [ext] group-to-collection with DETERMINISTIC presentation: "
    "per-supplier sorted part list serialized to a string (collect_set is "
    "partition-order-dependent; sort_array + array_join pins the order, so "
    "even the collection op is oracle-hash-checkable).",
)
def supplier_part_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: collect_set is a hash-agg whose state is the distinct set —
    bounded here by parts-per-supplier (a catalog property, not data
    volume); for unbounded groups prefer the long format and cap with a
    windowed top-k before collecting."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set(F.col("l_partkey").cast("string"))), ","
            ).alias("part_list"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


@register(
    "window_percent_rank",
    oracle="""
        SELECT c_custkey, c_nationkey,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
    """,
    doc="[ext] relative-position window functions: percent_rank + cume_dist "
    "within nation by balance (value-based semantics, so ties resolve "
    "identically on any engine/partitioning).",
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "variant_props_profile",
    oracle="""
        SELECT event_type,
               count(*) FILTER (CAST(json_extract_string(props, '$.k') AS INTEGER) > 50)
                   AS n_high,
               round(avg(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
                         THEN CAST(json_extract_string(props, '$.k') AS DOUBLE) END), 4)
                   AS avg_high_k
        FROM events GROUP BY event_type
    """,
    doc="[ext] §2.8 modern path: semi-structured props through Spark 4 "
    "VariantType (parse_json once -> typed variant_get extractions) instead "
    "of per-field string re-parsing — the open-JSON column format a "
    "training-metadata pipeline stores; conditional aggregation on the "
    "extracted field.",
)
def variant_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: parse_json runs ONCE per row into a binary variant; each
    variant_get is a cheap typed probe (contrast get_json_object, which
    re-parses the string per extraction). For many-field profiles this is
    the difference between 1 and N parses of every payload."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("pv"))
    k_int = F.variant_get("pv", "$.k", "int")
    k_dbl = F.variant_get("pv", "$.k", "double")
    return v.groupBy("event_type").agg(
        F.count(F.when(k_int > 50, 1)).alias("n_high"),
        _r4(F.avg(F.when(k_int > 50, k_dbl))).alias("avg_high_k"),
    )


@register(
    "latest_event_per_user",
    oracle="""
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
               round(value, 4) AS value
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    doc="[ext] CDC/upsert compaction shape: latest event per key via "
    "windowed row_number (deterministic tie-break on event_id) — the "
    "keep-newest dedup every changelog consumer runs.",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: compiles to WindowGroupLimit — each task prunes to its local
    top-1 per key BEFORE the shuffle, so the exchange carries ~|keys| rows,
    not the event stream."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            epoch_micros("ts").alias("ts_us"),
            "event_type",
            _r4(F.col("value")).alias("value"),
        )
    )


@register(
    "docs_above_p95_length",
    oracle="""
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
        WHERE n_chars > (SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.95)
                         FROM documents)
    """,
    doc="[ext] scalar-subquery filter: keep documents above the corpus's own "
    "p95 length — the data-derived-threshold pattern (the cutpoint is "
    "computed, broadcast, and compared in one plan; no hardcoded magic "
    "number).",
)
def docs_above_p95_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the aggregate reduces to ONE row which broadcasts to the
    filter — two passes over the column (one narrow agg, one filtered scan),
    zero shuffles of the corpus itself. At 100 TB swap the exact percentile
    for approx_percentile; here it stays exact so the oracle can match."""
    docs = load_table(spark, sf_dir, "documents")
    cut = docs.agg(
        F.percentile(F.col("n_chars").cast("double"), 0.95).alias("cut")
    )
    return (
        docs.join(F.broadcast(cut))
        .filter(F.col("n_chars") > F.col("cut"))
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    )


@register(
    "window_value_functions",
    oracle="""
        SELECT o_orderkey, o_custkey,
               round(first_value(o_totalprice) OVER w_run, 2)  AS first_price,
               round(last_value(o_totalprice)  OVER w_full, 2) AS last_price,
               round(cume_dist() OVER (PARTITION BY o_orderpriority
                                       ORDER BY o_totalprice), 6) AS price_cume
        FROM orders
        WINDOW w_run  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="[ext] §2.5 window value functions: first_value / last_value (full "
    "frame — the default running frame would make last_value degenerate) and "
    "cume_dist, deterministic via the o_orderkey tiebreak.",
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two window specs share the (o_custkey, o_orderdate) sort; the
    cume_dist spec shuffles once on o_orderpriority. All three functions run
    in the JVM window operator — no per-row state outside the frame."""
    o = load_table(spark, sf_dir, "orders")
    w_run = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w_run.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_cume = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_custkey",
        _r2(F.first("o_totalprice").over(w_run)).alias("first_price"),
        _r2(F.last("o_totalprice").over(w_full)).alias("last_price"),
        F.round(F.cume_dist().over(w_cume), 6).alias("price_cume"),
    )


@register(
    "window_range_7day_spend",
    oracle="""
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY epoch(o_orderdate)
                   RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS spend_7d
        FROM orders
    """,
    doc="[ext] §2.5 RANGE frame over event time: per-customer trailing-7-day "
    "spend — the time-decayed feature shape. RANGE (value-based, ties share a "
    "frame) not ROWS, so same-epoch orders aggregate identically on both engines.",
)
def window_range_7day_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on o_custkey, one sort by epoch; the frame is
    evaluated with a sliding two-pointer inside the JVM window operator —
    O(rows), not O(rows·frame)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-604800, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        _r2(F.sum("o_totalprice").over(w)).alias("spend_7d"),
    )


@register(
    "null_semantics_audit",
    oracle="""
        SELECT c.c_nationkey,
               count(*)                                            AS n_customers,
               count(o.o_orderkey)                                 AS n_with_orders,
               count(*) FILTER (WHERE o.o_orderkey IS NULL)        AS n_orderless,
               count(*) FILTER (WHERE c.c_acctbal IS NOT DISTINCT FROM o.o_totalprice)
                                                                   AS n_nullsafe_eq,
               round(sum(coalesce(o.o_totalprice, 0.0)), 2)        AS total_filled
        FROM customer c
        LEFT JOIN (SELECT o_custkey,
                          min(o_orderkey)  AS o_orderkey,
                          max(o_totalprice) AS o_totalprice
                   FROM orders GROUP BY o_custkey) o
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey
    """,
    doc="[ext] SQL null semantics as a first-class audit: count(col) skips "
    "NULLs while count(*) does not, FILTER aggregates, null-safe equality "
    "(<=> / IS NOT DISTINCT FROM treats NULL=NULL as true), and coalesce "
    "fill — the three-valued-logic corners every engine must agree on.",
)
def null_semantics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the orders side pre-aggregates to one row per customer before
    the join (shuffle moves |customers| rows, not |orders|), then a single
    hash agg per nation."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min("o_orderkey").alias("o_orderkey"),
            F.max("o_totalprice").alias("o_totalprice"),
        )
    )
    joined = c.join(o, c.c_custkey == o.o_custkey, "left")
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.count("o_orderkey").alias("n_with_orders"),
        F.count_if(F.col("o_orderkey").isNull()).alias("n_orderless"),
        F.count_if(F.col("c_acctbal").eqNullSafe(F.col("o_totalprice"))).alias(
            "n_nullsafe_eq"
        ),
        _r2(F.sum(F.coalesce("o_totalprice", F.lit(0.0)))).alias("total_filled"),
    )


@register(
    "disjunctive_filter_revenue",
    oracle="""
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE (l_quantity BETWEEN 1 AND 11 AND l_discount >= 0.05 AND l_returnflag = 'R')
           OR (l_quantity BETWEEN 20 AND 30 AND l_discount <= 0.03 AND l_linestatus = 'F')
           OR (l_quantity >= 45 AND l_tax > 0.06)
    """,
    doc="[ext] TPC-H Q19 shape: an OR-of-AND-clauses predicate — the case "
    "where naive engines give up on pushdown. Catalyst pushes the full "
    "disjunction to the parquet scan (Or(And(...),...) in PushedFilters) and "
    "row groups outside every branch's min/max never decompress.",
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: single scan + single-row aggregate; the whole cost model is
    how much of the scan the pushed disjunction skips."""
    li = load_table(spark, sf_dir, "lineitem")
    q, d = F.col("l_quantity"), F.col("l_discount")
    branch1 = q.between(1, 11) & (d >= 0.05) & (F.col("l_returnflag") == "R")
    branch2 = q.between(20, 30) & (d <= 0.03) & (F.col("l_linestatus") == "F")
    branch3 = (q >= 45) & (F.col("l_tax") > 0.06)
    return (
        li.filter(branch1 | branch2 | branch3)
        .agg(
            _r2(F.sum(F.col("l_extendedprice") * (1 - d))).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "interval_join_click_purchase",
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS micros_to_purchase
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    doc="[ext] time-interval self-join: every purchase within 30 minutes "
    "after a click by the same user — the attribution-window join (as-of "
    "keeps only the nearest; the interval form keeps ALL pairs in the band).",
)
def interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: an equi-join on user_id with the time band as a post-join
    predicate — hash-partitioned by user, never a cross product. Streaming
    twin: the same plan shape is Spark's stream-stream interval join, with
    the band bounding watermark state."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            micros_between("click_ts", "purchase_ts").alias("micros_to_purchase"),
        )
    )


@register(
    "profile_orders_columns",
    oracle="""
        SELECT 'o_orderkey' AS col_name, count(*) - count(o_orderkey) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct,
               round(min(o_orderkey), 4) AS min_num, round(max(o_orderkey), 4) AS max_num
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*) - count(o_custkey), count(DISTINCT o_custkey),
               round(min(o_custkey), 4), round(max(o_custkey), 4) FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*) - count(o_totalprice), count(DISTINCT o_totalprice),
               round(min(o_totalprice), 4), round(max(o_totalprice), 4) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
               NULL, NULL FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority),
               NULL, NULL FROM orders
    """,
    doc="[ext] column profiling (the describe/summary utility): null count, "
    "exact distinct count, numeric min/max per column in ONE pass — the "
    "pre-ingest audit a data pipeline runs before accepting a drop.",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a single multi-aggregate pass; the exact distincts expand the
    aggregate (one shuffle per distinct domain) — Spark's expand operator
    handles this without rescanning the input. At 100 TB swap exact distinct
    for approx_count_distinct per the approx_distinct_parts pattern."""
    o = load_table(spark, sf_dir, "orders")
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    aggs = []
    for col in ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"):
        aggs += [
            (F.count("*") - F.count(col)).alias(f"{col}__nulls"),
            F.count_distinct(F.col(col)).alias(f"{col}__distinct"),
        ]
        if col in numeric:
            aggs += [
                F.round(F.min(col).cast("double"), 4).alias(f"{col}__min"),
                F.round(F.max(col).cast("double"), 4).alias(f"{col}__max"),
            ]
    wide = o.agg(*aggs)
    parts = []
    for col in ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"):
        min_c = (
            F.col(f"{col}__min") if col in numeric else F.lit(None).cast("double")
        )
        max_c = (
            F.col(f"{col}__max") if col in numeric else F.lit(None).cast("double")
        )
        parts.append(
            wide.select(
                F.lit(col).alias("col_name"),
                F.col(f"{col}__nulls").alias("n_nulls"),
                F.col(f"{col}__distinct").alias("n_distinct"),
                min_c.alias("min_num"),
                max_c.alias("max_num"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "dq_violations_lineitem",
    oracle="""
        WITH t AS (SELECT count(*) AS n FROM lineitem)
        SELECT 'discount_gt_8pct' AS rule,
               count(*) FILTER (WHERE l_discount > 0.08) AS n_bad,
               round(count(*) FILTER (WHERE l_discount > 0.08) * 100.0 / max(t.n), 4) AS pct_bad
        FROM lineitem, t
        UNION ALL
        SELECT 'tax_gt_7pct', count(*) FILTER (WHERE l_tax > 0.07),
               round(count(*) FILTER (WHERE l_tax > 0.07) * 100.0 / max(t.n), 4)
        FROM lineitem, t
        UNION ALL
        SELECT 'qty_out_of_range', count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50),
               round(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) * 100.0 / max(t.n), 4)
        FROM lineitem, t
        UNION ALL
        SELECT 'negative_price', count(*) FILTER (WHERE l_extendedprice <= 0),
               round(count(*) FILTER (WHERE l_extendedprice <= 0) * 100.0 / max(t.n), 4)
        FROM lineitem, t
    """,
    doc="[ext] data-quality expectation gate: declared rules evaluated as "
    "FILTER aggregates in one pass, emitting violation counts + rates — the "
    "accept/reject audit before a training-data drop is admitted (zero rows "
    "for a rule is the healthy state, and the gate proves it).",
)
def dq_violations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one scan, all rules as conditional aggregates — adding a rule
    adds a column, not a pass."""
    li = load_table(spark, sf_dir, "lineitem")
    rules = {
        "discount_gt_8pct": F.col("l_discount") > 0.08,
        "tax_gt_7pct": F.col("l_tax") > 0.07,
        "qty_out_of_range": (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        "negative_price": F.col("l_extendedprice") <= 0,
    }
    aggs = [F.count("*").alias("__n")]
    for name, cond in rules.items():
        aggs.append(F.count_if(cond).alias(name))
    wide = li.agg(*aggs)
    parts = [
        wide.select(
            F.lit(name).alias("rule"),
            F.col(name).alias("n_bad"),
            # try_divide: zero-row input yields NULL pct (ANSI division
            # would throw); non-empty behavior identical
            F.round(F.try_divide(F.col(name) * 100.0, F.col("__n")), 4).alias("pct_bad"),
        )
        for name in rules
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------------------------
# TPC-H-shape analytic analogs ([ext]) — adapted to the fixture's columns
# (no l_shipmode/p_type-prefix variants; plain p_type values, same plans)
# --------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="[ext] TPC-H Q6 shape: highly selective conjunctive scan -> single "
    "global aggregate. The canonical predicate-pushdown showcase.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: every predicate reaches the parquet scan (PushedFilters:
    shipdate range + discount range + quantity bound), so row groups whose
    min/max stats miss the window never decompress. The aggregate is a
    partial+final pair over ~2% of rows — driver receives one row."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "q14_promo_revenue_share",
    oracle="""
        SELECT round(
                 100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1996-07-01'
    """,
    doc="[ext] TPC-H Q14 shape: fact-dim join + conditional-aggregate ratio "
    "(share of promo revenue in a shipping window).",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: part is the dimension side — broadcast it so the fact table
    never shuffles; the date filter pushes to the lineitem scan first. The
    ratio is two conditional sums in ONE aggregate pass, not two jobs."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            _r4(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", net).otherwise(F.lit(0)))
                / F.sum(net)
            ).alias("promo_pct")
        )
    )


@register(
    "q18_large_volume_orders",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               o.o_totalprice, round(t.total_qty, 2) AS total_qty
        FROM orders o
        JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 250) t
          ON t.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="[ext] TPC-H Q18 shape: group-filter on the fact (orders whose "
    "line quantities total > 250), joined back to order + customer detail.",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the HAVING aggregate runs partial+final on l_orderkey FIRST,
    shrinking the fact to the ~1% qualifying orders; the survivors then
    broadcast against orders/customer. Never joins the raw fact twice."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        orders.join(F.broadcast(big), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_name")), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            _r2(F.col("total_qty")).alias("total_qty"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H analogs (second batch): Q7 / Q8 / Q10 / Q13 / Q22 shapes
# --------------------------------------------------------------------------


@register(
    "q7_nation_trade_volume",
    oracle="""
        SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE) AS volume
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
    doc="[ext] TPC-H Q7 analog: cross-border trade volume per (customer "
    "nation, supplier nation, ship year) — the nation-pair matrix behind "
    "the PageRank graph, with the time dimension kept.",
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one fact⋈fact shuffle (lineitem⋈orders); every dimension
    broadcasts; the (nation, nation, year) agg output is tiny."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.c_nk)
        .join(F.broadcast(n2), s.s_nationkey == n2.s_nk)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        # decimal summation: big-group cent sums must not depend on float
        # accumulation order (the oracle does the same)
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2
            )
            .cast("double")
            .alias("volume")
        )
    )


@register(
    "q8_market_share",
    oracle="""
        WITH vol AS (
            SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
                   n2.n_name AS supp_nation,
                   l.l_extendedprice * (1 - l.l_discount) AS v
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
            JOIN region r ON n1.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
            WHERE r.r_name = 'EUROPE'
        )
        SELECT order_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                              THEN CAST(v AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share
        FROM vol GROUP BY order_year
    """,
    doc="[ext] TPC-H Q8 analog: NATION_3 suppliers' share of revenue from "
    "EUROPE customers per order year — conditional-sum ratio inside one "
    "aggregation, no second pass for the denominator.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    v = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", v.cast("decimal(18,4)"))
                    .otherwise(F.lit(0).cast("decimal(18,4)"))
                ).cast("double")
                / F.sum(v.cast("decimal(18,4)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q10_returned_item_revenue",
    oracle="""
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    doc="[ext] TPC-H Q10 analog: top-20 customers by revenue lost to "
    "returned items — returnflag pushdown, broadcast dims, "
    "TakeOrderedAndProject for the global top-k.",
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # decimal summation: the top-20 cut must not move with float order
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey)
        GROUP BY c_count
    """,
    doc="[ext] TPC-H Q13 analog: distribution of customers by order count "
    "(zero-order customers included via the left join) — the "
    "two-level aggregation shape.",
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the first agg keys on c_custkey (the join key — partitioning
    reused, no second exchange for the count); the second agg's domain is
    tiny (distinct order counts)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q22_dormant_rich_customers",
    oracle="""
        WITH avg_bal AS (
            SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_nationkey, count(*) AS n_customers,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.a
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c.c_nationkey
    """,
    doc="[ext] TPC-H Q22 analog: above-average-balance customers who never "
    "ordered, per nation — uncorrelated scalar subquery + NOT EXISTS "
    "anti-join in one query.",
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the scalar average broadcasts as a 1-row relation; the NOT
    EXISTS compiles to a left-anti against the orders custkey projection."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("a"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
    )


@register(
    "string_function_battery",
    oracle="""
        SELECT p_partkey,
               lpad(p_brand, 12, '*') AS brand_padded,
               rpad(p_type, 20, '.') AS type_padded,
               reverse(p_name) AS name_rev,
               left(p_name, 3) AS name_l3,
               right(p_name, 3) AS name_r3,
               translate(p_brand, '#', 'N') AS brand_tr,
               split_part(p_type, ' ', 1) AS type_head,
               strpos(p_name, 'a') AS first_a,
               replace(p_type, ' ', '_') AS type_snake,
               md5(p_name) AS name_md5,
               ascii(p_name) AS name_ascii0,
               repeat(left(p_brand, 1), 3) AS brand_echo
        FROM part
    """,
    doc="[ext] §2.8 scalar string-function battery over part names: "
    "lpad/rpad/reverse/left/right/translate/split_part/strpos/replace/"
    "md5/ascii/repeat — one projection, identical text semantics checked "
    "bit-for-bit across engines.",
)
def string_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a pure narrow projection inside whole-stage codegen — the
    entire battery costs one scan, zero shuffles."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.rpad("p_type", 20, ".").alias("type_padded"),
        F.reverse("p_name").alias("name_rev"),
        F.expr("left(p_name, 3)").alias("name_l3"),
        F.expr("right(p_name, 3)").alias("name_r3"),
        F.translate("p_brand", "#", "N").alias("brand_tr"),
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_head"),
        F.expr("position('a' IN p_name)").cast("long").alias("first_a"),
        F.replace("p_type", F.lit(" "), F.lit("_")).alias("type_snake"),
        F.md5("p_name").alias("name_md5"),
        F.ascii("p_name").alias("name_ascii0"),
        F.repeat(F.expr("left(p_brand, 1)"), 3).alias("brand_echo"),
    )


@register(
    "asof_join_cogroup",
    # identical contract to asof_join_purchase_click -> identical oracle text
    oracle="""
        SELECT p.event_id,
               p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="[ext] §2.10 COGROUP surface: the same as-of join computed with "
    "cogroup().applyInPandas + pandas merge_asof per user — the two-sided "
    "Arrow grouped-map API, oracle-checked against DuckDB ASOF and "
    "extensionally equal to the union+window formulation.",
)
def asof_join_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle per side on user_id (the cogroup key); each user's
    two frames meet in ONE Arrow batch pair and merge_asof is O(n+m) on the
    pre-sorted groups. The union+window form (asof_join_purchase_click)
    stays JVM-side and is preferred; this query pins the cogroup plumbing
    against the same oracle so per-key two-sided Python logic that ISN'T
    window-expressible has a checked template."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")

    fmt = "%Y-%m-%d %H:%M:%S"

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        # Catalyst's ColumnPruning reaches THROUGH FlatMapCoGroupsInPandas:
        # when the query consumes only a subset of the UDF's output columns
        # (df.count() consumes none), input columns are dropped from the
        # Arrow batches even though the function references them — the frame
        # arrives with fewer (possibly zero) columns. Safe to stub them:
        # merge_asof is 1:1 with the left side, so row count (all a pruned
        # consumer can observe) is invariant to the stubbed values.
        for col in ("event_id", "user_id"):
            if col not in l.columns:
                l[col] = pd.Series(pd.NA, index=l.index, dtype="Int64")
        if "ts" not in l.columns:
            l["ts"] = pd.Series(pd.NaT, index=l.index, dtype="datetime64[us]")
        if len(l) == 0:
            return pd.DataFrame(
                columns=["event_id", "user_id", "purchase_ts", "last_click_ts"]
            )
        l = l.sort_values("ts", kind="mergesort")
        if "ts" not in r.columns or len(r) == 0:
            # Also the purchases-with-zero-clicks cogroup key: Spark hands
            # the absent side over as a zero-column frame. Empty typed c_ts
            # sends every purchase down the merge_asof miss path (NULL).
            r = pd.DataFrame({"c_ts": pd.Series([], dtype=l["ts"].dtype)})
        else:
            r = (
                r[["ts"]]
                .rename(columns={"ts": "c_ts"})
                .sort_values("c_ts", kind="mergesort")
            )
        m = pd.merge_asof(l, r, left_on="ts", right_on="c_ts", direction="backward")
        out = pd.DataFrame(
            {
                "event_id": m["event_id"],
                "user_id": m["user_id"],
                "purchase_ts": m["ts"].dt.strftime(fmt),
                "last_click_ts": m["c_ts"].dt.strftime(fmt).astype(object),
            }
        )
        out["last_click_ts"] = out["last_click_ts"].where(
            out["last_click_ts"].notna(), None
        )
        return out

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            merge,
            "event_id long, user_id long, purchase_ts string, last_click_ts string",
        )
    )


@register(
    "skyline_price_size_parts",
    oracle="""
        WITH pts AS (
            SELECT p_partkey,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
                   CAST(p_size AS BIGINT) AS size
            FROM part
        ),
        ctx AS (
            SELECT p_partkey, cents, size,
                   max(size) OVER (ORDER BY cents
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS best_lower,
                   max(size) OVER (PARTITION BY cents) AS best_same
            FROM pts
        )
        SELECT p_partkey,
               round(cents / 100.0, 2) AS price,
               size
        FROM ctx
        WHERE size = best_same AND size > coalesce(best_lower, -1)
    """,
    doc="[ext] 2-D skyline (Pareto front): parts no other part beats on "
    "BOTH cheaper price and larger size — computed with one sort and two "
    "windows (running max over strictly-lower prices via a RANGE frame "
    "on exact cents, plus a same-price max), never the quadratic "
    "dominance self-join.",
)
def skyline_price_size_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the classic skyline needs no all-pairs in 2-D — sort by one
    dimension and carry the running max of the other. The carry is now
    SEGMENTED (graduated from the single global sort per the r3 verdict):
    price-percentile buckets give each row a grid cell; bucket order is
    strictly price order (equal cents always share a bucket), so
    best-lower = max(within-bucket running max over strictly-lower cents,
    exclusive running max of per-bucket maxima — a window over the <=B-row
    bucket-max relation, broadcast back). This is the grid-partitioned
    local-skyline + carry merge, exact by construction."""
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    bounds = percentile_bounds(pts, "cents", 32)
    pts = pts.withColumn("bkt", bucket_of("cents", bounds))
    # exclusive running max over the <=B bucket maxima: driver arithmetic
    # on a collected bounded relation, broadcast back (zero window nodes)
    bm_rows = sorted(
        (r["bkt"], r["bm"])
        for r in pts.groupBy("bkt").agg(F.max("size").alias("bm")).collect()
    )
    carry_rows, best = [], None
    for bkt, bm in bm_rows:
        carry_rows.append((bkt, best))
        best = bm if best is None else max(best, bm)
    carry = local_relation(spark, carry_rows, "bkt int, carry_max long")
    w_lower = W.partitionBy("bkt").orderBy("cents").rangeBetween(
        W.unboundedPreceding, -1
    )
    w_same = W.partitionBy("cents")
    ctx = pts.join(F.broadcast(carry), "bkt").select(
        "p_partkey",
        "cents",
        "size",
        F.greatest(
            F.coalesce(F.max("size").over(w_lower), F.lit(-1)),
            F.coalesce("carry_max", F.lit(-1)),
        ).alias("best_lower"),
        F.max("size").over(w_same).alias("best_same"),
    )
    return (
        ctx.filter(
            (F.col("size") == F.col("best_same"))
            & (F.col("size") > F.col("best_lower"))
        )
        .select(
            "p_partkey",
            F.round(F.col("cents") / 100.0, 2).alias("price"),
            "size",
        )
    )
