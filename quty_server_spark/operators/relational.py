"""Relational operator surface (SURVEY.md §2.C rows 1–9).

Pure Catalyst-planned DataFrame queries over the TPC-H-ish star schema plus
``events``. Design rules for 100 TB scale:

- dimension joins (region/nation/customer/supplier/part) are explicitly
  ``broadcast()`` — these stay small relative to the fact tables, so the
  join is a map-side hash join with zero shuffle of the fact side;
- aggregations are expressed so partial (map-side) aggregation applies;
- filters are plain column predicates → parquet pushdown + column pruning;
- every ordering used by a window/limit carries a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from quty_server_spark.operators._helpers import DEC, davg, dsum, load_table, oavg, osum
from quty_server_spark.plans.registry import registry
from quty_server_spark.session import session_memo

# ---------------------------------------------------------------------------
# Flagship: delivery report over the message stream (events).
# Mirrors the reference's data plane summarized per channel: the channel key
# is `event_type` (SURVEY §1.1 "Channel"), the subscriber is `user_id`.
# ---------------------------------------------------------------------------


@registry.query(
    "flagship_delivery_report",
    oracle=f"""
    SELECT event_type AS channel,
           COUNT(*) AS msg_count,
           COUNT(DISTINCT user_id) AS subscriber_count,
           {osum('value')} AS total_value,
           {oavg('value')} AS avg_value,
           CAST(SUM(CAST(props ->> '$.k' AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    WHERE value > 0
    GROUP BY event_type
    """,
)
def flagship_delivery_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel delivery report: scan→filter→project→agg.

    Spark-first restatement of the reference's routing ledger
    (lib/ChannelHub.js:241-279 fan-out counts per channel).
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("value") > 0)
        .withColumn("k", F.get_json_object("props", "$.k").cast("int").cast("bigint"))
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count("*").alias("msg_count"),
            F.countDistinct("user_id").alias("subscriber_count"),
            dsum("value").alias("total_value"),
            davg("value").alias("avg_value"),
            F.sum("k").alias("sum_k"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H-style analytics
# ---------------------------------------------------------------------------


@registry.query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {osum('l_quantity')} AS sum_qty,
           {osum('l_extendedprice')} AS sum_base_price,
           {osum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {osum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {oavg('l_quantity')} AS avg_qty,
           {oavg('l_extendedprice')} AS avg_price,
           {oavg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: full-scan aggregate with computed measures.

    Note: l_extendedprice*(1-l_discount) is computed in double (both engines
    do IEEE-identical multiplication) then summed exactly as decimal.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@registry.query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o.o_orderkey,
           {osum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-N.

    customer is broadcast (small dim); lineitem⋈orders shuffles on the
    join key only after pushdown-pruned scans.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@registry.query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {osum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join with local-supplier condition."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Join variants
# ---------------------------------------------------------------------------


@registry.query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 400000
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@registry.query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_totalprice > 450000
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with a join-side predicate (kept on the ON clause so
    non-matching customers survive with NULLs)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 450000)
    return c.join(o, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@registry.query(
    "join_right_outer",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_nationkey, n.n_name
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select(
        "s_suppkey", "s_name", "n_nationkey", "n_name"
    )


@registry.query(
    "join_full_outer",
    oracle="""
    WITH sup_n AS (SELECT DISTINCT s_nationkey FROM supplier),
         cus_n AS (SELECT DISTINCT c_nationkey FROM customer
                   WHERE c_acctbal > 9000)
    SELECT s.s_nationkey, c.c_nationkey
    FROM sup_n s FULL JOIN cus_n c ON s.s_nationkey = c.c_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select("s_nationkey").distinct()
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_nationkey")
        .distinct()
    )
    return s.join(c, s.s_nationkey == c.c_nationkey, "full").select(
        "s_nationkey", "c_nationkey"
    )


@registry.query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 420000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join — the reference's membership test (`isNodeSubscribed`,
    lib/ChannelHub.js:91-101) expressed relationally."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 420000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@registry.query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — the broadcast-fallback predicate of the routing core
    (`sendMessage` flood branch, lib/ChannelHub.js:262-266)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@registry.query(
    "join_cross",
    oracle="""
    SELECT r.r_name, s.s_suppkey FROM region r CROSS JOIN supplier s
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join — the reference's flood broadcast (`QutyCluster.broadcast`,
    lib/QutyCluster.js:88-102): every message × every node."""
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    return r.crossJoin(broadcast(s)).select("r_name", "s_suppkey")


@registry.query(
    "join_range_nonequi",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_close, MIN(c.c_custkey) AS min_cust
    FROM supplier s
    JOIN customer c ON c.c_acctbal BETWEEN s.s_acctbal - 50 AND s.s_acctbal + 50
    GROUP BY s.s_suppkey
    """,
)
def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: customers within ±50 acctbal of each supplier.

    Broadcast-nested-loop with the SMALL side broadcast — at scale the
    range side would be bucketized (band join); here supplier is tiny.
    """
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cond = (c.c_acctbal >= s.s_acctbal - 50) & (c.c_acctbal <= s.s_acctbal + 50)
    return (
        c.join(broadcast(s), cond)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_close"), F.min("c_custkey").alias("min_cust"))
    )


@registry.query(
    "join_asof",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_type = 'purchase'),
    clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.value,
           epoch_us(c.ts) AS last_click_us
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent prior-or-equal click
    by the same user. Implemented shuffle-once: union both sides, one
    window pass per user ordered by time (`last(click_ts) IGNORE NULLS`),
    instead of a per-row subquery. Scales as a single sort within user
    partitions — no nested-loop, no skew beyond the user key itself.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("is_p")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_p"),
    )
    # At equal ts the click must sort BEFORE the purchase (>= semantics).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = purchases.unionByName(clicks).withColumn(
        "click_ts",
        F.last(F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return unioned.filter(F.col("is_p") == 1).select(
        "event_id",
        "user_id",
        "value",
        F.unix_micros("click_ts").alias("last_click_us"),
    )


@registry.query(
    "join_range_banded",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_close, MIN(c.c_custkey) AS min_cust
    FROM supplier s
    JOIN customer c ON c.c_acctbal BETWEEN s.s_acctbal - 50 AND s.s_acctbal + 50
    GROUP BY s.s_suppkey
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same ±50 range join as join_range_nonequi, restated as the
    100 TB band join: both sides bucket acctbal into width-50 bands —
    the supplier's ±50 window spans at most 3 consecutive bands, exploded
    into candidate rows — so the join is an EQUI-join on band (hash/SMJ,
    shuffle-partitionable) followed by the exact range filter, instead of
    a broadcast-nested-loop compare of every pair. Identical answer
    (same oracle as join_range_nonequi); the plan is the one that
    survives when NEITHER side fits in a broadcast. Candidate blowup is
    bounded at 3× the small side; band width tunes selectivity-vs-fanout
    exactly like LSH band tuning."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cb = c.withColumn("band", F.floor(F.col("c_acctbal") / 50).cast("long"))
    sb = s.select(
        "s_suppkey",
        "s_acctbal",
        F.explode(
            F.sequence(
                F.floor((F.col("s_acctbal") - 50) / 50).cast("long"),
                F.floor((F.col("s_acctbal") + 50) / 50).cast("long"),
            )
        ).alias("band"),
    )
    return (
        cb.join(sb, "band")
        .filter(
            (F.col("c_acctbal") >= F.col("s_acctbal") - 50)
            & (F.col("c_acctbal") <= F.col("s_acctbal") + 50)
        )
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_close"), F.min("c_custkey").alias("min_cust"))
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@registry.query(
    "agg_basic",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {osum('o_totalprice')} AS total,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           {oavg('o_totalprice')} AS avg_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        davg("o_totalprice").alias("avg_price"),
    )


@registry.query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("*").alias("n_rows"),
    )


@registry.query(
    "agg_stats",
    oracle="""
    SELECT l_linestatus,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
           ROUND(VAR_SAMP(l_discount), 8) AS var_disc,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates, rounded to absorb float-order noise."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 8).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


@registry.query(
    "agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`). The approximate-sketch variant is
    `agg_approx_distinct` (rows-only)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
    )


@registry.query(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS parts_within_5pct,
           TRUE AS orders_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the scale path for
    count-distinct at 100 TB (no exact-distinct shuffle explosion).

    The sketch estimate is engine-specific, so the oracle contract is a
    BOUND, not a value: the query emits the exact counts plus booleans
    asserting the 2%-rsd HLL landed within 5% (>2 sigma) of exact; the
    oracle emits the exact counts and TRUE. An HLL regression past the
    bound flips a boolean and fails the hash compare — upgrading this
    from a rows-only check to a value-checked query. (The exact
    countDistinct here is the verification harness, not the scale path.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Aggregate before you shuffle: the exact and the
    # HLL aggregates are computed in SEPARATE passes and joined on the
    # 3-row group key. Mixed distinct + non-distinct aggregates make
    # Spark's first-phase groups PER DISTINCT VALUE (expand → group by
    # (flag, gid, partkey, orderkey)), so every one of the ~350k
    # value-groups allocated its own pair of HLL sketch buffers —
    # measured 5.2 s for the mixed plan vs 1.0 s + 0.7 s for the two
    # clean passes (each map-side combined, 3-row outputs, broadcast
    # join). Values identical.
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("ao"),
    )
    agg = exact.join(F.broadcast(approx), "l_returnflag")
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= F.lit(0.05)
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        within("ap", "exact_parts").alias("parts_within_5pct"),
        within("ao", "exact_orders").alias("orders_within_5pct"),
    )


@registry.query(
    "agg_sketch_mergeable",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS est_merged,
           COUNT(DISTINCT user_id) AS est_direct,
           COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days
    FROM events
    GROUP BY event_type
    """,
)
def agg_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct sketches (Apache DataSketches HLL): build one
    sketch per (event_type, day), UNION the daily sketches, estimate —
    the incremental-rollup pattern that lets a 100 TB pipeline maintain
    distinct counts without ever re-scanning raw data (sketches are tiny,
    reaggregable state; re-sketching the whole column must give the same
    answer, which the query emits side by side).

    The oracle compares both estimates against exact distincts: sound
    here because DataSketches HLL is EXACT in sparse mode, and fixture
    user cardinality (~150-1500) never leaves sparse mode at lgK=14
    (2^14 buckets). The mergeability law (union-of-days == direct) is
    additionally pinned in pytest, independent of cardinality.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.withColumn("d", F.col("ts").cast("date"))
        .groupBy("event_type", "d")
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_merged"),
        F.count("*").alias("n_days"),
    )
    direct = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias(
            "est_direct"
        )
    )
    return merged.join(direct, "event_type").select(
        "event_type", "est_merged", "est_direct", "n_days"
    )


@registry.query(
    "agg_rollup",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {osum('c.c_acctbal')} AS total_bal,
           COUNT(*) AS n_cust
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(dsum("c_acctbal").alias("total_bal"), F.count("*").alias("n_cust"))
    )


@registry.query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, {osum('o_totalprice')} AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("total")
    )


@registry.query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {osum('l_quantity')} AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@registry.query(
    "window_row_number_topk",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
    WHERE rn <= 3
    """,
)
def window_row_number_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the scalable top-k pattern (no
    global sort; rank inside each group's partition)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@registry.query(
    "window_rank_dense_ntile",
    oracle="""
    SELECT c_custkey, c_nationkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    """,
)
def window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    wt = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(wt).alias("quartile"),
    )


@registry.query(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           epoch_us(CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER w) AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "us_since_prev"
        ),
    )


@registry.query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@registry.query(
    "window_moving_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6)))
                OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS moving_avg
    FROM events
    """,
)
def window_moving_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame moving average (3-row window per user)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
            / F.count("value").over(w)
        ).alias("moving_avg"),
    )


@registry.query(
    "join_null_safe",
    oracle="""
    WITH l AS (SELECT event_id,
                      NULLIF(CAST(json_extract_string(props, '$.k') AS INT) % 5, 0)
                          AS bucket
               FROM events WHERE event_type = 'click'),
    d AS (SELECT NULLIF(CAST(json_extract_string(props, '$.k') AS INT) % 5, 0)
                     AS bucket,
                 COUNT(*) AS n_purchases
          FROM events WHERE event_type = 'purchase'
          GROUP BY NULLIF(CAST(json_extract_string(props, '$.k') AS INT) % 5, 0))
    SELECT l.bucket, COUNT(*) AS n_clicks, MAX(d.n_purchases) AS n_purchases
    FROM l JOIN d ON l.bucket IS NOT DISTINCT FROM d.bucket
    GROUP BY l.bucket
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): click and
    purchase events bucketed by a JSON property with bucket 0 mapped to
    NULL — the null-safe operator makes NULL a real join key (a plain
    equi-join would silently drop that group). Spark plans eqNullSafe as
    a hash join on a null-tolerant key, so it broadcasts and shuffles
    exactly like `=` — no nested-loop penalty at scale."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 5, F.lit(0)
    ).alias("bucket")
    l = ev.filter(F.col("event_type") == "click").select("event_id", bucket)
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .select(bucket)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_purchases"))
    )
    return (
        l.join(broadcast(d), l["bucket"].eqNullSafe(d["bucket"]))
        .groupBy(l["bucket"])
        .agg(F.count("*").alias("n_clicks"), F.max("n_purchases").alias("n_purchases"))
    )


@registry.query(
    "window_value_fns",
    oracle="""
    SELECT event_id, user_id,
           first_value(value) OVER w_full AS first_val,
           last_value(value) OVER w_full AS last_val,
           nth_value(value, 2) OVER w_full AS second_val,
           percent_rank() OVER w_run AS pct_rank,
           cume_dist() OVER w_run AS cume
    FROM events
    WINDOW w_full AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           w_run AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def window_value_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value/distribution functions: first/last/nth over the full
    partition frame plus percent_rank/cume_dist on the running frame.
    One shuffle by user_id serves all five functions (same partitioning,
    same sort — Spark evaluates them in a single Window node). The
    distribution functions are exact rank ratios, so they hash-match the
    oracle bit-for-bit. Ordering carries event_id as unique tiebreaker."""
    ev = load_table(spark, sf_dir, "events")
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w_full).alias("first_val"),
        F.last("value").over(w_full).alias("last_val"),
        F.nth_value("value", 2).over(w_full).alias("second_val"),
        F.percent_rank().over(w_run).alias("pct_rank"),
        F.cume_dist().over(w_run).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops / distinct
# ---------------------------------------------------------------------------


@registry.query(
    "sort_limit_topn",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 25
    """,
)
def sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N — Spark plans TakeOrderedAndProject (per-partition
    top-N + merge), never a full sort at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(25)
    )


@registry.query(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union+distinct — the reference's channel catalog
    (`get channels()`, lib/ChannelHub.js:32-51)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@registry.query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@registry.query(
    "set_except",
    oracle="""
    SELECT c_custkey AS memberkey FROM customer
    EXCEPT
    SELECT s_suppkey AS memberkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference with distinct) — custkey and suppkey ranges
    overlap, so the subtraction is non-trivial."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("memberkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("memberkey"))
    return c.subtract(s)


@registry.query(
    "distinct_projection",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# Scalar function batteries
# ---------------------------------------------------------------------------


@registry.query(
    "scalar_strings",
    oracle="""
    SELECT p_partkey,
           LOWER(p_name) AS lname,
           UPPER(p_brand) AS ubrand,
           SUBSTR(p_type, 1, 5) AS type5,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_name, ' ', '_') AS snake,
           SPLIT_PART(p_type, ' ', 1) AS first_word,
           TRIM(LPAD(p_brand, 12, '*')) AS padded,
           REGEXP_EXTRACT(p_name, '[0-9]+') AS first_num,
           CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a,
           STARTS_WITH(p_type, 'S') AS starts_s
    FROM part
    """,
)
def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("snake"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.trim(F.lpad("p_brand", 12, "*")).alias("padded"),
        F.regexp_extract("p_name", "[0-9]+", 0).alias("first_num"),
        F.when(F.col("p_name").like("%a%"), 1).otherwise(0).alias("has_a"),
        F.col("p_type").startswith("S").alias("starts_s"),
    )


@registry.query(
    "scalar_dates",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(YEAR FROM o_orderdate) AS yr,
           EXTRACT(MONTH FROM o_orderdate) AS mo,
           EXTRACT(DAY FROM o_orderdate) AS dy,
           EXTRACT(QUARTER FROM o_orderdate) AS qtr,
           dayofweek(o_orderdate) + 1 AS dow,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    """,
)
def scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date battery. Conventions aligned explicitly: Spark dayofweek is
    1=Sunday, DuckDB dayofweek is 0=Sunday → oracle adds 1."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dy"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_y2k"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
    )


@registry.query(
    "scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS abs_d,
           CAST(CEIL(l_extendedprice) AS DOUBLE) AS ceil_p,
           CAST(FLOOR(l_extendedprice) AS DOUBLE) AS floor_p,
           FLOOR((CAST(ROUND(l_extendedprice * 100) AS BIGINT) + 50) / 100.0) / 100.0
               AS hundredths,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod7,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS sgn,
           ROUND(SQRT(l_extendedprice), 6) AS sqrt_p,
           l_quantity * l_quantity AS qty_sq,
           GREATEST(l_tax, l_discount) AS max_rate,
           LEAST(l_tax, l_discount) AS min_rate
    FROM lineitem
    """,
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery. ``hundredths`` (round-half-up of price/100 to 2
    decimals) is computed in integer cents — Spark's ROUND(double) rounds
    the decimal string (half-up) while DuckDB rounds the binary value, so
    exact-half inputs diverge; integer math sidesteps the ambiguity."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        F.ceil("l_extendedprice").cast("double").alias("ceil_p"),
        F.floor("l_extendedprice").cast("double").alias("floor_p"),
        (F.floor((cents + 50) / 100.0) / 100.0).alias("hundredths"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("sgn"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_p"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@registry.query(
    "scalar_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props ->> '$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(CASE WHEN CAST(props ->> '$.k' AS INTEGER) > 50 THEN 1 END) AS n_high,
           MIN(CAST(props ->> '$.k' AS INTEGER)) AS min_k,
           MAX(CAST(props ->> '$.k' AS INTEGER)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload access — the reference's schemaless JSON
    payload (lib/util.js:234-241) queried lazily via get_json_object."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k.cast("bigint")).alias("sum_k"),
        F.count(F.when(k > 50, 1)).alias("n_high"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@registry.query(
    "scalar_maps",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_sort(list_distinct(string_split(text, ' '))) AS d
               FROM documents)
    SELECT doc_id,
           len(d) AS n_entries,
           LENGTH(d[1]) AS first_key_len,
           len(list_filter(d, w -> LENGTH(w) > 5)) AS n_long_entries,
           len(d) + 1 AS n_after_concat
    FROM t
    """,
)
def scalar_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type battery: build a token->length map per document
    (map_from_arrays), then size / element_at / map_filter / map_concat.
    The oracle computes the same VALUES from the underlying list (DuckDB's
    MAP functions differ enough that the list form is the portable twin);
    what is under test is Spark's map surface producing them. Maps stay
    inside codegen — this is the pattern for carrying typed metadata
    (multimodal meta, feature dictionaries) without exploding to rows."""
    d = load_table(spark, sf_dir, "documents")
    dk = F.array_sort(F.array_distinct(F.split("text", " ")))
    m = F.map_from_arrays(dk, F.transform(dk, lambda w: F.length(w)))
    return d.select(
        "doc_id",
        F.size(m).alias("n_entries"),
        F.element_at(m, F.element_at(dk, 1)).alias("first_key_len"),
        F.size(F.map_filter(m, lambda k, v: v > 5)).alias("n_long_entries"),
        F.size(
            F.map_concat(m, F.create_map(F.lit("sentinel"), F.lit(-1)))
        ).alias("n_after_concat"),
    )


@registry.query(
    "scalar_array",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           list_sort(list_distinct(string_split(text, ' ')))[1] AS first_token_alpha,
           list_contains(string_split(text, ' '), 'spark') AS has_spark
    FROM documents
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery over tokenized text (split/size/distinct/sort/contains)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.element_at(F.array_sort(F.array_distinct(toks)), 1).alias("first_token_alpha"),
        F.array_contains(toks, "spark").alias("has_spark"),
    )


@registry.query(
    "scalar_higher_order",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> LENGTH(t) > 4))
               AS n_long,
           len(list_filter(string_split(text, ' '), t -> t = 'spark')) > 0
               AS has_spark,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
               t -> LENGTH(t)), 'sum') AS BIGINT) AS total_chars
    FROM documents
    """,
)
def scalar_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambda battery: transform / filter / exists /
    aggregate over the token array, all inside codegen (no UDF). zip_with
    is exercised across the engine by the fold-based dot product every
    similarity query runs through (functions/vectors.py). Integer
    accumulators keep the fold oracle-exact.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lens = F.transform(toks, lambda t: F.length(t))
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long"),
        F.exists(toks, lambda t: t == "spark").alias("has_spark"),
        F.aggregate(
            lens, F.lit(0), lambda acc, x: acc + x
        ).alias("total_chars"),
    )


@registry.query(
    "conditional_case_null",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS tier,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open?') AS status_label,
           (o_orderstatus IS NOT DISTINCT FROM 'F') AS is_f_nullsafe,
           IF(o_orderpriority LIKE '1%', 1, 0) AS is_urgent
    FROM orders
    """,
)
def conditional_case_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("tier"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open?")).alias(
            "status_label"
        ),
        F.col("o_orderstatus").eqNullSafe("F").alias("is_f_nullsafe"),
        F.when(F.col("o_orderpriority").like("1%"), 1).otherwise(0).alias("is_urgent"),
    )


@registry.query(
    "subquery_correlated_exists",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F'
                        AND o.o_totalprice > 300000)
    """,
)
def subquery_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS — expressed through spark.sql so
    Catalyst performs the decorrelation itself (EXISTS -> left semi join,
    NOT EXISTS -> left anti join; RewritePredicateSubquery). Customers
    with at least one urgent order and no large finished one.

    At scale both rewrites are hash joins on o_custkey — the correlated
    per-row subquery a naive executor would run becomes two shuffles.
    """
    from quty_server_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'
                            AND o.o_totalprice > 300000)
        """
    )


@registry.query(
    "subquery_scalar_in",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                              / COUNT(c_acctbal) FROM customer)
      AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    """,
)
def subquery_scalar_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + IN subqueries. AVG comparison is a filter (not an output),
    so raw double avg is safe: both engines agree on the comparison except
    for customers within one ulp of the mean — none exist in 2-decimal
    acctbal data."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    avg_bal = c.agg(davg("c_acctbal").alias("a"))
    return (
        c.join(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(broadcast(n), c.c_nationkey == n.n_nationkey, "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@registry.query(
    "window_range_interval",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
               AS value_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: each event's trailing-1-hour count and
    decimal-exact sum per user — the sliding-by-time frame (RANGE, not
    ROWS: peers are defined by the ORDER BY value, so same-ts rows share
    a frame and the tiebreaker column is deliberately absent). This is
    the rate-limiter / rolling-exposure primitive; at scale it is one
    sort within user partitions, identical shuffle shape to the ROWS
    frames. Orders by unix_micros (not a seconds cast): the oracle's
    INTERVAL frame is microsecond-precise, so a whole-second ordering key
    would merge sub-second-distinct rows into RANGE peers and flip
    inclusion for pairs straddling the 1-hour boundary by <1s."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("value_last_hour"),
    )


@registry.query(
    "agg_percentile_approx_check",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact,
           TRUE AS p50_within_2pct,
           TRUE AS p90_within_2pct
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentile_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile under a bounded-error oracle contract (same
    device as agg_approx_distinct): emit the exact interpolated
    percentiles plus booleans asserting the sketch (accuracy 10000 →
    rank error <= 0.01%) landed within 2% of exact; the oracle emits the
    exact values and TRUE. This is how the approximate scale path
    (KLL/GK-style sketch, mergeable, single pass) stays verifiable
    against an exact engine."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_exact"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(o_totalprice, 0.9, 10000)").alias("ap90"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= F.lit(0.02)
    )
    return agg.select(
        "o_orderpriority",
        "p50_exact",
        "p90_exact",
        within("ap50", "p50_exact").alias("p50_within_2pct"),
        within("ap90", "p90_exact").alias("p90_within_2pct"),
    )


@registry.query(
    "join_asof_tolerance",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'),
    purchases AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id,
           epoch_us(MIN(p.ts)) AS next_purchase_us
    FROM clicks c
    LEFT JOIN purchases p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.event_id, c.user_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a tolerance: for each click, the FIRST
    purchase by the same user at-or-after the click but within 1 hour
    (attribution-window semantics; the reference's at-most-once delivery
    window is the same shape, SURVEY §2.A #25-26).

    Scale shape: same shuffle-once device as ``join_asof`` — union both
    sides, one window per user ordered by time looking FORWARD
    (first purchase ts over currentRow..unboundedFollowing), then null
    out matches beyond the tolerance. Never a per-row range probe; cost
    is one sort within user partitions, identical at 100 TB. The oracle
    states the semantics as a range join + MIN, which DuckDB can afford
    at oracle scale.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_p")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(1).alias("is_p"),
    )
    # At equal ts the purchase must sort AFTER the click (>= semantics:
    # a same-instant purchase is visible to the click's forward window).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    unioned = clicks.unionByName(purchases).withColumn(
        "p_ts",
        F.first(F.when(F.col("is_p") == 1, F.col("ts")), ignorenulls=True).over(w),
    )
    return unioned.filter(F.col("is_p") == 0).select(
        "event_id",
        "user_id",
        F.when(
            F.unix_micros("p_ts") - F.unix_micros("ts") <= 3_600_000_000,
            F.unix_micros("p_ts"),
        ).alias("next_purchase_us"),
    )


@registry.query(
    "window_percent_rank_cume",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS cume,
           NTH_VALUE(c_name, 2) OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window battery: percent_rank + cume_dist +
    nth_value with an explicit whole-partition frame. Ordering carries a
    unique tiebreaker (c_custkey) so rank-derived ratios are identical
    across engines; the ratios themselves are int/int divisions (exact in
    IEEE double), rounded only as belt-and-braces. One shuffle on the
    partition key; partitions are per-nation (bounded)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.nth_value("c_name", 2).over(wf).alias("second_poorest"),
    )


@registry.query(
    "agg_filtered_conditional",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE c_acctbal > 0) AS n_positive,
           {osum('c_acctbal')} AS bal_all,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6)))
                FILTER (WHERE c_acctbal > 5000) AS DOUBLE) AS bal_rich,
           CAST(MIN(c_custkey) FILTER (WHERE c_acctbal < 0) AS BIGINT)
               AS first_debtor
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_filtered_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates (conditional aggregation): several
    differently-filtered measures in ONE pass over the table — the
    idiomatic replacement for N self-joins or N scans. Spark expresses
    the filter as `when(cond, x)` inside the aggregate; partial
    aggregation still applies, so this stays a single map-side-combined
    shuffle at any scale."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("c_acctbal") > 0, 1)).alias("n_positive"),
        dsum("c_acctbal").alias("bal_all"),
        F.sum(F.when(F.col("c_acctbal") > 5000, F.col("c_acctbal")).cast(DEC))
        .cast("double")
        .alias("bal_rich"),
        F.min(F.when(F.col("c_acctbal") < 0, F.col("c_custkey")))
        .cast("bigint")
        .alias("first_debtor"),
    )


@registry.query(
    "window_gaps_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        FROM events),
    grp AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d) AS INT) AS island
        FROM days)
    SELECT user_id, MIN(d) AS streak_start, COUNT(*) AS streak_days
    FROM grp GROUP BY user_id, island
    HAVING COUNT(*) >= 3
    """,
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active days per
    user, via the classic date-minus-row_number grouping key (consecutive
    dates collapse to one island id). Reports streaks of >= 3 days.

    Scale: one distinct to (user, day) grain — map-side combined — then
    a window and an aggregation both partitioned by user_id; no joins,
    no self-comparison of rows. The 100 TB shape is one shuffle of the
    (user, day) table, which is already orders smaller than raw events."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "island", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    return (
        grp.groupBy("user_id", "island")
        .agg(
            F.min("d").alias("streak_start"),
            F.count("*").alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 3)
        .select("user_id", "streak_start", "streak_days")
    )


@registry.query(
    "scalar_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_partkey & 255 AS low_byte,
           l_partkey | 4096 AS with_flag,
           xor(l_partkey, l_suppkey) AS key_xor,
           l_suppkey << 4 AS shifted_up,
           l_partkey >> 2 AS shifted_down,
           bit_count(l_partkey) AS pop_count
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar battery: AND/OR/XOR/shifts/popcount — the
    primitives behind bitmap indexes, bloom filters, and the Z-order
    sink's bit interleaving. All JVM codegen'd builtins; output is
    integer-exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_partkey").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("l_partkey").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("l_partkey").bitwiseXOR(F.col("l_suppkey")).alias("key_xor"),
        F.shiftleft(F.col("l_suppkey"), 4).alias("shifted_up"),
        F.shiftright(F.col("l_partkey"), 2).alias("shifted_down"),
        F.bit_count(F.col("l_partkey")).alias("pop_count"),
    )


@registry.query(
    "agg_corr_regression",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(19,6))
                   * CAST(l_quantity AS DECIMAL(18,6))) AS sxx,
               SUM(CAST(l_quantity AS DECIMAL(19,6))
                   * CAST(l_extendedprice AS DECIMAL(18,6))) AS sxy,
               SUM(CAST(l_extendedprice AS DECIMAL(19,6))
                   * CAST(l_extendedprice AS DECIMAL(18,6))) AS syy
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 9) AS corr_qty_price,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 9) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE),
                 9) AS intercept
    FROM m
    """,
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS slope/intercept per group — NOT via the
    builtin corr/regr_* (whose double partial states are
    summation-order-sensitive and so can differ between engines and
    between partitionings). Instead the five moments (Σx, Σy, Σxx, Σxy,
    Σyy) accumulate as exact DECIMAL(38,6) products — associative, so
    partial aggregation still applies — and the closed forms are
    evaluated in double once per GROUP. Bit-stable at any partition
    count; same single-shuffle cost as a plain groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    # Product operands are DECIMAL(19,6) x DECIMAL(18,6): the 19-digit
    # side forces DuckDB onto int128 internals (a DECIMAL(18) square
    # overflows its int64 path) and the product precision 19+18+1 = 38
    # stays exact in Spark — scale 12, no precision-loss rounding, in
    # BOTH engines.
    x, x19 = (F.col("l_quantity").cast(t) for t in ("decimal(18,6)", "decimal(19,6)"))
    y, y19 = (
        F.col("l_extendedprice").cast(t) for t in ("decimal(18,6)", "decimal(19,6)")
    )
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x19 * x).alias("sxx"),
        F.sum(x19 * y).alias("sxy"),
        F.sum(y19 * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    cov_n = nd * sxy - sx * sy
    var_x = nd * sxx - sx * sx
    var_y = nd * syy - sy * sy
    slope = cov_n / var_x
    return m.select(
        "l_returnflag",
        "n",
        F.round(cov_n / F.sqrt(var_x * var_y), 9).alias("corr_qty_price"),
        F.round(slope, 9).alias("slope"),
        F.round((sy - slope * sx) / nd, 9).alias("intercept"),
    )


@registry.query(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS is_first
        FROM events)
    SELECT user_id, event_id,
           CAST(SUM(is_first) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — which Spark's window
    functions refuse directly — restated exactly: flag the first
    occurrence of each (user, event_type) with row_number()=1, then a
    running sum of the flag gives the number of distinct event types
    the user has touched up to each event. Two window passes over the
    SAME user_id partitioning (one sort each), no join, no distinct
    state — the restatement that scales where a per-row distinct scan
    cannot."""
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("is_first").over(w_run).cast("bigint").alias("distinct_types_so_far"),
    )


@registry.query(
    "subquery_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
         LATERAL (SELECT c_name, c_acctbal
                  FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey
                  LIMIT 2) AS t
    """,
)
def subquery_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: per nation, its two richest
    customers — expressed as actual SQL LATERAL on both engines.
    Catalyst decorrelates the per-row LIMIT subquery into a partitioned
    rank (DecorrelateInnerQuery), so the executed plan is the same
    window-top-k shape as `window_row_number_topk`, NOT a per-nation
    re-scan of customer — which is why the construct survives 100 TB:
    correlation never executes as iteration."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    n.createOrReplaceTempView("v_nation")
    c.createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM v_nation n,
             LATERAL (SELECT c_name, c_acctbal
                      FROM v_customer c
                      WHERE c.c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey
                      LIMIT 2) AS t
        """
    )


@registry.query(
    "agg_grouping_id",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS rf,
           COALESCE(l_linestatus, '(all)') AS ls,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING()/grouping_id: the bitmask that tells a
    subtotal row apart from a row whose key is genuinely NULL — without
    it, rollup output is ambiguous on nullable keys. The coalesced
    labels + gid together are the standard report shape."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("ls"),
            F.col("gid").cast("int").alias("gid"),
            "n",
        )
    )


@registry.query(
    "scalar_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice / NULLIF(l_discount, 0.0) AS DOUBLE)
               AS price_per_disc,
           TRY_CAST(l_returnflag AS INTEGER) AS rf_as_int,
           TRY_CAST(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS INTEGER)
               AS qty_int,
           CAST(NULL AS BIGINT) AS overflow_guard
    FROM lineitem
    WHERE l_orderkey % 200 = 0
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar battery under ANSI semantics: try_divide turns
    /0 into NULL instead of an error, try_cast turns unparseable input
    into NULL, try_add NULLs on int64 overflow — the contract batch
    pipelines want ('quarantine the bad cell, keep the scan alive'),
    complementing source_json_corrupt_records' row-level quarantine.
    DuckDB twins: NULLIF guard and TRY_CAST."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 200 == 0
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # try_divide sees the RAW divisor: zero-discount rows hit the
        # /0 path and come back NULL (the oracle states the same
        # semantics portably as division by NULLIF(d, 0)).
        F.try_divide(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "price_per_disc"
        ),
        F.expr("try_cast(l_returnflag AS int)").alias("rf_as_int"),
        F.expr("try_cast(cast(cast(l_quantity AS bigint) AS string) AS int)").alias(
            "qty_int"
        ),
        F.try_add(F.lit(9223372036854775807).cast("bigint"), F.lit(1).cast("bigint"))
        .alias("overflow_guard"),
    )


@registry.query(
    "window_ignore_nulls",
    oracle="""
    WITH gappy AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS pval
        FROM events)
    SELECT event_id, user_id,
           LAST_VALUE(pval IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase_value,
           FIRST_VALUE(pval IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_purchase_value,
           LEAD(pval, 1 IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)
               AS next_purchase_value
    FROM gappy
    """,
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window battery: carry the last known purchase value
    forward across non-purchase events (the gap-fill / last-observation-
    carried-forward idiom), plus first-ever and next purchase values.
    One shuffle by user; the NULL-skipping runs inside the window
    operator, never as a self-join against the purchase subset."""
    ev = load_table(spark, sf_dir, "events")
    gappy = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pval"),
    )
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return gappy.select(
        "event_id",
        "user_id",
        F.last("pval", ignorenulls=True)
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("last_purchase_value"),
        F.first("pval", ignorenulls=True)
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("first_purchase_value"),
        F.expr(
            "lead(pval, 1) IGNORE NULLS OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id)"
        ).alias("next_purchase_value"),
    )


# Runtime bloom-filter join pruning (Spark's InjectRuntimeFilter rule):
# the selective dimension side builds a bloom filter during planning and
# the fact scan is pre-filtered with might_contain(xxhash64(key)) BEFORE
# the shuffle — at 100 TB this skips shuffling the ~96% of lineitem rows
# whose order is not urgent, the shuffle-join analog of DPP. The rule
# only fires under size heuristics tuned for real clusters, so the
# builder scopes the enabling confs to a CHILD SparkSession
# (newSession(): shared SparkContext + catalog, private SQLConf) and
# builds the query against it. Because a Dataset plans and re-plans in
# its OWN session, the bloom shape survives every consumer — collect,
# DataFrameWriter (the noop-write benches), .cache() — not just the
# first memoized QueryExecution, and the
# caller's session confs are untouched by construction.
_BLOOM_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


@registry.query(
    "join_bloom_runtime_filtered",
    oracle=f"""
    SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
           {osum('l.l_extendedprice * (1 - l.l_discount)')} AS urgent_revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def join_bloom_runtime_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by return flag through a runtime
    bloom-filter-pruned shuffle join. The bloom filter is transparent
    (false positives only pre-pass rows the exact join then drops), so
    the result is byte-identical to the plain join the oracle states —
    what changes is the PLAN: the lineitem scan carries a
    might_contain(xxhash64(l_orderkey)) subquery filter, pinned in
    tests/test_scale_plans.py together with caller-session conf
    hygiene. The returned Dataset belongs to a conf-scoped child
    session (see _BLOOM_CONFS note), so the shape survives re-planning
    consumers; the child shares the SparkContext, so no extra JVM
    resources are held, and it is memoized on the parent session (one
    SessionState per parent, not per call) so repeated builds — driver
    re-samples, best-of-N bench loops — don't accrete session state."""

    def _child() -> SparkSession:
        child = spark.newSession()
        for k, v in _BLOOM_CONFS.items():
            child.conf.set(k, v)
        return child

    child = session_memo(spark, "bloom_child", None, _child)
    o = (
        load_table(child, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = load_table(child, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "urgent_revenue"
            ),
        )
    )


@registry.query(
    "window_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           ROUND(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
    FROM events
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-event median of the value stream per user — the robust
    smoother dashboards use where a moving AVERAGE would chase
    outliers. An exact interpolated percentile evaluated as a windowed
    aggregate over a ROWS frame (Spark `percentile` == DuckDB
    `quantile_cont`, same device as agg_percentile), with the
    (ts, event_id) total order both engines state.

    Scale: one shuffle to user grain; the frame is O(1) rows per step,
    so the window pass is linear — no self-join, no per-row re-sort."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-6, 0)
    )
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("med7"),
    )


@registry.query(
    "scalar_variant_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS max_k,
           CAST(SUM(CASE WHEN json_extract(props, '$.missing') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_no_missing
    FROM events GROUP BY event_type
    """,
)
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    ``parse_json`` builds the binary variant once per row,
    ``variant_get`` extracts typed paths without re-parsing — the
    modern engine path for open-schema JSON columns like
    ``events.props`` (scalar_json covers the classic
    ``get_json_object`` string path; this is its typed successor).
    Missing paths yield NULL (counted, proving absent-key semantics
    matches DuckDB's json_extract).

    Scale: the variant encode + typed extraction is one codegen'd
    projection before the aggregate — no Python, no per-access string
    re-parse (the get_json_object cost model at 100 TB is one parse
    PER PATH; variant parses once per row regardless of path count)."""
    e = load_table(spark, sf_dir, "events")
    # Bind the variant ONCE, then extract both paths from the bound
    # column in a second projection — the plan must show a single
    # parse_json (binding it per path built it 3x).
    parsed = e.select(
        "event_type", F.expr("parse_json(props)").alias("v")
    )
    return (
        parsed.select(
            "event_type",
            F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
            F.expr("variant_get(v, '$.missing', 'string')").alias("m"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_no_missing"),
        )
    )


@registry.query(
    "sql_recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE walk(s_suppkey, depth) AS (
        SELECT s_suppkey, 0 FROM supplier WHERE s_suppkey = 1
        UNION ALL
        SELECT s.s_suppkey, w.depth + 1
        FROM supplier s JOIN walk w ON s.s_suppkey // 2 = w.s_suppkey
    )
    SELECT depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
           CAST(MAX(s_suppkey) AS BIGINT) AS max_key
    FROM walk GROUP BY depth
    """,
)
def sql_recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk the implicit binary
    tree parent(k) = k div 2 over supplier keys from the root, emitting
    per-depth node counts — the org-chart / BOM / reachability query
    shape SQL engines answer with iterated self-joins. The declarative
    twin of the hand-built BSP loops (dedup.min_label_components,
    graph.pagerank_converged): Spark lowers each recursion level to one
    join against the previous level's frontier, terminating when a
    level is empty — O(log n) levels on this tree, so the plan depth
    stays bounded at 100 TB exactly like the pointer-doubling loop.
    Both engines run the IDENTICAL statement modulo the integer-division
    spelling (div vs //, non-negative keys so they agree)."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    s.createOrReplaceTempView("rc_supplier")
    return spark.sql(
        """
        WITH RECURSIVE walk(s_suppkey, depth) AS (
            SELECT s_suppkey, 0 FROM rc_supplier WHERE s_suppkey = 1
            UNION ALL
            SELECT s.s_suppkey, w.depth + 1
            FROM rc_supplier s JOIN walk w ON s.s_suppkey div 2 = w.s_suppkey
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MIN(s_suppkey) AS BIGINT) AS min_key,
               CAST(MAX(s_suppkey) AS BIGINT) AS max_key
        FROM walk GROUP BY depth
        """
    )
