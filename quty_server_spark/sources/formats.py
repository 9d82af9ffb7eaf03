"""Source/sink format coverage: CSV, JSON, ORC, partitioned parquet.

The reference's only I/O is a WebSocket ingress/egress (SURVEY.md §2.B);
the driver-mandated surface (§2.C row 1–2) is file sources and sinks.
Each query here is a write→read round trip through a different format, so
both directions are oracle-checked against the original table.

Scale notes: every writer here produces splittable output (CSV/JSON are
line-delimited; ORC/parquet are block-columnar), so a 1000-executor read
parallelizes. Partitioned parquet is the layout that matters at 100 TB —
the partition column becomes directory structure, and a filter on it
prunes entire directories at planning time (visible as ``PartitionFilters``
in the scan node).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quty_server_spark.operators._helpers import dsum, load_table, osum
from quty_server_spark.plans.registry import registry
from quty_server_spark.session import configure, fresh_tmp_dir


@registry.query(
    "source_csv_roundtrip",
    oracle="SELECT * FROM customer",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV (header) → read back with an explicit schema.
    Schema-on-read, not inference: at scale, inference is a second full
    scan."""
    out = fresh_tmp_dir(spark, "quty_formats_csv", sf_dir)
    c = load_table(spark, sf_dir, "customer")
    c.write.option("header", "true").csv(out)
    return spark.read.schema(c.schema).option("header", "true").csv(out)


@registry.query(
    "source_json_roundtrip",
    oracle="SELECT * FROM part",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → JSON lines → read back with explicit schema (line-delimited
    JSON stays splittable; multiline JSON would not be)."""
    out = fresh_tmp_dir(spark, "quty_formats_json", sf_dir)
    p = load_table(spark, sf_dir, "part")
    p.write.json(out)
    return spark.read.schema(p.schema).json(out)


@registry.query(
    "source_orc_roundtrip",
    oracle="SELECT * FROM nation",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → ORC → read back (second columnar format besides parquet)."""
    out = fresh_tmp_dir(spark, "quty_formats_orc", sf_dir)
    n = load_table(spark, sf_dir, "nation")
    n.write.orc(out)
    return spark.read.orc(out)


@registry.query(
    "sink_partitioned_parquet",
    oracle="""
    SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts, event_type
    FROM events WHERE event_type = 'click'
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → parquet partitioned by event_type → read back one
    partition. The filter on the partition column prunes directories at
    planning time (PartitionFilters, zero data touched for other types) —
    the core 100 TB layout technique this engine assumes for fact tables."""
    out = fresh_tmp_dir(spark, "quty_formats_part_parquet", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts", "event_type"
    )
    ev.write.partitionBy("event_type").parquet(out)
    return spark.read.parquet(out).filter(F.col("event_type") == "click")


@registry.query(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT o.o_orderkey, o.o_totalprice, COUNT(*) AS n_lines,
           {osum('l.l_extendedprice')} AS lines_total
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketing: orders and lineitem are
    written as bucketed tables (8 buckets, sorted, hashed on orderkey) and
    re-joined. Because both sides share bucket count and key, the join
    and the following per-order aggregate need NO Exchange — the plan is
    scan→SMJ→agg per bucket (asserted in tests/test_scale_plans.py). At
    100 TB this is THE technique for repeated fact-fact joins: pay the
    shuffle once at layout time, never per query. Tables are external
    (a session scratch path) so the driver's session needs no warehouse."""
    suffix = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = fresh_tmp_dir(spark, "quty_bucketed", sf_dir)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    for df, tbl, key in [(o, f"qss_orders_{suffix}", "o_orderkey"),
                         (li, f"qss_lineitem_{suffix}", "l_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(base, tbl))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    ob = spark.table(f"qss_orders_{suffix}")
    lb = spark.table(f"qss_lineitem_{suffix}")
    return (
        ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_extendedprice").alias("lines_total"),
        )
    )


@registry.query(
    "source_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name,
           CAST(NULL AS VARCHAR) AS region_code, 1 AS v
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, 'R' || CAST(n_regionkey AS VARCHAR) AS region_code, 2 AS v
    FROM nation
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet writes of the same table —
    v2 adds a column — unified by ``mergeSchema``; v1 rows surface the new
    column as NULL. The lakehouse reality that schemas drift across
    ingestion generations and readers must span them.

    At 100 TB, mergeSchema's footer-merge cost is why engines store the
    merged schema in a catalog; the read semantics (missing -> NULL) are
    what this pins. Per-file pruning still applies — each generation's
    files carry only their own columns.
    """
    out = fresh_tmp_dir(spark, "quty_formats_evolve_parquet", sf_dir)
    n = load_table(spark, sf_dir, "nation")
    v1 = n.select("n_nationkey", "n_name", F.lit(1).alias("v"))
    v2 = n.select(
        "n_nationkey",
        "n_name",
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias(
            "region_code"
        ),
        F.lit(2).alias("v"),
    )
    v1.write.parquet(os.path.join(out, "gen=1"))
    v2.write.parquet(os.path.join(out, "gen=2"))
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "gen=1"), os.path.join(out, "gen=2")
    ).select("n_nationkey", "n_name", "region_code", "v")


@registry.query(
    "source_json_corrupt_records",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE event_id % 50 <> 0) AS n_good,
           COUNT(*) FILTER (WHERE event_id % 50 = 0) AS n_corrupt
    FROM events WHERE event_type = 'click'
    """,
)
def source_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance on the file source: a JSONL feed where
    every 50th record is truncated mid-object is read in PERMISSIVE mode;
    corrupt lines land in ``_corrupt_record`` instead of failing the scan
    — the file-side twin of the reference's malformed-frame drop
    (util.parseSocketEvent -> false, lib/util.js:208-246).

    Plan: the corrupt-vs-good classification is one pass over the JSON
    scan. Spark forbids referencing ONLY ``_corrupt_record`` without
    caching the scan, so the aggregate classifies on event_id nullity
    (null exactly when the parse failed — good lines always carry it);
    the ``_corrupt_record`` column stays in the schema as the dead-letter
    branch a real pipeline would persist.
    """
    out = fresh_tmp_dir(spark, "quty_formats_corrupt_jsonl", sf_dir)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    line = F.when(
        F.col("event_id") % 50 == 0,
        # truncated mid-object: unparseable
        F.concat(F.lit('{"event_id": '), F.col("event_id").cast("string"), F.lit(', "va')),
    ).otherwise(
        F.to_json(F.struct("event_id", "user_id", "value"))
    )
    ev.select(line.alias("value")).write.text(out)
    parsed = (
        spark.read.schema(
            "event_id long, user_id long, value double, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return parsed.agg(
        F.count("event_id").alias("n_good"),
        F.count(F.when(F.col("event_id").isNull(), 1)).alias("n_corrupt"),
    )


@registry.query(
    "sink_merge_upsert",
    oracle=f"""
    WITH dmax AS (SELECT MAX(o_orderdate) AS d FROM orders),
    spend AS (
        SELECT o_custkey, {osum('o_totalprice')} AS recent_spend
        FROM orders, dmax
        WHERE o_orderdate >= d - INTERVAL 30 DAY
        GROUP BY o_custkey
    ),
    updates AS (
        SELECT c.c_custkey, c.c_name, c.c_mktsegment,
               c.c_acctbal + s.recent_spend AS c_acctbal
        FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    ),
    inserts AS (
        SELECT c_custkey + 1000000 AS c_custkey,
               'Loyalty ' || c_name AS c_name,
               'PROMO' AS c_mktsegment,
               0.0 AS c_acctbal
        FROM updates
    ),
    merged AS (
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        UNION ALL SELECT * FROM updates
        UNION ALL SELECT * FROM inserts
    )
    SELECT c_mktsegment, COUNT(*) AS n, {osum('c_acctbal')} AS total_bal
    FROM merged GROUP BY c_mktsegment
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO a partitioned parquet table without a table format:
    upsert via DYNAMIC partition overwrite — the lakehouse maintenance
    operator (Delta/Iceberg MERGE) re-expressed on plain parquet.

    Base = customer partitioned by c_mktsegment. Delta = recent buyers
    (orders in the 30 days up to max o_orderdate) with balances bumped by
    their recent spend, plus synthetic 'PROMO'-segment loyalty inserts.
    The merge rewrites ONLY the partitions the delta touches
    (``partitionOverwriteMode=dynamic`` as a per-write option — untouched
    segment directories keep their original files), anti-joining updated
    keys out of the kept base rows before unioning the delta back in.

    At 100 TB this is the write-side point of partitioning: an upsert
    touching k of N partitions costs O(k), not a table rewrite. The
    read-modify-write cycle localCheckpoints the kept rows first because
    Spark (correctly) refuses to overwrite a path it is still reading.
    """
    out = fresh_tmp_dir(spark, "quty_formats_merge_parquet", sf_dir)
    cols = ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"]
    c = load_table(spark, sf_dir, "customer").select(*cols)
    c.write.partitionBy("c_mktsegment").parquet(out)

    o = load_table(spark, sf_dir, "orders")
    dmax = o.agg(F.max("o_orderdate").alias("d"))
    spend = (
        o.crossJoin(F.broadcast(dmax))
        .filter(F.col("o_orderdate") >= F.date_sub(F.col("d"), 30))
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("recent_spend"))
    )
    updates = (
        c.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .join(spend, c.c_custkey == spend.o_custkey)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            (F.col("c_acctbal") + F.col("recent_spend")).alias("c_acctbal"),
        )
    )
    inserts = updates.select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("Loyalty "), F.col("c_name")).alias("c_name"),
        F.lit("PROMO").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    delta = updates.unionByName(inserts)

    affected = delta.select("c_mktsegment").distinct()
    base_kept = (
        spark.read.parquet(out)
        .join(F.broadcast(affected), "c_mktsegment", "left_semi")
        # Anti-join on the UPDATE keys only: inserts carry synthetic keys
        # (c_custkey+1000000) that can collide with real custkeys at
        # SF>=7 (customer is 150k*SF rows), and a collision must not
        # delete a base row the merge semantics say to keep.
        .join(updates.select("c_custkey"), "c_custkey", "left_anti")
        .select(*cols)
        .localCheckpoint()
    )
    (
        base_kept.unionByName(delta.select(*cols))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("c_mktsegment")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), dsum("c_acctbal").alias("total_bal"))
    )


@registry.query(
    "sink_compacted_parquet",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {osum('value')} AS total_value
    FROM events GROUP BY event_type
    """,
)
def sink_compacted_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance operator every
    100 TB lake needs: a fragmented partitioned write (16 shuffle
    partitions per event_type ⇒ ~16 small files each) is compacted by
    re-reading and re-writing repartitioned BY the partition column, so
    each partition directory collapses to one right-sized file (at real
    scale: repartition(target_file_count, col)). Readback of the
    compacted layout is verified against the source aggregate; the
    file-count collapse itself is pinned in tests/test_scale_plans.py."""
    frag = fresh_tmp_dir(spark, "quty_formats_frag_parquet", sf_dir)
    compact = fresh_tmp_dir(spark, "quty_formats_compact_parquet", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    ev.repartition(16).write.partitionBy("event_type").parquet(frag)
    (
        spark.read.parquet(frag)
        .repartition("event_type")
        .write.partitionBy("event_type")
        .parquet(compact)
    )
    return (
        spark.read.parquet(compact)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
    )


@registry.query(
    "sink_scd2_history",
    oracle=f"""
    WITH dmax AS (SELECT MAX(o_orderdate) AS d FROM orders),
    spend AS (
        SELECT o_custkey, {osum('o_totalprice')} AS recent_spend,
               CAST(MAX(o_orderdate) AS TIMESTAMP) AS eff
        FROM orders, dmax
        WHERE o_orderdate >= d - INTERVAL 30 DAY
        GROUP BY o_custkey
    ),
    changed AS (
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, s.recent_spend, s.eff
        FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
    )
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '1992-01-01' AS valid_from,
           TIMESTAMP '2261-12-31' AS valid_to,
           TRUE AS is_current
    FROM customer
    WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '1992-01-01', eff, FALSE
    FROM changed
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal + recent_spend,
           eff, TIMESTAMP '2261-12-31', TRUE
    FROM changed
    """,
)
def sink_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: customers whose balance changes
    (recent orders fold in as spend) get their current row CLOSED
    (valid_to = effective date, is_current = false) and a new open row
    appended; untouched customers keep their single open row. The history
    is written to parquet and read back — the audit-dimension pattern
    every 100 TB lake maintains. Scale: one broadcast of the 1-row dmax,
    one shuffle of orders by custkey for the spend agg, and the change
    split is a single left-anti/inner pair on the same join key; the
    sentinel high date keeps ``is_current`` derivable by
    predicate pushdown (valid_to = sentinel) instead of a NULL scan.
    The sentinel is 2261-12-31 — the classic 9999-12-31 overflows
    Arrow's timestamp[us] -> pandas timestamp[ns] conversion in any
    pandas-based comparator (ns range tops out at 2262-04-11), the same
    representation-sensitivity class as DuckDB's HUGEINT promotion; the
    oracle value-range lint in tools/check_oracle.py keeps this class
    structurally dead."""
    out = fresh_tmp_dir(spark, "quty_formats_scd2_parquet", sf_dir)
    cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
    lo = F.lit("1992-01-01").cast("timestamp")
    hi = F.lit("2261-12-31").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").select(*cols)
    o = load_table(spark, sf_dir, "orders")
    dmax = o.agg(F.max("o_orderdate").alias("d"))
    spend = (
        o.crossJoin(F.broadcast(dmax))
        .filter(F.col("o_orderdate") >= F.date_sub(F.col("d"), 30))
        .groupBy("o_custkey")
        .agg(
            dsum("o_totalprice").alias("recent_spend"),
            F.max("o_orderdate").cast("timestamp").alias("eff"),
        )
    )
    changed = c.join(spend, c.c_custkey == spend.o_custkey).select(
        *cols, "recent_spend", "eff"
    )
    unchanged = c.join(changed.select("c_custkey"), "c_custkey", "left_anti")
    history = (
        unchanged.select(
            *cols,
            lo.alias("valid_from"),
            hi.alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .unionByName(
            changed.select(
                *cols,
                lo.alias("valid_from"),
                F.col("eff").alias("valid_to"),
                F.lit(False).alias("is_current"),
            )
        )
        .unionByName(
            changed.select(
                "c_custkey",
                "c_mktsegment",
                (F.col("c_acctbal") + F.col("recent_spend")).alias("c_acctbal"),
                F.col("eff").alias("valid_from"),
                hi.alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
        )
    )
    history.write.partitionBy("is_current").parquet(out)
    # partition-column type inference surfaces is_current as string on
    # read; restore the boolean (values are unambiguous true/false dirs)
    return spark.read.parquet(out).select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("boolean").alias("is_current"),
    )


@registry.query(
    "sink_incremental_matview",
    oracle=f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type, COUNT(*) AS n, {osum('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def sink_incremental_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: an hourly per-type
    rollup is built from batch 1, then brought current by MERGING batch
    2's partial aggregate into the stored view — batch 1 is never
    rescanned. The stored state keeps sums as DECIMAL(38,6): exact and
    associative, so partial-state merge equals a one-pass recompute
    bit-for-bit (the oracle IS the full recompute). This is the
    self-maintainable-aggregate pattern (COUNT/SUM merge; AVG derives at
    read) every 100 TB reporting layer runs instead of full refresh; the
    deterministic even/odd split stands in for arrival batches."""
    out = fresh_tmp_dir(spark, "quty_formats_matview_parquet", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour_start"),
        "event_type",
        "value",
        "event_id",
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("hour_start", "event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("total_dec"),
        )

    partial(ev.filter(F.col("event_id") % 2 == 0)).write.parquet(out)  # v1
    delta = partial(ev.filter(F.col("event_id") % 2 == 1))
    merged = (
        spark.read.parquet(out)
        .unionByName(delta)
        .groupBy("hour_start", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("total_dec").cast("decimal(38,6)").alias("total_dec"),
        )
        .localCheckpoint()  # cut lineage off the path being overwritten
    )
    merged.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).select(
        "hour_start",
        "event_type",
        "n",
        F.col("total_dec").cast("double").alias("total_value"),
    )


def _z16_sql(a: str, b: str) -> str:
    """DuckDB expression: interleave the low 8 bits of ``a`` (odd bit
    positions) and ``b`` (even) into a 16-bit Z-value."""
    terms = []
    for i in range(8):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def _z16_col(a, b):
    """Spark twin of :func:`_z16_sql` (bitwise builtins, codegen'd)."""
    z = F.lit(0)
    for i in range(8):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
        )
    return z


@registry.query(
    "sink_zorder_clustered",
    oracle=f"""
    WITH z AS (
        SELECT {_z16_sql('(l_partkey % 256)', '(l_suppkey % 256)')} AS zval,
               l_extendedprice
        FROM lineitem)
    SELECT CAST(zval // 256 AS BIGINT) AS z_bucket,
           COUNT(*) AS n_rows,
           {osum('l_extendedprice')} AS bucket_revenue
    FROM z GROUP BY z_bucket
    """,
)
def sink_zorder_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered parquet sink: interleave the bits of two join
    keys into a Z-value, range-repartition + sort on it, write, read
    back. Multi-dimensional clustering means min/max footer stats are
    narrow on BOTH keys in every file, so later scans filtering on
    either key skip most files — the data-skipping layout (Delta
    OPTIMIZE ZORDER's device) a 100 TB fact table wants when no single
    partition column dominates. The query returns per-Z-bucket stats of
    the read-back data, proving the sink round-trips; the clustering
    (disjoint per-file zval ranges) is pinned in
    tests/test_scale_plans.py."""
    out = fresh_tmp_dir(spark, "quty_formats_zorder", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    zed = li.withColumn(
        "zval", _z16_col(F.col("l_partkey") % 256, F.col("l_suppkey") % 256)
    )
    (
        zed.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy((F.col("zval") / 256).cast("bigint").alias("z_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_extendedprice").alias("bucket_revenue"),
        )
    )


@registry.query(
    "join_dpp_partition_pruned",
    oracle=f"""
    WITH dims AS (
        SELECT DISTINCT event_type, 1 AS dim_flag
        FROM events WHERE event_type IN ('purchase', 'signup'))
    SELECT e.event_type, COUNT(*) AS n_events,
           {osum('e.value')} AS total_value
    FROM events e JOIN dims d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def join_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned
    by event_type; the join's dim side carries a selective filter the
    planner cannot see statically (the dim rows exist only at runtime),
    so Spark injects a dynamicpruning subquery into the fact scan — at
    execution only the partition directories matching the dim's keys are
    read. THE mechanism that lets a 100 TB star join touch 2 of 1000
    date/tenant partitions. Plan pinned in tests/test_scale_plans.py
    (dynamicpruningexpression on the scan)."""
    out = fresh_tmp_dir(spark, "quty_formats_dpp_parquet", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    ev.write.partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dims = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "signup"))
        .select("event_type")
        .distinct()
        .withColumn("dim_flag", F.lit(1))
    )
    return (
        fact.join(dims, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@registry.query(
    "sink_manifest_snapshot",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events, {osum('value')} AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def sink_manifest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-manifest table layout (the core device of Delta/Iceberg,
    reduced to its minimum): every commit writes immutable parquet files
    plus a JSON manifest listing exactly the files belonging to that
    version; readers resolve a version's manifest and load ONLY its file
    list — never `listStatus` over the directory. Commit v1 writes the
    click partition; commit v2 adds purchases WITHOUT touching v1's
    files. The query reads snapshot v2 through its manifest; stale and
    uncommitted files in the same directory are invisible (a dirty
    "orphan" file is planted to prove it). Snapshot isolation and time
    travel then follow from manifest immutability; at 100 TB this is
    also the O(1)-listing property object stores require.
    """
    import json as _json

    out = fresh_tmp_dir(spark, "quty_formats_manifest_tbl", sf_dir)
    os.makedirs(out, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )

    def commit(version: int, df, prev_files: list) -> list:
        data_dir = os.path.join(out, f"commit_v{version}")
        df.write.parquet(data_dir)
        files = sorted(
            os.path.join(data_dir, f)
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )
        manifest = {"version": version, "files": prev_files + files}
        with open(os.path.join(out, f"manifest_v{version}.json"), "w") as fh:
            _json.dump(manifest, fh)
        return manifest["files"]

    v1 = commit(1, ev.filter(F.col("event_type") == "click"), [])
    commit(2, ev.filter(F.col("event_type") == "purchase"), v1)
    # Orphan: present in the directory, referenced by NO manifest — a
    # failed write that never committed. Snapshot reads must not see it.
    ev.limit(50).write.parquet(os.path.join(out, "commit_orphan"))

    with open(os.path.join(out, "manifest_v2.json")) as fh:
        snapshot = _json.load(fh)
    return (
        spark.read.parquet(*snapshot["files"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@registry.query(
    "source_python_datasource",
    oracle="""
    SELECT i AS doc_id, CAST(i % 8 AS INT) AS shard,
           array_to_string(list_transform(range(0, i % 13 + 3),
              j -> 'w' || lpad(CAST((i * 2654435761 + j * 40503)
                                    % 1048576 % 32 AS VARCHAR), 2, '0')),
               ' ') AS text,
           CAST(i % 13 + 3 AS INT) AS n_tokens
    FROM range(100, 1600) t(i)
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through the Spark 4 Python data source API
    (sources/synth_source.py): partition-parallel generation over
    contiguous InputPartitions, with range predicates on doc_id pushed
    INTO the reader (pushFilters) so pruned partitions are never
    created — the extension point for feeds Spark has no builtin for,
    exercised end-to-end: register → scan → pushdown → project. The
    plan shows `BatchScan quty_synth ... PushedFilters:
    [GreaterThanOrEqual(doc_id,100), LessThan(doc_id,1600)]` — pinned
    in tests/test_scale_plans.py. The generator is deterministic
    integer arithmetic, so the oracle reproduces every row from SQL."""
    from quty_server_spark.sources.synth_source import register_synth_source

    # configure() is mandatory here even though no fixture table is read:
    # a pushFilters reader ERRORS on a plain session unless
    # spark.sql.python.filterPushdown.enabled is set (RUNTIME_CONFS) —
    # the driver builds its own unconfigured session.
    configure(spark)
    register_synth_source(spark)
    df = (
        spark.read.format("quty_synth")
        .option("n_docs", "2000")
        .option("n_shards", "8")
        .load()
        .filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 1600))
    )
    return df.select(
        "doc_id",
        "shard",
        "text",
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
    )


@registry.query(
    "sink_python_datasource_writer",
    oracle="""
    SELECT CAST(i % 8 AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(i) AS BIGINT) AS doc_id_sum,
           CAST(SUM(i % 13 + 3) AS BIGINT) AS total_tokens
    FROM range(0, 600) t(i) GROUP BY i % 8
    """,
)
def sink_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional custom SINK through the Spark 4 Python data source
    writer API (sources/synth_source.py SynthSinkWriter): each task
    writes a unique attempt file and returns a WriterCommitMessage; the
    driver-side commit publishes a manifest listing exactly the
    successful attempts — Spark's own two-phase commit protocol driving
    the snapshot-isolation device of sink_manifest_snapshot. The
    read-back goes THROUGH the manifest, and an orphan attempt file
    planted after the write (a simulated failed/speculative task) must
    stay invisible — the oracle's exact counts prove it. Completes the
    connector triple: batch read (pushdown), stream read (offset
    resume), transactional write."""
    import json as _json

    from quty_server_spark.sources.synth_source import (
        register_synth_sink,
        register_synth_source,
    )

    configure(spark)  # see source_python_datasource: pushFilters conf
    register_synth_source(spark)
    register_synth_sink(spark)
    workdir = fresh_tmp_dir(spark, "quty_synth_sink", sf_dir)
    os.makedirs(workdir)
    df = (
        spark.read.format("quty_synth")
        .option("n_docs", "600")
        .option("n_shards", "8")
        .load()
    )
    df.write.format("quty_synth_sink").option("path", workdir).mode(
        "append"
    ).save()
    # A failed/speculative attempt leaves a file no commit message names;
    # the manifest-scoped reader must never see it.
    with open(
        os.path.join(workdir, "_attempts", "part-orphan.jsonl"), "w"
    ) as fh:
        fh.write(_json.dumps({"doc_id": 999999, "shard": 0, "text": "x"}) + "\n")
    with open(os.path.join(workdir, "manifest.json")) as fh:
        manifest = _json.load(fh)
    rows = spark.read.schema("doc_id bigint, shard int, text string").json(
        manifest["files"]
    )
    return rows.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
    )
