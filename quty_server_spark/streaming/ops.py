"""Structured Streaming equivalents of the engine's operators.

The reference is an always-on message router; its Spark-first restatement
is Structured Streaming (SURVEY.md §7 Phase 3): sources → watermarked
event-time windows / stateful subscription fold / stream-static routing
joins → sinks.

Verification strategy (SURVEY.md §5): every streaming query here runs the
real streaming machinery — ``readStream`` file source, watermarks, an
availableNow trigger, memory or foreachBatch sink — then returns
the materialized result as a batch DataFrame so the driver's DuckDB oracle
can check it exactly like any batch query. With availableNow over one
input file the stream processes everything in one micro-batch, so
watermarks drop nothing and results are deterministic; the explicit
late-data query (stream_watermark_late_drop) constructs a two-batch file
sequence so the watermark *does* drop rows, deterministically.

Scale: these are the operators that survive on an unbounded 100 TB/day
feed — windowed aggs with watermark-bounded state, dropDuplicates keyed by
event id, broadcast stream-static joins, and an applyInPandasWithState
subscription fold whose per-key state is the live membership set.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from quty_server_spark.operators import pubsub
from quty_server_spark.operators.dedup import (
    SQL_DUPED,
    SQL_FULL_LABELS_SUMMARY_TMPL,
    SQL_INCREMENTAL_GATE,
    SQL_MINHASH_GATE,
    SQL_PASSAGE_GATE,
    SQL_SIMHASH,
    duped_corpus,
)
from quty_server_spark.operators._helpers import load_table, overlap
from quty_server_spark.operators.similarity import SQL_EMB_GATE
from quty_server_spark.plans.registry import registry
from quty_server_spark.session import (
    configure,
    fresh_tmp_dir,
    session_tmp_dir,
)

EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # internal staged files carry int64 ns
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# The driver fixture stores ``ts`` as naive parquet timestamp[us]
# (isAdjustedToUTC=false). configure() disables TIMESTAMP_NTZ inference,
# so under the pinned-UTC session it scans directly as TIMESTAMP with
# wall-clock values bit-exact to the DuckDB oracle — the streaming mirror
# of the load_table() normalization, with no cast above the scan.
EVENTS_FIXTURE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table (file source, explicit schema),
    normalizing the naive fixture timestamp to a session-tz event time."""
    configure(spark)
    # The fixture is a single FILE; FileStreamSource injects a basePath
    # option for non-glob paths and basePath must be a directory, so a
    # trailing glob char keeps the source on the plain-listing path.
    return (
        spark.readStream.schema(EVENTS_FIXTURE_SCHEMA)
        .parquet(f"{sf_dir}/events.parquet*")
    )


def _run_available_now(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
    output_mode: str = "append",
    name: str | None = None,
    **options: str,
) -> None:
    """Run the streaming ``df`` under the availableNow trigger: it
    processes everything its source holds at start, in as many
    micro-batches as the source's own limits make, then stops, and this
    returns. ``sink`` is a foreachBatch body or a sink format name
    (``options`` go to the writer; ``name`` is the query name a memory
    sink registers its table under). A later run on the same
    ``checkpoint`` resumes from its committed offsets; without one each
    run starts from the beginning of the source."""
    w = df.writeStream.outputMode(output_mode).options(**options)
    w = w.foreachBatch(sink) if callable(sink) else w.format(sink)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    if name is not None:
        w = w.queryName(name)
    w.trigger(availableNow=True).start().awaitTermination()


def run_to_memory(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink and return the materialized table."""
    _run_available_now(df, "memory", output_mode=output_mode, name=name)
    return df.sparkSession.table(name)


def run_to_parquet(df: DataFrame, name: str, sf_dir: str) -> DataFrame:
    """Run an APPEND-mode streaming DataFrame to completion (availableNow)
    into a parquet file sink under the session scratch dir and return the
    read-back frame — the large-output twin of :func:`run_to_memory`,
    so the driver does almost no data work: a memory sink serializes
    EVERY result row through the driver single-threaded, which for a
    fan-out-shaped stream (10.3 M rows at sf0.1) cost ~90 s of pure
    driver ingest; the file sink keeps rows executor-side and the
    returned scan is a parallel parquet read. Rows are identical — the
    sink only changes WHERE the materialization lives. Fresh dirs per
    call, so every invocation re-runs the stream from the source exactly
    like the memory sink (no cross-run reuse)."""
    spark = df.sparkSession
    root = fresh_tmp_dir(spark, f"stream_sink_{name}", sf_dir)
    out = os.path.join(root, "data")
    _run_available_now(df, "parquet", os.path.join(root, "ckpt"), path=out)
    return spark.read.schema(df.schema).parquet(out)


# ---------------------------------------------------------------------------
# Event-time windows + watermarks
# ---------------------------------------------------------------------------


@registry.query(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-hour window aggregation on the event stream.
    State is bounded by the watermark (1h lag): closed windows are evicted
    — the unbounded-feed survival property."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "total_value")
    )
    return run_to_memory(agg, "mem_tumbling", "complete")


@registry.query(
    "stream_sliding_window",
    oracle="""
    WITH contrib AS (
        SELECT e.*, date_trunc('hour', CAST(ts AS TIMESTAMP))
                    - to_hours(b.back) AS win_start
        FROM events e, UNNEST(range(0, 2)) AS b(back))
    SELECT win_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM contrib GROUP BY win_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2h length, 1h slide): each event lands in exactly 2
    overlapping windows; the oracle replicates via the two contributing
    window starts per event."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("win_start"), "n", "total_value")
    )
    return run_to_memory(agg, "mem_sliding", "complete")


@registry.query(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP))
                           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                         >= INTERVAL 30 MINUTE
                    OR LAG(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user — the streaming analog of
    the reference's liveness sessions (heartbeat cadence, SURVEY §2.A #26).
    Oracle reconstructs sessions via gaps-and-islands."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )
    return run_to_memory(agg, "mem_session", "complete")


@registry.query(
    "stream_dedup",
    oracle="SELECT event_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once projection from an at-least-once feed: the
    source is unioned with itself (every event delivered twice — the
    reference's reconnect-flush duplication, lib/Publisher.js:110-124) and
    dropDuplicates on the event key restores uniqueness."""
    s = events_stream(spark, sf_dir).select("event_id", "event_type")
    # Deliver every event twice inside the stream (explode beats a second
    # file source: one scan, and no basePath conflict on a single-file path).
    doubled = (
        s.withColumn("_copy", F.explode(F.array(F.lit(1), F.lit(2))))
        .drop("_copy")
    )
    deduped = doubled.dropDuplicates(["event_id"])
    return run_to_memory(deduped, "mem_dedup", "append")


@registry.query(
    "stream_dedup_within_watermark",
    oracle="SELECT event_id, event_type FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: like stream_dedup, but the dedup
    state is EVICTED once the watermark passes an event's time — the
    variant that survives an unbounded feed, because state holds only the
    watermark-width window of keys instead of every key ever seen.
    Duplicates here arrive in the same micro-batch (well inside the 1-hour
    watermark), so the result equals plain dedup."""
    s = events_stream(spark, sf_dir).select("event_id", "event_type", "ts")
    doubled = (
        s.withColumn("_copy", F.explode(F.array(F.lit(1), F.lit(2))))
        .drop("_copy")
    )
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    return run_to_memory(deduped, "mem_dedup_wm", "append")


# ---------------------------------------------------------------------------
# Stream-static joins (routing on a live feed)
# ---------------------------------------------------------------------------


@registry.query(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.value, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: purchases joined to the customer
    dimension (broadcast — the static side ships to every task once)."""
    s = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    c = load_table(spark, sf_dir, "customer")
    joined = s.join(broadcast(c), s.user_id == c.c_custkey).select(
        "event_id", "user_id", "value", "c_name", "c_mktsegment"
    )
    return run_to_memory(joined, "mem_ssjoin", "append")


@registry.query(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           CAST(date_diff('second', CAST(c.ts AS TIMESTAMP),
                          CAST(p.ts AS TIMESTAMP)) AS BIGINT) AS lag_s
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     -- compare at Spark's microsecond precision: raw TIMESTAMP_NS bounds
     -- would diverge when a pair straddles the 30-min edge by sub-us parts
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to purchases by the same
    user within 30 minutes, both sides watermarked — the attribution-join
    shape. The watermarks + time-range condition bound both join-state
    buffers (rows age out once the other side's watermark passes the
    interval), which is what lets this run forever on unbounded feeds."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias(
            "lag_s"
        ),
    )
    return run_to_memory(joined, "mem_ssj", "append")


@registry.query(
    "stream_stream_left_outer",
    oracle="""
    WITH clicks AS (
        SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT event_id AS purchase_id, user_id,
               CAST(ts AS TIMESTAMP) AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT LEAST((SELECT MAX(click_ts) FROM clicks),
                     (SELECT MAX(purchase_ts) FROM purchases))
               - INTERVAL 1 HOUR AS w
    ),
    matched AS (
        SELECT c.click_id, p.purchase_id, c.user_id,
               CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT)
                   AS lag_s
        FROM clicks c JOIN purchases p
          ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    ),
    unmatched AS (
        -- a click is null-extended only once the watermark proves no
        -- purchase can still arrive for its 30-min window; trailing
        -- unmatched clicks stay buffered in join state and never emit
        SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
               CAST(NULL AS BIGINT) AS lag_s
        FROM clicks c
        WHERE NOT EXISTS (
            SELECT 1 FROM purchases p
            WHERE p.user_id = c.user_id
              AND p.purchase_ts >= c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
          AND c.click_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, paired with
    its within-30-min purchase or null-extended once it provably cannot
    match — the unconverted-click feed of the attribution pipeline.

    Outer emission is watermark-gated: a click's null row appears only
    after the global watermark (min of both sides' max-event-time minus
    the 1 h delay) passes the end of its 30-min match window; Spark then
    evicts the buffered row in a no-data microbatch. The oracle encodes
    exactly that rule, so trailing unmatched clicks — still inside the
    watermark horizon when the finite input ends — are absent on BOTH
    sides. Same bounded-state story as the inner join: both buffers age
    out by watermark, which is what lets this run forever."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias(
            "lag_s"
        ),
    )
    return run_to_memory(joined, "mem_ssj_lo", "append")


@registry.query(
    "stream_pipeline_end_to_end",
    oracle=f"""
    WITH {pubsub.SQL_CHANGELOG}, {pubsub.SQL_CURRENT_SUBS},
    wire AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'view' THEN 'corrupt frame without pipe'
                    ELSE 'M|' || to_json(struct_pack(
                            c := 'ch' || CAST(CAST(props ->> '$.k' AS INTEGER) % 5 AS VARCHAR),
                            m := printf('%.2f', value),
                            s := CAST(user_id AS VARCHAR),
                            _q := CAST(event_id % 100 AS VARCHAR)))
               END AS frame
        FROM events WHERE event_type IN ('click', 'view')
    ),
    parsed AS (
        SELECT event_id, ts,
               substr(frame, strpos(frame, '|') + 1) AS payload
        FROM wire WHERE strpos(frame, '|') > 0
    ),
    msgs AS (
        SELECT event_id, ts, payload ->> '$.c' AS channel
        FROM parsed WHERE json_valid(payload)
    )
    SELECT date_trunc('hour', m.ts) AS hour_start, m.channel, s.member_id,
           COUNT(*) AS n_deliveries
    FROM msgs m JOIN current_subs s ON m.channel = s.channel
    GROUP BY 1, 2, 3
    """,
)
def stream_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole data plane as ONE streaming query:
    serialize -> parse (malformed drop) -> route -> windowed rollup.

    A live feed is framed into the wire envelope (views corrupt on
    purpose), parsed back (split at first '|', from_json; corrupt frames
    yield null and drop — util.parseSocketEvent -> false), routed against
    the broadcast compacted subscription state (sendMessage's inner-join
    fan-out), and rolled up into watermarked hourly delivery counts per
    (channel, member). This is the composition proof: every §2.A stage
    chains inside a single unbounded plan with bounded state — the
    aggregation runs in UPDATE mode (complete mode would keep every
    group forever and make the watermark inert) into the idempotent
    epoch-keyed foreachBatch sink, and the final state takes each
    group's last update (max_by epoch), the stream_watermark_late_drop
    pattern.

    The wire seq here is event_id%100, NOT the batch path's per-channel
    row_number counter — windowed sequence numbering needs an ordered
    partition and is a batch/compaction concern; the streaming envelope
    carries a content-derived seq instead (same mod-100 wrap).
    """
    s = events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("click", "view")
    )
    k = F.get_json_object("props", "$.k").cast("int")
    frame = F.when(
        F.col("event_type") == "view", F.lit("corrupt frame without pipe")
    ).otherwise(
        F.concat(
            F.lit("M|"),
            F.to_json(
                F.struct(
                    F.concat(F.lit("ch"), (k % 5).cast("string")).alias("c"),
                    F.format_string("%.2f", F.col("value")).alias("m"),
                    F.col("user_id").cast("string").alias("s"),
                    (F.col("event_id") % 100).cast("string").alias("_q"),
                )
            ),
        )
    )
    wire = s.select("event_id", "ts", frame.alias("frame"))
    payload_schema = "c string, m string, s string, _q string"
    parsed = (
        wire.filter(F.instr("frame", "|") > 0)
        .withColumn("payload", F.expr("substring(frame, instr(frame, '|') + 1)"))
        .withColumn("p", F.from_json("payload", payload_schema))
        .filter(F.col("p.c").isNotNull())
        .select("event_id", "ts", F.col("p.c").alias("channel"))
    )
    subs = pubsub.current_subs(spark, sf_dir)  # compacted state, broadcast
    routed = parsed.join(broadcast(subs), "channel")
    agg = (
        routed.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "channel", "member_id")
        .agg(F.count("*").alias("n_deliveries"))
        .select(
            F.col("w.start").alias("hour_start"),
            "channel",
            "member_id",
            "n_deliveries",
        )
    )
    outdir = fresh_tmp_dir(spark, "quty_stream_e2e", sf_dir)
    _run_available_now(agg, _epoch_writer(outdir), output_mode="update")
    upd = _read_epochs(spark, outdir)
    return upd.groupBy("hour_start", "channel", "member_id").agg(
        F.max_by("n_deliveries", "epoch").alias("n_deliveries")
    )


@registry.query(
    "stream_route_fanout",
    oracle=f"""
    WITH {pubsub.SQL_CHANGELOG}, {pubsub.SQL_CURRENT_SUBS}
    SELECT e.event_id,
           'ch' || CAST(CAST(e.props ->> '$.k' AS INTEGER) % 7 AS VARCHAR) AS channel,
           s.member_id
    FROM events e
    JOIN current_subs s
      ON 'ch' || CAST(CAST(e.props ->> '$.k' AS INTEGER) % 7 AS VARCHAR) = s.channel
    WHERE e.event_type = 'click'
    """,
)
def stream_route_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's routing core (#3) on a live feed: streaming messages
    × static subscription state, one output row per (message, subscriber);
    subscriber-less messages drop (at-most-once, lib/ChannelHub.js:274).
    In production the static side is the continuously-compacted state of
    stream_subscriptions_stateful."""
    s = events_stream(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    msgs = s.filter(F.col("event_type") == "click").select(
        "event_id", F.concat(F.lit("ch"), (k % 7).cast("string")).alias("channel")
    )
    subs = pubsub.current_subs(spark, sf_dir)  # static side
    routed = msgs.join(broadcast(subs), "channel").select(
        "event_id", "channel", "member_id"
    )
    # File sink, not memory — the fan-out output is |messages x
    # subscribers| (10.3 M rows at sf0.1) and a memory sink ingests all
    # of it through the driver. See run_to_parquet.
    return run_to_parquet(routed, "routed", sf_dir)


# ---------------------------------------------------------------------------
# Stateful subscription fold (applyInPandasWithState)
# ---------------------------------------------------------------------------

_SUBS_OUT_SCHEMA = StructType(
    [
        StructField("channel", StringType()),
        StructField("member_id", LongType()),
    ]
)
_SUBS_STATE_SCHEMA = StructType([StructField("members", StringType())])


def _fold_subscriptions(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-channel state function: fold join/leave ops in event-time order
    into the channel's member set — the reference's ChannelHub mutations
    (subscribe idempotence lib/ChannelHub.js:65-69, unsubscribe + GC
    lib/ChannelHub.js:85-88) as keyed streaming state (JSON-encoded set)."""
    import json

    (channel,) = key
    members: set[int] = set(json.loads(state.get[0]) if state.exists else [])
    # applyInPandasWithState delivers one key's rows as MULTIPLE Arrow
    # chunks (~10k rows each) with no cross-chunk ordering guarantee —
    # sorting each chunk independently folds ops out of event-time order
    # once a channel's changelog exceeds one chunk. Concatenate first,
    # sort the whole changelog once, then fold.
    chunks = list(pdfs)
    if not chunks:  # timeout-only invocation delivers no data
        return
    pdf = pd.concat(chunks, ignore_index=True)
    # Vectorized fold: member histories are independent, so folding in
    # (ts, event_id) order == keeping each member's LAST op. (ts,
    # event_id) is unique within a channel group — kick fan-out emits one
    # row per channel and the original kick rows are filtered upstream —
    # so the sort is deterministic. Joins add to the set, last-op leaves
    # (incl. pre-fanned kicks) mask members out; untouched members keep
    # their prior state.
    last = pdf.sort_values(["ts", "event_id"]).drop_duplicates(
        "member_id", keep="last"
    )
    joined = set(last.loc[last["op"] == "join", "member_id"].astype(int))
    left = set(last.loc[last["op"] != "join", "member_id"].astype(int))
    members = (members - left) | joined
    if members:
        state.update((json.dumps(sorted(members)),))
        yield pd.DataFrame(
            {"channel": channel, "member_id": sorted(members)}
        )
    else:
        # last member left -> destroy the channel (GC, ChannelHub.js:85-88)
        state.remove()


@registry.query(
    "stream_subscriptions_stateful",
    oracle=f"""
    WITH {pubsub.SQL_CHANGELOG}, {pubsub.SQL_CURRENT_SUBS}
    SELECT channel, member_id FROM current_subs
    """,
)
def stream_subscriptions_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The subscription lifecycle as REAL keyed streaming state:
    applyInPandasWithState per channel folds the join/leave/kick changelog
    into a live membership set. Kicks are global (removeClient —
    lib/ChannelHub.js:187-199), so they are pre-fanned-out to the member's
    channels exactly as the reference iterates them. The oracle is the
    same batch fold — sequential fold and last-op-wins agree on every
    (channel, member) history."""
    ev = events_stream(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    changelog = (
        ev.filter(
            F.col("event_type").isin("signup", "error")
            | ((F.col("event_type") == "purchase") & (F.col("value") > 195))
        )
        .select(
            F.concat(F.lit("ch"), (k % 5).cast("string")).alias("channel"),
            F.col("user_id").alias("member_id"),
            F.when(F.col("event_type") == "signup", "join")
            .when(F.col("event_type") == "error", "leave")
            .otherwise("kick")
            .alias("op"),
            "ts",
            "event_id",
        )
    )
    # Global kick -> per-channel leave rows, one per channel (the member's
    # channels are unknowable mid-stream, so fan to all channels: the fold
    # discards no-op leaves, matching removeClient's iterate-and-remove).
    channels = pubsub.changelog(spark, sf_dir).select("channel").distinct()
    kicks = (
        changelog.filter(F.col("op") == "kick")
        .drop("channel")
        .crossJoin(broadcast(channels))
        .select("channel", "member_id", F.lit("leave").alias("op"), "ts", "event_id")
    )
    folded = (
        changelog.filter(F.col("op") != "kick")
        .unionByName(kicks)
        .groupBy("channel")
        .applyInPandasWithState(
            _fold_subscriptions,
            outputStructType=_SUBS_OUT_SCHEMA,
            stateStructType=_SUBS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(folded, "mem_subs_state", "update")


# ---------------------------------------------------------------------------
# Liveness expiry (§2.A #26) — event-time state timeout
# ---------------------------------------------------------------------------

# The reference pings every 10 s and terminates a socket that stayed
# silent for 2 consecutive intervals (lib/Server.js:343-360 with
# HEARTBEAT_INTERVAL=10s, lib/util.js:14). Restated in event time on the
# fixture's cadence: a member expires when silent for 60 minutes (2 x a
# 30-minute heartbeat), judged against a 15-minute watermark.
LIVENESS_SILENCE_MS = 60 * 60 * 1000
LIVENESS_WM = "15 minutes"
LIVENESS_WM_MS = 15 * 60 * 1000

_LIVE_OUT_SCHEMA = StructType(
    [
        StructField("member_id", LongType()),
        StructField("last_seen", TimestampType()),
        StructField("n_heartbeats", LongType()),
    ]
)
_LIVE_STATE_SCHEMA = StructType(
    [StructField("last_us", LongType()), StructField("n", LongType())]
)


def _liveness_expiry(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-member liveness state: every event is a heartbeat that bumps
    last_seen and re-arms an event-time timeout at last_seen + 2x the
    heartbeat interval. When the watermark passes the timeout with no new
    beat, the member EXPIRES: one output row (the kill decision,
    lib/Server.js:352-357), state removed. A later beat re-creates state
    from scratch — the reference's reconnect-after-kill (revive), proven
    by tests/test_streaming_recovery.py with a multi-batch choreography.
    State is O(members), not O(events): one (long, long) per key."""
    (member,) = key
    if state.hasTimedOut:
        last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "member_id": [member],
                "last_seen": [pd.Timestamp(last_us, unit="us")],
                "n_heartbeats": [n],
            }
        )
        return
    pdf = pd.concat(list(pdfs), ignore_index=True)
    last_us = int(pdf["ts"].max().value // 1000)
    n = len(pdf)
    if state.exists:
        prev_last, prev_n = state.get
        last_us = max(last_us, int(prev_last))
        n += int(prev_n)
    state.update((last_us, n))
    # Event-time timeouts take epoch MILLISECONDS; the watermark tracks
    # floor-ms of event time, so truncation here matches the engine.
    state.setTimeoutTimestamp(last_us // 1000 + LIVENESS_SILENCE_MS)


@registry.query(
    "stream_liveness_expiry",
    oracle=f"""
    WITH hb AS (
        SELECT user_id AS member_id,
               MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
               COUNT(*) AS n_heartbeats,
               MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events GROUP BY user_id),
    wm AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 1000
                  - {LIVENESS_WM_MS} AS w_ms
           FROM events)
    SELECT member_id, last_seen, n_heartbeats
    FROM hb, wm
    WHERE (last_us // 1000) + {LIVENESS_SILENCE_MS} < wm.w_ms
    """,
)
def stream_liveness_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #26 end-to-end on the fixture: every user event is a
    heartbeat; members whose last beat is more than 60 minutes below the
    final watermark (max event time - 15 min) have their state expire via
    GroupStateTimeout.EventTimeTimeout and are emitted as killed. The
    oracle replicates the decision in floor-millisecond arithmetic —
    exactly the precision the engine's watermark uses."""
    s = events_stream(spark, sf_dir)
    hb = s.select(F.col("user_id").alias("member_id"), "ts")
    expired = (
        hb.withWatermark("ts", LIVENESS_WM)
        .groupBy("member_id")
        .applyInPandasWithState(
            _liveness_expiry,
            outputStructType=_LIVE_OUT_SCHEMA,
            stateStructType=_LIVE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return run_to_memory(expired, "mem_liveness", "append")


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4.x arbitrary state API)
# ---------------------------------------------------------------------------


def _make_seq_processor():
    """Built lazily: importing StatefulProcessor is cheap, but keeping the
    class local avoids import-order issues in environments without the
    RocksDB provider."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SeqProcessor(StatefulProcessor):
        """Per-channel monotone sequence counter wrapping at 100 — the
        reference's outbound ``_q`` injection (MAX_SEND_SEQ,
        lib/util.js:13,186-196) restated as keyed streaming state: the
        counter survives micro-batches in a ValueState."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState(
                "count", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
            start = self._count.get()[0] if self._count.exists() else 0
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "channel": key[0],
                    "event_id": pdf["event_id"].values,
                    "seq": [(start + i) % 100 for i in range(1, n + 1)],
                }
            )
            self._count.update((start + n,))
            yield out

        def close(self) -> None:
            pass

    return SeqProcessor()


_SEQ_OUT_SCHEMA = StructType(
    [
        StructField("channel", StringType()),
        StructField("event_id", LongType()),
        StructField("seq", LongType()),
    ]
)


def _protobuf_available() -> bool:
    # transformWithStateInPandas drives its state protocol over protobuf;
    # without google.protobuf the driver-side worker crashes at init.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_seq_counter_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel wire sequence numbers via transformWithStateInPandas —
    the second arbitrary-state API (alongside applyInPandasWithState),
    requiring the RocksDB state store and google.protobuf. The name
    `stream_seq_counter_tws` registers unconditionally: this
    implementation when the tws runtime deps exist, else
    :func:`stream_seq_counter_apws` (identical fold on the other API).
    State is one long per channel; at scale that is O(channels), not
    O(messages)."""
    configure(spark)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        msgs = _seq_counter_messages(spark, sf_dir)
        seq = msgs.groupBy("channel").transformWithStateInPandas(
            statefulProcessor=_make_seq_processor(),
            outputStructType=_SEQ_OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
        return run_to_memory(seq, "mem_seq_tws", "append")
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        )


_SEQ_STATE_SCHEMA = StructType([StructField("n", LongType())])


def _seq_counter_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState twin of SeqProcessor: identical fold (sort by
    (ts, event_id), attach-then-increment mod 100, counter carried in keyed
    state across micro-batches). Exists so the `stream_seq_counter_tws`
    name registers unconditionally — transformWithStateInPandas needs
    google.protobuf, which some environments (this container) lack."""
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts", "event_id"]
    )
    start = state.get[0] if state.exists else 0
    n = len(pdf)
    state.update((start + n,))
    yield pd.DataFrame(
        {
            "channel": key[0],
            "event_id": pdf["event_id"].values,
            "seq": [(start + i) % 100 for i in range(1, n + 1)],
        }
    )


def _seq_counter_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return s.filter(F.col("event_type") == "click").select(
        F.concat(F.lit("ch"), (k % 7).cast("string")).alias("channel"),
        "event_id",
        "ts",
    )


def stream_seq_counter_apws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fallback implementation of the per-channel wire sequence counter on
    the applyInPandasWithState API (no protobuf / RocksDB requirement);
    same output schema and fold semantics as the tws path, so either
    implementation satisfies the same oracle. State is one long per
    channel — O(channels), not O(messages)."""
    configure(spark)
    seq = (
        _seq_counter_messages(spark, sf_dir)
        .groupBy("channel")
        .applyInPandasWithState(
            _seq_counter_fold,
            outputStructType=_SEQ_OUT_SCHEMA,
            stateStructType=_SEQ_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(seq, "mem_seq_apws", "append")


# The name always registers; the implementation is the tws path when its
# runtime deps exist, else the applyInPandasWithState twin — so the
# registry carries the query unconditionally and the local gate proves the
# fold either way.
registry.register(
    "stream_seq_counter_tws",
    stream_seq_counter_tws if _protobuf_available() else stream_seq_counter_apws,
    oracle=f"""
    WITH {pubsub.SQL_MESSAGES}
    SELECT channel, event_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY channel
                                   ORDER BY ts, event_id) % 100 AS BIGINT) AS seq
    FROM messages
    """,
)


# ---------------------------------------------------------------------------
# Watermark late-data drop + checkpoint recovery (deterministic micro-batches)
# ---------------------------------------------------------------------------


def _as_ns_events(df: DataFrame) -> DataFrame:
    """Events projection with ts back as int64 ns, so staged files scan
    under EVENTS_RAW_SCHEMA (Spark would otherwise write INT96)."""
    return df.select(
        "event_id",
        (F.unix_micros("ts") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _stage_ordered(frames: list[DataFrame], indir: str) -> None:
    """Stage each of ``frames`` as ONE parquet file in ``indir``, after
    the files already there, with modification times in that order. The
    file source reads oldest first, so under ``maxFilesPerTrigger=1``
    each frame is one micro-batch, in order, and a file staged by a later
    call is what a resumed query reads next. An empty frame still stages
    a schema-only file, so micro-batch numbering never shifts."""
    os.makedirs(indir, exist_ok=True)
    stage = f"{indir}_stage"
    for i, df in enumerate(frames, len(os.listdir(indir))):
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(indir, f"file{i}.parquet")
        os.replace(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)
    shutil.rmtree(stage, ignore_errors=True)


def _epoch_writer(outdir: str):
    """Idempotent foreachBatch sink: each micro-batch overwrites its own
    epoch-keyed directory, so a re-executed (crash-retried) batch lands on
    the same path and the result is unchanged — the sink half of
    exactly-once (§2.A #28)."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(outdir, f"epoch={epoch_id}")
        )

    return write_epoch


def _epoch_dirs(outdir: str) -> list[str]:
    """The epoch directories the :func:`_epoch_writer` sink at
    ``outdir`` has committed; empty before its first commit. Readers
    pass this explicit list: a glob read logs a false "Assume no
    metadata directory" warning with a stack trace, although it reads
    every epoch."""
    if not os.path.isdir(outdir):
        return []
    return sorted(
        os.path.join(outdir, d)
        for d in os.listdir(outdir)
        if d.startswith("epoch=")
    )


def _committed_epochs(outdir: str) -> list[int]:
    """Sorted ids of the epochs committed at ``outdir``."""
    return sorted(int(d.rsplit("=", 1)[1]) for d in _epoch_dirs(outdir))


def _read_epochs(spark: SparkSession, outdir: str) -> DataFrame:
    """Every epoch the :func:`_epoch_writer` sink at ``outdir``
    committed, with its ``epoch`` partition column, eagerly
    ``localCheckpoint``-ed: ``outdir`` is a :func:`fresh_tmp_dir` that
    the next call for the same sf_dir clears, and the returned frame
    must survive that."""
    return (
        spark.read.option("basePath", outdir)
        .parquet(*_epoch_dirs(outdir))
        .localCheckpoint(eager=True)
    )


@registry.query(
    "stream_watermark_late_drop",
    oracle="""
    WITH bounds AS (SELECT MIN(CAST(ts AS TIMESTAMP)) AS t0 FROM events)
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, COUNT(*) AS n
    FROM events, bounds
    WHERE CAST(ts AS TIMESTAMP) >= bounds.t0 + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP, actually exercised. Three ordered
    micro-batches: (1) the middle of the event-time range — advances the
    watermark to max(batch1.ts) - 2h; (2) a spacer hour of fresh rows —
    needed because Spark's late-event filter uses the watermark as of the
    PREVIOUS batch's start (the two-watermark model that keeps chained
    stateful operators consistent, SPARK-24634), so a drop only happens
    two batches after the rows that advanced the watermark; (3) the
    earliest hour of events — now genuinely below the late-event
    watermark and DISCARDED — plus the final hour, still fresh and
    merged. The aggregation runs in UPDATE mode (complete mode never
    drops late rows); updates land in an epoch-keyed foreachBatch sink
    and the final state takes each window's last update (max_by epoch).
    The oracle is simply "every event except the earliest hour", because
    that is exactly what the watermark admits — the reference's
    at-most-once discard restated in event time.
    tests/test_streaming_recovery.py asserts the drop is non-empty."""
    configure(spark)
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    late_cut = lo + dt.timedelta(hours=1)
    spacer_cut = hi - dt.timedelta(hours=2)
    hold_cut = hi - dt.timedelta(hours=1)
    workdir = fresh_tmp_dir(spark, "quty_stream_late", sf_dir)
    indir = os.path.join(workdir, "in")
    outdir = os.path.join(workdir, "out")
    main = ev.filter(
        (F.col("ts") >= F.lit(late_cut)) & (F.col("ts") < F.lit(spacer_cut))
    )
    spacer = ev.filter(
        (F.col("ts") >= F.lit(spacer_cut)) & (F.col("ts") < F.lit(hold_cut))
    )
    late_and_fresh = ev.filter(
        (F.col("ts") < F.lit(late_cut)) | (F.col("ts") >= F.lit(hold_cut))
    )
    _stage_ordered(
        [_as_ns_events(f) for f in (main, spacer, late_and_fresh)], indir
    )
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
    )
    s = raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    agg = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "n")
    )
    _run_available_now(agg, _epoch_writer(outdir), output_mode="update")
    upd = _read_epochs(spark, outdir)
    return upd.groupBy("hour_start").agg(F.max_by("n", "epoch").alias("n"))


def _stop_resume_run(
    spark: SparkSession,
    workdir: str,
    schema: StructType,
    halves: list[DataFrame],
    project: Callable[[DataFrame], DataFrame],
) -> dict:
    """Stop-and-resume on one checkpoint: stage ``halves[0]`` under
    ``workdir/in``, run ``project`` over a file stream of ``schema`` to
    termination into the epoch-keyed sink at ``workdir/out`` (the
    offsets and epochs commit, then the query stops), then stage
    ``halves[1]`` and run a NEW query on the same ``workdir/ckpt``.
    Returns the epochs committed after each run and the read-back of
    every epoch (with its ``epoch`` column)."""
    indir = os.path.join(workdir, "in")
    outdir = os.path.join(workdir, "out")

    def run_once(half: DataFrame) -> list[int]:
        _stage_ordered([half], indir)
        raw = spark.readStream.schema(schema).parquet(indir)
        _run_available_now(
            project(raw), _epoch_writer(outdir), os.path.join(workdir, "ckpt")
        )
        return _committed_epochs(outdir)

    epochs_phase1 = run_once(halves[0])  # consume half 1, commit, stop
    epochs_all = run_once(halves[1])  # NEW query, same checkpoint: resumes
    return {
        "result": _read_epochs(spark, outdir),
        "epochs_phase1": epochs_phase1,
        "epochs_all": epochs_all,
    }


def checkpoint_recovery_run(spark: SparkSession, sf_dir: str) -> dict:
    """The "Kafka semantics" proof: a checkpointed streaming query is
    STOPPED mid-input and a new query resumes from the checkpoint.

    Choreography: the events table is split in two files by event time.
    Phase 1 exposes only file 1 to the source and runs an availableNow
    query to termination (it commits its offsets + sink epochs, then
    stops — a controlled stand-in for a crash between micro-batches).
    Phase 2 adds file 2 and starts a NEW query on the SAME
    checkpointLocation: the file source resumes from the committed
    offsets, so file 1 is never re-read (no duplicates) and file 2 is
    picked up exactly once (no loss), continuing the epoch numbering.
    The sink is the idempotent epoch-keyed foreachBatch writer, so a
    crash-retried uncommitted batch would overwrite its own epoch rather
    than append — together: end-to-end exactly-once over restarts, the
    durable-delivery property the reference approximates with client-side
    queues (lib/Publisher.js:55-66,110-124; lib/QutyClient.js:241-259).

    Returns phase metadata for tests; the registered query returns only
    the final read-back, which the oracle checks against the batch truth.
    """
    configure(spark)
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut = lo + (hi - lo) / 2
    workdir = fresh_tmp_dir(spark, "quty_stream_ckpt", sf_dir)
    run = _stop_resume_run(
        spark,
        workdir,
        EVENTS_RAW_SCHEMA,
        [
            _as_ns_events(ev.filter(F.col("ts") < F.lit(cut))),
            _as_ns_events(ev.filter(F.col("ts") >= F.lit(cut))),
        ],
        lambda raw: raw.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "value"
        ),
    )
    return {
        **run,
        "result": run["result"].select("event_id", "user_id", "value"),
        "outdir": os.path.join(workdir, "out"),
        "cut": cut,
    }


@registry.query(
    "stream_checkpoint_recovery",
    oracle="SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of :func:`checkpoint_recovery_run` — the final
    read-back after stop + restart-from-checkpoint must equal the batch
    truth exactly (every purchase event once: no loss across the restart,
    no duplicates from re-reading file 1)."""
    return checkpoint_recovery_run(spark, sf_dir)["result"]


# ---------------------------------------------------------------------------
# foreachBatch sink
# ---------------------------------------------------------------------------


@registry.query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
    """,
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink — the engine's delivery tier (§2.A #28): each
    micro-batch is written idempotently (epoch-keyed path, overwrite) to
    parquet, then read back. This is the pattern that replaces the
    reference's per-socket delivery loop with exactly-once batch writes."""
    configure(spark)
    outdir = fresh_tmp_dir(spark, "quty_feb_sink", sf_dir)
    s = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase").select(
        "event_id", "event_type", "value"
    )
    _run_available_now(s, _epoch_writer(outdir))
    return _read_epochs(spark, outdir).select(
        "event_id", "event_type", "value"
    )


@registry.query(
    "stream_rate_source",
    oracle="""
    SELECT CAST(r % 16 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(r) AS BIGINT) AS value_sum
    FROM range(0, 5000) t(r)
    GROUP BY 1
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate source, value-verified: the built-in load-generator source
    (the stand-in for a Kafka ingress in this container — no broker
    available) feeding a real micro-batch pipeline: projection + modulo
    bucketing + windowless aggregation, availableNow to a memory sink.
    Unlike the wall-clock `rate` format, `rate-micro-batch` is
    DETERMINISTIC by contract: it advances its offset by exactly
    rowsPerBatch per batch independent of execution timing, and with a
    fresh checkpoint + availableNow the run consumes exactly one batch —
    values 0..rowsPerBatch-1. That makes the emitted `value` column (and
    so every per-bucket count and sum) a pure function of the three
    pinned options, so the query carries a real SQL oracle over
    range(0, 5000) — no rows-only trust needed. At scale the rate source
    is also the backpressure-calibration tool: crank the per-batch row
    count until the sink lags, and that is the pipeline's throughput
    ceiling."""
    from quty_server_spark.session import configure

    configure(spark)
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .load()
    )
    agg = (
        rate.select((F.col("value") % 16).alias("bucket"), "value")
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
    )
    return run_to_memory(agg, "rate_smoke", "complete")


# ---------------------------------------------------------------------------
# Kafka wire semantics across a checkpointed restart (no broker available:
# the staged-file log stands in for the topic; what is proven is the
# CONSUMER contract — resume from committed offsets, no loss, no dupes,
# per-key order preserved)
# ---------------------------------------------------------------------------

KAFKA_RECORD_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("topic", StringType()),
        StructField("partition", LongType()),
        StructField("offset", LongType()),
        StructField("key", StringType()),
        StructField("value", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def kafka_replay_run(spark: SparkSession, sf_dir: str) -> dict:
    """Kafka-shaped log replay across a stop + checkpoint-resume.

    The topic is staged as two files, each holding a per-partition offset
    PREFIX/SUFFIX (offset order == ts order per partition by
    construction, so a ts cut splits every partition's log cleanly). A
    checkpointed query consumes file 1 and is stopped; a NEW query on the
    same checkpoint consumes only file 2. Per-key ordering across the
    restart is pinned in tests/test_kafka_wire.py: every key's phase-1
    offsets all precede its phase-2 offsets, and the final log is
    gap-free 0..n-1 per partition — the reference's per-socket FIFO
    (lib/util.js sendSocketEvent seq) restated as the consumer-group
    resume contract."""
    configure(spark)
    rec = pubsub.kafka_records(spark, sf_dir).withColumn(
        "partition", F.col("partition").cast("long")
    )
    # O(1) bounds row: the aggregation runs distributed; only the single
    # reduced (min, max) row crosses to the driver.
    lo, hi = rec.agg(F.min("ts"), F.max("ts")).first()
    cut = lo + (hi - lo) / 2
    n_before, n_after = rec.agg(
        F.sum((F.col("ts") < F.lit(cut)).cast("long")),
        F.sum((F.col("ts") >= F.lit(cut)).cast("long")),
    ).first()
    if not n_before or not n_after:
        # Degenerate ts distribution (all records in one half of the
        # midpoint): fall back to the ts median so both phases carry
        # records — phase 1 committing zero epochs would fail the replay
        # harness on fixture drift rather than on a contract violation.
        cut = rec.agg(
            F.expr("percentile(unix_micros(ts), 0.5)").cast("long")
        ).first()[0]
        cut = dt.datetime.fromtimestamp(cut / 1_000_000, tz=dt.timezone.utc)
        n_before, n_after = rec.agg(
            F.sum((F.col("ts") < F.lit(cut)).cast("long")),
            F.sum((F.col("ts") >= F.lit(cut)).cast("long")),
        ).first()
    assert n_before and n_after, (
        f"kafka_replay_run: degenerate topic split (before={n_before}, "
        f"after={n_after}) — fixture ts distribution leaves one replay "
        f"phase empty even at the median cut; regenerate fixtures or "
        f"adjust the cut strategy"
    )
    cols = [f.name for f in KAFKA_RECORD_SCHEMA.fields]
    # Consumer-side envelope parse happens downstream (kafka_wire_decode
    # covers it); the replay path forwards records as-is.
    return _stop_resume_run(
        spark,
        fresh_tmp_dir(spark, "quty_kafka_replay", sf_dir),
        KAFKA_RECORD_SCHEMA,
        [
            rec.filter(F.col("ts") < F.lit(cut)).select(*cols),
            rec.filter(F.col("ts") >= F.lit(cut)).select(*cols),
        ],
        lambda raw: raw,
    )


@registry.query(
    "stream_kafka_replay",
    oracle=f"""
    WITH {pubsub.SQL_KAFKA_RECORDS}
    SELECT event_id, topic, "partition", "offset", "key", "value"
    FROM kafka_records
    """,
)
def stream_kafka_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of :func:`kafka_replay_run` — the read-back after
    stop + resume must equal the batch-synthesized topic exactly (every
    record once: committed offsets are not re-consumed, pending ones are
    not lost)."""
    return (
        kafka_replay_run(spark, sf_dir)["result"]
        .withColumn("partition", F.col("partition").cast("int"))
        .select("event_id", "topic", "partition", "offset", "key", "value")
    )


@registry.query(
    "stream_window_topk",
    oracle="""
    WITH spend AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
               user_id,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS spend
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2)
    SELECT hour_start, user_id, spend, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_start
                    ORDER BY spend DESC, user_id) AS rn FROM spend)
    WHERE rn <= 3
    """,
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 spenders per event-time hour: the watermarked windowed
    aggregation runs IN the stream (state = open windows only); the
    rank-and-take runs on the closed windows it emits — the standard
    split for leaderboard queries on an unbounded feed, since a global
    rank inside the stream would need unbounded state. The final top-k
    is a window over (hour, spend) with a deterministic tiebreak."""
    s = events_stream(spark, sf_dir)
    spend = (
        s.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("spend")
        )
        .select(F.col("w.start").alias("hour_start"), "user_id", "spend")
    )
    closed = run_to_memory(spend, "mem_window_topk", "complete")
    from pyspark.sql import Window as W

    rank_w = W.partitionBy("hour_start").orderBy(
        F.desc("spend"), F.asc("user_id")
    )
    return (
        closed.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= 3)
        .select("hour_start", "user_id", "spend", "rn")
    )


@registry.query(
    "stream_stream_full_outer",
    oracle="""
    WITH clicks AS (
        SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT event_id AS purchase_id, user_id,
               CAST(ts AS TIMESTAMP) AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT LEAST((SELECT MAX(click_ts) FROM clicks),
                     (SELECT MAX(purchase_ts) FROM purchases))
               - INTERVAL 1 HOUR AS w
    ),
    matched AS (
        SELECT c.click_id, p.purchase_id, c.user_id,
               CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT)
                   AS lag_s
        FROM clicks c JOIN purchases p
          ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    ),
    unmatched_clicks AS (
        SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
               CAST(NULL AS BIGINT) AS lag_s
        FROM clicks c
        WHERE NOT EXISTS (
            SELECT 1 FROM purchases p
            WHERE p.user_id = c.user_id
              AND p.purchase_ts >= c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
          AND c.click_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
    ),
    unmatched_purchases AS (
        -- a purchase null-extends once the watermark proves no click can
        -- still match: its latest admissible click has click_ts <=
        -- purchase_ts, so decidability is purchase_ts < watermark
        SELECT CAST(NULL AS BIGINT) AS click_id, p.purchase_id, p.user_id,
               CAST(NULL AS BIGINT) AS lag_s
        FROM purchases p
        WHERE NOT EXISTS (
            SELECT 1 FROM clicks c
            WHERE c.user_id = p.user_id
              AND p.purchase_ts >= c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
          AND p.purchase_ts < (SELECT w FROM wm)
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched_clicks
    UNION ALL SELECT * FROM unmatched_purchases
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: clicks and purchases each
    null-extend once the watermark proves their window closed — the
    both-directions attribution feed (unconverted clicks AND organic
    purchases) in one bounded-state unbounded plan. Left-side emission is
    gated on the click's 30-min window passing the watermark; right-side
    on the purchase's own event time passing it (its latest admissible
    click is no newer than itself). The oracle encodes both rules, so
    trailing rows still inside the horizon are absent on BOTH sides."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "fullOuter",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias(
            "lag_s"
        ),
    )
    return run_to_memory(joined, "mem_ssfo", "append")


@registry.query(
    "stream_chained_windows",
    oracle="""
    WITH horizon AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events),
    ten AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
               + INTERVAL (10 * (EXTRACT(minute FROM CAST(ts AS TIMESTAMP)) // 10)) MINUTE
                   AS w10_start,
               event_type, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(38,6))) AS total_dec
        FROM events GROUP BY 1, 2)
    SELECT date_trunc('hour', w10_start) AS hour_start,
           event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           COUNT(*) AS n_subwindows,
           CAST(SUM(total_dec) AS DOUBLE) AS total_value
    FROM ten, horizon
    WHERE date_trunc('hour', w10_start) + INTERVAL 1 HOUR <= max_ts
    GROUP BY 1, 2
    """,
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained (multi-level) streaming aggregation: a 10-minute windowed
    count/sum per channel feeds a second stateful aggregation that rolls
    the CLOSED 10-minute windows up to hours — two stateful operators in
    ONE unbounded plan via ``window_time`` (Spark 3.4+ multi-stateful
    support), append mode. This is the streaming rollup cascade (minute →
    hour → day) that keeps per-level state bounded by the watermark
    instead of re-scanning raw events per grain.

    Append-mode emission: with a 0-second watermark delay the final
    watermark equals max(ts), so exactly the hour windows whose END is
    <= max(ts) are emitted; the oracle states the same horizon filter.
    """
    s = events_stream(spark, sf_dir)
    ten = (
        s.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("total_dec"),
        )
    )
    hour = (
        ten.groupBy(
            F.window(F.window_time("w10"), "1 hour").alias("w60"), "event_type"
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count("*").alias("n_subwindows"),
            F.sum("total_dec").cast("double").alias("total_value"),
        )
        .select(
            F.col("w60.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_subwindows",
            "total_value",
        )
    )
    return run_to_memory(hour, "mem_chained_windows", "append")


@registry.query(
    "stream_python_datasource",
    oracle="""
    SELECT CAST(i % 8 AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(i) AS BIGINT) AS min_doc,
           CAST(MAX(i) AS BIGINT) AS max_doc,
           CAST(SUM(i % 13 + 3) AS BIGINT) AS total_tokens
    FROM range(0, 500) t(i) GROUP BY i % 8
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector through the Spark 4 Python data source
    API (sources/synth_source.py SimpleDataSourceStreamReader): the
    bounded synthetic corpus arrives as offset-tracked micro-batches
    (200 docs each), consumed across REPEATED availableNow runs on one
    checkpoint — each run is a fresh query resuming from committed
    offsets, so the exact per-shard counts the oracle states prove the
    resume contract end-to-end (no batch re-consumed, none lost; the
    same stop/resume device as stream_kafka_replay). The idempotent
    epoch-keyed foreachBatch sink supplies the sink half of
    exactly-once; readBetweenOffsets regenerates a planned-but-
    uncommitted batch bit-identically on restart (source half).

    Scale: at a real deployment the reader's offset is a feed position
    (queue cursor, API page token); partition-parallelism comes from the
    batch variant's InputPartitions — the simple stream reader
    prioritizes the offset/replay contract, which is what this query
    pins."""
    from quty_server_spark.sources.synth_source import (
        register_synth_stream_source,
    )

    configure(spark)
    register_synth_stream_source(spark)
    n_docs = 500
    workdir = fresh_tmp_dir(spark, "quty_synth_stream", sf_dir)
    outdir = os.path.join(workdir, "out")
    # 500 docs / 200-doc batches -> 3 productive runs + 1 empty; the
    # bound is a guard, the loop exits on row-count convergence.
    for _ in range(6):
        _run_available_now(
            spark.readStream.format("quty_synth_stream").load(),
            _epoch_writer(outdir),
            os.path.join(workdir, "ckpt"),
        )
        dirs = _epoch_dirs(outdir)
        if dirs and spark.read.parquet(*dirs).count() >= n_docs:
            break
    return _read_epochs(spark, outdir).groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Continuous ingest gate: the nightly dedup gate as a stream
# ---------------------------------------------------------------------------


def _drain(
    spark: SparkSession, schema: StructType | str, indir: str, ckpt: str,
    fn,
) -> None:
    """Stream the parquet files staged in ``indir`` through the
    foreachBatch body ``fn``, one file per micro-batch, until the
    directory is drained; progress is checkpointed at ``ckpt``, so a
    second drain on the same ``ckpt`` resumes (replaying an epoch that
    failed) instead of starting over. ``schema`` is the staged files'
    schema: passing it, rather than re-reading the staging dir, avoids
    a schema-inference job per drain."""
    _run_available_now(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir),
        fn,
        ckpt,
    )


def _run_ingest_gate_stream(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    shard: DataFrame,
    id_col: str,
    probe: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Shared runner for the continuous ingest gates: stage ``shard`` as
    4 files hash-partitioned on ``id_col`` (batch composition is
    deterministic in content, not in arrival order), drain them one
    file per micro-batch, write ``probe(batch_df)`` to the epoch-keyed
    idempotent sink (:func:`_epoch_writer`), and return the union of
    all epochs.

    Each gate's ``probe`` is its batch twin's own probe function, so
    the epoch union equals the one-shot batch gate exactly: every shard
    row lands in exactly one micro-batch, a row's probe output depends
    only on that row and on static lake state (the standing artifact),
    and a probe's ``distinct`` only collapses a row's own repeated
    pairs. Nothing crosses epochs, so no cross-epoch state or dedup is
    needed (set-equality tested in tests/test_streaming_recovery.py).

    The read-back of the epoch directories has no ``basePath``, so it
    carries exactly the probe's columns (no ``epoch`` partition
    column). Scratch dirs are session-keyed (:func:`fresh_tmp_dir`) and
    the returned frame is eagerly ``localCheckpoint``-ed, so a later
    call for the same sf_dir — which clears and restages them — can
    never invalidate a frame this call already handed out."""
    base = fresh_tmp_dir(spark, kind, sf_dir)
    indir = os.path.join(base, "in")
    outdir = os.path.join(base, "out")
    shard.repartition(4, id_col).write.parquet(indir)
    write = _epoch_writer(outdir)
    _drain(
        spark, shard.schema, indir, os.path.join(base, "ckpt"),
        lambda batch_df, epoch_id: write(probe(batch_df), epoch_id),
    )
    return spark.read.parquet(*_epoch_dirs(outdir)).localCheckpoint(
        eager=True
    )


def _shard(
    spark: SparkSession, sf_dir: str, table: str, id_col: str
) -> DataFrame:
    """Tonight's incoming shard of ``table``: ``id_col % 10 == 0``."""
    return load_table(spark, sf_dir, table).filter(F.col(id_col) % 10 == 0)


@registry.query(
    "stream_ingest_dedup_gate",
    oracle=SQL_INCREMENTAL_GATE,
)
def stream_ingest_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash ingest gate run continuously: incoming documents
    arrive as a file stream and each micro-batch is signed, banded and
    probed against the lake-signature artifact with
    :func:`~quty_server_spark.operators.dedup.simhash_gate_pairs` — the
    streaming twin of
    :func:`~quty_server_spark.operators.dedup.dedup_incremental_simhash_artifact`,
    sharing its oracle SQL byte-for-byte (:func:`_run_ingest_gate_stream`).

    Scale: per micro-batch cost is sign(batch) + one band-equality join
    against the artifact scan (batch side broadcast). The lake-sized
    signing job is amortized into the artifact on both the nightly and
    the continuous path."""
    from quty_server_spark.operators.dedup import (
        SIG_FAMILY,
        simhash_bands,
        simhash_gate_pairs,
        simhash_sigs_docs,
    )

    configure(spark)
    lake = spark.read.parquet(SIG_FAMILY.build(spark, sf_dir)).select(
        "doc_id", "sig", "band_id", "band_val"
    )
    return _run_ingest_gate_stream(
        spark,
        sf_dir,
        "quty_stream_gate",
        _shard(spark, sf_dir, "documents", "doc_id"),
        "doc_id",
        lambda b: simhash_gate_pairs(
            simhash_bands(simhash_sigs_docs(b)), lake
        ).distinct(),
    )


@registry.query(
    "stream_ingest_dedup_gate_minhash",
    oracle=SQL_MINHASH_GATE,
)
def stream_ingest_dedup_gate_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MinHash ingest gate run continuously — the streaming twin of
    :func:`~quty_server_spark.operators.dedup.dedup_incremental_minhash_artifact`,
    sharing its oracle SQL byte-for-byte: each micro-batch is shingled,
    min-hashed and banded, candidates come from
    :func:`~quty_server_spark.operators.dedup.minhash_gate_candidates`
    against the lake MinHash-band artifact (which carries the lake's
    per-doc shingle counts, so no lake-side aggregation runs per batch),
    and the exact-Jaccard verify joins only the batch's own shingles
    against the lake documents scan restricted to candidate pairs.

    Scale: per micro-batch cost is shingle+sign(batch) + one band join
    against the artifact scan + a candidate-restricted verify; the
    lake-sized signature and size aggregations are amortized into the
    write-once artifact."""
    from quty_server_spark.operators.dedup import (
        _minhash_gate_verify_nb,
        doc_shingles_docs,
        MINHASH_FAMILY,
        lake_shingles_for_verify,
        minhash_bands,
        minhash_gate_candidates,
        minhash_sigs,
    )

    configure(spark)
    lake = spark.read.parquet(MINHASH_FAMILY.build(spark, sf_dir)).select(
        "doc_id", "sig", "n_sh", "band_id"
    )
    # Lazy-checkpointed once: every micro-batch's verify joins the lake
    # shingles, and without the checkpoint each batch would re-run the
    # lake documents scan+explode — 4 lake passes per run instead of 1
    # (materializes on the first batch, reused by the rest).
    lake_sh = lake_shingles_for_verify(spark, sf_dir).localCheckpoint(
        eager=False
    )

    def probe(batch_df: DataFrame) -> DataFrame:
        sh = doc_shingles_docs(batch_df).localCheckpoint(eager=False)
        cand = minhash_gate_candidates(
            minhash_bands(minhash_sigs(sh)), lake, F.col("o.n_sh").alias("nb")
        )
        return _minhash_gate_verify_nb(cand, sh, lake_sh)

    return _run_ingest_gate_stream(
        spark,
        sf_dir,
        "quty_stream_gate_minhash",
        _shard(spark, sf_dir, "documents", "doc_id"),
        "doc_id",
        probe,
    )


@registry.query(
    "stream_ingest_dedup_gate_embedding",
    oracle=SQL_EMB_GATE,
)
def stream_ingest_dedup_gate_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The embedding ingest gate run continuously — the streaming twin
    of :func:`~quty_server_spark.operators.similarity.dedup_incremental_embedding_artifact`,
    sharing its oracle SQL byte-for-byte: each micro-batch of incoming
    vectors is probed with
    :func:`~quty_server_spark.operators.similarity.embedding_gate_pairs`
    (IVF cell assignment against the artifact's K-row centroid sidecar,
    then a cell-vs-cell join against the artifact's lake postings).

    Scale: per micro-batch cost is |batch| × K broadcast assignment
    (map-side combined) + a same-cell equality join against the
    cell-partitioned artifact — the batch's assigned cells drive
    partition pruning, so each trigger reads only the cell directories
    its vectors land in. The corpus-sized assignment is amortized into
    the write-once artifact."""
    from quty_server_spark.functions.vectors import as_double
    from quty_server_spark.operators.similarity import (
        embedding_gate_lake,
        embedding_gate_pairs,
        IVF_FAMILY,
    )

    configure(spark)
    lake, cent = embedding_gate_lake(
        spark, IVF_FAMILY.build(spark, sf_dir)
    )
    return _run_ingest_gate_stream(
        spark,
        sf_dir,
        "quty_stream_gate_embedding",
        _shard(spark, sf_dir, "embeddings", "vec_id"),
        "vec_id",
        lambda b: embedding_gate_pairs(
            b.select("vec_id", as_double(F.col("embedding")).alias("v")),
            lake,
            cent,
        ),
    )


@registry.query(
    "stream_ingest_passage_gate",
    oracle=SQL_PASSAGE_GATE,
)
def stream_ingest_passage_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The passage ingest gate run continuously — the streaming twin of
    :func:`~quty_server_spark.operators.dedup.dedup_incremental_passages`,
    sharing its oracle SQL byte-for-byte: each micro-batch is windowed
    (16-token windows at stride 8) and scrubbed against the write-once
    lake passage artifact with
    :func:`~quty_server_spark.operators.dedup.passage_scrub`.

    Scale: per micro-batch cost is window(batch) + one (pfx, digest)
    semi-join against the prefix-partitioned artifact — no re-windowing
    of the lake on any trigger."""
    from quty_server_spark.operators.dedup import (
        _passage_pfx,
        _passage_windows,
        PASSAGE_FAMILY,
        passage_scrub,
    )

    configure(spark)
    art = spark.read.parquet(PASSAGE_FAMILY.build(spark, sf_dir))

    def probe(batch_df: DataFrame) -> DataFrame:
        w = _passage_windows(batch_df).select(
            "doc_id", "passage_md5", _passage_pfx()
        ).localCheckpoint(eager=False)
        return passage_scrub(w, art)

    return _run_ingest_gate_stream(
        spark,
        sf_dir,
        "quty_stream_gate_passages",
        _shard(spark, sf_dir, "documents", "doc_id"),
        "doc_id",
        probe,
    )


def _media_gate_oracle() -> str:
    """The batch media gate's oracle, shared byte-for-byte — the same
    one-definition device every other continuous gate twin uses."""
    from quty_server_spark.operators.multimodal import (
        _mm_incremental_gate_oracle,
    )

    return _mm_incremental_gate_oracle()


@registry.query("stream_ingest_media_gate", oracle=_media_gate_oracle())
def stream_ingest_media_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media ingest gate run continuously — the streaming twin of
    :func:`~quty_server_spark.operators.multimodal.mm_neardup_incremental_artifact`,
    sharing its oracle SQL byte-for-byte. The shard is ``doc_id % 10 ==
    0`` of the staged perceptual universe; twins cross the shard/lake
    boundary by the ``_NEARDUP_TWIN_BASE ≡ 7 (mod 10)`` device, so every
    epoch set sees staged pairs. Each micro-batch's payloads are signed
    through the Arrow-batch decode seam (payload bytes never reach the
    driver) and its bands are probed against the perceptual-signature
    artifact with :func:`~quty_server_spark.operators.dedup.simhash_gate_pairs`
    (incoming × lake, never lake × lake).

    Scale: per micro-batch cost is one O(bytes) signing pass over the
    batch's payloads + one band-equality join against the
    band_id-partitioned artifact; the lake-side decode never runs on any
    trigger."""
    from quty_server_spark.operators.dedup import simhash_gate_pairs
    from quty_server_spark.operators.multimodal import (
        media_sig_bands,
        MEDIA_SIG_FAMILY,
        percep_media_universe,
    )

    configure(spark)
    lake = spark.read.parquet(MEDIA_SIG_FAMILY.build(spark, sf_dir)).select(
        "doc_id", "sig", "band_id", "band_val"
    )
    shard = percep_media_universe(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0
    ).select("doc_id", "payload")
    return _run_ingest_gate_stream(
        spark,
        sf_dir,
        "quty_stream_gate_media",
        shard,
        "doc_id",
        lambda b: simhash_gate_pairs(
            media_sig_bands(spark, sf_dir, docs=b), lake
        ).distinct(),
    )


def _label_maintenance_stream(
    spark: SparkSession, sf_dir: str, kind: str, docs: DataFrame,
    admit=None,
) -> str:
    """The continuous label lifecycle shared by the maintenance streams:
    stage ``docs`` (the ``doc_id % 10 == 0`` shard) as 4 files, seed a
    session-private maintained label artifact from the lake labels
    (home-bucket layout), then drain the files one epoch each through
    :func:`_maintain_labels`. ``admit(batch_df, epoch_id)``, if given,
    runs as an extra concurrent leg of every epoch. Returns the
    maintained label artifact's path."""
    from quty_server_spark.operators.dedup import (
        _write_home_bucket_layout,
        lake_cluster_labels_artifact,
    )

    configure(spark)
    base = fresh_tmp_dir(spark, kind, sf_dir)
    lbl_path = os.path.join(base, "labels")
    # Resolved before the fork: a memoized builder is not safe to
    # FIRST-build from two threads.
    lake_lbl = lake_cluster_labels_artifact(spark, sf_dir)
    overlap(
        lambda: docs.repartition(4, "doc_id").write.parquet(
            os.path.join(base, "in")
        ),
        lambda: _write_home_bucket_layout(
            spark.read.parquet(lake_lbl), lbl_path
        ),
    )
    _maintain_labels(spark, sf_dir, base, docs.schema, admit)
    return lbl_path


def _maintain_labels(
    spark: SparkSession, sf_dir: str, base: str, schema: StructType,
    admit=None,
) -> None:
    """Drain ``base/in`` through the per-epoch label lifecycle, resuming
    from ``base/ckpt``. Each epoch is signed and banded, gated against
    the lake signature artifact plus EARLIER epochs' bands, contracted
    against the maintained labels' CURRENT state, min-label BSP'd and
    APPLIED (:func:`~quty_server_spark.operators.dedup._apply_maintenance_for_state`);
    concurrently its bands are written to ``base/bands/epoch=<id>``
    with ``mode("overwrite")`` so later epochs can pair with this one.

    Replay-safe: the gate reads only ``epoch < epoch_id``, so a
    replayed epoch never pairs with its own earlier band write, and the
    overwrite makes the band commit idempotent — the epoch-keyed sink
    discipline every continuous twin in this module follows."""
    from quty_server_spark.operators.dedup import (
        _apply_maintenance_for_state,
        _cluster_graph_for_bands,
        SIG_FAMILY,
        min_label_components,
        simhash_bands,
        simhash_sigs_docs,
    )

    lake_sig = spark.read.parquet(SIG_FAMILY.build(spark, sf_dir))
    lbl_path = os.path.join(base, "labels")
    bands_dir = os.path.join(base, "bands")
    write_bands = _epoch_writer(bands_dir)

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if admit is not None:  # two legs read the batch: scan it once
            batch_df = batch_df.localCheckpoint(eager=True)
        bands = simhash_bands(
            simhash_sigs_docs(batch_df.select("doc_id", "text"))
        ).localCheckpoint(eager=False)

        def apply_labels() -> None:
            sig = _gate_signatures(spark, lake_sig, bands_dir, epoch_id)
            pairs, singles = _cluster_graph_for_bands(
                spark, bands, sig, lbl_path
            )
            labels, _ = min_label_components(spark, pairs)
            _apply_maintenance_for_state(
                spark,
                lbl_path,
                labels.localCheckpoint(eager=True),
                singles.localCheckpoint(eager=False),
            )

        legs = [apply_labels, lambda: write_bands(bands, epoch_id)]
        if admit is not None:
            legs.append(lambda: admit(batch_df, epoch_id))
        overlap(*legs)

    _drain(
        spark, schema, os.path.join(base, "in"), os.path.join(base, "ckpt"),
        epoch,
    )


def _gate_signatures(
    spark: SparkSession, lake_sig: DataFrame, bands_dir: str, epoch_id: int
) -> DataFrame:
    """The signature rows epoch ``epoch_id``'s gate pairs against: the
    lake artifact's plus the bands of every EARLIER epoch. Epoch 0 has
    no earlier bands (and ``bands_dir`` does not exist yet)."""
    cols = ["doc_id", "sig", "band_id", "band_val"]
    lake_sig = lake_sig.select(*cols)
    if epoch_id == 0:
        return lake_sig
    # Explicit schema: no schema-inference job per epoch.
    earlier = (
        spark.read.schema(
            StructType([*lake_sig.schema, StructField("epoch", LongType())])
        )
        .parquet(bands_dir)
        .filter(F.col("epoch") < epoch_id)
    )
    return lake_sig.unionByName(earlier.select(*cols))


@registry.query(
    "stream_cluster_maintenance",
    oracle=SQL_FULL_LABELS_SUMMARY_TMPL.format(sim=SQL_SIMHASH.lstrip()),
)
def stream_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS clustering maintenance — the full label lifecycle run
    per micro-batch (:func:`_label_maintenance_stream`), composing three
    families in one stream: incoming documents arrive in epochs; each
    epoch is signed and banded, gated against the lake signature
    artifact plus earlier epochs' bands, contracted against the
    maintained label artifact's CURRENT state, min-label BSP'd, and
    APPLIED (rewrite queued stale clusters + append the epoch's labels,
    sidecar-routed), while the epoch's bands are committed so LATER
    epochs can pair with earlier epochs' documents, not just the lake.

    Exactness is inductive and ORDER-INDEPENDENT at the close: after
    each epoch the maintained state equals a full recompute over
    lake ∪ processed epochs (the same contraction argument as
    :func:`~quty_server_spark.operators.dedup.dedup_cluster_incremental`,
    applied with the epoch as the shard), so after ALL epochs the
    artifact holds exactly the full-corpus components — which is what
    the oracle recomputes from scratch (the write-once sink's summary
    SQL over the raw corpus, lake restriction dropped). A cross-epoch
    merge (epoch-2 doc near an epoch-1 doc, neither near the lake) is
    representable ONLY because of the per-epoch band commit — the
    measurable difference between this stream and four independent
    nightly runs.

    Scale: per-trigger cost = sign(epoch) + gate join against the
    artifact + |epoch|-sized BSP + bucket-scoped apply + an
    epoch-sized band write. The label artifact is a session-private
    copy (built from the memoized lake labels), so concurrent consumers
    of the standing artifacts never observe this stream's mutations."""
    lbl_path = _label_maintenance_stream(
        spark,
        sf_dir,
        "quty_stream_clabels",
        _shard(spark, sf_dir, "documents", "doc_id"),
    )
    return (
        spark.read.parquet(lbl_path)
        .groupBy(F.col("lbl").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.max("node").alias("max_doc_id"),
        )
        .localCheckpoint(eager=True)
    )


def _stream_corpus_snapshot_oracle() -> str:
    from quty_server_spark.operators.pipeline import (
        _incremental_snapshot_oracle,
    )

    return _incremental_snapshot_oracle()


@registry.query(
    "stream_corpus_snapshot",
    oracle=_stream_corpus_snapshot_oracle(),
)
def stream_corpus_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CONTINUOUS PRODUCT — the streaming twin of
    :func:`~quty_server_spark.operators.pipeline.corpus_training_snapshot_incremental`,
    making the top-level training-snapshot product continuous end to
    end. Incoming documents arrive in micro-batches; each epoch runs
    the full composition:

    1. QUALITY gate — the family's shared predicate
       (pipeline.snapshot_quality_keep), per-doc, order-independent.
    2. PASSAGE scrub — the batch passage gate's probe
       (:func:`~quty_server_spark.operators.dedup.passage_scrub`) against
       the write-once lake digest artifact (static lake state, per-doc,
       order-independent).
    3. LABEL lifecycle — the :func:`stream_cluster_maintenance`
       composition (:func:`_label_maintenance_stream`), whose
       close-state ≡ full-recompute contract is what makes step 4
       exact.

    Steps 1–2 are emitted per epoch into the idempotent epoch-keyed
    sink (the PROVISIONAL admissions), concurrently with step 3. Step 4,
    at stream close, reconciles keepers against the FINAL maintained
    labels: a provisional doc survives iff its full-corpus cluster
    label is its own id. Reconciliation must be close-time because
    admission is retroactive by nature — a later epoch can deliver a
    smaller-id member of an earlier doc's cluster and evict it (a
    production stream would emit a tombstone; the snapshot semantics
    here are "admit provisionally, settle at snapshot close"). The
    oracle is the batch twin's SQL byte-for-byte, and the epoch-union +
    final-equality pins live in tests/test_streaming_recovery.py.

    Scale: per-trigger cost = quality(epoch) + window(epoch) + pruned
    digest probe + the maintenance stream's epoch-sized label work;
    close-time cost = one join of the provisional rows against the
    maintained artifact. Zero lake-sized compute on any trigger."""
    from quty_server_spark.operators.dedup import (
        _passage_pfx,
        _passage_windows,
        PASSAGE_FAMILY,
        passage_scrub,
    )
    from quty_server_spark.operators.pipeline import snapshot_quality_keep

    kind = "quty_stream_snapshot"
    outdir = os.path.join(session_tmp_dir(spark, kind, sf_dir), "out")
    write = _epoch_writer(outdir)
    pw_art = spark.read.parquet(PASSAGE_FAMILY.build(spark, sf_dir))
    docs = _shard(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "text", "lang", "source"
    )

    # Provisional admission: quality + lake-passage scrub. Reads the
    # epoch checkpoint + the STATIC lake digest artifact and writes the
    # epoch-keyed sink dir, so it is independent of the label lifecycle.
    def _admit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        w = _passage_windows(batch_df).select(
            "doc_id", "passage_md5", _passage_pfx()
        ).localCheckpoint(eager=False)
        scrub = passage_scrub(w, pw_art).select("doc_id", "dup_ppm")
        n_tok = F.size(F.split("text", " "))
        res = (
            batch_df.filter(snapshot_quality_keep())
            .select(
                "doc_id", "lang", "source",
                n_tok.cast("bigint").alias("n_tokens"),
            )
            .join(scrub, "doc_id", "left")
            .withColumn(
                "dup_ppm",
                F.coalesce("dup_ppm", F.lit(0)).cast("bigint"),
            )
            .filter(F.col("dup_ppm") < 500000)
        )
        write(res, epoch_id)

    lbl_path = _label_maintenance_stream(
        spark, sf_dir, kind, docs, admit=_admit_epoch
    )
    prov = spark.read.parquet(outdir).select(
        "doc_id", "lang", "source", "n_tokens", "dup_ppm"
    )
    lbl = spark.read.parquet(lbl_path).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("final_lbl")
    )
    return (
        prov.join(lbl, "doc_id", "left")
        .withColumn(
            "cluster_id", F.coalesce("final_lbl", F.col("doc_id"))
        )
        .filter(F.col("cluster_id") == F.col("doc_id"))
        .select(
            "doc_id", "lang", "source", "n_tokens", "cluster_id", "dup_ppm"
        )
        .localCheckpoint(eager=True)
    )


@registry.query(
    "stream_ingest_exact_dedup_sequential",
    oracle=f"""
    WITH {SQL_DUPED},
    shard AS (
        SELECT doc_id, md5(text) AS h, (doc_id % 7) % 4 AS epoch
        FROM duped WHERE doc_id % 10 = 0
    ),
    lake_h AS (
        SELECT DISTINCT md5(text) AS h FROM duped WHERE doc_id % 10 <> 0
    )
    SELECT s.doc_id AS admitted_doc_id,
           CAST(s.epoch AS BIGINT) AS epoch,
           s.h AS text_md5
    FROM shard s
    WHERE NOT EXISTS (SELECT 1 FROM lake_h l WHERE l.h = s.h)
      AND NOT EXISTS (
          SELECT 1 FROM shard s2
          WHERE s2.h = s.h AND (s2.epoch < s.epoch
                OR (s2.epoch = s.epoch AND s2.doc_id < s.doc_id)))
    """,
)
def stream_ingest_exact_dedup_sequential(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ORDER-DEPENDENT continuous gate — the one semantics no other
    streaming query in the registry has: later micro-batches must see
    EARLIER batches' admissions, because first-contact wins. Exact
    dedup over the duped corpus (every ``doc_id % 10 == 0`` doc has an
    exact copy at ``+1,000,000``, itself also ``% 10 == 0`` — so the
    duplicate pairs live INSIDE the stream): a doc is admitted iff its
    content hash is not in the lake AND no same-hash doc arrived in an
    earlier epoch (or earlier doc_id within its own epoch). The
    foreachBatch body APPENDS each epoch's admitted hashes to a
    seen-state parquet directory and anti-joins the next batch against
    it — the in-stream version of the write-once/append artifact
    lifecycle, where the stream maintains its OWN artifact.

    Determinism + replay safety: epochs are staged as one file per
    ``(doc_id % 7) % 4`` value (files utime'd in epoch order, so the
    file source's oldest-first ordering equals the oracle's epoch
    numbering — ``1,000,000 % 7 == 1`` splits each original from its
    copy into different epochs, exercising the cross-epoch path ~75%
    of the time and the within-batch min the rest). Seen-state rows
    are keyed ``(h, epoch)`` and each batch reads only rows with
    ``epoch < epoch_id``: a replayed epoch cannot be rejected by its
    own previous append, so the epoch-keyed output overwrite stays
    idempotent even though the state dir is append-only (duplicate
    appends from replays are filtered the same way). The oracle states
    the sequential fold declaratively as a pure function of
    (hash, epoch, doc_id) — DuckDB never streams, yet verifies the
    order-dependent answer exactly.

    Scale: per-batch cost = hash(batch) + two anti-joins (lake hashes,
    seen hashes — both broadcastable digests) + a per-hash min window
    over the batch; the seen state grows by exactly the admitted
    hashes, 32 bytes each. This is the production shape of a streaming
    exactly-once admission ledger."""
    configure(spark)
    base = fresh_tmp_dir(spark, "quty_stream_seq_dedup", sf_dir)
    indir = os.path.join(base, "in")
    outdir = os.path.join(base, "out")
    seendir = os.path.join(base, "seen")

    corpus = duped_corpus(spark, sf_dir)
    shard = corpus.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "text", F.expr("(doc_id % 7) % 4").alias("epoch")
    )
    lake_h = (
        corpus.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # One file per epoch, in epoch order: the file source's oldest-first
    # ordering IS the oracle's epoch numbering.
    _stage_ordered(
        [
            shard.filter(F.col("epoch") == k).select("doc_id", "text")
            for k in range(4)
        ],
        indir,
    )
    # Seen-state init: empty (h, epoch) ledger.
    spark.createDataFrame([], "h string, epoch long").write.parquet(seendir)

    def gate_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        b = batch_df.select("doc_id", F.md5("text").alias("h"))
        seen = (
            spark.read.schema("h string, epoch long")
            .parquet(seendir)
            .filter(F.col("epoch") < epoch_id)
            .select("h")
        )
        survivors = b.join(lake_h, "h", "left_anti").join(
            seen, "h", "left_anti"
        )
        w = Window.partitionBy("h").orderBy("doc_id")
        admitted = (
            survivors.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col("doc_id").alias("admitted_doc_id"),
                F.lit(epoch_id).cast("bigint").alias("epoch"),
                F.col("h").alias("text_md5"),
            )
            .localCheckpoint(eager=True)  # one computation for 2 writes
        )
        admitted.write.mode("overwrite").parquet(
            os.path.join(outdir, f"e{epoch_id}")
        )
        admitted.select(
            F.col("text_md5").alias("h"), F.col("epoch")
        ).write.mode("append").parquet(seendir)

    _drain(
        spark, "doc_id long, text string", indir, os.path.join(base, "ckpt"),
        gate_batch,
    )
    # Every e<epoch> directory, listed (see _epoch_dirs on globs).
    return (
        spark.read.parquet(
            *(os.path.join(outdir, d) for d in sorted(os.listdir(outdir)))
        )
        .select("admitted_doc_id", "epoch", "text_md5")
        .localCheckpoint(eager=True)
    )


@registry.query(
    "stream_lake_retraction",
    oracle=None,  # set below — shares the batch retraction oracle
)
def stream_lake_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS takedown — the retraction verb's streaming twin,
    completing the lifecycle symmetry (ingest, append, maintenance, and
    the snapshot product all have continuous twins; deletion now does
    too): takedown requests arrive as a unified (kind, id) feed in
    micro-batches — document ids for the three doc-keyed families, vec
    ids for IVF — and each batch appends its victims to the families'
    ``_tombstones`` sidecars inside ``foreachBatch`` (an O(batch)
    union+distinct sidecar rewrite; zero artifact data files touched on
    any trigger). At stream close, the four live views are summarized
    in the shared tagged frame.

    The oracle is byte-identical to the three batch retraction sinks'
    (``SQL_RETRACT_SUMMARY``), so a green row proves the epoch-split
    tombstone stream converges to EXACTLY the one-shot retraction —
    which holds by construction because tombstone-set union is
    commutative and idempotent: batch order cannot matter, and an epoch
    REPLAY after a crash re-unions the same victim ids into the same
    set (the idempotent-sink discipline every continuous twin in this
    module follows, here for free from the data structure).

    Scale: per-trigger cost is the batch's victim list (the sidecar is
    victim-set-sized metadata, like _label_homes); consumers pay the
    tombstone tier's one broadcast anti-join until scheduled compaction
    (sink_lake_artifacts_retract_compacted) folds the accumulated set
    physically. Reference analog: the reference retires a dead node's
    subscriptions per-event as leave messages arrive
    (lib/QutyCluster.js:518-578); this is that verb at lake scale."""
    from quty_server_spark.operators.retract import (
        ARTIFACT_FAMILIES,
        RETRACT_MOD,
        _tagged_retract_summary,
        _write_tombstones,
        read_artifact_live,
        tombstoned_copy,
    )

    configure(spark)
    base = fresh_tmp_dir(spark, "quty_stream_retract", sf_dir)
    indir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")

    paths = {
        fam: tombstoned_copy(
            spark, f.family.build(spark, sf_dir), os.path.join(base, fam)
        )
        for fam, f in ARTIFACT_FAMILIES.items()
    }

    # The unified takedown feed: (victim kind, id) rows — document
    # victims for the three doc-keyed families, vector victims for IVF
    # — staged as 4 hash-partitioned files -> 4 deterministic
    # micro-batches under maxFilesPerTrigger=1.
    docs_v = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == RETRACT_MOD)
        .select(F.lit("doc").alias("kind"), F.col("doc_id").alias("id"))
    )
    vec_v = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 == RETRACT_MOD)
        .select(F.lit("vec").alias("kind"), F.col("vec_id").alias("id"))
    )
    feed = docs_v.unionByName(vec_v)
    feed.repartition(4, "id").write.parquet(indir)

    def tombstone_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Unconditional per-family union: an empty slice just rewrites
        # the (victim-list-sized) sidecar unchanged — cheaper than a
        # driver-side emptiness probe, and keeps the batch path free of
        # driver materialization (the repo-wide sweep).
        b = batch_df.localCheckpoint(eager=True)
        for fam, f in ARTIFACT_FAMILIES.items():
            ids = b.filter(F.col("kind") == f.victim).select("id")
            _write_tombstones(spark, paths[fam], ids)

    _drain(spark, feed.schema, indir, ckpt, tombstone_batch)
    return _tagged_retract_summary(
        {
            fam: read_artifact_live(
                spark, p, ARTIFACT_FAMILIES[fam].family.layout.id_col
            )
            for fam, p in paths.items()
        }
    ).localCheckpoint(eager=True)


# Shares the batch retraction oracle byte-for-byte: stream-of-epochs
# tombstoning must converge to the one-shot retract.
def _set_stream_retraction_oracle() -> None:
    from quty_server_spark.operators.retract import SQL_RETRACT_SUMMARY

    registry.oracles["stream_lake_retraction"] = SQL_RETRACT_SUMMARY


_set_stream_retraction_oracle()


@registry.query(
    "stream_training_shards",
    oracle=None,  # set below — shares the batch append twin's oracle
)
def stream_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS trainer handoff — the shard APPEND verb's streaming
    twin, completing the lifecycle symmetry (ingest, maintenance,
    snapshot, retraction and the trainer handoff each have batch +
    continuous forms): tonight's
    admitted snapshot additions
    (:func:`~quty_server_spark.operators.pipeline.corpus_training_snapshot_incremental`'s
    output) arrive in micro-batches, and each epoch lands as ONE
    shard-partitioned commit directory next to the standing base
    shards — written ``mode("overwrite")`` into its own ``e{epoch}``
    root, the file-sink exactly-once device: an epoch REPLAY after a
    crash rewrites the identical directory instead of duplicating
    appended rows (plain parquet ``append`` is not replay-idempotent;
    per-epoch overwrite commits are — pinned in
    tests/test_streaming_recovery.py). The trainer reads base + e*
    as one partitioned dataset; shard-directory pruning works
    unchanged because every commit root carries the same ``shard=N``
    layout.

    At close the grown dataset is read back and summarized under the
    oracle shared BYTE-FOR-BYTE with ``sink_training_shards_append``
    (set below): epoch-split append converges to exactly the one-shot
    batch append, which holds by construction — the written ROW SET is
    the union of the epoch row sets, and row-set union is associative
    and commutative regardless of the epoch partitioning.

    Scale: per-trigger cost is the epoch's additions only (shard
    assignment is the scan-side content-keyed hash; the write is one
    exchange over the batch); the standing base is neither re-read nor
    re-written on any trigger; close = one partition-pruned read-back
    aggregate."""
    import glob as _glob

    from quty_server_spark.operators.pipeline import (
        _shard_summary,
        _write_training_shards,
        corpus_training_snapshot_incremental,
        scoped_training_snapshot,
    )

    configure(spark)
    base = fresh_tmp_dir(spark, "quty_stream_train_shards", sf_dir)
    indir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    outbase = os.path.join(base, "out", "base")

    lake_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    _write_training_shards(scoped_training_snapshot(spark, lake_docs), outbase)

    adds = corpus_training_snapshot_incremental(spark, sf_dir)
    # 4 hash-partitioned files -> deterministic micro-batches under
    # maxFilesPerTrigger=1 (same staging device as the retraction
    # stream; empty slices simply stage no file).
    adds.repartition(4, "doc_id").write.parquet(indir)

    def append_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        _write_training_shards(
            batch_df,
            os.path.join(base, "out", f"e{epoch_id}"),
            mode="overwrite",
        )

    _drain(spark, adds.schema, indir, ckpt, append_epoch)
    # Empty epochs commit an empty root (no shard=N files) — skip them:
    # schema inference has nothing to read there, and an empty slice
    # contributes no rows by definition.
    # This close-state glob + per-commit-root loop is DRIVER-side and
    # bounded by the EPOCH count (one dir per trigger; 4 on the
    # fixture) — metadata grain, like the retraction device's
    # partition lists. A deployment running unbounded triggers should
    # fold commit roots into the standing layout on a compaction
    # cadence (the sink_training_shards_compact verb) rather than let
    # this list grow with stream lifetime.
    outs = [outbase] + sorted(
        p
        for p in _glob.glob(os.path.join(base, "out", "e*"))
        if _glob.glob(os.path.join(p, "shard=*", "*.parquet"))
    )
    # One partitioned read per commit root (each infers its own shard=N
    # layout — a single multi-root read would need a shared basePath
    # and the commit roots are siblings, not partition values), unioned
    # by name; shard-directory pruning still pushes into every root.
    back = spark.read.parquet(outs[0])
    for p in outs[1:]:
        back = back.unionByName(spark.read.parquet(p))
    return _shard_summary(back).localCheckpoint(eager=True)


# Shares the batch append twin's oracle byte-for-byte: the epoch-split
# continuous append must converge to the one-shot nightly append.
def _set_stream_training_shards_oracle() -> None:
    from quty_server_spark.operators.pipeline import (
        _training_shards_append_oracle,
    )

    registry.oracles["stream_training_shards"] = (
        _training_shards_append_oracle()
    )


_set_stream_training_shards_oracle()
