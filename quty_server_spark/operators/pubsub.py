"""Pub/sub data plane of the reference, re-expressed relationally.

The reference (quty-io/quty-server) is a channel-routing mesh; its core
semantics (SURVEY.md §2.A) are preserved here as Spark DataFrame operators
over a *derived* changelog built from the canonical ``events`` table:

- ``signup``  → ``join``  (ChannelHub.subscribeClient, lib/ChannelHub.js:134-154)
- ``error``   → ``leave`` (ChannelHub.unsubscribeClient, lib/ChannelHub.js:156-173)
- ``purchase`` with value > 195 → ``kick`` — global removal from every
  channel (ChannelHub.removeClient, lib/ChannelHub.js:187-199)
- ``click``   → a routed message (ChannelHub.sendMessage, lib/ChannelHub.js:241-279)

The channel key is ``'ch' || (props.k % 5)`` and the member is ``user_id``
(the reference's ``cid``). The owning node of a member is
``'node' || (user_id % 4)`` — mirroring "subscribe node first"
(lib/ChannelHub.js:143-147).

Scale notes: current-state resolution is one window pass per
(channel, member) — at 100 TB this is an incremental compaction
(streaming state / MERGE), see streaming/state.py; the routing join
shuffles messages by channel with the subscription side broadcast when
small; hot-channel skew is AQE-split.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from quty_server_spark.operators._helpers import load_table
from quty_server_spark.plans.registry import registry

# ---------------------------------------------------------------------------
# Shared derivations (Spark) + their DuckDB CTE twins
# ---------------------------------------------------------------------------

# DuckDB CTE fragments reused by every oracle below.
SQL_CHANGELOG = """
changelog AS (
    SELECT 'ch' || CAST(CAST(props ->> '$.k' AS INTEGER) % 5 AS VARCHAR) AS channel,
           user_id AS member_id,
           CASE WHEN event_type = 'signup' THEN 'join'
                WHEN event_type = 'error' THEN 'leave'
                ELSE 'kick' END AS op,
           CAST(ts AS TIMESTAMP) AS ts,
           event_id
    FROM events
    WHERE event_type IN ('signup', 'error')
       OR (event_type = 'purchase' AND value > 195)
)"""

SQL_CURRENT_SUBS = """
last_channel_op AS (
    SELECT channel, member_id, op AS last_op, ts AS op_ts, event_id AS op_eid
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY channel, member_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM changelog WHERE op IN ('join', 'leave'))
    WHERE rn = 1
),
last_kick AS (
    SELECT member_id, kick_ts, kick_eid
    FROM (SELECT member_id, ts AS kick_ts, event_id AS kick_eid,
                 ROW_NUMBER() OVER (PARTITION BY member_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM changelog WHERE op = 'kick')
    WHERE rn = 1
),
current_subs AS (
    SELECT l.channel, l.member_id
    FROM last_channel_op l
    LEFT JOIN last_kick k ON l.member_id = k.member_id
    WHERE l.last_op = 'join'
      AND (k.kick_ts IS NULL OR (k.kick_ts, k.kick_eid) < (l.op_ts, l.op_eid))
)"""

SQL_MESSAGES = """
messages AS (
    SELECT event_id,
           'ch' || CAST(CAST(props ->> '$.k' AS INTEGER) % 7 AS VARCHAR) AS channel,
           'node' || CAST(user_id % 4 AS VARCHAR) AS origin_node,
           user_id AS sender_id,
           value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE event_type = 'click'
)"""


def changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subscription changelog (join/leave/kick) derived from events."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
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


def fold_current_subs(log: DataFrame) -> DataFrame:
    """Fold a (channel, member_id, op, ts, event_id) changelog into the
    current subscription set: latest join/leave per (channel, member),
    voided by any later global kick.

    Idempotent joins (lib/ChannelHub.js:65-69) fall out of last-op-wins;
    channel GC (lib/ChannelHub.js:85-88) falls out of empty groups simply
    not existing in the aggregate.

    Tie rule: every comparison orders by (ts, event_id) — a kick at the
    same ts as a join voids it only when its event_id is higher. This is
    exactly the sequential fold the streaming state operator applies
    (streaming/ops.py _fold_subscriptions sorts by (ts, event_id)), so
    batch fold, streaming fold and SQL oracle agree on adversarial
    same-timestamp histories (tests/test_pubsub_semantics.py).
    """
    # Last op via max(struct(ts, event_id, op)): (ts, event_id) is unique
    # per (channel, member) — event ids are unique — so the lexicographic
    # max IS the latest op. A hash aggregate with map-side partial combine
    # replaces the sort+window top-1: no per-partition sort, no spill
    # pressure, same tie rule as the streaming fold.
    last_op = (
        log.filter(F.col("op").isin("join", "leave"))
        .groupBy("channel", "member_id")
        .agg(F.max(F.struct("ts", "event_id", "op")).alias("s"))
        .select(
            "channel",
            "member_id",
            F.col("s.op").alias("last_op"),
            F.col("s.ts").alias("op_ts"),
            F.col("s.event_id").alias("op_eid"),
        )
    )
    last_kick = (
        log.filter(F.col("op") == "kick")
        .groupBy("member_id")
        .agg(F.max(F.struct("ts", "event_id")).alias("k"))
        .select(
            "member_id",
            F.col("k.ts").alias("kick_ts"),
            F.col("k.event_id").alias("kick_eid"),
        )
    )
    return (
        last_op.join(broadcast(last_kick), "member_id", "left")
        .filter(
            (F.col("last_op") == "join")
            & (
                F.col("kick_ts").isNull()
                | (
                    F.struct(F.col("kick_ts"), F.col("kick_eid"))
                    < F.struct(F.col("op_ts"), F.col("op_eid"))
                )
            )
        )
        .select("channel", "member_id")
    )


def current_subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's eventually-consistent subscription map
    (lib/ChannelHub.js:23-30) materialized from the fixture changelog."""
    return fold_current_subs(changelog(spark, sf_dir))


def messages(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """The message stream to route: click events addressed to a channel.

    ``spread=True`` fans the one-row-group events scan out to the core
    count before the JSON parse (_helpers.spread_probe — gated
    no-op at scale). Opt-in because only the fan-out join's 10M-row
    probe amortizes the extra exchange (A/B: route_fanout 0.60x); the
    small pubsub consumers measured SLOWER with it (the blanket-spread
    A/B, see spread_probe's docstring)."""
    ev = load_table(spark, sf_dir, "events")
    if spread:
        from quty_server_spark.operators._helpers import spread_probe

        ev = spread_probe(spark, ev, "event_id")
    k = F.get_json_object("props", "$.k").cast("int")
    # Channel space ch0..ch6 vs subscriptions' ch0..ch4: ch5/ch6 messages
    # have no subscribers anywhere -> they exercise the flood fallback.
    return ev.filter(F.col("event_type") == "click").select(
        "event_id",
        F.concat(F.lit("ch"), (k % 7).cast("string")).alias("channel"),
        F.concat(F.lit("node"), (F.col("user_id") % 4).cast("string")).alias(
            "origin_node"
        ),
        F.col("user_id").alias("sender_id"),
        "value",
        "ts",
    )


# ---------------------------------------------------------------------------
# State operators (§2.A #7-#18)
# ---------------------------------------------------------------------------


@registry.query(
    "subs_current_state",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}
    SELECT channel, member_id FROM current_subs
    """,
)
def subs_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #7/#8/#12/#13/#15/#17: the folded subscription table."""
    return current_subs(spark, sf_dir)


@registry.query(
    "subs_member_channels",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}
    SELECT member_id, COUNT(*) AS n_channels,
           MIN(channel) AS first_channel, MAX(channel) AS last_channel
    FROM current_subs GROUP BY member_id
    """,
)
def subs_member_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #10/#16 `getClientSubscriptions`: per-member subscription scan.
    The reference scans all channels O(channels) per member
    (lib/ChannelHub.js:201-216); here it is one aggregation."""
    return (
        current_subs(spark, sf_dir)
        .groupBy("member_id")
        .agg(
            F.count("*").alias("n_channels"),
            F.min("channel").alias("first_channel"),
            F.max("channel").alias("last_channel"),
        )
    )


@registry.query(
    "subs_channel_catalog",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}
    SELECT channel FROM current_subs
    UNION
    SELECT DISTINCT 'node' || CAST(member_id % 4 AS VARCHAR) AS channel
    FROM current_subs
    """,
)
def subs_channel_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #18 `get channels()`: union+distinct of the client-channel key
    set and the node-channel key set (lib/ChannelHub.js:32-51); node
    channels mirror 'subscribe owning node first' (lib/ChannelHub.js:143-147).
    """
    subs = current_subs(spark, sf_dir)
    client_side = subs.select("channel")
    node_side = subs.select(
        F.concat(F.lit("node"), (F.col("member_id") % 4).cast("string")).alias(
            "channel"
        )
    )
    return client_side.unionByName(node_side).distinct()


@registry.query(
    "subs_kick_cascade",
    oracle=f"""
    WITH {SQL_CHANGELOG},
    last_channel_op AS (
        SELECT channel, member_id, op AS last_op, ts AS op_ts
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY channel, member_id
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM changelog WHERE op IN ('join', 'leave'))
        WHERE rn = 1),
    kicked AS (SELECT DISTINCT member_id FROM changelog WHERE op = 'kick')
    SELECT l.channel, l.member_id
    FROM last_channel_op l
    JOIN kicked k ON l.member_id = k.member_id
    WHERE l.last_op = 'join'
    """,
)
def subs_kick_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #15 `removeClient` audit: the (channel, member) rows a kick
    cascade would touch — members currently joined per last join/leave who
    have ever been kicked (lib/ChannelHub.js:187-199, CLIENT_KICK dispatch
    lib/QutyCluster.js:618-626)."""
    log = changelog(spark, sf_dir)
    w = Window.partitionBy("channel", "member_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    last_op = (
        log.filter(F.col("op").isin("join", "leave"))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "join"))
        .select("channel", "member_id")
    )
    kicked = log.filter(F.col("op") == "kick").select("member_id").distinct()
    return last_op.join(broadcast(kicked), "member_id", "left_semi").select(
        "channel", "member_id"
    )


@registry.query(
    "subs_remove_node",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS},
    node_channels AS (
        SELECT DISTINCT 'node' || CAST(member_id % 4 AS VARCHAR) AS node_id, channel
        FROM current_subs
    ),
    departing AS (
        SELECT DISTINCT 'node' || CAST(member_id % 4 AS VARCHAR) AS node_id
        FROM changelog WHERE op = 'kick'
    )
    SELECT n.node_id, n.channel
    FROM node_channels n JOIN departing d ON n.node_id = d.node_id
    """,
)
def subs_remove_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #11 `removeNode`: vacate a node from EVERY channel it occupies.

    The reference iterates all channels and unsubscribes the node from
    each (lib/ChannelHub.js:125-132, calling unsubscribeNode per channel).
    The node-channel map is implied by ownership: a node is subscribed to
    a channel iff it owns >=1 current member there ('subscribe owning node
    first', lib/ChannelHub.js:143-147). Departing nodes are those owning a
    kicked member (the kick disconnects the owning socket, so its node
    drains). Output: the (node, channel) rows the removeNode loop would
    unsubscribe — the removal's effect set.

    Plan: the node-channel map is a distinct over compacted state; the
    departing set is tiny and broadcast — one shuffle for the distinct,
    no shuffle for the semi join.
    """
    node_of = F.concat(F.lit("node"), (F.col("member_id") % 4).cast("string"))
    node_channels = (
        current_subs(spark, sf_dir)
        .select(node_of.alias("node_id"), "channel")
        .distinct()
    )
    departing = (
        changelog(spark, sf_dir)
        .filter(F.col("op") == "kick")
        .select(node_of.alias("node_id"))
        .distinct()
    )
    return node_channels.join(broadcast(departing), "node_id", "left_semi")


# ---------------------------------------------------------------------------
# Routing operators (§2.A #3-#6, #9, #14)
# ---------------------------------------------------------------------------

# Broadcast the compacted subscription state into the fan-out join only
# while it is broadcast-sized; above this the salted-shuffle shape
# engages automatically (same self-contained-at-scale gate as
# dedup.BROADCAST_NODES_MAX). (channel, member_id) is ~16 bytes/row, so
# the threshold is a few tens of MB of broadcast relation.
BROADCAST_SUBS_MAX = 1_000_000


def _events_rows_upper_bound(sf_dir: str) -> int | None:
    """Upper bound on the compacted subscription-state size WITHOUT
    firing a Spark job: the parquet footer row count of the WHOLE
    events table (driver-side metadata read — deliberately looser than
    the changelog subset, which footers cannot isolate).
    |current_subs| <= |changelog events| <= |events| always — the fold
    only ever compacts — so gating the broadcast on this bound can only
    err toward the salted-shuffle plan, which is correct at any size (a
    conservative mis-estimate costs a shuffle, never an OOM'd
    broadcast). Returns ``None`` when the path is not a local
    filesystem (hdfs://, s3a:// — pyarrow/os cannot see it); the caller
    treats unknown as over-bound for the same conservative reason. This
    replaced a localCheckpoint+count construction-time gate, so
    plan-only consumers (explain, registry sweeps) pay zero jobs to
    build the DataFrame. On a production
    catalog the same gate reads table statistics (ANALYZE/row_count)
    instead of footers."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isdir(path):
            entries = os.listdir(path)
            if any(
                os.path.isdir(os.path.join(path, e)) for e in entries
            ):
                # ANY subdirectory (key=value partition dirs, nested
                # layouts, even a MIXED layout with some top-level part
                # files) means the top-level part list under-counts the
                # table — and an UNDER-bound flips the gate to
                # broadcast for arbitrarily large state, violating the
                # "can only err toward the salted plan" invariant
                # (mixed layouts included). Unknown,
                # never a partial sum.
                return None
            parts = [f for f in entries if f.endswith(".parquet")]
            if not parts:
                # No part files at all: unknown, not 0, same rationale.
                return None
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in parts
            )
        return pq.ParquetFile(path).metadata.num_rows
    except (OSError, ValueError):
        # OSError: unreadable/missing local file; ValueError covers
        # pyarrow's ArrowInvalid on non-local URI schemes (s3a://,
        # hdfs://) that the Spark reader handles but pyarrow does not.
        return None


N_SALTS = 8


def _salted_fanout(msgs: DataFrame, subs: DataFrame) -> DataFrame:
    """Hot-channel-safe fan-out: messages carry a salt (event_id mod 8),
    subscriptions explode across all salts, join on (channel, salt) —
    a hot channel's fan-out spreads over 8 tasks instead of one
    straggler, and neither side needs to broadcast."""
    m = msgs.withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(N_SALTS)).cast("int")
    )
    s = subs.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
    )
    return m.join(s, ["channel", "salt"]).select(
        "event_id", "channel", "member_id", "sender_id", "value"
    )


@registry.query(
    "route_fanout",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}, {SQL_MESSAGES}
    SELECT m.event_id, m.channel, s.member_id, m.sender_id, m.value
    FROM messages m JOIN current_subs s ON m.channel = s.channel
    """,
)
def route_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #3 `sendMessage`, targeted branch: one output row per
    (message, subscriber) — the central routing operator
    (lib/ChannelHub.js:251-261, 267-273). Messages to channels with no
    subscribers are dropped by the inner join — the reference's
    at-most-once drop (lib/ChannelHub.js:274).

    Plan: the subscription side is broadcast while broadcast-sized (it
    is the compacted state, small relative to traffic); past
    BROADCAST_SUBS_MAX the salted-shuffle shape engages so the operator
    stays self-contained at any state size. Hot channels (10^6
    subscribers) are the skew risk — the salt (and AQE skew-join on the
    broadcast path) splits them.

    Build-time cost: ZERO Spark jobs (pinned in
    tests/test_pubsub_semantics.py). The broadcast-vs-salt gate reads
    the events parquet footer row count — a driver-side metadata
    upper bound on the compacted state (:func:`_events_rows_upper_bound`)
    — instead of materializing and counting the fold, so plan-only
    consumers (explain, registry sweeps) build the DataFrame for free.
    A loose or unknown bound (non-local filesystem) can only flip
    toward the salted plan, which stays correct at any state size.
    """
    # spread=True parallelizes the JSON parse + the 10M-row join
    # probe off the single-row-group events scan (A/B 0.60x).
    msgs = messages(spark, sf_dir, spread=True)
    subs = current_subs(spark, sf_dir)
    est = _events_rows_upper_bound(sf_dir)
    if est is None or est > BROADCAST_SUBS_MAX:
        return _salted_fanout(msgs, subs)
    return msgs.join(broadcast(subs), "channel").select(
        "event_id", "channel", "member_id", "sender_id", "value"
    )


@registry.query(
    "route_broadcast_fallback",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}, {SQL_MESSAGES},
    nodes AS (SELECT DISTINCT 'node' || CAST(member_id % 4 AS VARCHAR) AS node_id
              FROM current_subs),
    orphans AS (
        SELECT m.* FROM messages m
        WHERE NOT EXISTS (SELECT 1 FROM current_subs s WHERE s.channel = m.channel))
    SELECT o.event_id, o.channel, n.node_id
    FROM orphans o CROSS JOIN nodes n
    WHERE n.node_id <> o.origin_node
    """,
)
def route_broadcast_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #3 flood branch + #5 broadcast: messages whose channel has no
    known subscriber flood every node except the origin (excludeSelf) —
    lib/ChannelHub.js:262-266, lib/QutyCluster.js:88-102 (self-exclusion
    at :99). Left-anti join → cross join with the node list."""
    msgs = messages(spark, sf_dir)
    subs = current_subs(spark, sf_dir)
    nodes = subs.select(
        F.concat(F.lit("node"), (F.col("member_id") % 4).cast("string")).alias(
            "node_id"
        )
    ).distinct()
    orphans = msgs.join(subs, "channel", "left_anti")
    return (
        orphans.crossJoin(broadcast(nodes))
        .filter(F.col("node_id") != F.col("origin_node"))
        .select("event_id", "channel", "node_id")
    )


@registry.query(
    "route_membership_recheck",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}, {SQL_MESSAGES}
    SELECT m.event_id, m.channel, m.sender_id,
           EXISTS (SELECT 1 FROM current_subs s
                   WHERE s.channel = m.channel AND s.member_id = m.sender_id)
               AS sender_subscribed
    FROM messages m
    """,
)
def route_membership_recheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #9/#14 membership test + #28 delivery-time re-check: is the
    sender itself subscribed to the channel it published to?
    (`isClientSubscribed`, lib/ChannelHub.js:175-185; re-check at delivery
    example/engine-io.server.js:55,83). Left join + flag instead of a
    per-row lookup."""
    msgs = messages(spark, sf_dir)
    subs = current_subs(spark, sf_dir).withColumn("hit", F.lit(1))
    return (
        msgs.join(
            broadcast(subs),
            (msgs.channel == subs.channel) & (msgs.sender_id == subs.member_id),
            "left",
        )
        .select(
            "event_id",
            msgs.channel.alias("channel"),
            "sender_id",
            F.col("hit").isNotNull().alias("sender_subscribed"),
        )
    )


@registry.query(
    "route_loop_suppression",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}, {SQL_MESSAGES}
    SELECT m.event_id, m.channel, s.member_id
    FROM messages m JOIN current_subs s ON m.channel = s.channel
    WHERE 'node' || CAST(s.member_id % 4 AS VARCHAR) = m.origin_node
    """,
)
def route_loop_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #6 one-hop routing: a message forwarded from another node is
    delivered only to LOCAL members of the receiving node
    ({nodes:false, broadcast:false}, lib/QutyCluster.js:599-606). Modeled
    as the fan-out restricted to subscribers whose owning node is the
    message's origin node — a provenance-column filter, which is how loop
    suppression degenerates once Spark's shuffle replaces the mesh."""
    msgs = messages(spark, sf_dir)
    subs = current_subs(spark, sf_dir).withColumn(
        "owner_node",
        F.concat(F.lit("node"), (F.col("member_id") % 4).cast("string")),
    )
    return (
        msgs.join(broadcast(subs), "channel")
        .filter(F.col("owner_node") == F.col("origin_node"))
        .select("event_id", "channel", "member_id")
    )


@registry.query(
    "route_fanout_salted",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}, {SQL_MESSAGES}
    SELECT m.event_id, m.channel, s.member_id, m.sender_id, m.value
    FROM messages m JOIN current_subs s ON m.channel = s.channel
    """,
)
def route_fanout_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #3 again, with hot-channel skew mitigation: messages carry a
    salt (event_id mod 8), the subscription side is exploded across all 8
    salts, and the join key becomes (channel, salt) — a hot channel's
    fan-out spreads over 8 tasks instead of one straggler. Result is
    bit-identical to route_fanout (same oracle); only the partitioning
    changes. This is the exact shape route_fanout itself falls back to
    past BROADCAST_SUBS_MAX — registered separately so the shuffle plan
    is independently driver-verified and plan-pinned."""
    return _salted_fanout(
        messages(spark, sf_dir), current_subs(spark, sf_dir)
    )


@registry.query(
    "status_snapshot",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS}
    SELECT TRUE AS ready,
           COUNT(DISTINCT 'node' || CAST(member_id % 4 AS VARCHAR)) AS n_nodes,
           COUNT(DISTINCT channel) AS n_channels,
           COUNT(DISTINCT member_id) AS n_members,
           COUNT(*) AS n_subscriptions
    FROM current_subs
    """,
)
def status_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #27: the payload the ``/_status`` HTTP endpoint serves —
    ``{ready, nodes, channels}`` (lib/QutyCluster.js:651-658). The HTTP
    listener itself is infra (no server in a query engine); the DATA the
    endpoint reports is one aggregation over compacted state: node count
    (distinct member owners), channel count, member count, total
    subscription edges, and the readiness flag.

    Plan: single aggregation over the compacted subscription state —
    the multi-count runs as one Expand + hash agg, map-side combined.
    """
    subs = current_subs(spark, sf_dir)
    node_of = F.concat(F.lit("node"), (F.col("member_id") % 4).cast("string"))
    return subs.agg(
        F.lit(True).alias("ready"),
        F.countDistinct(node_of).alias("n_nodes"),
        F.countDistinct("channel").alias("n_channels"),
        F.countDistinct("member_id").alias("n_members"),
        F.count("*").alias("n_subscriptions"),
    )


@registry.query(
    "cluster_node_info",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS},
    node_channels AS (
        SELECT DISTINCT 'node' || CAST(member_id % 4 AS VARCHAR) AS node_id,
               channel
        FROM current_subs
    )
    SELECT node_id,
           2 AS token_type,
           COUNT(*) AS n_channels,
           string_agg(channel, ',' ORDER BY channel) AS channels
    FROM node_channels
    GROUP BY node_id
    """,
)
def cluster_node_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #20/#21: the NODE_INFO handshake payload a node sends on
    cluster connect — ``{_t: CLUSTER, _i: id, c: getNodeSubscriptions(id)}``
    (lib/QutyCluster.js:664-671), also the channel list gossiped in
    NODE_STATE exchanges. The socket choreography is obsolete by design
    (shuffle replaces the mesh, SURVEY §7); the payload DERIVATION — each
    node's sorted channel subscription list — is this query.

    Plan: distinct over compacted state, then a per-node sort_array over
    collect_list — the per-node channel lists are tiny (<= channel count),
    so the collect never skews.
    """
    subs = current_subs(spark, sf_dir)
    node_of = F.concat(F.lit("node"), (F.col("member_id") % 4).cast("string"))
    node_channels = subs.select(
        node_of.alias("node_id"), "channel"
    ).distinct()
    return node_channels.groupBy("node_id").agg(
        F.lit(2).alias("token_type"),  # token.TYPE.CLUSTER
        F.count("*").alias("n_channels"),
        F.array_join(F.sort_array(F.collect_list("channel")), ",").alias(
            "channels"
        ),
    )


@registry.query(
    "cluster_discovery",
    oracle=f"""
    WITH {SQL_CHANGELOG}, {SQL_CURRENT_SUBS},
    node_channels AS (
        SELECT DISTINCT 'node' || CAST(member_id % 4 AS VARCHAR) AS node_id,
               channel
        FROM current_subs
    ),
    adj AS (
        SELECT DISTINCT a.node_id AS src, b.node_id AS dst
        FROM node_channels a JOIN node_channels b ON a.channel = b.channel
        WHERE a.node_id <> b.node_id
    )
    SELECT DISTINCT p.src AS receiver, q.dst AS discovered
    FROM adj p JOIN adj q ON p.dst = q.src
    WHERE q.dst <> p.src
      AND NOT EXISTS (SELECT 1 FROM adj d
                      WHERE d.src = p.src AND d.dst = q.dst)
    """,
)
def cluster_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #19: node discovery with dedup — learning of unknown nodes
    from a peer's NODE_STATE gossip and skipping self and
    already-connected nodes (lib/QutyCluster.js:558-566: ``if (node.sid
    === this.id) continue; if (this[nodes][node.sid]) continue``).

    Relationally: direct peers share a channel (the mesh edge); a
    DISCOVERED node is one a direct peer knows that the receiver is not
    yet connected to — a 2-hop closure minus the 1-hop edges minus self.
    The fixture's 4-node mesh is dense, so the result is usually empty or
    tiny; the query's value is the shape: discovery as joins over the
    channel-co-membership graph instead of socket gossip.

    Plan: the adjacency self-join keys on channel; nodes-per-channel is
    bounded by cluster size (not member count), so the worst case is
    channels x nodes^2 — cluster size is small by definition, and the
    2-hop join runs on the deduped edge list only.
    """
    subs = current_subs(spark, sf_dir)
    node_of = F.concat(F.lit("node"), (F.col("member_id") % 4).cast("string"))
    nc = subs.select(node_of.alias("node_id"), "channel").distinct()
    return discover_nodes(nc)


def discover_nodes(node_channels: DataFrame) -> DataFrame:
    """Discovery core over a (node_id, channel) map: 2-hop closure minus
    1-hop edges minus self. Non-vacuous behavior (a line topology where
    n0 learns of n2 through n1) is pinned in tests/test_pubsub_semantics.py
    — the fixture's dense mesh usually yields an empty set."""
    a = node_channels.alias("a")
    b = node_channels.alias("b")
    adj = (
        a.join(b, F.col("a.channel") == F.col("b.channel"))
        .filter(F.col("a.node_id") != F.col("b.node_id"))
        .select(
            F.col("a.node_id").alias("src"), F.col("b.node_id").alias("dst")
        )
        .distinct()
    )
    p = adj.alias("p")
    q = adj.alias("q")
    two_hop = (
        p.join(q, F.col("p.dst") == F.col("q.src"))
        .filter(F.col("q.dst") != F.col("p.src"))
        .select(
            F.col("p.src").alias("receiver"), F.col("q.dst").alias("discovered")
        )
        .distinct()
    )
    return two_hop.join(
        adj.select(
            F.col("src").alias("receiver"), F.col("dst").alias("discovered")
        ),
        ["receiver", "discovered"],
        "left_anti",
    )


@registry.query(
    "pending_event_buffer",
    oracle="""
    WITH ready AS (
        -- the cluster becomes ready at the first NODE_STATE receipt:
        -- fixture-mapped to the first non-kick purchase event
        SELECT MIN(CAST(ts AS TIMESTAMP)) AS t_ready FROM events
        WHERE event_type = 'purchase' AND value <= 195
    )
    SELECT e.event_id,
           CAST(e.ts AS TIMESTAMP) AS arrival_ts,
           GREATEST(CAST(e.ts AS TIMESTAMP), r.t_ready) AS effective_ts,
           CAST(e.ts AS TIMESTAMP) < r.t_ready AS was_pending
    FROM events e CROSS JOIN ready r
    WHERE e.event_type IN ('signup', 'error', 'click')
    """,
)
def pending_event_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #24: the pre-ready pending buffer — events arriving before the
    cluster's first NODE_STATE are queued and replayed, in arrival order,
    the moment it turns ready (lib/QutyCluster.js:47-48,579-585; drain in
    _setClusterReady). Relationally that is a timestamp clamp: a pending
    event's EFFECTIVE processing time is the readiness instant, later
    events pass through untouched — arrival order is preserved either way
    since the clamp is monotone. Fixture maps readiness to the first
    non-kick purchase.

    Plan: the 1-row readiness aggregate broadcasts into a scan-wide
    projection; no shuffle of the event stream at all.
    """
    ev = load_table(spark, sf_dir, "events")
    t_ready = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") <= 195))
        .agg(F.min("ts").alias("t_ready"))
    )
    return (
        ev.filter(F.col("event_type").isin("signup", "error", "click"))
        .crossJoin(broadcast(t_ready))
        .select(
            "event_id",
            F.col("ts").alias("arrival_ts"),
            F.greatest("ts", "t_ready").alias("effective_ts"),
            (F.col("ts") < F.col("t_ready")).alias("was_pending"),
        )
    )


@registry.query(
    "route_event_dispatch",
    oracle="""
    WITH dispatch AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'node' ELSE 'publisher' END
                   AS sender_kind,
               CASE WHEN event_type = 'signup' THEN 'CHANNEL_JOIN'
                    WHEN event_type = 'error' THEN 'CHANNEL_LEAVE'
                    WHEN event_type = 'click' THEN 'CHANNEL_MESSAGE'
                    WHEN event_type = 'purchase' AND value > 195 THEN 'CLIENT_KICK'
                    WHEN event_type = 'purchase' THEN 'NODE_STATE'
                    ELSE 'PENDING_DROP' END AS branch,
               user_id, event_id
        FROM events
    )
    SELECT branch, sender_kind, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_senders,
           MIN(event_id) AS first_event, MAX(event_id) AS last_event
    FROM dispatch
    GROUP BY branch, sender_kind
    """,
)
def route_event_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #23: the event dispatch table — route every incoming event to
    its handler branch by (event code, sender kind).

    The reference's cluster socket handler is one big router
    (lib/QutyCluster.js:555-640): NODE_STATE → discovery/state merge,
    then per sender kind (node ``socket.sid`` vs publisher ``socket.pid``)
    CHANNEL_JOIN → subscribeNode, CHANNEL_LEAVE → unsubscribeNode,
    CHANNEL_MESSAGE → sendMessage (no-rebroadcast for nodes), CLIENT_KICK
    → disconnectClient, and unknown/unready events land in the pending
    buffer. Fixture mapping reuses the changelog's op derivation
    (signup/error/purchase→kick) plus click→message; even user_ids model
    node sockets, odd ones publishers. Output: per (branch, sender_kind)
    routing stats — the dispatch fan-in a router node would see.

    Plan: single scan, codegen'd CASE chain, partial aggregation before
    one shuffle on the 12-row group key space.
    """
    ev = load_table(spark, sf_dir, "events")
    branch = (
        F.when(F.col("event_type") == "signup", "CHANNEL_JOIN")
        .when(F.col("event_type") == "error", "CHANNEL_LEAVE")
        .when(F.col("event_type") == "click", "CHANNEL_MESSAGE")
        .when(
            (F.col("event_type") == "purchase") & (F.col("value") > 195),
            "CLIENT_KICK",
        )
        .when(F.col("event_type") == "purchase", "NODE_STATE")
        .otherwise("PENDING_DROP")
    )
    sender_kind = F.when(F.col("user_id") % 2 == 0, "node").otherwise("publisher")
    return (
        ev.select(
            branch.alias("branch"),
            sender_kind.alias("sender_kind"),
            "user_id",
            "event_id",
        )
        .groupBy("branch", "sender_kind")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_senders"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


# ---------------------------------------------------------------------------
# Wire envelope (§2.A #1-#2)
# ---------------------------------------------------------------------------

SQL_FRAMES = """
frames AS (
    SELECT event_id,
           CASE WHEN event_type = 'view' THEN 'corrupt frame without pipe'
                ELSE 'M|' || to_json(struct_pack(
                        c := 'ch' || CAST(CAST(props ->> '$.k' AS INTEGER) % 5 AS VARCHAR),
                        m := printf('%.2f', value),
                        s := CAST(user_id AS VARCHAR),
                        _q := CAST((ROW_NUMBER() OVER (
                                PARTITION BY 'ch' || CAST(CAST(props ->> '$.k' AS INTEGER) % 5 AS VARCHAR)
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) - 1) % 100 AS VARCHAR)))
           END AS frame
    FROM events
    WHERE event_type IN ('click', 'view')
)"""


def frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize click events into the reference's wire frames
    ``"{event}|{json}"`` with a mod-100 sequence counter.

    The reference keeps ONE module-scope ``sendSeq`` counter shared by
    every socket in the process (``let sendSeq = 0`` at lib/util.js:186,
    attach-then-increment in util.sendSocketEvent lib/util.js:188-196;
    MAX_SEND_SEQ=100 lib/util.js:13) — frames are numbered 0..99
    process-wide. Partitioning the counter PER CHANNEL is an intentional
    divergence from that single counter: a faithful global window forces
    every wire frame through one ``Exchange SinglePartition`` task, which
    is a non-starter at scale, while per-channel counters model what the
    per-process counters of a sharded deployment (one channel ↔ one
    owning node) would produce. The 0-based numbering itself matches the
    reference (first frame gets ``_q=0``). 'view' events are corrupted
    on purpose so the parse side exercises the malformed-drop path
    (util.parseSocketEvent → false, lib/util.js:208-246).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    channel = F.concat(F.lit("ch"), (k % 5).cast("string"))
    w = Window.partitionBy(channel).orderBy("ts", "event_id")
    return ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id",
        F.when(F.col("event_type") == "view", F.lit("corrupt frame without pipe"))
        .otherwise(
            F.concat(
                F.lit("M|"),
                F.to_json(
                    F.struct(
                        channel.alias("c"),
                        F.format_string("%.2f", F.col("value")).alias("m"),
                        F.col("user_id").cast("string").alias("s"),
                        ((F.row_number().over(w) - 1) % 100).cast("string").alias("_q"),
                    )
                ),
            )
        )
        .alias("frame"),
    )


@registry.query(
    "envelope_serialize",
    oracle=f"""
    WITH {SQL_FRAMES}
    SELECT event_id, frame FROM frames
    """,
)
def envelope_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #2: the sink-side serializer (frame + seq injection)."""
    return frames(spark, sf_dir)


def parse_frame_cols(fr: DataFrame, frame: str = "frame") -> DataFrame:
    """The reference's parse contract (util.parseSocketEvent,
    lib/util.js:208-246) as reusable column logic: split at the FIRST
    '|' (payloads may contain pipes), JSON-parse the remainder, and
    silently drop frames with no pipe or a non-JSON payload. Adds
    ``event_code``, ``payload`` (raw JSON) and ``c`` (channel) columns;
    rows surviving the filter are well-formed frames. Property-tested
    against arbitrary payloads in tests/test_envelope_properties.py."""
    pipe_pos = F.instr(frame, "|")
    parsed = (
        fr.filter(pipe_pos > 0)
        .withColumn(
            "event_code", F.expr(f"substring({frame}, 1, instr({frame}, '|') - 1)")
        )
        .withColumn("payload", F.expr(f"substring({frame}, instr({frame}, '|') + 1)"))
    )
    # JSON-parse failure -> $.c extraction yields null -> drop.
    return parsed.withColumn("c", F.get_json_object("payload", "$.c")).filter(
        F.col("c").isNotNull()
    )


@registry.query(
    "envelope_parse",
    oracle=f"""
    WITH {SQL_FRAMES}
    SELECT event_id,
           split_part(frame, '|', 1) AS event_code,
           payload ->> '$.c' AS channel,
           payload ->> '$.m' AS message,
           payload ->> '$.s' AS sender,
           CAST(payload ->> '$._q' AS INTEGER) AS seq
    FROM (SELECT event_id,
                 frame,
                 substr(frame, strpos(frame, '|') + 1) AS payload
          FROM frames
          WHERE strpos(frame, '|') > 0)
    WHERE json_valid(payload)
    """,
)
def envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.A #1: source-side parse — split at the FIRST '|', JSON-parse the
    payload, lift out the seq; malformed frames are silently dropped
    (lib/util.js:208-246). Round-trips the serializer's own output."""
    return (
        parse_frame_cols(frames(spark, sf_dir))
        .select(
            "event_id",
            "event_code",
            F.col("c").alias("channel"),
            F.get_json_object("payload", "$.m").alias("message"),
            F.get_json_object("payload", "$.s").alias("sender"),
            F.get_json_object("payload", "$._q").cast("int").alias("seq"),
        )
    )


# ---------------------------------------------------------------------------
# Kafka wire shape (BASELINE.md: no broker in this container — the wire
# CONTRACT is demonstrated instead: keyed partitioning, per-partition
# monotone gap-free offsets, opaque key/value payloads)
# ---------------------------------------------------------------------------

KAFKA_TOPIC = "quty.events"
N_KAFKA_PARTITIONS = 4

# Kafka-shaped records synthesized through the envelope path: value = the
# serialized wire frame (frames()), key = the channel, partition = a
# deterministic keyed partitioner (channel number mod 4 — the fixture twin
# of Kafka's murmur2(key) % numPartitions: what matters for the contract is
# that ALL of a key's records land on ONE partition), offset = the
# per-partition arrival sequence 0..n-1. At 100 TB the offsets exist on the
# wire already (the broker assigns them); this synthesis is fixture-side
# and its per-partition window parallelizes over partitions.
SQL_KAFKA_RECORDS = (
    SQL_FRAMES
    + """,
kafka_payloads AS (
    SELECT event_id, frame, substr(frame, strpos(frame, '|') + 1) AS payload
    FROM frames
    WHERE strpos(frame, '|') > 0
      AND json_valid(substr(frame, strpos(frame, '|') + 1))
),
kafka_records AS (
    SELECT p.event_id,
           'quty.events' AS topic,
           CAST(CAST(substr(payload ->> '$.c', 3) AS INTEGER) % 4 AS INTEGER)
               AS "partition",
           payload ->> '$.c' AS "key",
           frame AS "value",
           CAST(ROW_NUMBER() OVER (
                    PARTITION BY CAST(substr(payload ->> '$.c', 3) AS INTEGER) % 4
                    ORDER BY CAST(e.ts AS TIMESTAMP), p.event_id
                ) - 1 AS BIGINT) AS "offset",
           CAST(e.ts AS TIMESTAMP) AS ts
    FROM kafka_payloads p JOIN events e ON p.event_id = e.event_id
)"""
)


def kafka_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build Kafka-shaped records (topic, partition, offset, key, value)
    from the envelope serializer's valid frames.

    Key/value are kept as STRING here (Spark's Kafka sink accepts string
    or binary for both and casts implicitly); the keyed partitioner and
    the per-partition offset window are the wire semantics under test.
    The reference's ingress is a WebSocket feed (lib/Server.js), so this
    is its lake-landing twin: one log per topic-partition, arrival order
    = (event time, event id)."""
    fr = frames(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    valid = (
        fr.filter(F.instr("frame", "|") > 0)
        .withColumn("payload", F.expr("substring(frame, instr(frame, '|') + 1)"))
        .withColumn("key", F.get_json_object("payload", "$.c"))
        .filter(F.col("key").isNotNull())  # JSON-parse failure → drop
    )
    rec = valid.join(ev, "event_id").select(
        "event_id",
        F.lit(KAFKA_TOPIC).alias("topic"),
        (F.substring("key", 3, 10).cast("int") % N_KAFKA_PARTITIONS)
        .cast("int")
        .alias("partition"),
        "key",
        F.col("frame").alias("value"),
        "ts",
    )
    w = Window.partitionBy("topic", "partition").orderBy("ts", "event_id")
    return rec.withColumn("offset", (F.row_number().over(w) - 1).cast("bigint"))


@registry.query(
    "kafka_wire_encode",
    oracle=f"""
    WITH {SQL_KAFKA_RECORDS}
    SELECT event_id, topic, "partition", "offset", "key", "value"
    FROM kafka_records
    """,
)
def kafka_wire_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka wire emit: envelope frames wrapped as (topic, partition,
    offset, key, value) records with keyed partitioning and per-partition
    monotone offsets — the broker-less proof of the producer contract."""
    return kafka_records(spark, sf_dir).select(
        "event_id", "topic", "partition", "offset", "key", "value"
    )


@registry.query(
    "kafka_wire_decode",
    oracle=f"""
    WITH {SQL_KAFKA_RECORDS}
    SELECT topic, "partition", "offset", "key",
           payload ->> '$.m' AS message,
           payload ->> '$.s' AS sender,
           CAST(payload ->> '$._q' AS INTEGER) AS seq
    FROM (SELECT *, substr("value", strpos("value", '|') + 1) AS payload
          FROM kafka_records)
    """,
)
def kafka_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka wire consume: parse each record's value back through the
    envelope parser (split at first '|', JSON payload, seq lift-out) —
    round-trips kafka_wire_encode's own output; key must equal the
    payload channel by construction."""
    rec = kafka_records(spark, sf_dir)
    parsed = rec.withColumn(
        "payload", F.expr("substring(value, instr(value, '|') + 1)")
    )
    return parsed.select(
        "topic",
        "partition",
        "offset",
        "key",
        F.get_json_object("payload", "$.m").alias("message"),
        F.get_json_object("payload", "$.s").alias("sender"),
        F.get_json_object("payload", "$._q").cast("int").alias("seq"),
    )
