"""The two workloads. Each takes a :class:`Ctx` and returns its
end-to-end numbers plus the operation counts.

- ``batch``: a pass is the exec-heavy SQL mix in one warm session, order
  shuffled by the seed, then the LLM pipeline in dependency order on a
  fresh ``spark.newSession()``, so session memos and artifacts start cold
  while the JVM stays warm.
- ``pubsub_live``: envelope frames through ``pubsub.parse_frame_cols``,
  routed against the broadcast subscription table and delivered by an
  epoch-keyed ``foreachBatch`` parquet write; drains of a fixed backlog,
  then an open loop at two offered rates.

Every timed batch result is fingerprinted (row count plus an
order-insensitive row hash) against ``golden.json``; every pub/sub message
is checked for exactly-once delivery to each subscriber of its channel.
"""

from __future__ import annotations

import json
import math
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import metrics as M
from perfbench.trace import Tracer, module_of, progress_record

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden.json")
# Byte copies of the repo's sf0.01 and sf0.001 test tables. Both workloads
# measure on sf0.01; the batch warm-up runs on sf0.001 (same plans and
# generated code, a tenth of the data). At sf0.1 the runs of a benchmark
# check do not fit its time budget.
DATA = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA, "sf0.01")
WARMUP_SF_DIR = os.path.join(DATA, "sf0.001")

# Exec-heavy registered queries, one per family, run in one warm session.
SQL_BATCH = [
    "flagship_delivery_report",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "agg_count_distinct",
    "window_row_number_topk",
    "join_asof",
    "orders_supplier_herfindahl",
    "subs_current_state",
    "route_fanout",
    "envelope_parse",
]

# The LLM pipeline, one query per operator module plus the streaming
# ingest gate (a whole stream runs inside its build), in dependency order:
# the cluster labels feed the snapshot.
LLM_NIGHTLY = [
    "dedup_cluster",
    "corpus_training_snapshot",
    "graph_pagerank_converged",
    "text_bpe_train_n",
    "sim_ann_ivf",
    "mm_payload_neardup",
    "sink_lake_artifacts_retract",
    "stream_ingest_dedup_gate",
]


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    seed: int
    seconds: float
    cores: int
    work_dir: str
    tracer: Tracer
    listener: object = None
    first_op: float | None = None
    extras: dict = field(default_factory=dict)

    def new_session(self):
        """``spark.newSession()``; a traced run's streaming listener is
        attached to it too (listeners are per session)."""
        s = self.spark.newSession()
        if self.listener is not None:
            s.streams.addListener(self.listener)
        return s

    def mark_first_op(self) -> None:
        if self.first_op is None:
            self.first_op = time.time()


def load_golden() -> dict:
    with open(GOLDEN) as f:
        return json.load(f)


def fingerprint(df) -> list:
    """``[rows, hash]`` of a result, insensitive to row order. Doubles are
    rounded to 6 places and nested values serialized to JSON so the hash
    is stable across partitionings."""
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType.typeName()
        if t in ("double", "float"):
            c = F.round(c, 6)
        elif t in ("array", "map", "struct"):
            c = F.to_json(c)
        cols.append(c)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h"),
    ).collect()[0]
    return [int(row["n"]), str(row["h"])]


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------


def _batch_pass(
    ctx: Ctx, session, sf_dir, names, golden, stats: dict | None, fresh: bool = False
) -> None:
    """Build and fingerprint each query. With ``stats`` the queries are
    measured and checked against ``golden``; without, it is a warm-up.
    ``fresh`` marks a session whose memos start cold."""
    from quty_server_spark.plans.registry import registry

    kind = "query" if stats is not None else "warmup"
    for q in names:
        fn = registry.queries[q]
        mod = module_of(fn) if stats is not None else None
        t0 = time.time()
        ok = False
        with ctx.tracer.span(q, kind, module=mod):
            try:
                with ctx.tracer.span("build", "build", module=mod, phase="build", fresh=fresh):
                    df = fn(session, sf_dir)
                with ctx.tracer.span("exec", "exec", module=mod, phase="exec"):
                    got = fingerprint(df)
                ok = stats is None or got == golden.get(q)
                if not ok:
                    print(f"MISMATCH {q}: got {got}, golden {golden.get(q)}", flush=True)
            except Exception as e:  # a failed operation is counted, not fatal
                print(f"FAILED {q}: {type(e).__name__}: {str(e)[:300]}", flush=True)
        print(f"OP {kind} {q} {time.time() - t0:.3f}s {'ok' if ok else 'FAILED'}", flush=True)
        if stats is not None:
            stats["lat"].append(time.time() - t0)
            stats["attempted"] += 1
            stats["failed"] += 0 if ok else 1


def batch(ctx: Ctx) -> dict:
    """One JVM warm-up, then passes until ``ctx.seconds`` have passed (at
    least one). A pass is the LLM pipeline on a fresh ``spark.newSession()``,
    so its session memos and artifacts start cold, then the SQL mix in the
    run's warm session, in an order the seed shuffles. The SQL queries come
    second so that they do not share the cores with the JIT compiler
    finishing the warm-up's work.
    ``pass_s`` times the whole pass; the median SQL query and the tail of
    all queries are per-layer metrics.

    The warm-up runs the queries one per core on the sf0.001 tables, each
    on a session of its own: it only has to compile and load the code
    paths, and most of a cold query's time is driver work on one core. The
    retraction is left out of it: cold, it alone takes as long as the rest
    of the warm-up, and dedup_cluster warms its signature and clustering
    paths."""
    golden = load_golden()
    rng = random.Random(ctx.seed)
    sql = {"lat": [], "attempted": 0, "failed": 0}
    llm = {"lat": [], "attempted": 0, "failed": 0}
    warm = SQL_BATCH + [q for q in LLM_NIGHTLY if q != "sink_lake_artifacts_retract"]
    with ctx.tracer.span("warmup", "setup"), ThreadPoolExecutor(ctx.cores) as pool:
        list(pool.map(
            lambda q: _batch_pass(ctx, ctx.new_session(), WARMUP_SF_DIR, [q], golden, None), warm
        ))
    ctx.mark_first_op()
    passes = []
    t_begin = time.time()
    while True:
        with ctx.tracer.span(f"pass{len(passes)}", "pass") as p:
            _batch_pass(ctx, ctx.new_session(), ctx.sf_dir, LLM_NIGHTLY, golden, llm, fresh=True)
            order = list(SQL_BATCH)
            rng.shuffle(order)
            _batch_pass(ctx, ctx.spark, ctx.sf_dir, order, golden, sql)
        passes.append(p["end"] - p["start"])
        if time.time() - t_begin >= ctx.seconds:
            break
    tl = M.tail([x * 1000 for x in sql["lat"] + llm["lat"]])
    sql_p50 = M.median([x * 1000 for x in sql["lat"]])
    ctx.extras.update({"query.p50_ms": sql_p50, "query.tail_ms": tl["value"]})
    return {
        "attempted": sql["attempted"] + llm["attempted"],
        "failed": sql["failed"] + llm["failed"],
        "metrics": {"pass_s": (M.median(passes), len(passes))},
        "notes": {
            "sql_query_p50_ms": sql_p50,
            "query_tail_ms": tl["value"],
            "query_tail_pct": tl["pct"],
            "llm_query_p50_ms": M.median([x * 1000 for x in llm["lat"]]),
            "passes_s": passes,
        },
    }


# ---------------------------------------------------------------------------
# pubsub_live
# ---------------------------------------------------------------------------

N_CHANNELS = 7  # ch5 and ch6 have no subscribers in the test tables
KNUTH = 2654435761


def _seed_term(seed: int) -> int:
    """The seed's share of a frame hash, folded into ``[0, 2**32)`` here so
    that the SQL never multiplies the seed itself (an int overflow under
    ANSI mode for seeds past 2147)."""
    return seed * 1000003 % 2**32


def frame_truth(idx: int, seed: int) -> tuple[str, bool]:
    """Ground truth of frame ``idx``: its channel, and whether it is
    malformed (about 10%). Mirrors the SQL in :func:`frames`."""
    h = (idx * KNUTH + _seed_term(seed)) % 2**32
    return f"ch{(h >> 8) % N_CHANNELS}", (h >> 20) % 10 == 0


def _truth_cols(df, seed: int):
    """``idx`` plus each frame's ``channel`` and ``bad`` (malformed) flag,
    as in :func:`frame_truth`."""
    from pyspark.sql import functions as F

    h = f"pmod(idx * {KNUTH} + {_seed_term(seed)}L, 4294967296)"
    return df.select(
        "idx",
        F.expr(f"concat('ch', cast(pmod(shiftright({h}, 8), {N_CHANNELS}) as string))").alias("channel"),
        F.expr(f"pmod(shiftright({h}, 20), 10) = 0").alias("bad"),
    )


def frames(df, seed: int):
    """Envelope frames ``M|{json}`` for an ``idx`` column; the payload
    carries the message's sequence number ``idx``, from which its due time
    follows. Malformed frames alternate between a pipe-less string and a
    non-JSON payload."""
    from pyspark.sql import functions as F

    good = (
        "concat('M|', to_json(named_struct('c', channel, 'm', cast(idx % 997 as string), "
        "'s', cast(idx % 150 as string), '_q', cast(idx % 100 as string), "
        "'idx', idx)))"
    )
    return _truth_cols(df, seed).select(
        "idx",
        F.expr(
            "CASE WHEN bad AND idx % 2 = 0 THEN 'corrupt frame without pipe' "
            f"WHEN bad THEN 'M|not-json' ELSE {good} END"
        ).alias("frame"),
    )


def _open_loop_source():
    """A Python streaming source whose offset is the number of messages
    due so far under a rate schedule (``metrics.due_count``). The loop's
    start ``t0`` is read from a file the driver writes once the query is
    running, so the query's own start-up is not charged to any message."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class Reader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.schedule = json.loads(options["schedule"])
            self.t0_file = options["t0_file"]
            self.t0 = None

        def initialOffset(self):
            return {"next": 0}

        def _due(self) -> int:
            if self.t0 is None:
                try:
                    with open(self.t0_file) as f:
                        self.t0 = float(f.read())
                except (OSError, ValueError):
                    return 0
            return M.due_count(self.schedule, time.time() - self.t0)

        def read(self, start):
            s = int(start["next"])
            e = max(s, self._due())
            # A list iterator: copyable, for a planned batch re-served
            # after restart.
            return iter([(i,) for i in range(s, e)]), {"next": e}

        def readBetweenOffsets(self, start, end):
            return iter([(i,) for i in range(int(start["next"]), int(end["next"]))])

        def commit(self, end):
            pass

    class OpenLoop(DataSource):
        @classmethod
        def name(cls):
            return "perfbench_open_loop"

        def schema(self):
            return "idx long"

        def simpleStreamReader(self, schema):
            return Reader(self.options)

    return OpenLoop


class Delivery:
    """foreachBatch sink: routed rows of epoch ``e`` are written to
    ``<out>/epoch=<e>`` (overwrite, so a replayed epoch is idempotent).
    Epochs at or past ``stop_epoch`` are skipped and signal the driver."""

    def __init__(self, ctx: Ctx, out: str, pass_id: int, stop_epoch: int | None = None):
        self.ctx, self.out, self.pass_id = ctx, out, pass_id
        self.stop_epoch = stop_epoch
        self.done = threading.Event()

    def __call__(self, batch_df, epoch_id):
        if self.stop_epoch is not None and epoch_id >= self.stop_epoch:
            self.done.set()
            return
        t0 = time.time()
        batch_df.write.mode("overwrite").parquet(f"{self.out}/epoch={epoch_id}")
        self.ctx.tracer.add(
            f"deliver{epoch_id}", "exec", t0, time.time(), self.pass_id,
            module="pubsub", phase="exec",
        )


class PubSub:
    def __init__(self, ctx: Ctx):
        from pyspark.sql import functions as F
        from quty_server_spark.operators import pubsub

        self.ctx = ctx
        self.F = F
        self.pubsub = pubsub
        spark = ctx.spark
        spark.dataSource.register(_open_loop_source())
        rows = [(r["channel"], int(r["member_id"]))
                for r in pubsub.current_subs(spark, ctx.sf_dir).collect()]
        self.subs_df = spark.createDataFrame(rows, "channel string, member_id long")
        self.subs: dict = {}
        for ch, m in rows:
            self.subs.setdefault(ch, []).append(m)
        self.subs_ok = subs_digest(rows) == load_golden()["pubsub_live.current_subs"]
        if not self.subs_ok:
            print("MISMATCH pubsub_live.current_subs", flush=True)
        self.n_phase = 0

    def _route(self, fr, pass_id):
        F = self.F
        with self.ctx.tracer.span("parse_route", "build", parent=pass_id, module="pubsub", phase="build"):
            parsed = self.pubsub.parse_frame_cols(fr)
            return parsed.select("idx", F.col("c").alias("channel")).join(
                F.broadcast(self.subs_df), "channel"
            ).select("idx", "channel", "member_id")

    def _new_dirs(self, name) -> tuple[str, str]:
        """(scratch dir, delivery dir) of a new phase."""
        self.n_phase += 1
        base = os.path.join(self.ctx.work_dir, "pubsub", f"{self.n_phase:02d}-{name}")
        os.makedirs(base, exist_ok=True)
        return base, os.path.join(base, "out")

    def _epochs(self, query, pass_id, keep) -> list[dict]:
        """Progress records of the query's epochs, each with its commit
        time; recorded as ``epoch`` spans under ``pass_id``."""
        recs = [progress_record(json.loads(p.json)) for p in query.recentProgress]
        recs = [r for r in recs if keep(r)]
        for r in recs:
            r["from"] = r["from"] or 0
            r["commit"] = r["start"] + r["dur"].get("triggerExecution", 0) / 1000.0
            self.ctx.tracer.add(f"epoch{r['batch']}", "epoch", r["start"], r["commit"], pass_id)
        return recs

    def open_loop(self, name: str, schedule: list) -> dict:
        """Offer messages on a ``(rate, seconds)`` schedule and wait until
        every one is delivered. Returns each message's latency."""
        spark = self.ctx.spark
        total = M.due_count(schedule, math.inf)
        base, out = self._new_dirs(name)
        t0_file = os.path.join(base, "t0")
        with self.ctx.tracer.span(name, "pass") as ps:
            pass_id = ps["id"]
            src = (
                spark.readStream.format("perfbench_open_loop")
                .option("schedule", json.dumps(schedule))
                .option("t0_file", t0_file).load()
            )
            routed = self._route(frames(src, self.ctx.seed), pass_id)
            q = (
                routed.writeStream.foreachBatch(Delivery(self.ctx, out, pass_id))
                .option("checkpointLocation", f"{base}/ckpt").start()
            )
            # Start the clock once the query idles waiting for data, so
            # its start-up is not charged to the first messages.
            deadline = time.time() + 30
            while q.status.get("message") != "Waiting for data to arrive":
                if time.time() > deadline or q.exception() is not None:
                    break
                time.sleep(0.01)
            t0 = time.time() + 0.1
            with open(t0_file + ".tmp", "w") as f:
                f.write(repr(t0))
            os.replace(t0_file + ".tmp", t0_file)
            self._await(q, total, t0 + sum(d for _, d in schedule) + 60)
            q.stop()
        recs = self._epochs(q, pass_id, lambda r: r["rows"] > 0)
        lat: dict = {}
        for r in recs:
            for i, x in zip(
                range(r["from"], r["to"]),
                M.epoch_latencies(r["from"], r["to"] - r["from"], r["commit"],
                                  lambda i: t0 + M.due_time(schedule, i)),
            ):
                lat[i] = x
        lag = [r["start"] - (t0 + M.due_time(schedule, r["from"])) for r in recs]
        backlog = [M.due_count(schedule, r["start"] - t0) - r["from"] for r in recs]
        return {"name": name, "out": out, "n": total, "lat": lat,
                "lag": lag, "backlog": backlog, "epochs": recs}

    def _await(self, q, total: int, deadline: float) -> None:
        while time.time() < deadline:
            p = q.lastProgress
            if p is not None:
                r = progress_record(json.loads(p.json))
                if r["to"] is not None and r["to"] >= total:
                    return
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(0.01)
        raise TimeoutError("open loop did not deliver every message")

    def drain(self, name: str, epochs: int, per_epoch: int) -> dict:
        """Deliver ``epochs * per_epoch`` messages through
        ``rate-micro-batch`` with the trigger as fast as possible."""
        spark = self.ctx.spark
        base, out = self._new_dirs(name)
        with self.ctx.tracer.span(name, "pass") as ps:
            pass_id = ps["id"]
            src = (
                spark.readStream.format("rate-micro-batch")
                .option("rowsPerBatch", str(per_epoch))
                .option("numPartitions", str(self.ctx.cores)).load()
                .select(self.F.col("value").alias("idx"))
            )
            routed = self._route(frames(src, self.ctx.seed), pass_id)
            sink = Delivery(self.ctx, out, pass_id, epochs)
            q = (
                routed.writeStream.foreachBatch(sink)
                .option("checkpointLocation", f"{base}/ckpt").start()
            )
            deadline = time.time() + 120
            while not sink.done.wait(0.05):
                if q.exception() is not None:
                    q.stop()
                    raise RuntimeError(str(q.exception()))
                if time.time() > deadline:
                    q.stop()
                    raise TimeoutError("drain did not finish")
            q.stop()
        recs = self._epochs(q, pass_id, lambda r: r["batch"] < epochs)
        return {"name": name, "out": out, "n": epochs * per_epoch, "epochs": recs}

    def _digests(self, got_df, want_df) -> tuple[tuple, tuple]:
        """(rows, order-insensitive hash) of the ``(idx, channel,
        member_id)`` rows of each frame, in one job."""
        F = self.F
        cols = ["idx", "channel", "member_id"]
        both = got_df.select(F.lit(0).alias("side"), *cols).unionByName(
            want_df.select(F.lit(1).alias("side"), *cols)
        )
        out = {0: (0, "None"), 1: (0, "None")}
        for r in both.groupBy("side").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h"),
        ).collect():
            out[r["side"]] = (int(r["n"]), str(r["h"]))
        return out[0], out[1]

    def _expected(self, n: int):
        """The deliveries the first ``n`` frames must cause, computed from
        the frame generator's own channel and malformation columns (not
        from the parser under test) joined to the subscription table."""
        F = self.F
        truth = _truth_cols(self.ctx.spark.range(n).withColumnRenamed("id", "idx"), self.ctx.seed)
        return truth.filter(~F.col("bad")).join(self.subs_df, "channel").select(
            "idx", "channel", "member_id"
        )

    def _failed_messages(self, got_df, n: int) -> int:
        """Messages whose deliveries differ from the truth (slow path, only
        run when a phase's digest disagrees)."""
        F = self.F
        got = {
            int(r["idx"]): (int(r["n"]), int(r["s"]), int(r["s2"]), r["c"])
            for r in got_df.groupBy("idx").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("member_id").alias("s"),
                F.sum(F.col("member_id") * F.col("member_id")).alias("s2"),
                F.min("channel").alias("c"),
            ).collect()
        }
        bad_idx = []
        for i in range(n):
            ch, bad = frame_truth(i, self.ctx.seed)
            members = [] if bad else self.subs.get(ch, [])
            want = (len(members), sum(members), sum(m * m for m in members), ch) if members else None
            if got.pop(i, None) != want:
                bad_idx.append(i)
        bad_idx += sorted(got)
        print(f"MISMATCH messages (first 10 of {len(bad_idx)}): {bad_idx[:10]}", flush=True)
        return len(bad_idx)

    def check(self, phases: list[dict]) -> tuple[int, dict]:
        """Conservation: each well-formed frame on a subscribed channel is
        delivered exactly once to every subscriber of its channel; other
        frames reach nobody. A phase whose delivered rows hash to the
        expected digest has no failed message; otherwise every message is
        checked. Returns (failed messages, per-phase stats)."""
        failed = 0
        stats = {}
        for ph in phases:
            got_df = self.ctx.spark.read.parquet(ph["out"])
            got, want = self._digests(got_df, self._expected(ph["n"]))
            if got != want:
                print(f"MISMATCH {ph['name']}: deliveries differ from the truth", flush=True)
                failed += self._failed_messages(got_df, ph["n"])
            truth = [frame_truth(i, self.ctx.seed) for i in range(ph["n"])]
            routed = sum(1 for ch, bad in truth if not bad and ch in self.subs)
            stats[ph["name"]] = {
                "fanout": want[0] / routed if routed else 0.0,
                "parse_drop_frac": sum(bad for _, bad in truth) / ph["n"],
            }
        if not self.subs_ok:
            failed = sum(ph["n"] for ph in phases)
        return failed, stats


LOW_RATE, HIGH_RATE = 200.0, 2000.0
# A drain is one epoch of DRAIN_MSGS messages. The route and write path
# keeps getting faster over its first 20-30k messages (JIT), so
# WARM_DRAINS epochs run before the N_DRAINS timed ones.
DRAIN_MSGS, WARM_DRAINS, N_DRAINS = 8000, 7, 6


def subs_digest(rows) -> list:
    """``[rows, sha256]`` of the subscription table, order-insensitive."""
    import hashlib

    lines = sorted(f"{c},{m}" for c, m in rows)
    return [len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()]


def pubsub_live(ctx: Ctx) -> dict:
    """``WARM_DRAINS`` then ``N_DRAINS`` back-to-back drains of a fixed
    backlog in one query, then one open loop offered at ``low`` then
    ``high`` rate.

    End-to-end, ``pass_s`` is the median wall time of one timed drain (its
    inverse is the drain throughput): the fan-out and write of its rows
    plus one epoch's overhead. The per-message latencies, at the low rate
    (where per-epoch overhead dominates) and at the high rate, are
    per-layer metrics."""
    s = ctx.seconds
    ps = PubSub(ctx)
    # The drain runs first: its warm-up epochs also warm the open loop.
    drain = ps.drain("drain", WARM_DRAINS + N_DRAINS, DRAIN_MSGS)
    ep = sorted(drain["epochs"], key=lambda r: r["batch"])[WARM_DRAINS:]
    ctx.first_op = ep[0]["start"]
    walls = [r["commit"] - r["start"] for r in ep]
    schedule = [(LOW_RATE, 0.3 * s), (HIGH_RATE, 0.4 * s)]
    n_low = M.due_count(schedule[:1], math.inf)
    loop = ps.open_loop("open_loop", schedule)
    with ctx.tracer.span("check", "check"):
        failed, stats = ps.check([loop, drain])

    lat_low = [v * 1000 for i, v in loop["lat"].items() if i < n_low]
    lat_high = [v * 1000 for i, v in loop["lat"].items() if i >= n_low]
    tl_high, tl_low = M.tail(lat_high), M.tail(lat_low)
    loop_id = next(sp["id"] for sp in ctx.tracer.of_kind("pass") if sp["name"] == "open_loop")
    deliver_ms = [
        (sp["end"] - sp["start"]) * 1000 for sp in ctx.tracer.of_kind("exec")
        if sp.get("module") == "pubsub" and sp["parent"] == loop_id
    ]
    ctx.extras.update({
        "pubsub.deliver_write_ms": M.median(deliver_ms) if deliver_ms else 0.0,
        "pubsub.fanout": stats["open_loop"]["fanout"],
        "pubsub.parse_drop_frac": stats["open_loop"]["parse_drop_frac"],
        "deliver.low_p50_ms": M.median(lat_low),
        "deliver.high_p50_ms": M.median(lat_high),
        "deliver.high_tail_ms": tl_high["value"],
        "deliver.low_tail_ms": tl_low["value"],
        "loadgen.backlog_msgs": max(loop["backlog"]),
        "loadgen.lag_ms": M.median(loop["lag"]) * 1000,
    })
    return {
        "attempted": loop["n"] + drain["n"],
        "failed": failed,
        "metrics": {"pass_s": (M.median(walls), len(walls))},
        "notes": {
            "low_p50_ms": M.median(lat_low),
            "low_n": len(lat_low),
            "drain_msgs_per_s": DRAIN_MSGS / M.median(walls),
            "drains_s": walls,
            "epochs_loop": len(loop["epochs"]),
            "high_p50_ms": M.median(lat_high),
            "high_tail_ms": tl_high["value"],
            "high_tail_pct": tl_high["pct"],
            "high_n": len(lat_high),
            "low_tail_ms": tl_low["value"],
            "low_tail_pct": tl_low["pct"],
        },
    }


WORKLOADS = {"batch": batch, "pubsub_live": pubsub_live}
