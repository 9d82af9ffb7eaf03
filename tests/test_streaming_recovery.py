"""Checkpoint-recovery and watermark-drop proofs (the "Kafka semantics"
half of BASELINE.json's stated approach).

These are the behaviors an oracle row-compare alone cannot pin down:
that the watermark really DISCARDS late rows (not vacuously "drops
nothing"), and that a stopped query restarted on the same checkpoint
resumes from committed offsets — no loss, no duplicates, epoch numbering
continuing — into an idempotent epoch-keyed sink.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quty_server_spark.operators._helpers import load_table
from quty_server_spark.streaming import ops
from tests.conftest import SF_DIR


def test_watermark_drop_is_nonempty(spark):
    # The final state must be missing exactly the earliest-hour rows —
    # i.e. the watermark dropped a NON-EMPTY set (the round-2 bug was a
    # choreography where no row was ever late and the check was vacuous).
    result = ops.stream_watermark_late_drop(spark, SF_DIR)
    kept = sum(r.n for r in result.collect())
    ev = load_table(spark, SF_DIR, "events")
    total = ev.count()
    lo = ev.agg(F.min("ts")).first()[0]
    import datetime as dtm

    n_late = ev.filter(F.col("ts") < F.lit(lo + dtm.timedelta(hours=1))).count()
    assert n_late > 0, "fixture has no earliest-hour rows; choreography broken"
    assert kept == total - n_late
    assert kept < total  # something was genuinely dropped


def test_checkpoint_resume_no_loss_no_dupes(spark):
    info = ops.checkpoint_recovery_run(spark, SF_DIR)
    res = info["result"]
    rows = res.collect()
    ids = [r.event_id for r in rows]
    truth = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type") == "purchase"
    )
    truth_ids = {r.event_id for r in truth.select("event_id").collect()}
    # Exactly-once across the restart: every purchase exactly once.
    assert len(ids) == len(set(ids)), "duplicates: file 1 was re-processed"
    assert set(ids) == truth_ids, "loss: restart skipped committed-but-unread data"

    # The second query RESUMED (offsets from the checkpoint): it appended
    # strictly-later epochs instead of restarting the numbering at 0.
    p1 = info["epochs_phase1"]
    new = sorted(set(info["epochs_all"]) - set(p1))
    assert p1, "phase 1 wrote no epochs"
    assert new, "phase 2 wrote no new epochs"
    assert min(new) > max(p1)

    # And the new epochs contain only file-2 rows: nothing re-read.
    file1_ids = {
        r.event_id
        for r in truth.filter(F.col("ts") < F.lit(info["cut"]))
        .select("event_id")
        .collect()
    }
    for e in new:
        edf = spark.read.parquet(os.path.join(info["outdir"], f"epoch={e}"))
        got = {r.event_id for r in edf.select("event_id").collect()}
        assert got.isdisjoint(file1_ids), f"epoch {e} re-delivered phase-1 rows"


def test_liveness_expiry_and_revive(spark):
    # The reference's heartbeat kill + reconnect cycle (lib/Server.js:343-
    # 360): member 1 goes silent and expires once; member 2 expires, then
    # a later beat REVIVES it (fresh state), and a further watermark
    # advance expires the revived state with the NEW last_seen — proving
    # expiry emits per silent episode, not per member. Member 3 keeps
    # beating and is never expired.
    import datetime as dtm

    from quty_server_spark.session import fresh_tmp_dir

    t0 = dtm.datetime(2024, 1, 1, 0, 0, 0)

    def beats(*rows):
        return spark.createDataFrame(
            [(m, t0 + dtm.timedelta(minutes=mins)) for m, mins in rows],
            "member_id long, ts timestamp",
        )

    files = [
        beats((1, 0), (1, 10), (2, 10), (3, 30)),
        beats((3, 180)),  # watermark -> t0+2h45m after this batch
        beats((3, 190)),  # fires m1 + m2 timeouts (timeout t0+70m < wm)
        beats((2, 240), (3, 240)),  # m2 revives with fresh state
        beats((3, 360)),  # watermark -> t0+5h45m: expires revived m2
    ]
    indir = os.path.join(
        fresh_tmp_dir(spark, "quty_liveness_test", SF_DIR), "in"
    )
    ops._stage_ordered(files, indir)

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    raw = (
        spark.readStream.schema(
            StructType(
                [
                    StructField("member_id", LongType()),
                    StructField("ts", TimestampType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
    )
    expired = (
        raw.withWatermark("ts", ops.LIVENESS_WM)
        .groupBy("member_id")
        .applyInPandasWithState(
            ops._liveness_expiry,
            outputStructType=ops._LIVE_OUT_SCHEMA,
            stateStructType=ops._LIVE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    got = ops.run_to_memory(expired, "mem_liveness_test", "append").collect()
    episodes = sorted((r.member_id, r.last_seen, r.n_heartbeats) for r in got)
    assert episodes == [
        (1, t0 + dtm.timedelta(minutes=10), 2),  # expired once, stays dead
        (2, t0 + dtm.timedelta(minutes=10), 1),  # first silent episode
        (2, t0 + dtm.timedelta(minutes=240), 1),  # revived state, expired anew
    ]
    assert all(m != 3 for m, _, _ in episodes)  # kept-alive member never killed


def test_epoch_sink_idempotent_on_retry(spark):
    # The sink half of exactly-once: re-executing a batch (Spark retries
    # the last uncommitted batch after a crash) overwrites its own epoch
    # directory, so the replay is a no-op rather than a duplication.
    import tempfile

    outdir = os.path.join(tempfile.gettempdir(), "quty_epoch_retry_test")
    import shutil

    shutil.rmtree(outdir, ignore_errors=True)
    os.makedirs(outdir)
    writer = ops._epoch_writer(outdir)
    batch = spark.range(100).select(F.col("id").alias("event_id"))
    writer(batch, 7)
    writer(batch, 7)  # the crash-retry replay
    back = spark.read.option("basePath", outdir).parquet(
        os.path.join(outdir, "epoch=*")
    )
    assert back.count() == 100


def _gate_twins():
    from quty_server_spark.operators.dedup import (
        dedup_incremental_minhash_artifact,
        dedup_incremental_passages,
        dedup_incremental_simhash_artifact,
    )
    from quty_server_spark.operators.multimodal import (
        mm_neardup_incremental_artifact,
    )
    from quty_server_spark.operators.similarity import (
        dedup_incremental_embedding_artifact,
    )

    return [
        pytest.param(
            ops.stream_ingest_dedup_gate,
            dedup_incremental_simhash_artifact,
            "quty_stream_gate",
            tuple,
            id="simhash",
        ),
        pytest.param(
            ops.stream_ingest_dedup_gate_minhash,
            dedup_incremental_minhash_artifact,
            "quty_stream_gate_minhash",
            lambda r: (r.incoming_doc_id, r.lake_doc_id, round(r.jaccard, 9)),
            id="minhash",
        ),
        pytest.param(
            ops.stream_ingest_dedup_gate_embedding,
            dedup_incremental_embedding_artifact,
            "quty_stream_gate_embedding",
            lambda r: (r.incoming_vec_id, r.lake_vec_id, round(r.cos_sim, 9)),
            id="embedding",
        ),
        pytest.param(
            ops.stream_ingest_passage_gate,
            dedup_incremental_passages,
            "quty_stream_gate_passages",
            lambda r: (r.doc_id, r.n_windows, r.n_lake_dup_windows, r.dup_ppm),
            id="passage",
        ),
        pytest.param(
            ops.stream_ingest_media_gate,
            mm_neardup_incremental_artifact,
            "quty_stream_gate_media",
            tuple,
            id="media",
        ),
    ]


@pytest.mark.parametrize("stream_q, batch_q, kind, key", _gate_twins())
def test_stream_ingest_gate_matches_batch_gate(
    spark, stream_q, batch_q, kind, key
):
    # Each continuous gate is its batch twin chopped into micro-batches:
    # the union of per-epoch outputs must equal the one-shot artifact
    # gate row-for-row (Jaccard and cosine rounded to 9 places), with the
    # same columns (the epoch read-back adds no partition column), and
    # the run must actually have been multi-batch (file-partitioned
    # shard + maxFilesPerTrigger=1 -> >= 2 epochs).
    from quty_server_spark.session import session_tmp_dir

    streamed_df, batch_df = stream_q(spark, SF_DIR), batch_q(spark, SF_DIR)
    assert streamed_df.columns == batch_df.columns
    streamed = {key(r) for r in streamed_df.collect()}
    batch = {key(r) for r in batch_df.collect()}
    assert streamed == batch
    assert len(streamed) > 0
    if kind == "quty_stream_gate_media":
        # Staged cross-boundary twin pairs (hamming == 0 at offset
        # _NEARDUP_TWIN_BASE) must be present — a 0-row green media
        # gate would be vacuous.
        from quty_server_spark.operators.multimodal import _NEARDUP_TWIN_BASE

        assert any(
            abs(a - b) == _NEARDUP_TWIN_BASE and h == 0
            for a, b, h in streamed
        ), "no staged twin pair crossed the shard/lake boundary in the stream"
    outdir = os.path.join(session_tmp_dir(spark, kind, SF_DIR), "out")
    epochs = [d for d in os.listdir(outdir) if d.startswith("epoch=")]
    assert len(epochs) >= 2


@pytest.mark.parametrize(
    "query",
    [
        ops.stream_pipeline_end_to_end,
        ops.stream_watermark_late_drop,
        lambda s, sf: ops.checkpoint_recovery_run(s, sf)["result"],
        ops.stream_foreach_batch_sink,
        lambda s, sf: ops.kafka_replay_run(s, sf)["result"],
        ops.stream_python_datasource,
    ],
    ids=[
        "pipeline_end_to_end",
        "watermark_late_drop",
        "checkpoint_recovery",
        "foreach_batch_sink",
        "kafka_replay",
        "python_datasource",
    ],
)
def test_stream_readback_survives_a_second_call(spark, query):
    # A second call for the same sf_dir empties and rewrites the stream's
    # scratch dir; a frame the first call returned must still read.
    first = query(spark, SF_DIR)
    second = query(spark, SF_DIR)
    assert first.count() == second.count() > 0


def test_sequential_gate_rejects_cross_epoch_duplicates(spark):
    """The order-dependent gate's defining property: a duplicate whose
    copy arrived in an EARLIER epoch is rejected by the seen-state
    ledger, not by within-batch dedup — so for every (original, +1M
    copy) pair landing in different epochs, exactly the earlier-epoch
    member is admitted. Non-vacuity: the (doc_id % 7) % 4 epoch split
    must actually separate some pairs."""
    from pyspark.sql import functions as F

    from quty_server_spark.operators.dedup import duped_corpus
    from quty_server_spark.streaming.ops import (
        stream_ingest_exact_dedup_sequential,
    )

    out = stream_ingest_exact_dedup_sequential(spark, SF_DIR)
    admitted = {r.admitted_doc_id: r.epoch for r in out.collect()}
    # Each content admitted exactly once.
    md5s = [r.text_md5 for r in out.collect()]
    assert len(md5s) == len(set(md5s))

    shard = (
        duped_corpus(spark, SF_DIR)
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.expr("(doc_id % 7) % 4").alias("epoch"))
    )
    epochs = {r.doc_id: r.epoch for r in shard.collect()}
    originals = [d for d in epochs if d + 1000000 in epochs]
    cross = [d for d in originals if epochs[d] != epochs[d + 1000000]]
    same = [d for d in originals if epochs[d] == epochs[d + 1000000]]
    assert cross, "epoch split no longer separates any duplicate pair"
    for d in cross:
        first, second = (
            (d, d + 1000000)
            if epochs[d] < epochs[d + 1000000]
            else (d + 1000000, d)
        )
        assert first in admitted and second not in admitted, (
            f"cross-epoch pair ({d}, {d + 1000000}): expected only the "
            f"earlier-epoch member admitted"
        )
        assert admitted[first] == epochs[first]
    # Within-batch path: same-epoch pairs keep the min doc_id.
    for d in same:
        assert d in admitted and d + 1000000 not in admitted


def test_stream_cluster_maintenance_state_equals_full_recompute(spark):
    # Continuous clustering maintenance (round 13): after all epochs,
    # the maintained label artifact's CONTENT (not just its summary)
    # equals the from-scratch full-corpus component labels — the
    # strongest form of the order-independence claim. Also checks the
    # stream actually ran multi-epoch and grew the signature copy.
    from quty_server_spark.operators.dedup import dedup_cluster
    from quty_server_spark.session import session_tmp_dir
    from quty_server_spark.streaming.ops import stream_cluster_maintenance

    stream_cluster_maintenance(spark, SF_DIR).collect()
    base = session_tmp_dir(spark, "quty_stream_clabels", SF_DIR)
    # Sorted LISTS, not sets: a doc appended twice (the cross-epoch
    # shard+singleton overlap the r13 advice flagged) must fail here
    # even though its (node, lbl) pair is set-equal.
    got = sorted(
        (r.node, r.lbl)
        for r in spark.read.parquet(os.path.join(base, "labels"))
        .select("node", "lbl")
        .collect()
    )
    want = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup_cluster(spark, SF_DIR).collect()
    )
    assert got == want
    assert len(got) > 0
    epochs = [
        f
        for f in os.listdir(os.path.join(base, "ckpt", "commits"))
        if not f.startswith(".")
    ]
    assert len(epochs) >= 2


def test_stream_cluster_maintenance_replay_after_apply_failure(
    spark, monkeypatch
):
    # Failure injection: the label apply raises once, at epoch 1, after
    # that epoch's concurrent band write has committed. Restarting on
    # the same checkpoint replays epoch 1; the labels and the gate's
    # signature rows must then equal a fresh build (sorted LISTS, so a
    # band row committed twice fails).
    import pytest

    from quty_server_spark.operators import dedup as D
    from quty_server_spark.session import session_tmp_dir

    base = session_tmp_dir(spark, "quty_stream_clabels", SF_DIR)

    def label_rows():
        return sorted(
            (r.node, r.lbl)
            for r in spark.read.parquet(os.path.join(base, "labels"))
            .select("node", "lbl")
            .collect()
        )

    def gate_rows():
        lake = spark.read.parquet(D.SIG_FAMILY.build(spark, SF_DIR))
        sig = ops._gate_signatures(
            spark, lake, os.path.join(base, "bands"), 1 << 30
        )
        return sorted(tuple(r) for r in sig.collect())

    ops.stream_cluster_maintenance(spark, SF_DIR).collect()
    fresh_labels, fresh_gate = label_rows(), gate_rows()

    apply = D._apply_maintenance_for_state
    calls = []

    def apply_failing_at_epoch_1(*args):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected apply failure at epoch 1")
        return apply(*args)

    monkeypatch.setattr(D, "_apply_maintenance_for_state",
                        apply_failing_at_epoch_1)
    with pytest.raises(Exception, match="injected apply failure"):
        ops.stream_cluster_maintenance(spark, SF_DIR)
    assert os.path.isdir(os.path.join(base, "bands", "epoch=1"))
    schema = spark.read.parquet(os.path.join(base, "in")).schema
    ops._maintain_labels(spark, SF_DIR, base, schema)  # restart
    assert len(calls) > 2
    assert label_rows() == fresh_labels
    assert gate_rows() == fresh_gate
    # The gate rows after every epoch are the full corpus's bands.
    full = D.simhash_bands(D.simhash_sigs(spark, SF_DIR))
    assert fresh_gate == sorted(tuple(r) for r in full.collect())


def test_stream_corpus_snapshot_equals_incremental_batch(spark):
    # The continuous product's close-state equals the nightly batch
    # twin exactly (sorted LISTS — duplicates must fail), the stream
    # actually ran multi-epoch, and reconciliation only ever REMOVES
    # provisional admissions (quality+scrub are order-independent; the
    # keeper filter is the close-time step).
    from quty_server_spark.operators.pipeline import (
        corpus_training_snapshot_incremental,
    )
    from quty_server_spark.session import session_tmp_dir
    from quty_server_spark.streaming.ops import stream_corpus_snapshot

    got = sorted(
        tuple(r) for r in stream_corpus_snapshot(spark, SF_DIR).collect()
    )
    want = sorted(
        tuple(r)
        for r in corpus_training_snapshot_incremental(
            spark, SF_DIR
        ).collect()
    )
    assert got == want and got
    base = session_tmp_dir(spark, "quty_stream_snapshot", SF_DIR)
    epochs = [
        d for d in os.listdir(os.path.join(base, "out"))
        if d.startswith("epoch=")
    ]
    assert len(epochs) >= 2
    prov = spark.read.parquet(os.path.join(base, "out")).count()
    assert prov >= len(got)


def test_stream_retraction_equals_batch_tombstone(spark):
    # The continuous takedown's close-state equals the one-shot
    # tombstone sink exactly (sorted LISTS — a double-counted summary
    # row must fail), and the stream actually split the victim feed
    # across multiple micro-batches (the commutativity claim is only
    # exercised when more than one epoch wrote tombstones).
    from quty_server_spark.operators.retract import (
        sink_lake_artifacts_retract_tombstone,
    )
    from quty_server_spark.session import session_tmp_dir
    from quty_server_spark.streaming.ops import stream_lake_retraction

    got = sorted(
        tuple(r) for r in stream_lake_retraction(spark, SF_DIR).collect()
    )
    want = sorted(
        tuple(r)
        for r in sink_lake_artifacts_retract_tombstone(
            spark, SF_DIR
        ).collect()
    )
    assert got == want and got
    base = session_tmp_dir(spark, "quty_stream_retract", SF_DIR)
    epochs = [
        f
        for f in os.listdir(os.path.join(base, "ckpt", "commits"))
        if not f.startswith(".")
    ]
    assert len(epochs) >= 2


def test_stream_shard_epoch_commit_is_replay_idempotent(spark):
    """The continuous trainer handoff's exactly-once device: an epoch
    commits as ONE overwrite directory, so replaying the epoch rewrites
    identical content instead of duplicating rows — while the naive
    in-place append device provably doubles on replay (why the stream
    does NOT use mode('append') into the standing dirs)."""
    import os
    import shutil

    from quty_server_spark.operators.pipeline import (
        _write_training_shards,
        corpus_training_snapshot_incremental,
    )
    from quty_server_spark.session import session_tmp_dir
    from tests.conftest import SF_DIR

    rows = corpus_training_snapshot_incremental(spark, SF_DIR).localCheckpoint()
    base = session_tmp_dir(spark, "quty_shard_replay_test", SF_DIR)
    shutil.rmtree(base, ignore_errors=True)
    e0 = os.path.join(base, "e0")
    _write_training_shards(rows, e0, mode="overwrite")
    first = sorted(tuple(r) for r in spark.read.parquet(e0).collect())
    _write_training_shards(rows, e0, mode="overwrite")  # epoch REPLAY
    second = sorted(tuple(r) for r in spark.read.parquet(e0).collect())
    assert first == second and first
    e1 = os.path.join(base, "e1")
    _write_training_shards(rows, e1, mode="append")
    _write_training_shards(rows, e1, mode="append")  # replayed append
    assert spark.read.parquet(e1).count() == 2 * len(first)
    shutil.rmtree(base, ignore_errors=True)


def test_stream_training_shards_close_equals_one_shot_append(spark):
    """Epoch-split convergence, pinned directly: the continuous twin's
    close-state per-shard summary equals the one-shot batch append's."""
    from quty_server_spark.operators.pipeline import (
        _shard_summary,
        appended_training_shards,
        sink_training_shards_append,  # noqa: F401 (import parity)
    )
    from quty_server_spark.streaming.ops import stream_training_shards
    from tests.conftest import SF_DIR

    got = sorted(
        tuple(r) for r in stream_training_shards(spark, SF_DIR).collect()
    )
    app = appended_training_shards(spark, SF_DIR, rebuild=True)
    want = sorted(
        tuple(r)
        for r in _shard_summary(spark.read.parquet(app)).collect()
    )
    assert got == want
