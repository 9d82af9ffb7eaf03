"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries are materialized with the `noop` sink so we measure engine compute
(scan→shuffle→agg), not driver-side row transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as se  # noqa: E402
from quty_server_spark.session import get_spark, reset_memos  # noqa: E402

HEADLINE = [
    # relational core
    "flagship_delivery_report",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "agg_count_distinct",
    "agg_rollup",
    "window_row_number_topk",
    "join_asof",
    "sort_limit_topn",
    "scalar_json",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q7_nation_volume",
    "events_time_rollup",
    # pub/sub data plane
    "subs_current_state",
    "route_fanout",
    # pub/sub wire
    "kafka_wire_encode",
    # LLM-pipeline
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_cluster",  # iterative BSP (label propagation) — superstep latency
    "text_quality_score",
    "text_pmi_collocations",  # TakeOrdered / heavy-shuffle text plan
    "sim_ann_lsh",
    "sim_ann_ivf",
    # round-10 addition: the probe-nightly path. Best-of-3 makes the
    # convention self-enforcing — run 1 pays the one-time index build
    # (memoized artifact), runs 2-3 time the warm probe, and the min IS
    # the warm-probe number, which is the path's production contract
    # (the build cost is sim_ann_ivf's assignment, reported above).
    "sim_ann_ivf_artifact",
    "mm_decode_features",
    # round-5 additions (new families — no prior-round comparable)
    "doc_chunk_overlap",
    "orders_market_basket",
    "graph_pagerank_2iter",
    # round-6 additions
    "graph_pagerank_converged",
    "dedup_simhash_capped",
    "text_bpe_pair_counts",
    # round-7 additions (pipeline QA battery — first B rows this round)
    "sim_ann_recall_eval",
    "dedup_cluster_stats",
    "orders_supplier_herfindahl",
    # round-9 addition (incremental ingest gate; dedup_cluster_stats above
    # now times the shared-label consumer path — see the memo reset note)
    "dedup_incremental_simhash",
    # round-10 addition (r09 VERDICT "What's wrong" #3): the CAPPED twin
    # is the 100 TB contract — the number to track across rounds is the
    # bounded generator, not the teaching op (which stays above for the
    # uncapped-vs-capped delta).
    "dedup_incremental_simhash_capped",
    # round-11 addition: the MinHash-family nightly gate probing the
    # write-once band artifact. Best-of-3 makes this the warm-probe
    # number, same convention as sim_ann_ivf_artifact (run 1 pays the
    # memoized artifact build; the nightly contract is runs 2-3).
    "dedup_incremental_minhash_artifact",
    # round-12 additions: the nightly cluster ASSIGNMENT against the two
    # standing artifacts (run 1 pays the memoized signature+label
    # artifact builds; the best-of-3 min is the nightly number — shard
    # signing + contracted-graph BSP), and substring-level dedup (the
    # aggregate-only repeated-passage report).
    "dedup_cluster_incremental",
    "dedup_repeated_passages",
    # The composed snapshot rides the warm component-label memo (same
    # shared-label consumer convention as dedup_cluster_stats): its
    # number is the marginal cost of composing the three gates, the
    # labeling cost having been stated once by dedup_cluster above.
    "corpus_training_snapshot",
    # round-13 addition: the passage-family nightly gate probing the
    # write-once digest artifact — shard windowing + left-semi probe.
    # Best-of-3 makes this the warm-probe number (run 1 pays the
    # memoized artifact build), same convention as the other gates.
    "dedup_incremental_passages",
    # round-14 addition: the retraction verb — victims physically
    # removed from all four standing artifact families (DPP-scoped
    # rewrites + the band families' columnar anti-join floor). Forced
    # rebuild each run: the number IS the takedown job, copies + four
    # rewrites (the private-copy cost is the fixture device; production
    # retracts in place).
    "sink_lake_artifacts_retract",
    # round-14 late additions: the trainer handoff (snapshot → hashed
    # shards, write + read-back audit; rides the warm component-label
    # memo like corpus_training_snapshot, so its number is the marginal
    # shard write), and the token-budget curriculum fill (one window
    # cumsum — the sampling family's first windowed member).
    "sink_training_shards",
    "sample_token_budget",
    # round-15 additions: the trainer-handoff APPEND twin (forced
    # rebuild each run: the number is the lake-scoped base build + the
    # batch-only append + read-back audit — the base build is the
    # fixture device, amortized write-once in production), the
    # perceptual media near-dup pass (mapInPandas signatures + the
    # banded/capped candidate join), and the 6-merge BPE training loop
    # (per-round cost measured flat in SCALING.md §r15).
    "sink_training_shards_append",
    "mm_payload_neardup",
    "text_bpe_train_n",
    # round-15 late addition: the media family's nightly ingest gate
    # probing the write-once perceptual-signature artifact (best-of-3
    # makes this the warm-probe number, same convention as the other
    # artifact gates — run 1 pays the memoized artifact build).
    "mm_neardup_incremental_artifact",
    # round-16 additions: the trainer-shard COMPACTION verb (forced
    # cold by the same convention as the append twin — the number is
    # standing-state build + diff + partition-scoped rewrite; the
    # production nightly cost is the diff + affected-shard rewrite
    # alone), and the BPE ENCODER (one narrow corpus scan through the
    # N trained merges + a doc-keyed re-aggregation; rides the
    # trainer's lazily-checkpointed loop state).
    "sink_training_shards_compact",
    "text_bpe_encode",
    # round-17 additions: the IVF RE-CLUSTER verb (forced cold rebuild
    # of the reclustered layout each run — retrain + full reassignment
    # + partitioned write, the honest full-index floor for the repair
    # action; the standing appended artifact is memoized, run 1 pays
    # it), the MULTIMODAL snapshot (rides the warm component-label
    # memo for its text side like corpus_training_snapshot; its number
    # is the media keeper election — capped/banded mining + the
    # media-graph BSP + cluster-grain audit), the BPE-DENOMINATED
    # trainer shards (warm trained state + warm labels: the number is
    # the doc-keyed count join + shard write + dual-denomination
    # audit), and the skew-safe distinct-word encode (warm trained
    # state: the vocabulary-grain apply + two extra exchanges — the
    # number to hold against text_bpe_encode's narrow map).
    "sink_ivf_postings_artifact_recluster",
    "corpus_training_snapshot_mm",
    "sink_training_shards_bpe",
    "text_bpe_encode_vocab",
    # round-17 late additions: the persisted-tokenizer family. The
    # merge-table sink's number is the iterative per-round append +
    # read-back on the warm trained state (the training loop itself is
    # the trainer's number above); the artifact encoder's number is
    # the production encode shape — one broadcast of the merges array
    # + one nested higher-order expression, plan size constant in the
    # merge count (run 1 pays the memoized artifact build; best-of-3
    # reports the warm-artifact encode, the sim_ann_ivf_artifact
    # convention).
    "sink_bpe_merges_artifact",
    "text_bpe_encode_artifact",
    # round-17 optimization addition: the banded embedding near-dup
    # REMOVAL pass. Added (never renamed/removed — additions only per
    # the bench contract) after the optimization round took it
    # 26.7 s → 2.3 s (probe-side spread, _helpers.spread_probe): the
    # full-surface sweep showed it was the slowest non-stream query on
    # the whole registered surface, which the prior head could not see.
    "dedup_embedding_cosine",
]

# Queries timed COLD: before each of its best-of-3 runs, the query's
# memo families are dropped (session.reset_memos), so the build the
# memo would otherwise cache stays in its number. Every other query
# rides whatever earlier HEADLINE queries left warm:
# - dedup_cluster reports the cold BSP labeling pass and
#   dedup_cluster_stats the shared-label consumer path; together they
#   are the composed-pipeline cost, each stated once;
# - dedup_cluster_incremental reports the cold nightly assignment over
#   the contracted-graph memo (shared with the relabel queue), with
#   its artifacts warm;
# - text_bpe_train_n reports the cold training loop; the merge table,
#   curve, encoder, packer and budget sampler later in HEADLINE report
#   their marginal cost on the shared trained state.
COLD_MEMOS: dict[str, tuple[str, ...]] = {
    "dedup_cluster": ("cluster_labels",),
    "dedup_cluster_incremental": ("incremental_cluster_labels",),
    "text_bpe_train_n": ("bpe_state",),
}

# The timing convention (dedup_cluster = COLD labeling via COLD_MEMOS;
# dedup_cluster_stats = the WARM shared-label consumer)
# silently depends on dedup_cluster running first. Pin the ordering so
# a future HEADLINE reorder cannot flip dedup_cluster_stats back to
# cold timing without a loud failure (r09 ADVICE).
assert HEADLINE.index("dedup_cluster") < HEADLINE.index("dedup_cluster_stats")
assert HEADLINE.index("dedup_cluster") < HEADLINE.index(
    "corpus_training_snapshot"
)
# Same pinning for the BPE training-state memo: the trainer (cold, in
# COLD_MEMOS) must run before its shared-state consumers in HEADLINE.
assert HEADLINE.index("text_bpe_train_n") < HEADLINE.index("text_bpe_encode")
assert HEADLINE.index("text_bpe_train_n") < HEADLINE.index(
    "text_bpe_encode_vocab"
)
assert HEADLINE.index("text_bpe_train_n") < HEADLINE.index(
    "sink_training_shards_bpe"
)
# The persisted-tokenizer family: the sink rides the warm trained
# state (trainer first), and the artifact encoder rides the sink's
# memoized artifact (sink first).
assert HEADLINE.index("text_bpe_train_n") < HEADLINE.index(
    "sink_bpe_merges_artifact"
)
assert HEADLINE.index("sink_bpe_merges_artifact") < HEADLINE.index(
    "text_bpe_encode_artifact"
)
# The label-memo convention extends to the round-17 snapshot consumers.
assert HEADLINE.index("dedup_cluster") < HEADLINE.index(
    "corpus_training_snapshot_mm"
)
assert HEADLINE.index("dedup_cluster") < HEADLINE.index(
    "sink_training_shards_bpe"
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("quty-bench")
    qs = se.queries()
    names = [n for n in HEADLINE if n in qs]
    # Warm the JVM + parquet footers once so per-query times reflect steady
    # state, not first-touch classloading.
    qs[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()
    times: dict[str, float] = {}
    for name in names:
        # Best of 3: first run still pays codegen/compile for this plan
        # shape, and the host shows bursty noisy-neighbor slowdowns — the
        # min is the steady-state number a warm, quiet cluster shows.
        best = float("inf")
        for _ in range(3):
            reset_memos(spark, *COLD_MEMOS.get(name, ()))
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)
    total = round(sum(times.values()), 3)
    line = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Cross-round comparability markers (r09 ADVICE): rows before
        # r09 timed dedup_cluster_stats on the COLD labeling path
        # (~8-10 s); "warm-stats" rows time it on the shared-label memo
        # (~0.3-0.5 s), so diffing `value` across the boundary shows a
        # spurious ~9 s improvement unrelated to code. n_queries moves
        # whenever HEADLINE grows — totals only compare at equal
        # convention AND count; per-query times always compare.
        "timing_convention": "warm-stats",
        "n_queries": len(times),
    }
    print(json.dumps(line))
    # Append to the per-query wall-time history so host-noise vs
    # regression is a diff against prior runs, not a judgement call
    # (tools/ab_bench.py settles ambiguous cases on one host).
    try:
        hist = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_HISTORY.jsonl")
        with open(hist, "a") as f:
            f.write(json.dumps({"ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), **line}) + "\n")
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
