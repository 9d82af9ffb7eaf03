"""Physical-plan regression tests — the 100 TB design assertions.

Correctness tests prove the engine computes the right answer at small SF;
these prove the *plan* is the one that survives a 1000-executor cluster:
filters reach the parquet scan, projections prune columns, small
dimensions broadcast instead of shuffling the fact side, partition
filters prune directories, and hot paths stay inside whole-stage codegen.
A regression here (e.g. a lost broadcast hint, a filter stuck above a
join) changes no small-SF answer but ruins the scale story — hence
plan-level tests.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as se
from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = se.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture
def ivf_artifact(spark) -> str:
    """The IVF posting-list artifact, built EXPLICITLY (r10 ADVICE /
    r11 VERDICT #6): constructing an artifact-probing DataFrame
    triggers the memoized build (a real parquet write) as a side
    effect, so a plan-only test would otherwise silently depend on
    session /tmp state and test ordering. The fixture makes the write
    a visible, declared dependency; plan_of below is then a pure read
    of the memoized path."""
    from quty_server_spark.operators.similarity import IVF_FAMILY

    return IVF_FAMILY.build(spark, SF_DIR)


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters:" in plan
    # All three predicates push into the parquet reader.
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert "GreaterThanOrEqual(l_discount,0.04)" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # The scan reads only the 4 needed columns of lineitem's 11.
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_quantity" in read and "l_extendedprice" in read
    assert "l_returnflag" not in read and "l_orderkey" not in read


def test_dimension_joins_broadcast(spark):
    # Star joins must be broadcast hash joins — no shuffle of the fact side,
    # and never a sort-merge join against a 25-row dimension.
    for name in ["q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_items"]:
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_routing_join_broadcasts_state(spark):
    # The routing core: messages shuffled by nothing, subscription state
    # broadcast (it is the small compacted side).
    plan = plan_of(spark, "route_fanout")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_in_candidate_joins(spark):
    # LSH candidate generation must join on band equality, never cross.
    for name in ["dedup_minhash_lsh", "dedup_simhash", "sim_ann_lsh"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_partition_pruning(spark):
    # Reading back the partitioned sink with a partition-column filter must
    # prune at planning time, not scan-and-filter.
    df = se.queries()["sink_partitioned_parquet"](spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in pf and "click" in pf


def test_whole_stage_codegen(spark):
    # Scalar batteries stay fully inside codegen (no Python, no interpreted
    # expressions breaking the pipeline). AQE finalizes the plan only on
    # execution, so materialize first and read the executed plan.
    for name in ["text_quality_score", "scalar_strings", "q1_pricing_summary"]:
        df = se.queries()[name](spark, SF_DIR)
        df.collect()  # finalize THIS plan (count() would build another)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        # '*(n)' prefixes mark whole-stage-codegen'd operators.
        assert "*(" in plan, name


def test_tpch_wide_joins_broadcast_dimensions(spark):
    # Q7/Q8: five- and eight-table joins where every dimension side must
    # broadcast — the only sort-merge-eligible edge is lineitem<->orders.
    for name, min_bhj in [("q7_nation_volume", 4), ("q8_market_share", 5)]:
        plan = plan_of(spark, name)
        assert plan.count("BroadcastHashJoin") >= min_bhj, name
        assert "CartesianProduct" not in plan, name


def test_sessionize_single_exchange(spark):
    # Gap-based sessionization: both window passes and the final aggregate
    # share one shuffle by user_id — a second Exchange on user_id would mean
    # the sort order was lost between the window and the group-by.
    plan = plan_of(spark, "events_sessionize_batch")
    # Exactly one Exchange node in the whole plan, and it keys on user_id
    # (formatted mode lists each node once as "(n) Exchange" with its
    # Arguments on a separate line).
    assert plan.count(") Exchange") == 1
    assert plan.count("Arguments: hashpartitioning(user_id") == 1


def test_ivf_probe_joins_on_cell(spark):
    # IVF: the probe joins posting lists on cell equality (hash join),
    # never a cross product; assignment uses the broadcast centroid set.
    plan = plan_of(spark, "sim_ann_ivf")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_anti_join_ships_keys_only(spark):
    # Q22's NOT EXISTS: the anti join's right side must project only
    # o_custkey — shipping full order rows to an anti join is pure waste.
    plan = plan_of(spark, "q22_sales_opportunity")
    read = [l for l in plan.splitlines() if "ReadSchema" in l and "o_custkey" in l]
    assert read and all("o_totalprice" not in l for l in read)


def test_bucketed_join_needs_no_exchange(spark):
    # Both sides bucketed+sorted on orderkey: join AND the per-order
    # aggregate must run without any shuffle Exchange. Broadcast is
    # disabled so the small test tables cannot cheat their way out of
    # demonstrating the bucketed sort-merge path.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "join_bucketed_colocated")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Arguments: hashpartitioning" not in plan


def test_text_mining_joins_broadcast(spark):
    # PMI and TF-IDF: the unigram/df/total side-tables are tiny aggregates
    # and must broadcast back onto the term tables — a sort-merge join
    # here would re-shuffle the full term distribution per side-table.
    for name in ["text_pmi_collocations", "text_tfidf_keywords"]:
        plan = plan_of(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_compaction_collapses_files(spark):
    # sink_compacted_parquet: the fragmented layout has many files per
    # partition directory; the compacted one exactly 1.
    import glob
    import os

    from quty_server_spark.session import session_tmp_dir

    se.queries()["sink_compacted_parquet"](spark, SF_DIR).collect()
    frag = glob.glob(os.path.join(
        session_tmp_dir(spark, "quty_formats_frag_parquet", SF_DIR),
        "event_type=click", "*.parquet",
    ))
    compact = glob.glob(os.path.join(
        session_tmp_dir(spark, "quty_formats_compact_parquet", SF_DIR),
        "event_type=click", "*.parquet",
    ))
    assert len(frag) > 1
    assert len(compact) == 1


def test_exactly_one_python_udf_surface(spark):
    # Auth is the only operator allowed a scalar Python UDF; relational and
    # LLM-pipeline hot paths must not contain any.
    for name in [
        "q1_pricing_summary",
        "dedup_minhash_lsh",
        "text_fingerprint",
        "sim_cosine_topk",
        "route_fanout",
    ]:
        plan = plan_of(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_remove_node_broadcast_semi(spark):
    # §2.A #11: the departing-node set is tiny — it must broadcast into a
    # semi join, never shuffle the node-channel map against it.
    plan = plan_of(spark, "subs_remove_node")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_event_dispatch_single_scan_codegen(spark):
    # §2.A #23: the dispatch table is one codegen'd CASE chain over a
    # single events scan with partial aggregation — no joins, no Python.
    plan = plan_of(spark, "route_event_dispatch")
    # formatted explain prints every node twice (tree + numbered details)
    assert plan.count("Scan parquet") == 2
    # exactly the two-phase count-distinct shuffles: one on
    # (branch, sender_kind, user_id), one on the final group key
    assert plan.count("+- Exchange") == 2
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pipeline_ops_stay_jvm_side(spark):
    # The training-pipeline transforms are all builtin expressions; any
    # Python eval node here puts a 10-100x slowdown in a 100 TB scan.
    for name in [
        "text_pii_scrub",
        "text_repetition_ngrams",
        "text_boilerplate_shingles",
        "doc_pack_sequences",
        "embed_label_centroids",
        "text_domain_mix",
    ]:
        plan = plan_of(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_boilerplate_set_broadcasts(spark):
    # The surviving boilerplate shingle set is tiny — it must broadcast
    # back against the per-doc shingles, not shuffle the corpus twice.
    plan = plan_of(spark, "text_boilerplate_shingles")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_packing_is_sharded(spark):
    # Packing must window per shard — a global running sum would pull the
    # whole corpus through Exchange SinglePartition.
    plan = plan_of(spark, "doc_pack_sequences")
    assert "SinglePartition" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark):
    # Runtime row-group pruning: a selective dimension filter must inject
    # a bloom filter onto the fact side of a shuffle join, so lineitem
    # rows for non-qualifying orders die at the scan instead of riding
    # the shuffle. Thresholds lowered to fixture scale.
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = se.queries()["q1_pricing_summary"].__globals__["load_table"](
            spark, SF_DIR, "lineitem"
        )
        o = se.queries()["q1_pricing_summary"].__globals__["load_table"](
            spark, SF_DIR, "orders"
        ).filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan.lower() or "BloomFilter" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_correlated_exists_decorrelates_to_joins(spark):
    # Catalyst must rewrite EXISTS/NOT EXISTS into semi/anti hash joins
    # (RewritePredicateSubquery) — a surviving correlated subquery would
    # execute per outer row.
    plan = plan_of(spark, "subquery_correlated_exists")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "InSubquery" not in plan and "exists#" not in plan.lower()


def test_hll_sketch_merge_law(spark):
    # Mergeability, independent of cardinality: unioning per-day sketches
    # must estimate exactly what a direct whole-column sketch estimates —
    # the property that makes sketches valid reaggregable state.
    for r in se.queries()["agg_sketch_mergeable"](spark, SF_DIR).collect():
        assert r.est_merged == r.est_direct, r


def test_aqe_splits_skewed_join_partitions(spark):
    # The engine's answer to hot keys (a 10^6-subscriber channel) is AQE
    # skew-join splitting — this pins that the session confs actually
    # activate it: a 90%-hot-key SMJ must execute with skew=true and an
    # AQEShuffleRead marked 'skewed'. Thresholds are lowered so the local
    # fixture-scale shuffle exhibits what a 100 TB partition would.
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 100).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("v")
        )
        j = left.join(right, "k").select(F.length("pad").alias("n"))
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead coalesced and skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_merge_upsert_rewrites_only_affected_partitions(spark):
    # Dynamic partition overwrite must leave partitions outside the delta
    # untouched: their data files keep the BASE write's mtime, strictly
    # older than the merge-written PROMO partition's files. A full-table
    # rewrite would stamp every partition with the later time.
    import glob
    import os

    from quty_server_spark.session import session_tmp_dir

    se.queries()["sink_merge_upsert"](spark, SF_DIR).collect()
    root = session_tmp_dir(spark, "quty_formats_merge_parquet", SF_DIR)

    def newest(seg):
        files = glob.glob(os.path.join(root, f"c_mktsegment={seg}", "*.parquet"))
        assert files, seg
        return max(os.path.getmtime(f) for f in files)

    # FURNITURE is outside the delta (only BUILDING/AUTOMOBILE update);
    # PROMO exists only after the merge write, BUILDING is rewritten by it.
    assert newest("FURNITURE") < newest("PROMO")
    assert newest("BUILDING") > newest("FURNITURE")


def test_envelope_no_single_partition_exchange(spark):
    # §2.A #1/#2 wire path: the seq counter partitions by channel — a
    # deliberate divergence from the reference's single module-scope
    # sendSeq counter (lib/util.js:186-196), which would funnel the
    # entire 100 TB data plane through one task via Exchange
    # SinglePartition. This pins the per-channel plan.
    for name in ["envelope_serialize", "envelope_parse"]:
        plan = plan_of(spark, name)
        assert "SinglePartition" not in plan, name


def test_no_all_pairs_joins_in_similarity(spark):
    # The round-1/2 scale-killers: dedup_embedding_cosine and
    # sim_label_cohesion must generate candidates via equality keys (LSH
    # band codes / label over a bounded sample) — a BroadcastNestedLoopJoin
    # or CartesianProduct here is the O(n^2) cross product at 100 TB.
    for name in ["dedup_embedding_cosine", "sim_label_cohesion"]:
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_ivf_assignment_is_aggregate_not_window(spark):
    # Centroid assignment must be a min_by aggregate (partial aggregation
    # collapses corpus x centroids map-side); the only Window left is the
    # final per-query top-k. A second Window means the argmin regressed to
    # shuffling the whole cross product.
    import re

    plan = plan_of(spark, "sim_ann_ivf")
    # \b keeps WindowGroupLimit (the rank-pushdown helper) out of the count.
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    # The assignment subtree is materialized as the IVF index (lazy
    # checkpoint), which hides it from the end-to-end explain — pin its
    # aggregate shape on the unmaterialized plan instead.
    from quty_server_spark.operators.similarity import (
        _corpus,
        _ivf_cells_plan,
        _ivf_centroids,
    )

    c = _corpus(spark, SF_DIR)
    df = _ivf_cells_plan(c, _ivf_centroids(c))
    assign_plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "min_by" in assign_plan
    assert not re.findall(r"\(\d+\) Window\b", assign_plan)


def test_global_topk_is_take_ordered(spark):
    # Top-k over an unbounded key space (bigram vocabulary, per-user
    # histogram) must plan as TakeOrderedAndProject — each task ships only
    # its local k — never as a rank window over a single-partition sort of
    # the full data. The residual window runs over <= k rows post-limit.
    for name in ["text_pmi_collocations", "agg_skew_profile"]:
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_mad_medians_broadcast(spark):
    # events_anomaly_mad: both per-type median frames are tiny (one row per
    # event_type) and must broadcast — the events fact side is never
    # shuffled for the deviation joins.
    plan = plan_of(spark, "events_anomaly_mad")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_dedup_single_aggregate(spark):
    # dedup_prefix is a pure aggregation pipeline: no join, no window. The
    # COUNT(DISTINCT source) expands to the standard two-phase distinct
    # aggregate — (prefix, source) then prefix — so exactly two exchanges,
    # both with map-side partials, and nothing else.
    plan = plan_of(spark, "dedup_prefix")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count(") Exchange") == 2
    assert "partial_count" in plan and "partial_min" in plan


def test_scd2_change_split_broadcasts(spark):
    # sink_scd2_history: the 1-row dmax broadcasts, and the changed/
    # unchanged split must not multiply the customer scan through a
    # cartesian.
    plan = plan_of(spark, "sink_scd2_history")
    assert "CartesianProduct" not in plan


def test_dim_variance_partial_aggregation(spark):
    # embed_dim_variance: posexplode fans out 64x, so the aggregate MUST
    # combine map-side — the exchange carries 64 partial states per task,
    # not the exploded corpus. partial_ aggregate functions before the
    # exchange prove map-side combine.
    plan = plan_of(spark, "embed_dim_variance")
    assert "partial_avg" in plan and "partial_var_pop" in plan
    assert plan.count(") Exchange") == 1


def test_banded_range_join_is_equi_join(spark):
    # join_range_banded must never fall back to a nested-loop compare:
    # the band key makes it a hash-partitionable equi-join (broadcast at
    # this SF; SMJ when both sides are facts).
    plan = plan_of(spark, "join_range_banded")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_chunking_is_narrow_no_shuffle(spark):
    # doc_chunk_overlap must be a pure scan→generate→project pipeline:
    # chunking 100 TB needs zero shuffles and zero Python workers.
    plan = plan_of(spark, "doc_chunk_overlap")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode of chunk starts
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_join_is_equi_blocked(spark):
    # Candidate generation must be an equality join on the blocking key —
    # never a cartesian/theta product over the corpus.
    plan = plan_of(spark, "dedup_fuzzy_levenshtein")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_single_corpus_shuffle(spark):
    # Raw events shuffle once to (event_type, user_id) grain with map-side
    # combine; the share window runs over the aggregate only.
    import re

    plan = plan_of(spark, "agg_heavy_hitters")
    # Exactly two Exchange nodes: the (event_type, user_id) aggregation
    # shuffle and the event_type window repartition of the aggregate.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "partial_count" in plan or "HashAggregate" in plan


def test_concurrency_sweep_no_self_join(spark):
    # The sweep-line restatement must contain NO join at all (the naive
    # interval overlap is an O(n^2) self-join).
    plan = plan_of(spark, "events_concurrency_sweep")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_asof_tolerance_single_user_sort(spark):
    # Forward as-of with tolerance: one shuffle on user_id, one window
    # pass — the shuffle-once union+window shape, not a range join.
    plan = plan_of(spark, "join_asof_tolerance")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_sink_files_are_disjoint_in_zval(spark):
    # The clustering claim itself: after range-repartition + sort on the
    # Z-value, per-output-file [min(zval), max(zval)] ranges must not
    # overlap — that disjointness is what makes footer-stats skipping
    # effective on both interleaved keys.
    import quty_server_spark.operators  # noqa: F401
    se.queries()["sink_zorder_clustered"](spark, SF_DIR)  # writes the files
    import glob
    import os

    from quty_server_spark.session import session_tmp_dir
    base = session_tmp_dir(spark, "quty_formats_zorder", SF_DIR)
    files = sorted(glob.glob(os.path.join(base, "part-*.parquet")))
    assert len(files) >= 2
    ranges = []
    for f in files:
        df = spark.read.parquet(f)
        row = df.selectExpr("min(zval) AS lo", "max(zval) AS hi").collect()[0]
        ranges.append((row.lo, row.hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping zval ranges: {(lo1, hi1)} vs {(lo2, hi2)}"


def test_pagerank_iterations_broadcast_ranks(spark):
    # Each PageRank superstep joins edges to ranks/outdeg via broadcast —
    # the edge table (the 100 TB side) must never sort-merge.
    plan = plan_of(spark, "graph_pagerank_2iter")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_market_basket_pair_expansion_is_equi_join(spark):
    plan = plan_of(spark, "orders_market_basket")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gaps_islands_no_join_single_user_shuffle(spark):
    import re

    plan = plan_of(spark, "window_gaps_islands")
    assert "Join" not in plan
    # (user, day) distinct + user window + island agg reuse one
    # user-keyed partitioning lineage: at most 2 exchanges.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_running_distinct_two_windows_no_join(spark):
    import re

    plan = plan_of(spark, "window_running_distinct")
    assert "Join" not in plan
    # first-occurrence flag window + running-sum window: at most two
    # exchanges ((user, type) then user), never a distinct-state scan.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_corr_moments_partially_aggregate(spark):
    # The five decimal moments must flow through partial (map-side)
    # aggregation — a single-pass groupBy, no second scan per moment.
    import re

    plan = plan_of(spark, "agg_corr_regression")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "partial_sum" in plan


def test_lateral_subquery_decorrelates_to_window(spark):
    # The LATERAL per-nation LIMIT must lower to a partitioned
    # row_number + broadcast join — correlation-as-iteration (a
    # nested-loop re-scan of customer per nation row) must not appear.
    plan = plan_of(spark, "subquery_lateral_topk")
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_transition_matrix_window_over_aggregate_only(spark):
    import re

    plan = plan_of(spark, "events_transition_matrix")
    # one user-sort shuffle + one pair-agg shuffle + one window exchange
    # over the |types|^2 matrix at most — never a corpus-sized window.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3
    assert "Join" not in plan


def test_dpp_injects_dynamic_pruning_subquery(spark):
    # The partitioned fact scan must carry a dynamicpruningexpression
    # fed by the dim side — the runtime partition-skipping mechanism —
    # alongside whatever static pruning constraint propagation infers.
    plan = plan_of(spark, "join_dpp_partition_pruned")
    assert "dynamicpruningexpression" in plan
    assert "PartitionFilters" in plan


def test_ignore_nulls_runs_in_window_not_self_join(spark):
    plan = plan_of(spark, "window_ignore_nulls")
    assert "Join" not in plan
    assert "Window" in plan


def test_pagerank_shuffle_fallback_above_broadcast_gate(spark, monkeypatch):
    # Above BROADCAST_NODES_MAX the rank/contrib/outdeg broadcasts must
    # NOT be forced: a billion-node rank table cannot build a broadcast
    # relation without OOMing the driver. With the gate tripped the
    # superstep joins fall back to shuffle (sort-merge) joins.
    from quty_server_spark.operators import graph

    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)
    plan = plan_of(spark, "graph_pagerank_2iter")
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_route_fanout_salts_above_broadcast_gate(spark, monkeypatch):
    # route_fanout must be self-contained at scale: past
    # BROADCAST_SUBS_MAX the forced state broadcast is replaced by the
    # salted (channel, salt) shuffle shape — same shape as the
    # independently-pinned route_fanout_salted twin.
    from quty_server_spark.operators import pubsub

    monkeypatch.setattr(pubsub, "BROADCAST_SUBS_MAX", 0)
    plan = plan_of(spark, "route_fanout")
    assert "salt" in plan
    assert "CartesianProduct" not in plan


def test_bpe_pair_counts_takeordered_no_cross(spark):
    plan = plan_of(spark, "text_bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan  # top-50 never global-sorts
    assert "CartesianProduct" not in plan


def test_profile_is_single_pass_over_orders(spark):
    plan = plan_of(spark, "profile_column_stats")
    import re

    # One scan of orders feeding an Expand-based multi-distinct — the
    # whole 6x4 profile in one aggregation pipeline, not 6 passes.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan


def test_butterfly_census_equi_join_only(spark):
    plan = plan_of(spark, "graph_bipartite_butterflies")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lexicon_sentiment_zero_exchange_narrow_plan(spark):
    import re

    plan = plan_of(spark, "text_lexicon_sentiment")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert "Join" not in plan


def test_stratified_hash_sampler_zero_exchange(spark):
    import re

    plan = plan_of(spark, "sample_stratified_hash")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_top_paths_takeordered_bounded_agg(spark):
    plan = plan_of(spark, "events_top_paths")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_normalized_dedup_single_digest_shuffle(spark):
    import re

    plan = plan_of(spark, "dedup_exact_normalized")
    # union -> md5(normalized) grouping: exactly one exchange, keyed on
    # the digest (documents never shuffle whole).
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_bloom_runtime_filter_prunes_fact_scan(spark):
    # The fact (lineitem) side must carry a might_contain bloom filter
    # fed by the urgent-orders subquery BEFORE the shuffle join, and the
    # builder must leave the session confs untouched afterwards.
    before = {k: spark.conf.get(k, None) for k in [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
    ]}
    df = se.queries()["join_bloom_runtime_filtered"](spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    after = {k: spark.conf.get(k, None) for k in before}
    assert "might_contain" in plan
    assert "CartesianProduct" not in plan
    assert before == after, "builder leaked planning confs into the session"
    # The shape must survive RE-planning (writer/cache path): a derived
    # Dataset plans fresh in the query's own conf-scoped child session,
    # so the bloom filter reappears — the pre-round-7 memoization caveat
    # is structurally closed, not just documented.
    replanned = df.select("*")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "might_contain" in replanned, (
        "bloom shape lost on re-planning — child-session conf scope broken"
    )


def test_decontamination_broadcasts_benchmark_set(spark):
    # Set-membership shape: the benchmark shingle union broadcasts; the
    # training corpus is never shuffled against it pair-wise.
    plan = plan_of(spark, "dedup_decontaminate_ngram")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rolling_median_single_user_shuffle(spark):
    import re

    plan = plan_of(spark, "window_rolling_median")
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_quality_gate_zero_exchange(spark):
    import re

    plan = plan_of(spark, "doc_quality_gate")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert "Join" not in plan


def test_dau_wau_no_nested_loop_window_restatement(spark):
    plan = plan_of(spark, "events_dau_wau")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bot_regularity_single_user_shuffle(spark):
    import re

    plan = plan_of(spark, "events_bot_regularity")
    # lag window + moment aggregate share one user_id partitioning.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_butterfly_degree_cap_reuses_join_exchange(spark):
    # The WEDGE_DEGREE_CAP window partitions by the SAME src key the
    # wedge self-join shuffles on, so the cap must add no exchange: per
    # join side exactly two shuffles (edge distinct + window/join
    # repartition) plus the pair groupBy and final agg = 6 total. A 7th+
    # exchange means the window partitioning stopped being reused.
    import re

    plan = plan_of(spark, "graph_bipartite_butterflies")
    assert "Window" in plan  # the cap device is on the plan
    assert "CartesianProduct" not in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges <= 6, f"extra shuffle appeared: {n_exchanges} exchanges"


def test_levenshtein_block_cap_adds_no_exchange(spark):
    # Same device: block-size window partitioned on block_key, the join
    # key. One non-broadcast exchange per side (the window repartition),
    # nothing else — the blocked join stays equi-shaped (pinned above in
    # test_fuzzy_join_is_equi_blocked).
    import re

    plan = plan_of(spark, "dedup_fuzzy_levenshtein")
    assert "Window" in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges <= 2, f"extra shuffle appeared: {n_exchanges} exchanges"


def test_python_datasource_pushes_range_filters(spark):
    # The Spark 4 Python data source must receive the doc_id range via
    # pushFilters (pruning whole InputPartitions); a plan without
    # PushedFilters means the reader generates all rows and Spark
    # re-filters — the Python-source analog of losing parquet pushdown.
    plan = plan_of(spark, "source_python_datasource")
    assert "BatchScan quty_synth" in plan
    assert "GreaterThanOrEqual(doc_id,100)" in plan
    assert "LessThan(doc_id,1600)" in plan


def test_python_datasource_reader_narrows_partitions():
    # Reader-level unit check: consumed range filters narrow the id
    # span BEFORE partitioning, unsupported filters are yielded back.
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from quty_server_spark.sources.synth_source import SynthCorpusReader

    r = SynthCorpusReader({"n_docs": "2000", "n_shards": "8"})
    leftover = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("doc_id",), 500),
                LessThan(("doc_id",), 900),
                EqualTo(("shard",), 3),  # not doc_id -> stays with Spark
            ]
        )
    )
    assert [type(f).__name__ for f in leftover] == ["EqualTo"]
    parts = r.partitions()
    assert parts[0].start == 500 and parts[-1].end == 900
    spans = [(p.start, p.end) for p in parts]
    # contiguous, non-overlapping, exactly covering [500, 900)
    assert spans[0][0] == 500 and spans[-1][1] == 900
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert b == c
    # empty range after contradictory filters -> zero rows, no crash.
    # partitions() must NOT be [] — PySpark turns an empty partition
    # list into [None] and calls read(None) (r07 ADVICE, verified
    # end-to-end below).
    r2 = SynthCorpusReader({"n_docs": "2000"})
    list(r2.pushFilters([LessThan(("doc_id",), 10), GreaterThanOrEqual(("doc_id",), 50)]))
    parts2 = r2.partitions()
    assert parts2, "empty partition list would make Spark call read(None)"
    assert sum(p.end - p.start for p in parts2) == 0
    assert list(r2.read(parts2[0])) == []


def test_python_datasource_empty_pushdown_returns_zero_rows(spark):
    # End-to-end form of the r07 ADVICE crash: a pushed predicate that
    # empties the id range must yield an empty DataFrame, not
    # AttributeError on read(None).
    from quty_server_spark.sources.synth_source import register_synth_source

    register_synth_source(spark)
    df = (
        spark.read.format("quty_synth")
        .option("n_docs", 2000)
        .load()
        .filter("doc_id < 0")
    )
    assert df.count() == 0


def test_python_datasource_shard_follows_n_shards(spark):
    # The shard column must honor the n_shards option (it was hardcoded
    # % 8 — r07 ADVICE); registered queries keep the default 8, so the
    # oracle arithmetic is untouched.
    from quty_server_spark.sources.synth_source import (
        SynthCorpusStreamReader,
        register_synth_source,
    )

    register_synth_source(spark)
    df = (
        spark.read.format("quty_synth")
        .option("n_docs", 64)
        .option("n_shards", 5)
        .load()
    )
    bad = df.filter("shard != doc_id % 5").count()
    assert bad == 0
    sr = SynthCorpusStreamReader({"n_docs": "20", "batch_docs": "20", "n_shards": "3"})
    rows, _ = sr.read(sr.initialOffset())
    assert all(shard == i % 3 for i, shard, _ in rows)


def test_incremental_gate_artifact_lake_branch_scans_not_aggregates(spark):
    # r09 VERDICT "Next round" #2: the nightly ingest gate's lake side
    # must read the precomputed banded-signature artifact, not re-sign
    # the lake. In the FINAL (post-AQE-planning) tree that means exactly
    # two parquet leaves — the shard's documents scan and the artifact —
    # and strictly fewer aggregates than the recomputing gate (the lake
    # signature aggregation left the nightly path entirely).
    import re

    plan = plan_of(spark, "dedup_incremental_simhash_artifact")
    tree = plan.split("\n\n")[0]
    assert "quty_lake_sig" in plan  # the artifact is what the plan reads
    assert tree.count("Scan parquet") == 2
    # Detail blocks belonging to final-tree nodes: documents is scanned
    # exactly once (the shard branch); the other leaf is the artifact.
    ids = set(re.findall(r"\((\d+)\)", tree))
    doc_scans = art_scans = 0
    for node_id, block in re.findall(
        r"\((\d+)\) Scan parquet ?\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        if node_id not in ids:
            continue  # AQE initial-plan duplicate, not the final plan
        if "documents" in block:
            doc_scans += 1
        if "quty_lake_sig" in block:
            art_scans += 1
    assert doc_scans == 1 and art_scans == 1
    # No Aggregate on the lake branch: the only aggregations left are the
    # shard signing + the final distinct — strictly fewer than the
    # recomputing gate's tree, which signs both sides.
    plain = plan_of(spark, "dedup_incremental_simhash").split("\n\n")[0]
    assert tree.count("HashAggregate") < plain.count("HashAggregate")
    # The shard side (small by construction) broadcasts into the join.
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_minhash_gate_artifact_lake_branch_scans_not_aggregates(spark):
    # r10 VERDICT "Next round" #1: the MinHash-family nightly gate's
    # lake side must read the precomputed band-table artifact (bands +
    # embedded n_sh sizes), not re-run the 16-way signature min or the
    # size count over the lake. Final-tree contract: exactly two
    # parquet leaves — the artifact and the lake documents scan feeding
    # the candidate-restricted verify's aggregation-free scan+explode
    # (the shard's shingles are a checkpointed RDD leaf) — and strictly
    # fewer aggregates than the recomputing gate.
    import re

    plan = plan_of(spark, "dedup_incremental_minhash_artifact")
    tree = plan.split("\n\n")[0]
    assert "quty_lake_minhash" in plan  # the artifact is what the plan reads
    assert tree.count("Scan parquet") == 2
    ids = set(re.findall(r"\((\d+)\)", tree))
    doc_scans = art_scans = 0
    for node_id, block in re.findall(
        r"\((\d+)\) Scan parquet ?\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        if node_id not in ids:
            continue  # AQE initial-plan duplicate, not the final plan
        if "documents" in block:
            doc_scans += 1
        if "quty_lake_minhash" in block:
            art_scans += 1
    assert doc_scans == 1 and art_scans == 1
    # Strictly fewer aggregates than the recomputing gate: the lake's
    # signature min AND its size count both left the nightly path.
    plain = plan_of(spark, "dedup_incremental_minhash").split("\n\n")[0]
    assert tree.count("HashAggregate") < plain.count("HashAggregate")
    # The shard side (small by construction) broadcasts into the join.
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_ivf_artifact_probe_prunes_partitions_no_assignment(spark, ivf_artifact):
    # The IVF probe's production shape: the index build (corpus x
    # centroids assignment) must NOT appear in the per-probe plan — both
    # the query sample and the posting lists come from the precomputed
    # artifact (built by the declared `ivf_artifact` fixture), and the
    # posting scan is pruned to the probed cells at runtime via dynamic
    # partition pruning on the cell partition column.
    plan = plan_of(spark, "sim_ann_ivf_artifact")
    tree = plan.split("\n\n")[0]
    assert "quty_ivf_postings" in plan  # reads the artifact...
    assert "embeddings" not in plan  # ...never the raw corpus
    # No aggregates anywhere: the nearest-centroid assignment left the
    # probe path entirely (it lives in the artifact build).
    assert tree.count("HashAggregate") == 0
    assert tree.count("ObjectHashAggregate") == 0
    # The broadcast query side drives DPP on the cell-partitioned scan.
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in tree


def test_embedding_gate_probes_artifact_not_lake(spark, ivf_artifact):
    # The embedding-family nightly gate (round 11, completing the
    # write-once/probe-nightly triad): the lake's postings AND the
    # centroids come off the cell-partitioned artifact (built by the
    # declared `ivf_artifact` fixture); the embeddings table is scanned
    # exactly once — the incoming shard. The shard's assigned cells
    # drive dynamic partition pruning on the posting scan, and the
    # probe itself is a cell hash join (the only
    # BroadcastNestedLoopJoin is the bounded shard x centroid
    # assignment, allowlisted in test_plan_audit).
    import re

    plan = plan_of(spark, "dedup_incremental_embedding_artifact")
    tree = plan.split("\n\n")[0]
    assert "quty_ivf_postings" in plan
    ids = set(re.findall(r"\((\d+)\)", tree))
    emb_scans = art_scans = 0
    for node_id, block in re.findall(
        r"\((\d+)\) Scan parquet ?\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        if node_id not in ids:
            continue
        if "embeddings" in block:
            emb_scans += 1
        if "quty_ivf_postings" in block:
            art_scans += 1
    assert emb_scans == 1  # the shard only — the lake is never re-read
    assert art_scans == 2  # postings (lake) + the centroid rows
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in tree  # the cell probe join
    assert "CartesianProduct" not in tree


def test_signature_append_job_scans_only_the_batch(spark):
    # r11 VERDICT "Next round" #1: the artifact APPEND job must never
    # re-read the lake or the artifact — its entire read set is the
    # admitted batch. The batch predicate is on the signature
    # aggregation's grouping key, so it sits below the aggregate on the
    # single documents scan.
    from quty_server_spark.operators.dedup import SIG_FAMILY

    df = SIG_FAMILY.rows(spark, SF_DIR, SIG_FAMILY.admitted())
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "documents" in plan
    assert "quty_lake_sig" not in plan  # the artifact is write-only here
    assert "% 10) = 5" in plan  # the batch filter reaches the plan
    assert "CartesianProduct" not in tree


def test_minhash_append_job_scans_only_the_batch(spark):
    # MinHash twin: the append computes bands + the embedded n_sh sizes
    # from the batch's documents alone (two filtered scans — the sizes
    # branch and the bands branch; deliberately unheckpointed so the
    # filters stay visible). Never the artifact, never the lake.
    from quty_server_spark.operators.dedup import MINHASH_FAMILY

    df = MINHASH_FAMILY.rows(spark, SF_DIR, MINHASH_FAMILY.admitted())
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") <= 2
    assert "documents" in plan
    assert "quty_lake_minhash" not in plan
    assert "% 10) = 5" in plan
    assert "CartesianProduct" not in tree


def test_ivf_append_assigns_against_sidecar_not_postings(spark):
    # The IVF append assigns the batch against the K-row centroid
    # SIDECAR — its read set is the batch's embeddings plus _centroids;
    # the corpus-sized posting files are never scanned.
    import re

    from quty_server_spark.operators.similarity import (
        IVF_FAMILY,
        _ivf_cells_plan,
    )
    import os as _os

    root = IVF_FAMILY.appended(spark, SF_DIR)
    sidecar = spark.read.parquet(_os.path.join(root, "_centroids"))
    batch = IVF_FAMILY.rows(spark, SF_DIR, IVF_FAMILY.admitted())
    df = _ivf_cells_plan(batch, sidecar)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2
    ids = set(re.findall(r"\((\d+)\)", tree))
    emb = cent = postings = 0
    for node_id, block in re.findall(
        r"\((\d+)\) Scan parquet ?\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        if node_id not in ids:
            continue
        if "embeddings" in block:
            emb += 1
        if "_centroids" in block:
            cent += 1
        elif "quty_ivf_postings" in block:
            postings += 1
    assert emb == 1 and cent == 1
    assert postings == 0, "append job scanned the posting files"
    assert "% 10) = 5" in plan  # batch filter on the embeddings scan


def test_ivf_recluster_reads_artifact_not_lake(spark):
    # The re-cluster verb runs off the index it repairs: its retrain +
    # reassignment plan scans the standing appended artifact only — the
    # embeddings table is never touched (the lake may have moved on; a
    # re-cluster is an index-side operation by contract).
    from quty_server_spark.operators.similarity import (
        _ivf_cells_plan,
        _ivf_centroids,
        IVF_FAMILY,
    )

    standing = spark.read.parquet(IVF_FAMILY.appended(spark, SF_DIR)).select(
        "vec_id", "v"
    )
    df = _ivf_cells_plan(standing, _ivf_centroids(standing))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "quty_ivf_postings_app" in plan
    assert "embeddings" not in plan


def test_incremental_cluster_pairs_read_artifacts_not_lake(spark):
    # The nightly cluster-assignment op's pair build must read BOTH
    # standing artifacts (banded lake signatures + lake cluster labels)
    # and touch the documents table only through the shard signing —
    # no lake-sized mining or labeling in the per-run plan. The BSP
    # output itself is a checkpointed RDD leaf, so the pin targets the
    # factored pair-builder with the shard checkpoint disabled.
    import re

    from quty_server_spark.operators.dedup import (
        _incremental_cluster_pairs,
        lake_cluster_labels_artifact,
        SIG_FAMILY,
    )

    SIG_FAMILY.build(spark, SF_DIR)  # declared builds
    lake_cluster_labels_artifact(spark, SF_DIR)
    df = _incremental_cluster_pairs(spark, SF_DIR, materialize_shard=False)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    assert "quty_lake_sig" in plan
    assert "quty_lake_clabels" in plan
    assert "CartesianProduct" not in tree
    # Every documents scan is a shard branch: the batch predicate
    # appears, and no unfiltered documents scan exists (the signing
    # aggregates run over shard rows only).
    assert "% 10) = 0" in plan
    ids = set(re.findall(r"\((\d+)\)", tree))
    doc_scans = 0
    for node_id, block in re.findall(
        r"\((\d+)\) Scan parquet ?\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        if node_id in ids and "documents" in block:
            doc_scans += 1
    # gate branch + the self-join's two sides (the query path
    # collapses these to one signing via the shard checkpoint).
    assert 1 <= doc_scans <= 3


def test_repeated_passages_single_digest_shuffle_no_join(spark):
    # Substring-level dedup is aggregate-only by design: scan ->
    # narrow window explode -> ONE shuffle keyed on the 16-byte digest
    # (count-distinct runs as a two-phase Expand aggregation over the
    # same key). Any Join here would be the quadratic pair-expansion
    # trap the op deliberately avoids.
    plan = plan_of(spark, "dedup_repeated_passages")
    assert "Join" not in plan
    assert "Generate" in plan  # the window explode is narrow


def test_artifact_files_sorted_by_probe_key(spark):
    # The artifacts' scale story includes row-group statistics pruning,
    # which only works if each written file is sorted by the probe key
    # (the layout's sort key). Pin the layout for every standing
    # artifact, its append twin, and the in-place rewrites (label
    # maintenance, label and artifact retraction): every parquet data
    # file in every partition directory holds a non-decreasing key.
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    from quty_server_spark.operators import dedup as D
    from quty_server_spark.operators import multimodal as M
    from quty_server_spark.operators import pipeline as P
    from quty_server_spark.operators import retract as R
    from quty_server_spark.operators import similarity as S

    retracted = R.retracted_artifact_paths(spark, SF_DIR)
    cases = [
        (D.SIG_FAMILY.build(spark, SF_DIR), D.SIG),
        (D.SIG_FAMILY.appended(spark, SF_DIR), D.SIG),
        (D.MINHASH_FAMILY.build(spark, SF_DIR), D.MINHASH),
        (D.MINHASH_FAMILY.appended(spark, SF_DIR), D.MINHASH),
        (D.PASSAGE_FAMILY.build(spark, SF_DIR), D.PASSAGE),
        (D.PASSAGE_FAMILY.appended(spark, SF_DIR), D.PASSAGE),
        (S.IVF_FAMILY.build(spark, SF_DIR), S.IVF),
        (S.IVF_FAMILY.appended(spark, SF_DIR), S.IVF),
        (M.MEDIA_SIG_FAMILY.build(spark, SF_DIR), D.SIG),
        (M.MEDIA_SIG_FAMILY.appended(spark, SF_DIR), D.SIG),
        (D.maintained_cluster_labels_artifact(spark, SF_DIR), D.LABELS),
        (R.retracted_cluster_labels_artifact(spark, SF_DIR), D.LABELS),
        (P.appended_training_shards(spark, SF_DIR), P.TRAIN_SHARDS),
    ] + [
        (retracted[fam], f.family.layout)
        for fam, f in R.ARTIFACT_FAMILIES.items()
    ]
    for root, layout in cases:
        key = layout.sort_key
        part_dirs = sorted(_glob.glob(_os.path.join(root, f"{layout.part}=*")))
        assert part_dirs, f"no partition dirs under {root}"
        checked = 0
        for d in part_dirs:
            for f in sorted(_glob.glob(_os.path.join(d, "*.parquet"))):
                vals = _pq.read_table(f, columns=[key])[key].to_pylist()
                if len(vals) > 1:
                    assert all(
                        a <= b for a, b in zip(vals, vals[1:])
                    ), f"{f} not sorted by {key}"
                    checked += 1
        assert checked >= 1, f"no multi-row file under {root}"


def test_snapshot_label_broadcast_gated(spark, monkeypatch):
    # corpus_training_snapshot joins the near-dup cluster-label table —
    # unbounded at corpus scale (potentially billions of rows at 100 TB).
    # Past BROADCAST_NODES_MAX the forced broadcast must be dropped so
    # the join degrades to a shuffle instead of OOMing the executors
    # (r12 VERDICT #1). Same gate every dedup.py consumer of
    # simhash_component_labels already carries.
    from quty_server_spark.operators import dedup

    monkeypatch.setattr(dedup, "BROADCAST_NODES_MAX", 0)
    plan = plan_of(spark, "corpus_training_snapshot")
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_quality_gate_is_scan_side(spark):
    # The quality predicate is applied inline on the projection that
    # feeds the output (r12 ADVICE #3) — no documents self-join. The
    # documents table appears as exactly ONE parquet scan: the output
    # projection (the corpus-wide passage windows sit behind a
    # localCheckpoint, so they surface as an RDD scan, not a second
    # parquet read). Before the fix the quality self-join added a
    # second parquet scan plus a shuffle join.
    plan = plan_of(spark, "corpus_training_snapshot")
    assert plan.count("documents.parquet") == 1, plan.count(
        "documents.parquet"
    )


def test_label_maintenance_read_prunes_to_queued_buckets(spark, tmp_path):
    # The relabel APPLY's artifact read must carry a dynamic-pruning
    # expression on the home-bucket partition column: at 100 TB the
    # label artifact is lake-sized, and the nightly rewrite may only
    # read the |queued clusters| directories, never the lake.
    from pyspark.sql import functions as F

    from quty_server_spark.operators import dedup

    rows = [(i, i % 7) for i in range(1, 200)]
    art = spark.createDataFrame(rows, "node long, lbl long")
    path = str(tmp_path / "labels")
    (
        art.withColumn(
            "lbl_bucket",
            F.pmod(F.col("lbl"), F.lit(dedup.LABEL_HOME_BUCKETS)).cast("int"),
        )
        .write.partitionBy("lbl_bucket")
        .parquet(path)
    )
    # The affected-bucket set exactly as the apply derives it: the
    # _label_homes sidecar semi-joined to the (checkpointed) queue,
    # with the vacuous-but-selective filter that lets Spark insert the
    # DPP subquery (the checkpointed queue leaf carries no Filter of
    # its own).
    homes = spark.createDataFrame(
        [(3, 3 % dedup.LABEL_HOME_BUCKETS), (5, 5 % dedup.LABEL_HOME_BUCKETS)],
        "lbl long, lbl_bucket int",
    )
    queue = spark.createDataFrame(
        [(3, 1)], "old_lbl long, new_lbl long"
    ).localCheckpoint()
    affected = (
        homes.join(
            F.broadcast(queue.select("old_lbl")),
            homes.lbl == F.col("old_lbl"),
            "leftsemi",
        )
        .select("lbl_bucket")
        .distinct()
        .filter(F.col("lbl_bucket") >= 0)
    )
    df = dedup._maintenance_touched_rows(spark, path, affected)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruningexpression" in plan
    assert "PartitionFilters" in plan


def test_staged_corpus_adds_no_plan_weight(spark):
    # The bridge-staged queue must keep the raw queue's plan shape:
    # both standing artifacts read, documents scans carry the shard
    # predicate, no cartesian product — the staging is one 5-row local
    # relation unioned under the scan, nothing more.
    from quty_server_spark.operators.dedup import (
        _incremental_cluster_pairs,
        lake_cluster_labels_artifact,
        SIG_STAGED_FAMILY,
    )

    SIG_STAGED_FAMILY.build(spark, SF_DIR)  # declared builds
    lake_cluster_labels_artifact(spark, SF_DIR, staged=True)
    df = _incremental_cluster_pairs(
        spark, SF_DIR, materialize_shard=False, staged=True
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    assert "quty_lake_sig_stg" in plan
    assert "quty_lake_clabels_stg" in plan
    assert "CartesianProduct" not in tree
    assert "% 10) = 0" in plan


def test_passage_gate_windows_shard_only_no_lake_aggregation(spark):
    # The nightly passage gate: every documents scan carries the shard
    # predicate (the lake is never re-windowed), the artifact feeds a
    # LEFT SEMI join with no aggregate between its scan and the join
    # (lake multiplicity absorbed by the semi join, not a DISTINCT),
    # and the only HashAggregates are the shard-keyed rollups.
    import re

    from quty_server_spark.operators.dedup import (
        dedup_incremental_passages,
        PASSAGE_FAMILY,
    )

    PASSAGE_FAMILY.build(spark, SF_DIR)  # declared build
    df = dedup_incremental_passages(spark, SF_DIR, materialize_shard=False)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    assert "quty_lake_passages" in plan
    assert "LeftSemi" in tree
    assert "% 10) = 0" in plan
    # No unfiltered documents scan: every documents block carries the
    # shard predicate in PushedFilters or the adjacent Filter node.
    ids = set(re.findall(r"\((\d+)\)", tree))
    for node_id, block in re.findall(
        r"\((\d+)\) Scan parquet ?\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        if node_id in ids and "quty_lake_passages" in block:
            # the artifact scan reads only the probe columns
            read = next(
                l for l in block.splitlines() if "ReadSchema" in l
            )
            assert "passage_md5" in read
            assert "doc_id" not in read, "probe ships lake doc_ids"
    # Aggregates: totals + hits rollups (+ AQE may show partial/final
    # pairs) — all keyed on doc_id, none on the artifact subtree.
    for m in re.finditer(r"\(\d+\) HashAggregate ?\n((?:(?!\(\d+\) ).*\n?)*)", plan):
        assert "doc_id" in m.group(1)


def test_passage_append_job_scans_only_the_batch(spark):
    # The passage append: its entire read set is the admitted batch —
    # the batch predicate pushes onto the documents scan; the lake and
    # the existing artifact files are never read.
    from pyspark.sql import functions as F

    from quty_server_spark.operators.dedup import (
        _passage_pfx,
        _passage_windows,
    )
    from quty_server_spark.operators._helpers import (
        APPEND_BATCH_MOD,
        load_table,
    )

    batch = _passage_windows(
        load_table(spark, SF_DIR, "documents").filter(
            F.col("doc_id") % 10 == APPEND_BATCH_MOD
        )
    ).select("doc_id", "passage_md5", _passage_pfx())
    plan = batch._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert f"% 10) = {APPEND_BATCH_MOD}" in plan
    assert "quty_lake_passages" not in plan


def test_incremental_snapshot_zero_lake_compute(spark):
    # THE nightly product: every documents scan carries the shard
    # predicate (the lake appears only through the passage artifact and
    # the memoized contracted-BSP labels), the passage probe is a left
    # semi join, and no cartesian sneaks in. The BSP labels and the
    # windowed shard sit behind checkpoint leaves, so the pin targets
    # the visible plan: shard-filtered scans + artifact scan only.
    import re

    from quty_server_spark.operators.dedup import PASSAGE_FAMILY

    PASSAGE_FAMILY.build(spark, SF_DIR)  # declared build
    plan = plan_of(spark, "corpus_training_snapshot_incremental")
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "LeftSemi" in tree
    assert "quty_lake_passages" in plan
    ids = set(re.findall(r"\((\d+)\)", tree))
    for node_id, block in re.findall(
        r"\((\d+)\) Scan parquet ?\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        if node_id in ids and "documents" in block:
            # every documents scan is shard-filtered (pushed predicate)
            assert "% 10) = 0" in plan


def test_retract_read_prunes_to_affected_partitions(spark, tmp_path):
    # The retraction's artifact read must carry a dynamic-pruning
    # expression on the partition column: at 100 TB the passage / IVF
    # artifacts are lake-sized and a takedown may only read the
    # directories its victims' windows / cells name, never the lake.
    from pyspark.sql import functions as F

    from quty_server_spark.operators import retract

    rows = [(i, format(i % 16, "x")) for i in range(1, 300)]
    path = str(tmp_path / "pw")
    spark.createDataFrame(rows, "doc_id long, pfx string").write.partitionBy(
        "pfx"
    ).parquet(path)
    affected = (
        spark.createDataFrame([("a",), ("3",)], "pfx string")
        .distinct()
        .filter(F.col("pfx") >= "0")
    )
    df = retract._retract_touched_rows(spark, path, "pfx", affected)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruningexpression" in plan
    assert "PartitionFilters" in plan


# --- round-14 late additions -----------------------------------------------


def test_split_leakage_join_is_hash_equality_not_cartesian(spark):
    # The cross-split self-join must be an equality join on the content
    # digest (hash-partitionable at 100 TB), never a nested-loop pair
    # enumeration; the split inequality rides as a post-join filter.
    plan = plan_of(spark, "split_leakage_report")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_token_budget_reads_two_columns_only(spark):
    # The cumsum needs (lang, text->n_tokens, doc_id): the scan must
    # prune to the columns the window consumes — a full-width documents
    # scan at 100 TB would read the corpus to count tokens.
    plan = plan_of(spark, "sample_token_budget")
    assert "ReadSchema" in plan
    sch = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in sch and "lang" in sch and "doc_id" in sch
    assert "source" not in sch and "n_chars" not in sch


def test_centroid_drift_broadcasts_bounded_centroids(spark):
    # The assignment join's build side is the quantizer output — bounded
    # at IVF_K_MAX rows by construction — and must broadcast. The
    # materialized _ivf_cells checkpoint hides that subtree from the
    # registered query's explain (same caveat as every IVF pin), so the
    # broadcast is asserted on the unmaterialized assignment plan; the
    # registered plan is then pinned cartesian-free with partial
    # (map-side) aggregation before the (cell, side, dim) shuffle.
    from quty_server_spark.operators.similarity import (
        _corpus,
        _ivf_cells_plan,
        _ivf_centroids,
    )

    c = _corpus(spark, SF_DIR)
    assign = _ivf_cells_plan(c, _ivf_centroids(c))
    ap = assign._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastExchange" in ap
    plan = plan_of(spark, "embed_centroid_drift")
    assert "CartesianProduct" not in plan
    assert "partial_avg" in plan or "partial" in plan.lower()


def test_training_shards_audit_groups_on_partition_column(spark):
    # The read-back audit aggregates by the artifact's own partition
    # column, so the written layout (partitioned by shard) serves the
    # audit without a wide scan of the data columns.
    plan = plan_of(spark, "sink_training_shards")
    assert "PartitionFilters" in plan or "shard" in plan
    assert "CartesianProduct" not in plan
