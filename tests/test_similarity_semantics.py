"""Recall/exactness gates for the banded similarity canonical forms.

The registered queries (dedup_embedding_cosine, sim_ann_lsh, sim_ann_ivf,
sim_label_cohesion) are deliberately NOT all-pairs — they restrict
candidate generation to LSH bands / IVF cells / bounded samples so the
plans survive a 100 TB corpus. That makes them approximations of the
exact operators, so this file is the honesty gate: it measures each one
against the unregistered all-pairs ground truth (all_pairs_cosine) and
pins the measured recall as a floor.

Fixture context (why the floors are where they are): embeddings are 500
vectors at every SF; the duplicate band is cosine 0.35..0.48 — barely
above the random-pair angle, which is the adversarial regime for
sign-LSH (per-plane agreement 0.61 vs 0.50 random), so banding here
trades ~12% recall for ~32% candidate pruning. At realistic near-dup
thresholds (>= 0.8: per-plane 0.80 vs 0.50) the identical 4x2 band
structure prunes >90% of random pairs at ~1 recall — the structure, not
the fixture numbers, is the scale story.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quty_server_spark.functions.vectors import cosine
from quty_server_spark.operators import similarity as S
from quty_server_spark.plans.registry import registry
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def exact_dup_pairs(spark):
    """All-pairs ground truth: every (a < b) pair at/above the threshold."""
    ap = S.all_pairs_cosine(spark, SF_DIR).filter(
        F.col("cos_sim") >= S.DEDUP_COS_THRESHOLD
    )
    return {(r.vec_a, r.vec_b) for r in ap.collect()}


@pytest.fixture(scope="module")
def banded_dup_pairs(spark):
    """The pairs the banded canonical form can see (>=1 shared band)."""
    banded = S.banded_corpus(S._corpus(spark, SF_DIR))
    a = banded.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"), "band", "code"
    )
    b = banded.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("band").alias("band_b"),
        F.col("code").alias("code_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("code") == F.col("code_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("a_id", "b_id", "va", "vb")
        .distinct()
    )
    n_cand = cand.count()
    dup = {
        (r.a_id, r.b_id)
        for r in cand.filter(
            cosine(F.col("va"), F.col("vb")) >= S.DEDUP_COS_THRESHOLD
        ).collect()
    }
    return n_cand, dup


def test_banded_candidates_prune_and_recall(spark, exact_dup_pairs, banded_dup_pairs):
    # Banding must (a) strictly shrink the candidate space and (b) keep
    # most true duplicate pairs. Measured at the fixture: 85159/124750
    # candidates (0.68), 225/257 dup pairs (0.875) — floors set just below.
    n = S._corpus(spark, SF_DIR).count()
    all_pairs = n * (n - 1) // 2
    n_cand, banded_dup = banded_dup_pairs
    assert n_cand < 0.75 * all_pairs
    assert banded_dup <= exact_dup_pairs  # banding can only LOSE pairs
    recall = len(banded_dup) / len(exact_dup_pairs)
    assert recall >= 0.85, f"pair recall degraded: {recall:.3f}"


def test_banded_drop_set_recall(spark, exact_dup_pairs, banded_dup_pairs):
    # The registered query's DROPPED set (distinct higher-id of a dup pair)
    # must be a subset of the exact drop set with >= 0.85 recall — i.e. the
    # banded dedup never drops a non-duplicate and misses few.
    _, banded_dup = banded_dup_pairs
    exact_dropped = {b for _, b in exact_dup_pairs}
    banded_dropped = {b for _, b in banded_dup}
    assert banded_dropped <= exact_dropped
    recall = len(banded_dropped) / len(exact_dropped)
    assert recall >= 0.85, f"drop recall degraded: {recall:.3f}"
    # And the registered query's survivors are exactly corpus - dropped.
    survivors = {
        r.vec_id for r in S.dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    n = S._corpus(spark, SF_DIR).count()
    assert len(survivors) == n - len(banded_dropped)
    assert survivors.isdisjoint(banded_dropped)


def test_lsh_topk_recall_vs_exact(spark):
    # sim_ann_lsh restricts each query to its own 256-way bucket; measure
    # top-3 neighbor recall against the brute-force sim_cosine_topk.
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.sim_cosine_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in S.sim_ann_lsh(spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Measured: 0.027. Single-probe sign-LSH over a 256-way split of a
    # near-orthogonal corpus is close to random neighbor assignment — the
    # honest number, and exactly why sim_ann_ivf (data-dependent cells,
    # ~10x this recall on the same corpus) exists alongside it. The gate
    # pins non-collapse (a bucketing bug typically zeroes the overlap or
    # empties the result) rather than pretending the fixture flatters LSH.
    assert recall >= 0.02, f"LSH top-k recall collapsed: {recall:.3f}"
    assert len(approx) > 0


def test_multiprobe_lsh_recall_beats_single_probe(spark):
    # Multi-probe (own bucket + 8 Hamming-1 neighbors) must strictly
    # dominate single-probe: its candidate set contains single-probe's,
    # so top-3 recall can only improve — and on this near-orthogonal
    # corpus the one-plane near-misses it recovers are the main loss.
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.sim_cosine_topk(spark, SF_DIR).collect()
    }
    single = {
        (r.query_id, r.neighbor_id) for r in S.sim_ann_lsh(spark, SF_DIR).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in S.sim_ann_lsh_multiprobe(spark, SF_DIR).collect()
    }
    r1 = len(exact & single) / len(exact)
    r9 = len(exact & multi) / len(exact)
    assert r9 >= r1, f"multi-probe recall {r9:.3f} < single-probe {r1:.3f}"
    # Measured: 0.027 -> 0.147 (5.4x) at 9/256 of the corpus scanned; pin
    # a conservative floor above the single-probe gate.
    assert r9 >= 0.1, f"multi-probe recall collapsed: {r9:.3f}"


def test_ivf_topk_recall_vs_exact(spark):
    # IVF cells follow the corpus distribution, so nprobe=1 should beat
    # fixed-hyperplane LSH on the same corpus.
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.sim_cosine_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in S.sim_ann_ivf(spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Measured: 0.24 at nprobe=1 — ~10x sim_ann_lsh on the same corpus.
    assert recall >= 0.20, f"IVF top-k recall collapsed: {recall:.3f}"


def test_ivf_nprobe2_recall_beats_nprobe1(spark):
    # nprobe=2 probes a superset of nprobe=1's cells per query, so recall
    # must dominate; measured 0.240 -> 0.347 for 2x the posting lists
    # scanned per query.
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.sim_cosine_topk(spark, SF_DIR).collect()
    }
    p1 = {
        (r.query_id, r.neighbor_id) for r in S.sim_ann_ivf(spark, SF_DIR).collect()
    }
    p2 = {
        (r.query_id, r.neighbor_id)
        for r in S.sim_ann_ivf_nprobe2(spark, SF_DIR).collect()
    }
    r1 = len(exact & p1) / len(exact)
    r2 = len(exact & p2) / len(exact)
    assert r2 >= r1, f"nprobe2 recall {r2:.3f} < nprobe1 {r1:.3f}"
    assert r2 >= 0.30, f"nprobe2 recall collapsed: {r2:.3f}"


def test_cohesion_sample_is_bounded(spark):
    # Every label's pair count must be C(min(n_label, COHESION_SAMPLE), 2):
    # the skew-immunity property — a 10x hotter label still caps at the
    # same pair budget.
    from quty_server_spark.operators._helpers import load_table

    sizes = {
        r.label: r.n
        for r in load_table(spark, SF_DIR, "embeddings")
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    result = {r.label: r.n_pairs for r in S.sim_label_cohesion(spark, SF_DIR).collect()}
    for label, n in sizes.items():
        m = min(n, S.COHESION_SAMPLE)
        expected = m * (m - 1) // 2
        assert result.get(label) == expected, (label, n, result.get(label))


def test_ivf_artifact_probe_matches_recomputing_ivf(spark):
    # The posting-list artifact is a pure layout change: probing it must
    # return row-for-row what the self-contained recomputing variant
    # returns (same centroids, same assignment, same top-3 contract).
    recompute = {
        tuple(r) for r in S.sim_ann_ivf(spark, SF_DIR).collect()
    }
    artifact = {
        tuple(r) for r in S.sim_ann_ivf_artifact(spark, SF_DIR).collect()
    }
    assert artifact == recompute
    assert len(artifact) > 0


def test_ivf_artifact_rebuild_is_idempotent(spark):
    # The writer's forced rebuild (rmtree + rewrite) must land the same
    # index: per-cell posting sizes identical across two builds, and the
    # memoized path stable within a session.
    first = {
        (r.cell, r.n_vecs, r.n_queries)
        for r in registry.queries["sink_ivf_postings_artifact"](
            spark, SF_DIR
        ).collect()
    }
    p1 = S.IVF_FAMILY.build(spark, SF_DIR)
    second = {
        (r.cell, r.n_vecs, r.n_queries)
        for r in registry.queries["sink_ivf_postings_artifact"](
            spark, SF_DIR
        ).collect()
    }
    p2 = S.IVF_FAMILY.build(spark, SF_DIR)
    assert first == second
    assert p1 == p2


def test_embedding_gate_matches_direct_assignment_path(spark):
    # The artifact-backed embedding gate must equal the same gate
    # computed through the direct (non-artifact) assignment path:
    # assign the WHOLE corpus with _ivf_cells, restrict same-cell
    # pairs to (shard, lake) orientation, threshold at EMB_GATE_COS.
    from pyspark.sql import functions as F

    from quty_server_spark.functions.vectors import cosine

    got = {
        (r.incoming_vec_id, r.lake_vec_id, round(r.cos_sim, 9))
        for r in S.dedup_incremental_embedding_artifact(
            spark, SF_DIR
        ).collect()
    }
    c = S._corpus(spark, SF_DIR)
    cells = S._ivf_cells(c, S._ivf_centroids(c))
    n = cells.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("ni"), F.col("v").alias("nv"), "cell"
    )
    o = cells.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("oi"), F.col("v").alias("ov"),
        F.col("cell").alias("ocell"),
    )
    ref = {
        (r.ni, r.oi, round(r.cs, 9))
        for r in n.join(o, F.col("cell") == F.col("ocell"))
        .select("ni", "oi", cosine(F.col("nv"), F.col("ov")).alias("cs"))
        .filter(F.col("cs") >= S.EMB_GATE_COS)
        .collect()
    }
    assert got == ref
    assert got  # fixture sanity: semantic near-dups exist in the slice


def test_ivf_quantizer_k_is_capped_and_sqrt_scaled(spark):
    # The r13 verdict's scale fix: K must NOT grow linearly with the
    # corpus. Synthetic dense-id corpora at three sizes — below the cap
    # K tracks ceil(sqrt(n_q)); a 17M+-stratum corpus must engage the
    # IVF_K_MAX ceiling, bounding broadcast(cent) by construction.
    import math

    from pyspark.sql import functions as F

    def k_for(n):
        c = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0)).alias("v"),
        )
        return S._ivf_centroids(c).count()

    for n in (500, 200_000):
        n_q = int(spark.range(n).filter(F.col("id") % 10 != 5).count())
        k_target = min(S.IVF_K_MAX, math.ceil(math.sqrt(n_q)))
        k = k_for(n)
        assert k <= S.IVF_K_MAX
        # Stride sampling over dense ids lands within ~15% of target.
        assert 0.85 * k_target <= k <= 1.25 * k_target, (n, k, k_target)
    # Cap engagement: stratum n_q = 0.9 * 20M > IVF_K_MAX^2.
    k_big = k_for(20_000_000)
    assert 0.8 * S.IVF_K_MAX <= k_big <= 1.25 * S.IVF_K_MAX, k_big


def test_ivf_k_max_is_far_under_broadcast_gate(spark):
    # broadcast(cent) is gated BY CONSTRUCTION: the quantizer can never
    # emit more than ~IVF_K_MAX rows on dense ids, and the ceiling sits
    # two orders of magnitude under the engine-wide broadcast bound the
    # dedup consumers gate on at runtime.
    from quty_server_spark.operators.dedup import BROADCAST_NODES_MAX

    assert S.IVF_K_MAX * 100 <= BROADCAST_NODES_MAX
