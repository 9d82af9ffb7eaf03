"""Runnable nightly-ingest run — the incremental dedup gate composed
the way a production lake admits a day's shard, end to end:

1. **artifact refresh (the write-once half)** — materialize the lake's
   banded SimHash signatures as a parquet artifact partitioned by
   band_id (``SIG_FAMILY.build``). A real deployment runs this
   once and appends; the nightly path below never re-signs the lake.
2. **the gate (the read-nightly half)** — join the shard's fresh bands
   against the artifact (``dedup_incremental_simhash_artifact``): the
   lake branch of the plan is a bare artifact scan, the only
   lake-sized aggregation happened in step 1. Step 2b adds
   the MinHash-family gate (``dedup_incremental_minhash_artifact``)
   as a second opinion — content Jaccard catches rewrites the layout
   fingerprint misses — and the quarantine is the union of both.
3. **quarantine** — shard docs with >= 1 near-dup already in the lake
   are rejected; the rest are admitted.
4. **within-shard canonicalization** — the admitted docs can still
   duplicate EACH OTHER (a day's crawl re-fetches the same page), so
   the keeper policy (``dedup_keep_canonical``) marks the canonical
   member of every near-dup cluster; admitted = admitted AND keep.
5. **packing impact** — the packer audit (``doc_pack_efficiency``)
   states what the post-ingest corpus costs at SEQ_LEN=2048.
6. **artifact append** — the admitted docs' banded signatures are
   APPENDED to the artifact (parquet append under the same band_id
   partitioning: 4 new files, zero read-modify-write of existing ones),
   so tomorrow's gate sees tonight's admissions. This closes the loop
   the write-once/read-nightly split promises: the lake-sized signing
   job never runs again — the artifact grows by exactly each night's
   admitted shard.

Run:  python examples/nightly_ingest.py [sf_dir]
      (default /root/testdata/sf0.01)

A deployment that cannot wait for a nightly window runs step 2 as a
stream instead: ``stream_ingest_dedup_gate`` (streaming/ops.py) is the
same artifact join executed per micro-batch inside foreachBatch, with
the same oracle SQL — steps 3-6 compose on its epoch outputs unchanged.

Everything is the SAME code the registered oracle-checked queries run —
this file only composes the gate into one nightly report. The shard is
the fixture convention used by the registered gate queries:
``doc_id % 10 == 0`` is tonight's ingest, the rest is the lake.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import quty_server_spark.operators  # noqa: F401,E402  (registers queries)
from quty_server_spark.operators.dedup import (  # noqa: E402
    MINHASH_FAMILY,
    SIG_FAMILY,
)
from quty_server_spark.plans.registry import registry  # noqa: E402
from quty_server_spark.session import get_spark  # noqa: E402
from quty_server_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("nightly-ingest")
    q = registry.queries

    print(f"== nightly ingest over {sf_dir} ==\n")

    docs = load_table(spark, sf_dir, "documents")
    shard = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    n_shard = shard.count()
    n_lake = docs.count() - n_shard
    print(f"shard: {n_shard} incoming docs; lake: {n_lake} docs")

    # 1. artifact refresh (write-once; timed so the amortized cost is
    # visible next to the nightly cost it buys down)
    t0 = time.time()
    path = SIG_FAMILY.build(spark, sf_dir, rebuild=True)
    n_sig = spark.read.parquet(path).count()
    print(f"lake-signature artifact: {n_sig} banded rows at {path} "
          f"(built in {time.time() - t0:.1f}s — amortized, not nightly)")

    # 2. the gate: shard bands vs the artifact (no lake re-signing)
    t0 = time.time()
    hits = q["dedup_incremental_simhash_artifact"](spark, sf_dir)
    quarantined = hits.select("incoming_doc_id").distinct()
    n_q = quarantined.count()
    print(f"gate: {n_q}/{n_shard} incoming docs near-duplicate the lake "
          f"(nightly cost {time.time() - t0:.1f}s — shard-signing + one "
          f"band join against the artifact scan)")

    # 2b. second-opinion gate on the MinHash family: content
    # overlap at exact Jaccard >= 0.5 catches rewrites the 48-bit layout
    # fingerprint misses. Same write-once/read-nightly pattern — the
    # band artifact embeds per-doc shingle counts, so this gate also
    # runs zero lake-side aggregations per night.
    t0 = time.time()
    mh_path = MINHASH_FAMILY.build(spark, sf_dir, rebuild=True)
    mh_hits = q["dedup_incremental_minhash_artifact"](spark, sf_dir)
    mh_q = mh_hits.select("incoming_doc_id").distinct()
    n_mh = mh_q.count()
    quarantined = quarantined.union(mh_q).distinct()
    n_q = quarantined.count()
    print(f"minhash gate: {n_mh} incoming docs share >=50% content with "
          f"the lake (artifact at {mh_path}; union quarantine now {n_q}; "
          f"{time.time() - t0:.1f}s incl. the amortized artifact build)")

    # 3+4. admit the rest, then keep only within-shard canonicals
    admitted = shard.join(quarantined.withColumnRenamed(
        "incoming_doc_id", "doc_id"), "doc_id", "left_anti")
    keep = q["dedup_keep_canonical"](spark, sf_dir).filter("keep")
    final = admitted.join(keep.select("doc_id"), "doc_id", "left_semi")
    n_adm, n_final = admitted.count(), final.count()
    print(f"quarantine: {n_shard - n_adm} rejected, {n_adm} admitted; "
          f"within-shard canonicalization keeps {n_final} "
          f"({n_adm - n_final} shard-internal near-dups dropped)")

    # 4b. cluster ASSIGNMENT for the admitted docs: final
    # full-corpus-equivalent cluster labels from the contracted
    # shard-sized graph — the standing lake label artifact + the gate
    # pairs; no lake-vs-lake mining tonight. These labels are what the
    # artifact append below logically extends the cluster state with.
    t0 = time.time()
    assign = q["dedup_cluster_incremental"](spark, sf_dir)
    n_assigned = assign.count()
    print(f"cluster assignment: {n_assigned} shard docs joined existing "
          f"or shard-internal clusters ({time.time() - t0:.1f}s — "
          f"contracted-graph BSP, cost follows the shard)")

    # 4c. passage gate: which admitted docs are mostly
    # boilerplate already in the lake — the substring-level question the
    # whole-doc gates above cannot ask. Probes the write-once passage-
    # digest artifact with a LEFT SEMI join (no lake re-windowing, no
    # lake-side aggregation); a deployment scrubs or drops docs past a
    # dup_ppm ceiling rather than quarantining them.
    t0 = time.time()
    pw = q["dedup_incremental_passages"](spark, sf_dir)
    n_scrub = pw.filter("dup_ppm >= 500000").count()
    print(f"passage gate: {n_scrub} incoming docs are >=50% passages "
          f"already in the lake ({time.time() - t0:.1f}s incl. the "
          f"amortized digest-artifact build — scrub-or-drop input)")

    # 4d. label-artifact maintenance: APPLY the relabel
    # queue — rewrite the standing clusters tonight's merges invalidate
    # (their home buckets only, found via the _label_homes sidecar) and
    # append tonight's labels, so tomorrow's contraction folds against
    # tonight's truth. sink_lake_cluster_labels_artifact_relabel proves
    # maintained == rebuilt through a full-corpus oracle.
    t0 = time.time()
    from quty_server_spark.operators.dedup import (
        apply_cluster_label_maintenance,
        maintained_cluster_labels_artifact,
    )

    lbl_path = maintained_cluster_labels_artifact(
        spark, sf_dir, rebuild=True, staged=False
    )
    n_lbl = spark.read.parquet(lbl_path).count()
    print(f"label maintenance: maintained artifact holds {n_lbl} "
          f"(node, lbl) rows at {lbl_path} "
          f"({time.time() - t0:.1f}s incl. the amortized base labeling)")
    # The nightly-only entrypoint, run for real: a replay of the same
    # night (operator retry) must leave the artifact unchanged — the
    # idempotence contract tests/test_dedup_semantics.py pins.
    t0 = time.time()
    apply_cluster_label_maintenance(spark, sf_dir, lbl_path, staged=False)
    n_lbl2 = spark.read.parquet(lbl_path).count()
    assert n_lbl2 == n_lbl, (n_lbl, n_lbl2)
    print(f"label maintenance replay: nightly apply alone took "
          f"{time.time() - t0:.1f}s, artifact unchanged at {n_lbl2} rows")

    # 5. packing impact on the corpus the trainer will actually read
    pack = q["doc_pack_efficiency"](spark, sf_dir)
    p = pack.agg(
        F.sum("n_bins").alias("bins"),
        F.avg("fill_ppm").alias("fill_ppm"),
    ).collect()[0]
    print(f"packer audit: {p.bins} SEQ_LEN=2048 bins, mean fill "
          f"{p.fill_ppm / 1e4:.1f}%")

    # 6. append the admitted docs' signatures so tomorrow's gate sees
    # tonight's admissions — partitioned append through the same
    # artifact layout (SIG, MINHASH) the oracle-verified append sinks use
    # (sink_lake_signature_artifact_append /
    # sink_lake_minhash_artifact_append prove append ≡ rebuild through
    # shared oracle SQL; tests/test_artifact_append.py pins
    # gate-after-append == gate-after-rebuild). A re-run of this
    # example rebuilds the artifact at step 1, so the append never
    # compounds across runs.
    # The family's rows of tonight's shard (only the shard is signed),
    # restricted to the admitted docs.
    shard_ids = F.col("doc_id") % 10 == 0
    before = spark.read.parquet(path).count()
    adm_sigs = SIG_FAMILY.rows(spark, sf_dir, shard_ids).join(
        F.broadcast(final), "doc_id", "left_semi"
    )
    SIG_FAMILY.layout.write(adm_sigs, path, "append")
    after = spark.read.parquet(path).count()
    print(f"artifact append: {before} -> {after} banded rows "
          f"(+{after - before} = 4 bands x {n_final} admitted docs)")
    # ... and the same append for the MinHash-band artifact, so BOTH
    # gates see tonight's admissions tomorrow. Appended docs ARE
    # verifiable by tomorrow's exact-Jaccard stage: the verify's
    # shingle side (lake_shingles_for_verify) carries no lake-
    # membership convention — the candidate join restricts it to the
    # candidates' own doc_ids, whatever convention admitted them
    # (pinned in
    # tests/test_artifact_append.py::test_appended_minhash_gate_verifies_appended_docs).
    mh_before = spark.read.parquet(mh_path).count()
    adm_bands = MINHASH_FAMILY.rows(spark, sf_dir, shard_ids).join(
        F.broadcast(final), "doc_id", "left_semi"
    )
    MINHASH_FAMILY.layout.write(adm_bands, mh_path, "append")
    mh_after = spark.read.parquet(mh_path).count()
    print(f"minhash artifact append: {mh_before} -> {mh_after} band rows "
          f"(8 bands per admitted doc with >= 3 tokens)")

    # 7. a takedown arrives: the victim set must leave the
    # artifact tier NOW. The tombstone tier writes an O(victims) sidecar
    # — zero artifact files touched — and every consumer reads through
    # the live view; scheduled compaction later applies the delete
    # physically and clears the sidecar
    # (sink_lake_artifacts_retract_tombstone and
    # sink_lake_artifacts_retract_compacted prove live-view ≡ compacted
    # ≡ rebuilt-on-survivors through one shared oracle).
    from quty_server_spark.operators.retract import (
        ARTIFACT_FAMILIES,
        compact_tombstones,
        read_artifact_live,
        tombstoned_artifact_paths,
    )

    t0 = time.time()
    tpaths = tombstoned_artifact_paths(spark, sf_dir, rebuild=True)
    sig_p = tpaths["sig"]
    live = read_artifact_live(spark, sig_p, "doc_id").count()
    full = spark.read.parquet(sig_p).count()
    print(f"takedown: tombstoned victims across 4 families in "
          f"{time.time() - t0:.1f}s (sidecar write only); sig family "
          f"live view {live} of {full} rows — effective immediately")
    t0 = time.time()
    for fam, p in tpaths.items():
        compact_tombstones(spark, p, ARTIFACT_FAMILIES[fam].family.layout)
    compacted = spark.read.parquet(sig_p).count()
    assert compacted == live, (compacted, live)
    print(f"scheduled compaction: applied + sidecars cleared in "
          f"{time.time() - t0:.1f}s; sig family now physically {compacted} "
          f"rows (== the live view it replaces)")

    # 8. the trainer handoff: the snapshot the gates above
    # protect, hashed into content-keyed shards and written
    # partitioned-by-shard — the read-back audit a training run gates
    # on (sink_training_shards proves the layout holds exactly the
    # snapshot through the snapshot's own oracle SQL).
    t0 = time.time()
    shards = q["sink_training_shards"](spark, sf_dir).collect()
    n_docs_total = sum(r.n_docs for r in shards)
    sizes = sorted(r.n_docs for r in shards)
    print(f"trainer handoff: {n_docs_total} snapshot docs into "
          f"{len(shards)} shards (sizes {sizes[0]}..{sizes[-1]}) in "
          f"{time.time() - t0:.1f}s — write + read-back audit")

    print("\nnightly verdict: "
          f"{n_final}/{n_shard} incoming docs enter the lake "
          f"({1e2 * n_final / max(n_shard, 1):.1f}%)")
    spark.stop()


if __name__ == "__main__":
    main()
