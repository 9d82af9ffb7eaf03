"""Artifact-append lifecycle tests — append ≡ rebuild, end to end.

The r11 VERDICT's single unverified lifecycle step: the nightly-ingest
story appends admitted docs'/vectors' rows to the precomputed lake
artifacts, and tomorrow's gate correctness depends on that append being
exactly right. The registered append sinks prove it at the SUMMARY
level through shared oracle SQL; these tests prove it at the strongest
level — the downstream consumers (the three nightly gates and the ANN
probe) return the IDENTICAL row set whether they read the appended
artifact or a from-scratch rebuild.
"""

from __future__ import annotations

import pytest

from quty_server_spark.operators.dedup import (
    MINHASH_FAMILY,
    PASSAGE_FAMILY,
    SIG_FAMILY,
)
from quty_server_spark.operators.multimodal import MEDIA_SIG_FAMILY
from quty_server_spark.operators.similarity import IVF_FAMILY
from tests.conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize(
    "family",
    [SIG_FAMILY, MINHASH_FAMILY, PASSAGE_FAMILY, MEDIA_SIG_FAMILY, IVF_FAMILY],
    ids=["sig", "minhash", "passage", "media_sig", "ivf"],
)
def test_appended_holds_exactly_the_built_rows(spark, family):
    """Append ≡ rebuild at artifact grain, for every family record:
    the append twin holds the write-once build's rows as a multiset,
    over every column, the partition column included."""
    app = spark.read.parquet(family.appended(spark, SF_DIR))
    full = spark.read.parquet(family.build(spark, SF_DIR))
    assert family.layout.part in full.columns
    assert sorted(app.columns) == sorted(full.columns)
    app = app.select(*full.columns)
    assert app.count() == full.count() > 0
    assert app.exceptAll(full).count() == 0
    assert full.exceptAll(app).count() == 0


def test_simhash_gate_after_append_equals_after_rebuild(spark):
    from quty_server_spark.operators.dedup import (
        SIG_FAMILY,
        dedup_incremental_simhash_artifact,
    )

    app = SIG_FAMILY.appended(spark, SF_DIR, rebuild=True)
    full = SIG_FAMILY.build(spark, SF_DIR, rebuild=True)
    cols = ["incoming_doc_id", "lake_doc_id", "hamming"]
    got = _rows(dedup_incremental_simhash_artifact(spark, SF_DIR, app), cols)
    want = _rows(
        dedup_incremental_simhash_artifact(spark, SF_DIR, full), cols
    )
    assert got == want
    # The artifact CONTENT is set-equal too (not just the gate's view).
    art_cols = ["doc_id", "sig", "band_id", "band_val"]
    assert _rows(spark.read.parquet(app), art_cols) == _rows(
        spark.read.parquet(full), art_cols
    )


def test_minhash_gate_after_append_equals_after_rebuild(spark):
    from quty_server_spark.operators.dedup import (
        MINHASH_FAMILY,
        dedup_incremental_minhash_artifact,
    )

    app = MINHASH_FAMILY.appended(spark, SF_DIR, rebuild=True)
    full = MINHASH_FAMILY.build(spark, SF_DIR, rebuild=True)
    cols = ["incoming_doc_id", "lake_doc_id", "jaccard"]
    got = _rows(dedup_incremental_minhash_artifact(spark, SF_DIR, app), cols)
    want = _rows(
        dedup_incremental_minhash_artifact(spark, SF_DIR, full), cols
    )
    assert got == want
    art_cols = ["doc_id", "sig", "n_sh", "band_id"]
    assert _rows(spark.read.parquet(app), art_cols) == _rows(
        spark.read.parquet(full), art_cols
    )


def test_appended_minhash_gate_verifies_appended_docs(spark):
    """The r11 ADVICE false-negative scenario, exercised directly: a
    candidate whose lake doc entered the artifact by APPEND (the
    admitted batch, doc_id % 10 == 5) must survive the exact-Jaccard
    verify — i.e. the verify's shingle side finds appended docs. With
    the old % 10 != 0 convention filter this held only by luck of the
    batch choice; the convention-free lake_shingles_for_verify holds
    for any admitted doc_id."""
    from pyspark.sql import functions as F

    from quty_server_spark.operators.dedup import (
        MINHASH_FAMILY,
        dedup_incremental_minhash_artifact,
    )

    app = MINHASH_FAMILY.appended(spark, SF_DIR)
    out = dedup_incremental_minhash_artifact(spark, SF_DIR, app)
    # At sf0.001 the fixture corpus yields at least one gate pair whose
    # lake doc is in the admitted batch; if the fixtures ever change,
    # the count assert below keeps this test honest (it must not pass
    # vacuously AND silently).
    n_batch_pairs = out.filter(F.col("lake_doc_id") % 10 == 5).count()
    n_all = out.count()
    assert n_all >= 0  # gate runs
    # Non-vacuity: the batch holds ~10% of lake docs, and the gate's
    # pairs hit it at sf0.001 — pin that the appended docs are visible.
    assert n_batch_pairs > 0, (
        "no gate pair has its lake doc in the appended batch — either "
        "the fixtures changed or appended docs are invisible to the "
        "verify again (the r11 ADVICE false-negative)"
    )


def test_ivf_probe_after_append_equals_after_rebuild(spark):
    from quty_server_spark.operators.similarity import (
        IVF_FAMILY,
        sim_ann_ivf_artifact,
    )

    app = IVF_FAMILY.appended(spark, SF_DIR, rebuild=True)
    full = IVF_FAMILY.build(spark, SF_DIR, rebuild=True)
    cols = ["query_id", "neighbor_id", "cell", "cos_sim", "rn"]
    got = _rows(sim_ann_ivf_artifact(spark, SF_DIR, app), cols)
    want = _rows(sim_ann_ivf_artifact(spark, SF_DIR, full), cols)
    assert got == want
    art_cols = ["vec_id", "cell"]
    assert _rows(spark.read.parquet(app), art_cols) == _rows(
        spark.read.parquet(full), art_cols
    )


def test_ivf_probe_after_recluster_equals_after_fresh_build(spark):
    # The re-cluster verb's contract (r16 VERDICT "Next round" #2): the
    # repaired index answers probes exactly like a from-scratch build —
    # same posting assignment (frozen-K quantizer retrained over the
    # current stable stratum), same centroid sidecar, so
    # probe-after-recluster ≡ probe-after-fresh-build by set equality
    # (the relabel verb's pattern).
    from quty_server_spark.operators.similarity import (
        IVF_FAMILY,
        reclustered_ivf_artifact,
        sim_ann_ivf_artifact,
    )

    recl = reclustered_ivf_artifact(spark, SF_DIR, rebuild=True)
    full = IVF_FAMILY.build(spark, SF_DIR, rebuild=True)
    cols = ["query_id", "neighbor_id", "cell", "cos_sim", "rn"]
    got = _rows(sim_ann_ivf_artifact(spark, SF_DIR, recl), cols)
    want = _rows(sim_ann_ivf_artifact(spark, SF_DIR, full), cols)
    assert got == want
    # Layout equality at posting grain, and sidecar equality: the
    # retrained quantizer IS the fresh build's (stable-stratum training
    # makes that hold by design, not fixture luck).
    art_cols = ["vec_id", "cell"]
    assert _rows(spark.read.parquet(recl), art_cols) == _rows(
        spark.read.parquet(full), art_cols
    )
    import os

    sc_cols = ["cid"]
    assert _rows(
        spark.read.parquet(os.path.join(recl, "_centroids")), sc_cols
    ) == _rows(spark.read.parquet(os.path.join(full, "_centroids")), sc_cols)


def test_embedding_gate_after_append_equals_after_rebuild(spark):
    from quty_server_spark.operators.similarity import (
        IVF_FAMILY,
        dedup_incremental_embedding_artifact,
    )

    app = IVF_FAMILY.appended(spark, SF_DIR)
    full = IVF_FAMILY.build(spark, SF_DIR)
    cols = ["incoming_vec_id", "lake_vec_id", "cos_sim"]
    got = _rows(
        dedup_incremental_embedding_artifact(spark, SF_DIR, app), cols
    )
    want = _rows(
        dedup_incremental_embedding_artifact(spark, SF_DIR, full), cols
    )
    assert got == want


def test_append_adds_files_never_rewrites(spark):
    """The append's file-level contract: every file of the base build
    survives the append byte-identical (same name, same size, same
    mtime) — the append only ADDS files. A read-modify-write here
    would be a corruption risk under concurrent readers at scale."""
    import glob
    import os

    from quty_server_spark.operators._helpers import APPEND_BATCH_MOD
    from quty_server_spark.operators.dedup import (
        SIG,
        SIG_FAMILY,
        simhash_bands,
        simhash_sigs,
    )
    from quty_server_spark.session import session_tmp_dir
    from pyspark.sql import functions as F

    path = session_tmp_dir(spark, "quty_append_file_test", SF_DIR)
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    base = simhash_bands(simhash_sigs(spark, SF_DIR)).filter(
        (F.col("doc_id") % 10 != 0)
        & (F.col("doc_id") % 10 != APPEND_BATCH_MOD)
    )
    base.sortWithinPartitions("band_id", "band_val").write.partitionBy(
        "band_id"
    ).parquet(path)

    def snapshot():
        return {
            f: (os.path.getsize(f), os.path.getmtime(f))
            for f in glob.glob(
                os.path.join(path, "band_id=*", "*.parquet")
            )
        }

    before = snapshot()
    SIG.write(
        SIG_FAMILY.rows(spark, SF_DIR, SIG_FAMILY.admitted()), path, "append"
    )
    after = snapshot()
    assert set(before) <= set(after), "append removed base files"
    for f, meta in before.items():
        assert after[f] == meta, f"append rewrote base file {f}"
    assert len(after) > len(before), "append added no files"
    shutil.rmtree(path, ignore_errors=True)


def test_passage_gate_after_append_equals_after_rebuild(spark):
    from quty_server_spark.operators.dedup import (
        PASSAGE_FAMILY,
        dedup_incremental_passages,
    )

    app = PASSAGE_FAMILY.appended(spark, SF_DIR, rebuild=True)
    full = PASSAGE_FAMILY.build(spark, SF_DIR, rebuild=True)
    cols = ["doc_id", "n_windows", "n_lake_dup_windows", "dup_ppm"]
    got = _rows(dedup_incremental_passages(spark, SF_DIR, app), cols)
    want = _rows(dedup_incremental_passages(spark, SF_DIR, full), cols)
    assert got == want
    art_cols = ["doc_id", "passage_md5", "pfx"]
    assert _rows(spark.read.parquet(app), art_cols) == _rows(
        spark.read.parquet(full), art_cols
    )


def test_training_shards_append_equals_rebuild_of_union(spark):
    """Append ≡ rebuild for the trainer handoff: the appended shard
    directories hold exactly the rows a from-scratch shard write of
    (lake-scoped snapshot ∪ tonight's incremental additions) would —
    nothing dropped, duplicated, or mis-sharded by mode("append")."""
    import shutil

    from pyspark.sql import functions as F

    from quty_server_spark.operators.pipeline import (
        _write_training_shards,
        appended_training_shards,
        corpus_training_snapshot_incremental,
        scoped_training_snapshot,
    )
    from quty_server_spark.operators._helpers import load_table
    from quty_server_spark.session import session_tmp_dir

    app = appended_training_shards(spark, SF_DIR, rebuild=True)
    lake_docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    union = scoped_training_snapshot(spark, lake_docs).unionByName(
        corpus_training_snapshot_incremental(spark, SF_DIR)
    )
    fresh = session_tmp_dir(spark, "quty_train_shards_fresh", SF_DIR)
    shutil.rmtree(fresh, ignore_errors=True)
    _write_training_shards(union, fresh)
    cols = ["shard", "doc_id", "lang", "source", "n_tokens", "cluster_id", "dup_ppm"]
    assert _rows(spark.read.parquet(app), cols) == _rows(
        spark.read.parquet(fresh), cols
    )
    shutil.rmtree(fresh, ignore_errors=True)


def test_training_shards_append_leaves_base_files_untouched(spark):
    """mode("append") into the standing shard directories must be
    purely additive: every base file survives byte-identical (size +
    mtime + md5), and tonight's additions only ADD files."""
    import glob
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from quty_server_spark.operators.pipeline import (
        _write_training_shards,
        corpus_training_snapshot_incremental,
        scoped_training_snapshot,
    )
    from quty_server_spark.operators._helpers import load_table
    from quty_server_spark.session import session_tmp_dir

    path = session_tmp_dir(spark, "quty_train_shards_byteid", SF_DIR)
    shutil.rmtree(path, ignore_errors=True)
    lake_docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    _write_training_shards(scoped_training_snapshot(spark, lake_docs), path)

    def snapshot():
        out = {}
        for f in glob.glob(os.path.join(path, "shard=*", "*.parquet")):
            with open(f, "rb") as fh:
                out[f] = (os.path.getsize(f), hashlib.md5(fh.read()).hexdigest())
        return out

    before = snapshot()
    assert before, "base build wrote no shard files"
    _write_training_shards(
        corpus_training_snapshot_incremental(spark, SF_DIR), path, mode="append"
    )
    after = snapshot()
    assert set(before) <= set(after), "append removed base files"
    for f, meta in before.items():
        assert after[f] == meta, f"append rewrote base file {f}"
    assert len(after) > len(before), "append added no files"
    shutil.rmtree(path, ignore_errors=True)


def test_training_shards_assignment_is_content_keyed(spark):
    """Shard stability across corpus growth: every row in the appended
    layout sits in exactly the shard the content-keyed hash assigns its
    doc_id — so no standing doc can ever move when the corpus grows
    (the hash reads nothing but the id)."""
    from pyspark.sql import functions as F

    from quty_server_spark.operators.pipeline import (
        _shard_col,
        appended_training_shards,
    )

    app = appended_training_shards(spark, SF_DIR)
    back = spark.read.parquet(app)
    mism = back.filter(
        F.col("shard").cast("bigint") != _shard_col().cast("bigint")
    ).count()
    assert mism == 0


def test_training_shards_append_oracle_choice_is_load_bearing(spark):
    """Non-vacuity of the append twin's UNION oracle: the standing
    (lake-scoped) shards contain rows today's FULL-corpus snapshot
    would reject — stale keepers dethroned by tonight's shard docs.
    If this delta were empty the union oracle would be
    indistinguishable from the write-once oracle and the documented
    compaction debt would be untested."""
    from pyspark.sql import functions as F

    from quty_server_spark.operators.pipeline import (
        corpus_training_snapshot,
        scoped_training_snapshot,
    )
    from quty_server_spark.operators._helpers import load_table

    lake_docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    lake_scoped = scoped_training_snapshot(spark, lake_docs).select("doc_id")
    full_lake = (
        corpus_training_snapshot(spark, SF_DIR)
        .filter(F.col("doc_id") % 10 != 0)
        .select("doc_id")
    )
    stale = lake_scoped.exceptAll(full_lake).count()
    missing = full_lake.exceptAll(lake_scoped).count()
    assert stale > 0, "fixture lost the stale-keeper case — oracle choice untested"
    # The other direction must stay empty: yesterday's truth never
    # MISSES a doc today's full truth admits on the lake side.
    assert missing == 0


def test_media_gate_after_append_equals_after_rebuild(spark):
    """Media-family artifact lifecycle: the nightly perceptual gate
    returns the identical row set against the appended artifact and a
    from-scratch rebuild, and the artifact CONTENT is set-equal too."""
    from quty_server_spark.operators.multimodal import (
        MEDIA_SIG_FAMILY,
        mm_neardup_incremental_artifact,
    )

    app = MEDIA_SIG_FAMILY.appended(spark, SF_DIR, rebuild=True)
    full = MEDIA_SIG_FAMILY.build(spark, SF_DIR, rebuild=True)
    cols = ["incoming_doc_id", "lake_doc_id", "hamming"]
    got = _rows(mm_neardup_incremental_artifact(spark, SF_DIR, app), cols)
    want = _rows(mm_neardup_incremental_artifact(spark, SF_DIR, full), cols)
    assert got == want
    art_cols = ["doc_id", "sig", "band_id", "band_val"]
    assert _rows(spark.read.parquet(app), art_cols) == _rows(
        spark.read.parquet(full), art_cols
    )


def test_media_incremental_gate_is_nonvacuous_cross_boundary(spark):
    """The _NEARDUP_TWIN_BASE ≡ 7 (mod 10) device: staged twins land in
    a different shard/lake residue than their originals, so the
    asymmetric gate always sees staged cross-boundary pairs — a 0-row
    green gate here would be the r12 vacuity failure mode."""
    from quty_server_spark.operators.multimodal import (
        _NEARDUP_TWIN_BASE,
        mm_neardup_incremental_artifact,
    )

    rows = mm_neardup_incremental_artifact(spark, SF_DIR).collect()
    assert rows, "gate returned nothing — staging device broken"
    staged = [
        r
        for r in rows
        if abs(r["incoming_doc_id"] - r["lake_doc_id"]) == _NEARDUP_TWIN_BASE
    ]
    assert staged, "no staged twin pair crosses the shard/lake boundary"
    assert all(r["hamming"] == 0 for r in staged)


def test_training_shards_compact_closes_the_lifecycle_triangle(spark):
    """The trainer-shard COMPACTION verb (r15 VERDICT "Next round" #2):
    on a private copy of the appended standing state, compaction must
    (a) touch ONLY the shards holding a differing row — every file in
    an unaffected shard survives byte-identical; (b) be non-vacuous in
    BOTH directions on the fixture (some shards rewritten, some left
    alone); and (c) leave the layout row-set-equal to a from-scratch
    write-once rebuild — append ≡ rebuild ≡ compact, the same triangle
    every other artifact family closed."""
    import glob
    import hashlib
    import os
    import shutil

    from quty_server_spark.operators.pipeline import (
        N_TRAIN_SHARDS,
        SNAPSHOT_COLS,
        _build_appended_training_shards,
        _shard_col,
        compact_training_shards_inplace,
        corpus_training_snapshot,
    )
    from quty_server_spark.session import session_tmp_dir

    path = session_tmp_dir(spark, "quty_train_shards_cmp_test", SF_DIR)
    _build_appended_training_shards(spark, SF_DIR, path)

    def snapshot():
        out = {}
        for f in glob.glob(os.path.join(path, "shard=*", "*.parquet")):
            with open(f, "rb") as fh:
                out[f] = (os.path.getsize(f), hashlib.md5(fh.read()).hexdigest())
        return out

    before = snapshot()
    assert before, "standing-state build wrote no shard files"
    affected = compact_training_shards_inplace(spark, SF_DIR, path)
    after = snapshot()

    # (b) non-vacuity both ways: the fixture exhibits stale keepers
    # (pinned in test_training_shards_append_oracle_choice_is_load_bearing),
    # so compaction must rewrite something — but never everything, or
    # the partition-scoped-rewrite claim is untested.
    assert affected, "compaction found nothing to fold — fixture lost the stale-keeper case"
    assert len(affected) < N_TRAIN_SHARDS, (
        "every shard affected — untouched-file byte-identity is vacuous"
    )

    # (a) untouched shards byte-identical; affected shards rewritten.
    aff_dirs = {os.path.join(path, f"shard={s}") for s in affected}
    for f, meta in before.items():
        if os.path.dirname(f) in aff_dirs:
            continue
        assert after.get(f) == meta, f"compaction rewrote unaffected file {f}"
    rewritten = {f for f in set(before) | set(after)
                 if os.path.dirname(f) in aff_dirs
                 and before.get(f) != after.get(f)}
    assert rewritten, "affected shards reported but no file changed"

    # (c) compacted ≡ fresh write-once rebuild, row for row — and every
    # row still sits in its content-keyed shard.
    from pyspark.sql import functions as F

    back = spark.read.parquet(path)
    got = _rows(back, SNAPSHOT_COLS)
    want = _rows(corpus_training_snapshot(spark, SF_DIR), SNAPSHOT_COLS)
    assert got == want
    mism = back.filter(
        F.col("shard").cast("bigint") != _shard_col().cast("bigint")
    ).count()
    assert mism == 0
    shutil.rmtree(path, ignore_errors=True)


def test_training_shards_compact_is_idempotent(spark):
    """A second compaction over an already-compacted layout must find
    nothing to fold (empty affected list) and change no file — the
    fixed-point property that makes the verb safe to schedule blindly."""
    import glob
    import hashlib
    import os
    import shutil

    from quty_server_spark.operators.pipeline import (
        _build_appended_training_shards,
        compact_training_shards_inplace,
    )
    from quty_server_spark.session import session_tmp_dir

    path = session_tmp_dir(spark, "quty_train_shards_cmp_idem", SF_DIR)
    _build_appended_training_shards(spark, SF_DIR, path)
    first = compact_training_shards_inplace(spark, SF_DIR, path)
    assert first

    def snapshot():
        out = {}
        for f in glob.glob(os.path.join(path, "shard=*", "*.parquet")):
            with open(f, "rb") as fh:
                out[f] = (os.path.getsize(f), hashlib.md5(fh.read()).hexdigest())
        return out

    before = snapshot()
    second = compact_training_shards_inplace(spark, SF_DIR, path)
    assert second == [], f"second compaction re-folded shards {second}"
    assert snapshot() == before, "idempotent compaction changed files"
    shutil.rmtree(path, ignore_errors=True)
