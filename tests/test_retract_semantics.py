"""Retraction semantics the oracle summary verifies only in aggregate:
physical behavior of the shared DELETE device (DPP-scoped rewrite,
byte-identity of unaffected partitions, emptied-partition cleanup),
probe equality of every nightly gate against a survivors-only rebuild,
the poisoned-gate counterexample (the reason retraction must exist),
and idempotence of the label retraction."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from quty_server_spark.operators import dedup as D
from quty_server_spark.operators._helpers import (
    TOMBSTONES,
    Layout,
    read_sidecar,
    write_sidecar,
)
from quty_server_spark.operators import retract as R
from quty_server_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


def _file_md5s(root: str) -> dict[str, str]:
    out = {}
    for dp, _, fns in os.walk(root):
        for fn in fns:
            if fn.startswith(("_", ".")):
                continue
            p = os.path.join(dp, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    f.read()
                ).hexdigest()
    return out


def test_retract_rows_scopes_preserves_and_cleans(spark, tmp_path):
    # The shared physical DELETE on a crafted artifact: partition '0'
    # holds a victim among keepers (rewritten), '1' and '2' hold no
    # victims ('1' is named affected anyway — rewritten to the same
    # CONTENT; '2' is unaffected and must keep the base build's exact
    # bytes), '3' holds ONLY victims (dynamic overwrite cannot empty a
    # partition, so the builder must remove the directory explicitly).
    path = str(tmp_path / "art")
    rows = [
        (3, "a"), (10, "a"), (11, "a"),
        (20, "b"), (21, "b"),
        (30, "c"), (31, "c"),
        (13, "d"), (23, "d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, pfx string")
    df.sortWithinPartitions("pfx", "doc_id").write.partitionBy(
        "pfx"
    ).parquet(path)
    before = _file_md5s(path)
    affected = spark.createDataFrame([("a",), ("b",), ("d",)], "pfx string")
    victims = spark.createDataFrame([(3,), (13,), (23,)], "doc_id long")
    R._retract_rows(
        spark, path, Layout("pfx", "doc_id", "doc_id"), affected, victims
    )
    got = sorted(
        (r.doc_id, r.pfx) for r in spark.read.parquet(path).collect()
    )
    assert got == [(10, "a"), (11, "a"), (20, "b"), (21, "b"),
                   (30, "c"), (31, "c")]
    assert not os.path.isdir(os.path.join(path, "pfx=d"))
    after = _file_md5s(path)
    untouched_before = {k: v for k, v in before.items() if "pfx=c" in k}
    untouched_after = {k: v for k, v in after.items() if "pfx=c" in k}
    assert untouched_before == untouched_after and untouched_before


def test_retracted_artifacts_untouched_ivf_cells_byte_identical(spark):
    # On the real fixture: IVF cell dirs holding no victim keep the
    # write-once build's exact bytes (the retraction never read them).
    base = S.IVF_FAMILY.build(spark, SF_DIR)
    paths = R.retracted_artifact_paths(spark, SF_DIR, rebuild=True)
    cent = spark.read.parquet(os.path.join(base, "_centroids"))
    vvec = S._corpus(spark, SF_DIR).filter(
        F.col("vec_id") % 10 == R.RETRACT_MOD
    )
    aff = {
        r.cell for r in S._ivf_cells_plan(vvec, cent).select("cell")
        .distinct().collect()
    }
    b, a = _file_md5s(base), _file_md5s(paths["ivf"])
    untouched = [
        k for k in b
        if "cell=" in k
        and int(k.split("cell=")[1].split("/")[0]) not in aff
    ]
    assert untouched, "fixture has no victim-free cell — pin is vacuous"
    for k in untouched:
        assert a.get(k) == b[k], f"unaffected cell file rewritten: {k}"


def _survivors(col):
    return (F.col(col) % 10 != 0) & (F.col(col) % 10 != R.RETRACT_MOD)


def test_sig_gate_probe_equals_survivor_rebuild(spark, tmp_path):
    paths = R.retracted_artifact_paths(spark, SF_DIR)
    reb = str(tmp_path / "sig")
    D.simhash_bands(D.simhash_sigs(spark, SF_DIR)).filter(
        _survivors("doc_id")
    ).write.partitionBy("band_id").parquet(reb)
    got = sorted(
        tuple(r) for r in D.dedup_incremental_simhash_artifact(
            spark, SF_DIR, paths["sig"]
        ).collect()
    )
    want = sorted(
        tuple(r) for r in D.dedup_incremental_simhash_artifact(
            spark, SF_DIR, reb
        ).collect()
    )
    assert got == want and got


def test_minhash_gate_probe_equals_survivor_rebuild(spark, tmp_path):
    paths = R.retracted_artifact_paths(spark, SF_DIR)
    reb = str(tmp_path / "mh")
    sh = D.doc_shingles(spark, SF_DIR).filter(_survivors("doc_id"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    D.minhash_bands(D.minhash_sigs(sh)).join(sizes, "doc_id").select(
        "doc_id", "sig", "n_sh", "band_id"
    ).write.partitionBy("band_id").parquet(reb)
    got = sorted(
        tuple(r) for r in D.dedup_incremental_minhash_artifact(
            spark, SF_DIR, paths["minhash"]
        ).collect()
    )
    want = sorted(
        tuple(r) for r in D.dedup_incremental_minhash_artifact(
            spark, SF_DIR, reb
        ).collect()
    )
    assert got == want


def test_passage_gate_probe_equals_survivor_rebuild(spark, tmp_path):
    from quty_server_spark.operators._helpers import load_table

    paths = R.retracted_artifact_paths(spark, SF_DIR)
    reb = str(tmp_path / "pw")
    d = load_table(spark, SF_DIR, "documents").filter(_survivors("doc_id"))
    D._passage_windows(d).select(
        "doc_id", "passage_md5", D._passage_pfx()
    ).write.partitionBy("pfx").parquet(reb)
    got = sorted(
        tuple(r) for r in D.dedup_incremental_passages(
            spark, SF_DIR, paths["passage"]
        ).collect()
    )
    want = sorted(
        tuple(r) for r in D.dedup_incremental_passages(
            spark, SF_DIR, reb
        ).collect()
    )
    assert got == want and got


def test_embedding_gate_probe_equals_survivor_rebuild(spark, tmp_path):
    import shutil

    base = S.IVF_FAMILY.build(spark, SF_DIR)
    paths = R.retracted_artifact_paths(spark, SF_DIR)
    reb = str(tmp_path / "ivf")
    cent = spark.read.parquet(os.path.join(base, "_centroids"))
    surv = S._corpus(spark, SF_DIR).filter(
        F.col("vec_id") % 10 != R.RETRACT_MOD
    )
    # Frozen-quantizer rebuild: survivors assigned against the BASE
    # build's centroid sidecar — the same contract the retraction keeps.
    S._ivf_cells_plan(surv, cent).write.partitionBy("cell").parquet(reb)
    shutil.copytree(
        os.path.join(base, "_centroids"), os.path.join(reb, "_centroids")
    )
    got = sorted(
        tuple(r) for r in S.dedup_incremental_embedding_artifact(
            spark, SF_DIR, paths["ivf"]
        ).collect()
    )
    want = sorted(
        tuple(r) for r in S.dedup_incremental_embedding_artifact(
            spark, SF_DIR, reb
        ).collect()
    )
    assert got == want


def test_unretracted_gate_is_poisoned(spark):
    # The counterexample that makes retraction a correctness feature,
    # not hygiene: the gate against the UN-retracted artifact still
    # reports matches onto removed documents; the retracted artifact
    # reports none.
    paths = R.retracted_artifact_paths(spark, SF_DIR)
    full = D.dedup_incremental_simhash_artifact(spark, SF_DIR)
    poisoned = full.filter(
        F.col("lake_doc_id") % 10 == R.RETRACT_MOD
    ).count()
    assert poisoned > 0, "fixture has no victim gate hit — vacuous"
    clean = (
        D.dedup_incremental_simhash_artifact(spark, SF_DIR, paths["sig"])
        .filter(F.col("lake_doc_id") % 10 == R.RETRACT_MOD)
        .count()
    )
    assert clean == 0
    # Same shape for the embedding family.
    emb_poisoned = (
        S.dedup_incremental_embedding_artifact(spark, SF_DIR)
        .filter(F.col("lake_vec_id") % 10 == R.RETRACT_MOD)
        .count()
    )
    assert emb_poisoned > 0
    emb_clean = (
        S.dedup_incremental_embedding_artifact(spark, SF_DIR, paths["ivf"])
        .filter(F.col("lake_vec_id") % 10 == R.RETRACT_MOD)
        .count()
    )
    assert emb_clean == 0


def test_label_retract_content_equals_survivor_rebuild(spark):
    # Sorted LISTS (duplicate appends must fail) — the content-grade
    # form of the registered oracle's summary, plus the split case:
    # the staged C–bridge–D cluster comes back as two clusters.
    path = R.retracted_cluster_labels_artifact(spark, SF_DIR, rebuild=True)
    got = sorted(
        (r.node, r.lbl)
        for r in spark.read.parquet(path).select("node", "lbl").collect()
    )
    docs = R.retract_staged_documents(spark, SF_DIR).filter(
        F.col("doc_id") % 10 != R.RETRACT_MOD
    )
    sigs = D.simhash_sigs_docs(docs).filter(F.col("doc_id") % 10 != 0)
    want = sorted(
        (r.node, r.lbl)
        for r in D._labels_from_sigs(spark, sigs).collect()
    )
    assert got == want and got
    labels = dict(got)
    assert labels[9003011] == 9003001 and labels[9003017] == 9003007
    assert 9003013 not in labels


def test_label_retract_sidecar_consistent(spark):
    # Every (lbl, bucket) the artifact holds is recorded in the sidecar
    # and vice versa — the invariant round-N maintenance reads rely on.
    path = R.retracted_cluster_labels_artifact(spark, SF_DIR)
    art = {
        (r.lbl, r.lbl_bucket)
        for r in spark.read.parquet(path)
        .select("lbl", "lbl_bucket").distinct().collect()
    }
    homes = {
        (r.lbl, r.lbl_bucket)
        for r in spark.read.parquet(
            os.path.join(path, "_label_homes")
        ).collect()
    }
    assert art == homes and art


def test_label_retract_idempotent(spark):
    # A replayed retraction night (same victim set) must be a no-op:
    # the victims have no rows left, so nothing is located, scoped,
    # rewritten, or appended.
    path = R.retracted_cluster_labels_artifact(spark, SF_DIR)
    content = lambda: sorted(  # noqa: E731
        (r.node, r.lbl)
        for r in spark.read.parquet(path).select("node", "lbl").collect()
    )
    c1 = content()
    docs = R.retract_staged_documents(spark, SF_DIR)
    victims = docs.filter(F.col("doc_id") % 10 == R.RETRACT_MOD).select(
        "doc_id"
    )
    R.apply_cluster_label_retraction(spark, path, victims, docs)
    assert content() == c1


def test_tombstone_touches_no_data_files(spark):
    # The instant half's whole point: tombstoning writes ONLY the
    # sidecar — every data file stays byte-identical to the base
    # build's, in every family.
    bases = {
        "sig": D.SIG_FAMILY.build(spark, SF_DIR),
        "minhash": D.MINHASH_FAMILY.build(spark, SF_DIR),
        "passage": D.PASSAGE_FAMILY.build(spark, SF_DIR),
        "ivf": S.IVF_FAMILY.build(spark, SF_DIR),
    }
    paths = R.tombstoned_artifact_paths(spark, SF_DIR, rebuild=True)
    for fam, p in paths.items():
        b = {
            k: v for k, v in _file_md5s(bases[fam]).items()
            if "_tombstones" not in k
        }
        a = {
            k: v for k, v in _file_md5s(p).items()
            if "_tombstones" not in k
        }
        assert a == b and a, fam
        assert os.path.isdir(os.path.join(p, "_tombstones")), fam


def test_tombstone_live_view_equals_physical_retract(spark):
    # merge-on-read == copy-on-write: the tombstone-aware live view of
    # each family equals the physically retracted artifact row-for-row.
    tomb = R.tombstoned_artifact_paths(spark, SF_DIR)
    phys = R.retracted_artifact_paths(spark, SF_DIR)
    for fam, f in R.ARTIFACT_FAMILIES.items():
        part, id_col, _ = f.family.layout
        got = sorted(
            tuple(r)
            for r in R.read_artifact_live(spark, tomb[fam], id_col)
            .select(id_col, part)
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in spark.read.parquet(phys[fam])
            .select(id_col, part)
            .collect()
        )
        assert got == want and got, fam


def test_compaction_preserves_live_view_and_clears_sidecar(spark, tmp_path):
    # Scheduled compaction applies the tombstones physically: the live
    # view is INVARIANT across it, the sidecar is gone afterwards (the
    # post-compaction live view is a plain read), and a second
    # compaction is a no-op.
    import shutil as sh

    src = R.tombstoned_artifact_paths(spark, SF_DIR)["passage"]
    p = str(tmp_path / "pw")
    sh.copytree(src, p)
    layout = R.ARTIFACT_FAMILIES["passage"].family.layout
    id_col = layout.id_col
    before = sorted(
        tuple(r)
        for r in R.read_artifact_live(spark, p, id_col).collect()
    )
    R.compact_tombstones(spark, p, layout)
    assert not os.path.isdir(os.path.join(p, "_tombstones"))
    after = sorted(
        tuple(r) for r in spark.read.parquet(p).collect()
    )
    assert after == before and after
    R.compact_tombstones(spark, p, layout)  # no-op
    assert sorted(
        tuple(r) for r in spark.read.parquet(p).collect()
    ) == before


def test_compacted_sink_clears_every_family_sidecar(spark):
    # The registered compaction sink must leave all four families
    # physically retracted: no _tombstones sidecar anywhere, and the
    # plain read equal to the tombstone-aware live view (which is then
    # a plain read by definition).
    R.sink_lake_artifacts_retract_compacted(spark, SF_DIR).collect()
    paths = R.tombstoned_artifact_paths(spark, SF_DIR)  # memo hit
    for fam, p in paths.items():
        assert not os.path.isdir(os.path.join(p, TOMBSTONES)), fam
        def _norm(rows):
            return {
                tuple(
                    tuple(x) if isinstance(x, list) else x for x in r
                )
                for r in rows
            }

        plain = _norm(spark.read.parquet(p).collect())
        live = _norm(
            R.read_artifact_live(
                spark, p, R.ARTIFACT_FAMILIES[fam].family.layout.id_col
            ).collect()
        )
        assert plain == live, fam


def test_tombstone_write_is_idempotent(spark, tmp_path):
    # The streaming retraction's replay-safety claim reduces to this:
    # re-unioning the same victim ids leaves the sidecar (and therefore
    # every live view) unchanged.
    p = str(tmp_path / "art")
    spark.range(0, 100).selectExpr(
        "id AS doc_id", "id % 4 AS band_id", "id * 7 AS band_val"
    ).write.partitionBy("band_id").parquet(p)
    vic = spark.range(0, 100, 10).selectExpr("id AS doc_id")
    R._write_tombstones(spark, p, vic)
    first = sorted(
        r.victim_id
        for r in spark.read.parquet(os.path.join(p, TOMBSTONES)).collect()
    )
    R._write_tombstones(spark, p, vic)  # the replay
    second = sorted(
        r.victim_id
        for r in spark.read.parquet(os.path.join(p, TOMBSTONES)).collect()
    )
    assert first == second == list(range(0, 100, 10))
    live = R.read_artifact_live(spark, p, "doc_id")
    assert live.count() == 90


def test_sidecar_round_trip(spark, tmp_path):
    # What write_sidecar writes, read_sidecar reads back row for row,
    # and a second write replaces the first whole.
    p = str(tmp_path / "art")
    rows = [(i, i % 3) for i in range(7)]
    first = spark.createDataFrame(rows, "lbl long, lbl_bucket int")
    write_sidecar(first.repartition(3), p, "_label_homes")
    back = read_sidecar(spark, p, "_label_homes")
    assert back.columns == ["lbl", "lbl_bucket"]
    assert sorted(tuple(r) for r in back.collect()) == rows
    write_sidecar(first.limit(2).coalesce(1), p, "_label_homes")
    assert read_sidecar(spark, p, "_label_homes").count() == 2


def test_media_artifact_retraction_live_equals_compacted_equals_rebuilt(spark):
    """The media family's retraction contract, at the strongest grain:
    the tombstone LIVE view, the physically COMPACTED artifact, and a
    from-scratch SURVIVOR rebuild hold the identical row set — and the
    victim set is non-empty (lake originals and lake-resident twins
    both carry the RETRACT_MOD residue)."""
    import shutil

    from pyspark.sql import functions as F

    from quty_server_spark.operators.multimodal import (
        media_sig_bands,
        MEDIA_SIG_FAMILY,
        percep_media_universe,
    )
    from quty_server_spark.operators.retract import (
        RETRACT_MOD,
        _copy_artifact,
        _write_tombstones,
        compact_tombstones,
        read_artifact_live,
    )
    from quty_server_spark.session import session_tmp_dir
    from tests.conftest import SF_DIR

    src = MEDIA_SIG_FAMILY.build(spark, SF_DIR, rebuild=True)
    priv = session_tmp_dir(spark, "quty_media_sig_rt_test", SF_DIR)
    shutil.rmtree(priv, ignore_errors=True)
    _copy_artifact(src, priv)
    uni = percep_media_universe(spark, SF_DIR)
    victims = uni.filter(F.col("doc_id") % 10 == RETRACT_MOD).select("doc_id")
    assert victims.count() > 0
    _write_tombstones(spark, priv, victims)

    cols = ["doc_id", "sig", "band_id", "band_val"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    live = rows(read_artifact_live(spark, priv, "doc_id"))
    surv_uni = uni.filter(
        (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != RETRACT_MOD)
    )
    rebuilt = rows(media_sig_bands(spark, SF_DIR, docs=surv_uni))
    assert live == rebuilt and live
    compact_tombstones(spark, priv, D.SIG)
    compacted = rows(spark.read.parquet(priv))
    assert compacted == live
    shutil.rmtree(priv, ignore_errors=True)


def test_overlapped_sink_equals_sequential_summary_composition(spark):
    # r17 continuation pin: the sink materializes each family's tagged
    # summary INSIDE that family's rebuild thread (the post hook on
    # retracted_artifact_paths) — this pins that the overlapped path's
    # output is row-for-row the original sequential composition
    # (_tagged_retract_summary over the same rebuilt artifacts), so a
    # future edit to the hook or the union order cannot silently drift
    # from the shared oracle contract.
    from quty_server_spark.operators.retract import (
        _tagged_retract_summary,
        retracted_artifact_paths,
        sink_lake_artifacts_retract,
    )

    got = sorted(
        tuple(r) for r in sink_lake_artifacts_retract(spark, SF_DIR).collect()
    )
    paths = retracted_artifact_paths(spark, SF_DIR)  # memo from the sink
    want = sorted(
        tuple(r)
        for r in _tagged_retract_summary(
            {k: spark.read.parquet(p) for k, p in paths.items()}
        ).collect()
    )
    assert got == want
    assert len(got) > 0
