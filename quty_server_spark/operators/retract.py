"""Retraction: oracle-verified DELETE propagation through the artifact
tier. A document REMOVED from the lake (takedown, license revocation,
PII purge) must not keep poisoning the nightly gates through its
leftover band rows, minhash rows, IVF postings, and passage digests,
and the clusters it bridged must be re-labeled (a removal can SPLIT a
component).

Physical device: the home-bucket/DPP rewrite the relabel APPLY proved
(operators/dedup.py apply_cluster_label_maintenance) — read ONLY the
partitions holding victim rows (a broadcast join on the partition
column, dynamic partition pruning keeps every other directory unread),
drop the victims with a broadcast anti-join, and overwrite those
partitions in place (``Layout.replace`` from operators/_helpers.py,
which also removes the partitions whose every row was a victim).

Cost follows the victim set, not the lake, wherever the partition key
can be derived from the victims themselves: the PASSAGE artifact's
digest-prefix dirs come from windowing the victims' own text
(|victims| work — a takedown request carries the document, or it is
fetched by id before deletion), and the IVF artifact's cells come from
assigning the victims' vectors against the K-row centroid SIDECAR. The
two BAND artifacts are content-hash partitioned (band_id), so any
victim touches every band directory — the retraction there is one
columnar anti-join pass over the artifact, the unavoidable floor
without a doc-keyed sublayout and the reason production lakes
tombstone-then-compact; the pass is still shuffle-free (victims
broadcast) and preserves the within-file sort contract.

Quantizer note: IVF retraction drops posting rows but does NOT retrain
the coarse quantizer (the centroid sidecar is untouched) — the same
freeze contract the append sink relies on. A PII-grade purge of
centroid VECTORS themselves is a quantizer retrain, i.e. a scheduled
index rebuild — the compaction-tier hygiene the label family already
prices.

Cluster-label retraction re-labels ONLY the affected clusters: victims'
labels are located with one narrow columnar (node, lbl) scan (the
unavoidable read given only doc ids; a node-grain sidecar would remove
it), the affected labels' home buckets come from the ``_label_homes``
sidecar (a DPP-pruned read, never a lake scan), and the surviving
members are re-clustered from their OWN signatures through the exact
labeling core every other consumer shares
(:func:`~quty_server_spark.operators.dedup._labels_from_sigs`).
Removing nodes only removes edges, so affected clusters can only stay,
split, or dissolve — no new cross-cluster edge can appear, which is
what makes the affected-clusters-only recompute equal to a full one
(pinned in tests/test_retract_semantics.py).

Reference analog: quty-server's unsubscribe/kick cascade
(lib/ChannelHub.js:141-210) removes a client from every channel it
touched — this module is that verb lifted to the artifact tier.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from functools import partial, reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from quty_server_spark.operators._helpers import (
    CENTROIDS,
    LABEL_HOMES,
    TOMBSTONES,
    ArtifactFamily,
    Layout,
    load_table,
    overlap,
    read_sidecar,
    write_sidecar,
)
from quty_server_spark.operators.dedup import (
    _BRIDGE_FILL,
    _BRIDGE_WA,
    _BRIDGE_WB,
    _labels_from_sigs,
    _passage_pfx,
    _passage_windows,
    _write_home_bucket_layout,
    HAMMING_MAX,
    LABELS,
    MINHASH_FAMILY,
    N_BANDS,
    PASSAGE_FAMILY,
    SIG_FAMILY,
    SIMHASH_BANDS,
    simhash_sigs_docs,
    SQL_SIMHASH,
)
from quty_server_spark.operators.similarity import (
    _corpus,
    _ivf_cells_plan,
    IVF_FAMILY,
)
from quty_server_spark.plans.registry import registry
from quty_server_spark.session import (
    fresh_tmp_dir,
    session_artifact,
    session_memo,
)

# The deterministic victim set: lake docs / vectors with id % 10 == 3.
# Disjoint from tonight's shard (% 10 == 0) and yesterday's append batch
# (% 10 == 5), so the retraction composes with both standing lifecycle
# fixtures; ~10% of the lake, so every family's removal is non-vacuous
# on the driver corpus at every SF.
RETRACT_MOD = 3

# Staged split fixture (same device as dedup.STAGED_BRIDGE_ROWS, and the
# same probed token trio): two 2-doc lake clusters C and D at SimHash
# distance 6 (never pair directly) plus a LAKE-resident bridge at
# distance 3 from each — all five stored in the standing label artifact
# as ONE cluster. The bridge's id is ≡ RETRACT_MOD (mod 10), so the
# retraction removes exactly the articulation point and the cluster must
# SPLIT into {C}, {D} — guaranteed on any fixture corpus.
RETRACT_STAGED_ROWS: list[tuple[int, str]] = [
    (9003001, " ".join([_BRIDGE_WA] * 10)),  # cluster C
    (9003011, " ".join([_BRIDGE_WA] * 10)),
    (9003007, " ".join([_BRIDGE_WB] * 10)),  # cluster D
    (9003017, " ".join([_BRIDGE_WB] * 10)),
    # lake bridge — the victim (9003013 % 10 == RETRACT_MOD)
    (9003013, " ".join([_BRIDGE_WA] * 10 + [_BRIDGE_WB] * 10 + [_BRIDGE_FILL])),
]


def retract_staged_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with the five RETRACT_STAGED_ROWS appended —
    the Spark twin of SQL_DOCS_RSTAGED (same plan-shape argument as
    :func:`~quty_server_spark.operators.dedup.staged_documents`)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        RETRACT_STAGED_ROWS, "doc_id long, text string"
    )
    return d.unionByName(extra)


def _doc_victims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Victim doc ids (broadcast-sized: takedown sets are small by
    nature — a mass purge is a rebuild, not a retraction)."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == RETRACT_MOD)
        .select("doc_id")
    )


def _victims(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The checkpointed victim ids of each victim kind: ``doc`` ids for
    the doc-keyed families, ``vec`` ids for IVF."""
    vvec = _corpus(spark, sf_dir).filter(F.col("vec_id") % 10 == RETRACT_MOD)
    return {
        "doc": _doc_victims(spark, sf_dir).localCheckpoint(eager=True),
        "vec": vvec.select("vec_id").localCheckpoint(eager=True),
    }


def _retract_rows(
    spark: SparkSession,
    path: str,
    layout: Layout,
    affected: DataFrame,
    victims: DataFrame,
) -> None:
    """The shared physical DELETE: read ONLY the affected partitions
    (broadcast join on the partition column — DPP keeps every other
    directory unread, plan-pinned in tests/test_scale_plans.py), drop
    victim rows (broadcast anti-join), and rewrite those partitions in
    place through :meth:`Layout.replace`, which keeps the within-file
    sort contract and removes the partitions left with zero rows."""
    part, id_col = layout.part, layout.id_col
    part_type = dict(spark.read.parquet(path).dtypes)[part]
    affected = affected.select(
        F.col(part).cast(part_type).alias(part)
    ).distinct()
    # Materialize BEFORE overwriting: Spark (correctly) refuses a plan
    # that overwrites a path it is also reading. ONE eager checkpoint of
    # the post-anti-join survivors suffices (the anti-join is a map-side
    # broadcast probe, so folding it into the same pass adds no shuffle).
    touched = _retract_touched_rows(spark, path, part, affected)
    kept = touched.join(
        broadcast(victims.withColumnRenamed(victims.columns[0], id_col)),
        id_col,
        "left_anti",
    ).localCheckpoint(eager=True)
    layout.replace(kept, path, affected)


def _retract_touched_rows(
    spark: SparkSession, path: str, part_col: str, affected: DataFrame
) -> DataFrame:
    """The retraction's ENTIRE artifact read: the partitioned artifact
    joined (broadcast) against the affected-partition set on the
    partition column — dynamic partition pruning keeps every unaffected
    directory unread (plan-pinned in tests/test_scale_plans.py).
    Factored out because :func:`_retract_rows` checkpoints it
    immediately (an RDD leaf is opaque to explain), so the pin targets
    this builder — the same convention as
    dedup._maintenance_touched_rows."""
    return spark.read.parquet(path).join(broadcast(affected), part_col)


def _every_band(
    n_bands: int, spark: SparkSession, sf_dir: str, path: str,
    victims: DataFrame,
) -> DataFrame:
    """A band artifact's affected partitions: band_id is content-keyed,
    so any victim has a row in every one of the ``n_bands`` partitions."""
    return spark.range(n_bands).select(
        F.col("id").cast("int").alias("band_id")
    )


def _victim_prefixes(
    spark: SparkSession, sf_dir: str, path: str, victims: DataFrame
) -> DataFrame:
    """The passage artifact's affected partitions: the digest prefixes
    of the victims' OWN windows (|victims| work), so the other
    directories are never read. The selective filter makes Spark insert
    the DPP subquery (same device as the maintenance rewrite)."""
    vdocs = load_table(spark, sf_dir, "documents").join(
        broadcast(victims), "doc_id", "leftsemi"
    )
    return (
        _passage_windows(vdocs)
        .select(_passage_pfx())
        .distinct()
        .filter(F.col("pfx") >= "0")
    )


def _victim_cells(
    spark: SparkSession, sf_dir: str, path: str, victims: DataFrame
) -> DataFrame:
    """The IVF artifact's affected partitions: the victims' vectors
    assigned against the artifact's K-row centroid SIDECAR (never a
    posting scan); the quantizer itself is NOT retrained."""
    vvec = _corpus(spark, sf_dir).filter(F.col("vec_id") % 10 == RETRACT_MOD)
    cent = read_sidecar(spark, path, CENTROIDS)
    return (
        _ivf_cells_plan(vvec, cent)
        .select("cell")
        .distinct()
        .filter(F.col("cell") >= 0)
    )


class Retraction(NamedTuple):
    """How the retraction tier removes victims from one standing
    artifact family."""

    family: ArtifactFamily
    # Which victim ids the family holds: "doc" or "vec".
    victim: str
    # (spark, sf_dir, path, victims) -> the partitions a retraction
    # must read and rewrite.
    affected: Callable[..., DataFrame]
    # The family summary's columns feeding the tagged shape's
    # (part_key, n_rows, n_keys, n_docs, extra); None means a NULL extra.
    tags: tuple[str, str, str, str, str | None]


# The four standing families, in the tagged summary's union order.
ARTIFACT_FAMILIES: dict[str, Retraction] = {
    "sig": Retraction(
        SIG_FAMILY, "doc", partial(_every_band, SIMHASH_BANDS),
        ("band_id", "n_rows", "n_buckets", "n_docs", None),
    ),
    "minhash": Retraction(
        MINHASH_FAMILY, "doc", partial(_every_band, N_BANDS),
        ("band_id", "n_rows", "n_buckets", "n_docs", "sum_nsh"),
    ),
    "passage": Retraction(
        PASSAGE_FAMILY, "doc", _victim_prefixes,
        ("pfx", "n_rows", "n_digests", "n_docs", None),
    ),
    "ivf": Retraction(
        IVF_FAMILY, "vec", _victim_cells,
        ("cell", "n_vecs", "n_vecs", "n_vecs", "n_queries"),
    ),
}


def _copy_artifact(src: str, dst: str) -> None:
    """Byte-faithful private copy of a standing artifact. The retract
    queries operate on a copy because the base builders' session memos
    are shared by every other registered query — in production the
    retraction runs on the standing artifact in place; the copy keeps
    the untouched-files byte-identity pin meaningful (the unaffected
    files ARE the original build's bytes). ``dst`` must not exist."""
    shutil.copytree(src, dst)


def retracted_artifact_paths(
    spark: SparkSession, sf_dir: str, rebuild: bool = False,
    post: "callable | None" = None,
) -> dict[str, str]:
    """Private copies of the four standing artifacts with the victim
    set physically retracted from each, in a :func:`session_memo`.

    The four family retractions share NOTHING but the victim frames
    (checkpointed up front), so they run as four concurrent legs; the
    four BASE artifacts are materialized serially FIRST so the legs
    never race to first-build a shared memoized path.

    ``post`` is an optional ``(family, path) -> None`` callback applied
    inside each family's leg right after its rewrite lands — the
    retract sink passes its per-family summary materializer here so the
    early families' summaries overlap the slowest family's rewrite. The
    callback's effects are per-call (the memo stores paths only); on a
    memo hit without a rebuild the callback runs serially over the
    cached paths."""
    built = False

    def _build() -> dict[str, str]:
        nonlocal built
        built = True
        victims = _victims(spark, sf_dir)
        # Base-artifact pre-warm (serial): memoized builders are not
        # safe to FIRST-build from two threads.
        base = {
            fam: f.family.build(spark, sf_dir)
            for fam, f in ARTIFACT_FAMILIES.items()
        }

        def _leg(fam: str) -> str:
            f = ARTIFACT_FAMILIES[fam]
            vic = victims[f.victim]
            p = fresh_tmp_dir(spark, f"quty_retract_{fam}", sf_dir)
            _copy_artifact(base[fam], p)
            _retract_rows(
                spark, p, f.family.layout, f.affected(spark, sf_dir, p, vic),
                vic,
            )
            if post is not None:
                post(fam, p)
            return p

        legs = [partial(_leg, fam) for fam in ARTIFACT_FAMILIES]
        return dict(zip(ARTIFACT_FAMILIES, overlap(*legs)))

    paths = session_memo(spark, "retract_artifacts", sf_dir, _build, rebuild)
    if not built and post is not None:
        for fam, p in paths.items():
            post(fam, p)
    return paths


def _tagged_summary_sql(fam: str, r: Retraction) -> str:
    """ONE family's write-once oracle scoped to the survivors (id % 10
    <> RETRACT_MOD), in the unified tagged shape."""
    part, n_rows, n_keys, n_docs, extra = r.tags
    pred = f"{r.family.layout.id_col} % 10 <> {RETRACT_MOD}"
    return f"""
    SELECT '{fam}' AS family,
           CAST({part} AS VARCHAR) AS part_key,
           CAST({n_rows} AS BIGINT) AS n_rows,
           CAST({n_keys} AS BIGINT) AS n_keys,
           CAST({n_docs} AS BIGINT) AS n_docs,
           CAST({extra or "NULL"} AS BIGINT) AS extra
    FROM ({r.family.summary_sql(pred)}) s"""


# Combined per-partition summary of the four retracted artifacts, in one
# unified (family, part_key, n_rows, n_keys, n_docs, extra) shape. Each
# family's branch is its write-once sink's oracle over the SURVIVORS —
# for IVF with the centroid set of the ORIGINAL corpus (the frozen-
# quantizer contract). A green row therefore proves retracted ≡
# rebuilt-on-survivors for every family at once.
SQL_RETRACT_SUMMARY = "\n    UNION ALL".join(
    _tagged_summary_sql(fam, r) for fam, r in ARTIFACT_FAMILIES.items()
)


@registry.query(
    "sink_lake_artifacts_retract",
    oracle=SQL_RETRACT_SUMMARY,
)
def sink_lake_artifacts_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retract the victim set from all four standing artifact families
    (forced rebuild of the private copies — this IS the takedown job),
    read each result back, and report the four per-partition summaries
    in one tagged frame. The oracle recomputes every summary from the
    base tables over the survivors, so a green row proves retracted ≡
    rebuilt-on-survivors for band rows, minhash rows, passage digests,
    AND IVF postings (the last under the frozen-quantizer contract the
    append sink also relies on). Probe equality and the poisoned-gate
    counterexample are additionally pinned in
    tests/test_retract_semantics.py.

    Scale: per family, cost follows the victims — sidecar/window-derived
    partition sets with DPP-pruned reads for passage and IVF; one
    shuffle-free columnar anti-join pass for the two content-hash-
    partitioned band families (the documented floor); zero read or
    rewrite of any unaffected passage prefix or IVF cell directory
    (untouched files byte-identical, pinned).

    Each family's read-back + summary aggregation is materialized
    inside that family's rebuild leg (the ``post`` hook), so the early
    families' summaries run while the slowest family is still
    rewriting; the union order stays fixed."""
    summaries: dict[str, DataFrame] = {}

    def _post(fam: str, p: str) -> None:
        summaries[fam] = _tagged_family_summary(
            fam, spark.read.parquet(p)
        ).localCheckpoint(eager=True)

    retracted_artifact_paths(spark, sf_dir, rebuild=True, post=_post)
    return reduce(
        DataFrame.unionByName, (summaries[fam] for fam in ARTIFACT_FAMILIES)
    )


def _tagged_family_summary(fam: str, frame: DataFrame) -> DataFrame:
    """ONE family's per-partition summary in the unified tagged shape —
    the per-family unit of :func:`_tagged_retract_summary`, factored out
    so the physical retract sink can materialize each family's summary
    inside that family's rebuild leg."""
    f = ARTIFACT_FAMILIES[fam]
    part, n_rows, n_keys, n_docs, extra = f.tags
    return f.family.summary(frame).select(
        F.lit(fam).alias("family"),
        F.col(part).cast("string").alias("part_key"),
        F.col(n_rows).cast("bigint").alias("n_rows"),
        F.col(n_keys).cast("bigint").alias("n_keys"),
        F.col(n_docs).cast("bigint").alias("n_docs"),
        (F.col(extra) if extra else F.lit(None)).cast("bigint").alias("extra"),
    )


def _tagged_retract_summary(frames: dict[str, DataFrame]) -> DataFrame:
    """The four families' per-partition summaries in one unified tagged
    frame — shared by the physical retract sink (plain artifact reads)
    and the tombstone sink (tombstone-aware live views), so both report
    under the identical oracle contract."""
    return reduce(
        DataFrame.unionByName,
        (_tagged_family_summary(f, frames[f]) for f in ARTIFACT_FAMILIES),
    )


# ---------------------------------------------------------------------------
# Tombstone tier: O(victims) instant retraction, compacted later
# ---------------------------------------------------------------------------

# The deletion-vector device (Delta/Iceberg's): a takedown must take
# effect IMMEDIATELY, but the physical rewrite above costs at least the
# affected partitions. The tombstone path writes ONLY the victim id
# list (an underscore-prefixed sidecar, invisible to plain partition
# readers like _label_homes and _centroids); every consumer reads the
# artifact through the live view (artifact ANTI-JOIN broadcast
# tombstones — a map-side filter, no shuffle, no extra scan), and a
# scheduled COMPACTION applies the tombstones physically with the exact
# rewrite device above and clears the sidecar. Write cost: O(victims),
# zero artifact files touched (byte-identity of EVERY data file pinned
# in tests/test_retract_semantics.py); read cost: one broadcast hash
# probe per row until compaction.

def read_artifact_live(
    spark: SparkSession, path: str, id_col: str
) -> DataFrame:
    """The tombstone-aware view of an artifact: all rows whose id is
    not tombstoned. Plain read when no sidecar exists, so consumers can
    adopt this reader unconditionally."""
    art = spark.read.parquet(path)
    if not os.path.isdir(os.path.join(path, TOMBSTONES)):
        return art
    tomb = read_sidecar(spark, path, TOMBSTONES).select(
        F.col("victim_id").alias(id_col)
    )
    return art.join(broadcast(tomb), id_col, "left_anti")


def _write_tombstones(
    spark: SparkSession, path: str, victims: DataFrame
) -> None:
    """Idempotent O(victims) tombstone write: union with any standing
    sidecar, distinct, rewrite whole (the sidecar is victim-list-sized
    metadata, like _label_homes)."""
    new = victims.select(
        F.col(victims.columns[0]).cast("long").alias("victim_id")
    )
    if os.path.isdir(os.path.join(path, TOMBSTONES)):
        new = (
            new.unionByName(read_sidecar(spark, path, TOMBSTONES))
            .distinct()
            .localCheckpoint(eager=True)
        )
    write_sidecar(new, path, TOMBSTONES)


def tombstoned_copy(
    spark: SparkSession, src: str, dst: str,
    victims: DataFrame | None = None,
) -> str:
    """A private copy (:func:`_copy_artifact`) of the standing artifact
    at ``src`` written to ``dst``, with ``victims`` tombstoned — or
    none yet when omitted (the retraction stream tombstones per epoch).
    Returns ``dst``."""
    _copy_artifact(src, dst)
    if victims is not None:
        _write_tombstones(spark, dst, victims)
    return dst


def compact_tombstones(spark: SparkSession, path: str, layout: Layout) -> None:
    """Scheduled compaction: apply the standing tombstones physically
    (the exact :func:`_retract_rows` device) and clear the sidecar.
    The affected-partition set comes from one narrow columnar pass of
    (id, partition) semi-joined against the broadcast tombstones — the
    compaction job reads those partitions to rewrite them anyway. The
    live view is invariant across compaction (pinned)."""
    tp = os.path.join(path, TOMBSTONES)
    if not os.path.isdir(tp):
        return
    tomb = read_sidecar(spark, path, TOMBSTONES).localCheckpoint(eager=True)
    vic = tomb.select(F.col("victim_id").alias(layout.id_col))
    affected = (
        spark.read.parquet(path)
        .select(layout.id_col, layout.part)
        .join(broadcast(vic), layout.id_col, "leftsemi")
        .select(layout.part)
        .distinct()
        .localCheckpoint(eager=True)
    )
    _retract_rows(spark, path, layout, affected, vic)
    shutil.rmtree(tp, ignore_errors=True)


def tombstoned_artifact_paths(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> dict[str, str]:
    """Private copies of the four standing artifacts with the victim
    set TOMBSTONED (sidecar only — every data file byte-identical to
    the base build's), in a :func:`session_memo`."""

    def _build() -> dict[str, str]:
        victims = _victims(spark, sf_dir)
        return {
            fam: tombstoned_copy(
                spark,
                f.family.build(spark, sf_dir),
                fresh_tmp_dir(spark, f"quty_tomb_{fam}", sf_dir),
                victims[f.victim],
            )
            for fam, f in ARTIFACT_FAMILIES.items()
        }

    return session_memo(spark, "tombstone_artifacts", sf_dir, _build, rebuild)


@registry.query(
    "sink_lake_artifacts_retract_tombstone",
    oracle=SQL_RETRACT_SUMMARY,
)
def sink_lake_artifacts_retract_tombstone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The INSTANT half of the retraction lifecycle: tombstone the
    victim set in all four standing artifact families (an O(victims)
    sidecar write — zero data files touched, byte-identity of every
    file pinned), then report the four per-partition summaries read
    through the tombstone-aware live view. The oracle is byte-identical
    to :func:`sink_lake_artifacts_retract`'s survivors recompute, so a
    green row proves the live view ≡ physical retract ≡ rebuilt — the
    deletion-vector contract: takedown effect is immediate, the
    partition rewrites are deferred to scheduled compaction
    (:func:`compact_tombstones`, whose live-view invariance and
    sidecar clearing are pinned in tests/test_retract_semantics.py).

    Scale: the write is the victim list; the read tax is one broadcast
    anti-join per consumer until compaction — the standard
    merge-on-read trade, priced against the physical sink's
    rewrite-now cost."""
    paths = tombstoned_artifact_paths(spark, sf_dir, rebuild=True)
    return _tagged_retract_summary(
        {
            fam: read_artifact_live(
                spark, p, ARTIFACT_FAMILIES[fam].family.layout.id_col
            )
            for fam, p in paths.items()
        }
    )


@registry.query(
    "sink_lake_artifacts_retract_compacted",
    oracle=SQL_RETRACT_SUMMARY,
)
def sink_lake_artifacts_retract_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DEFERRED half of the tombstone lifecycle, as its own oracle
    row: tombstone the victims (O(victims) sidecar, zero files touched),
    then run the scheduled COMPACTION on all four families
    (:func:`compact_tombstones` — the physical `_retract_rows` device
    scoped to the affected partitions, sidecar cleared) and report the
    four per-partition summaries from PLAIN artifact reads — no
    tombstone-aware view anywhere in the plan. Sharing
    :data:`SQL_RETRACT_SUMMARY` with the other two retraction sinks
    closes the triangle with oracle rows on every edge: live-view
    (tombstone sink) ≡ compacted-physical (this sink) ≡ physical-now
    (retract sink) ≡ rebuilt-on-survivors (the oracle itself). Sidecar
    clearing and live-view invariance across compaction are additionally
    pinned in tests/test_retract_semantics.py.

    Scale: compaction reads ONLY the affected partitions (one narrow
    (id, partition) columnar pass semi-joined against the broadcast
    tombstones derives the set — the compactor rewrites those
    partitions anyway) and rewrites them with the same DPP-scoped
    dynamic-overwrite device as the immediate retract; the read tax the
    tombstone tier charges every consumer disappears at the price of
    one scheduled job whose cost follows the victims, not the lake."""
    paths = tombstoned_artifact_paths(spark, sf_dir, rebuild=True)
    for fam, p in paths.items():
        compact_tombstones(spark, p, ARTIFACT_FAMILIES[fam].family.layout)
    return _tagged_retract_summary(
        {fam: spark.read.parquet(p) for fam, p in paths.items()}
    )


# ---------------------------------------------------------------------------
# Cluster-label retraction: relabel the clusters the removals split
# ---------------------------------------------------------------------------


def apply_cluster_label_retraction(
    spark: SparkSession, path: str, victims: DataFrame, docs: DataFrame
) -> None:
    """One retraction night against a home-bucket-partitioned label
    artifact at ``path`` (the layout of
    :func:`~quty_server_spark.operators.dedup.maintained_cluster_labels_artifact`):

    1. LOCATE: victims' current labels — one narrow columnar (node,
       lbl) scan semi-joined against the broadcast victim set (the
       unavoidable read given only doc ids).
    2. SCOPE: the affected labels' home buckets via the
       ``_label_homes`` sidecar — a DPP-pruned read of exactly those
       directories, never a lake scan.
    3. RE-CLUSTER: the affected clusters' surviving members are
       re-signed from their own text and re-labeled through the shared
       labeling core (dedup._labels_from_sigs). Removing nodes only
       removes edges, so clusters can only stay, SPLIT, or dissolve —
       no new cross-cluster edge can appear, which makes this
       affected-only recompute equal to a full one.
    4. REWRITE: the affected buckets are dynamically overwritten with
       the co-resident unaffected rows plus the relabeled survivors
       (rows keep their insert-time bucket, the maintained-artifact
       convention); buckets left empty are removed explicitly; the
       sidecar drops the retired labels and gains the new ones."""
    art = spark.read.parquet(path)
    homes = read_sidecar(spark, path, LABEL_HOMES)
    vic = victims.select(F.col(victims.columns[0]).alias("node"))
    aff_lbl = (
        art.join(broadcast(vic), "node", "leftsemi")
        .select("lbl")
        .distinct()
        .localCheckpoint(eager=True)
    )
    aff_buckets = (
        homes.join(broadcast(aff_lbl), "lbl", "leftsemi")
        .select("lbl_bucket")
        .distinct()
        # Selective Filter => Spark inserts the DPP subquery on the
        # partitioned scan (same device as the maintenance rewrite).
        .filter(F.col("lbl_bucket") >= 0)
    )
    touched = art.join(broadcast(aff_buckets), "lbl_bucket").localCheckpoint(
        eager=True
    )
    keep_rows = touched.join(broadcast(aff_lbl), "lbl", "left_anti")
    remaining = (
        touched.join(broadcast(aff_lbl), "lbl", "leftsemi")
        .join(broadcast(vic), "node", "left_anti")
        .select("node", "lbl_bucket")
        .localCheckpoint(eager=True)
    )
    mem_docs = docs.join(
        broadcast(remaining.select(F.col("node").alias("doc_id"))),
        "doc_id",
        "leftsemi",
    )
    new_labels = _labels_from_sigs(spark, simhash_sigs_docs(mem_docs))
    relabeled = (
        remaining.join(
            new_labels.withColumnRenamed("lbl", "new_lbl"), "node", "inner"
        )
        .select("node", F.col("new_lbl").alias("lbl"), "lbl_bucket")
        # Materialized: consumed by the bucket rewrite AND the sidecar
        # update — without this the member re-sign + BSP would run
        # twice.
        .localCheckpoint(eager=True)
    )
    out = (
        keep_rows.select("node", "lbl", "lbl_bucket")
        .unionByName(relabeled)
        .localCheckpoint(eager=True)
    )
    LABELS.replace(out, path, aff_buckets)
    # Retired labels leave the sidecar; the relabeled survivors' (new
    # label, insert-time bucket) pairs enter it. keep_rows' labels are
    # unaffected and already recorded, and a new label can never
    # collide with an unaffected cluster's (labels are min member ids
    # and clusters partition the nodes).
    new_homes = (
        homes.join(broadcast(aff_lbl), "lbl", "left_anti")
        .unionByName(relabeled.select("lbl", "lbl_bucket").distinct())
        .localCheckpoint(eager=True)
    )
    write_sidecar(new_homes, path, LABEL_HOMES)


def retracted_cluster_labels_artifact(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> str:
    """The standing lake label artifact (home-bucket layout, built over
    the retract-staged corpus so the split case is guaranteed) run
    through one retraction night. Content equals a fresh lake-only
    labeling of the survivors — the contract the retract sink's oracle
    verifies end to end."""

    def _write(path: str) -> None:
        docs = retract_staged_documents(spark, sf_dir)
        sigs = (
            simhash_sigs_docs(docs)
            .filter(F.col("doc_id") % 10 != 0)
            .localCheckpoint(eager=False)
        )
        _write_home_bucket_layout(_labels_from_sigs(spark, sigs), path)
        victims = docs.filter(
            F.col("doc_id") % 10 == RETRACT_MOD
        ).select("doc_id").localCheckpoint(eager=True)
        apply_cluster_label_retraction(spark, path, victims, docs)

    return session_artifact(
        spark, "quty_retract_clabels", sf_dir, _write, rebuild
    )


SQL_DOCS_RSTAGED = (
    "documents_rstaged AS (\n"
    "        SELECT doc_id, text FROM documents\n"
    "        UNION ALL\n"
    "        SELECT * FROM (VALUES "
    + ", ".join(f"({i}, '{t}')" for i, t in RETRACT_STAGED_ROWS)
    + ") t(doc_id, text)\n    ),\n"
    "    docs_live AS (\n"
    "        SELECT doc_id, text FROM documents_rstaged\n"
    f"        WHERE doc_id % 10 <> {RETRACT_MOD}\n"
    "    )"
)

# SQL_SIMHASH reading the staged-then-retracted relation: victims leave
# BEFORE signing, matching the artifact state where their rows are
# physically gone.
SQL_SIMHASH_RETRACTED = (
    SQL_DOCS_RSTAGED
    + ",\n    "
    + SQL_SIMHASH.lstrip().replace("FROM documents\n", "FROM docs_live\n")
)

SQL_RETRACTED_LABELS_SUMMARY = f"""
    WITH RECURSIVE {SQL_SIMHASH_RETRACTED},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
        WHERE doc_id % 10 <> 0
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    ),
    near AS (
        SELECT p.doc_a, p.doc_b
        FROM pairs p
        JOIN simhash sa ON p.doc_a = sa.doc_id
        JOIN simhash sb ON p.doc_b = sb.doc_id
        WHERE bit_count(xor(sa.sig, sb.sig)) <= {HAMMING_MAX}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM near
        UNION ALL SELECT doc_b, doc_a FROM near
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (
        SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node
    )
    SELECT lbl AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(node) AS BIGINT) AS max_doc_id
    FROM labels GROUP BY lbl
    """


@registry.query(
    "sink_lake_cluster_labels_artifact_retract",
    oracle=SQL_RETRACTED_LABELS_SUMMARY,
)
def sink_lake_cluster_labels_artifact_retract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The label-artifact RETRACTION, oracle-verified end to end: build
    the standing lake label artifact over the retract-staged corpus
    (whose bridge doc guarantees at least one articulation-point
    victim on any fixture), remove the victims and re-label the
    affected clusters (:func:`apply_cluster_label_retraction`), read
    the result back and report the per-cluster summary. The oracle
    recomputes the survivors' components from scratch, so a green row
    proves retracted ≡ rebuilt for exactly the SPLIT case: the staged
    C–bridge–D cluster must come back as two clusters with their own
    min-node labels, and every fixture cluster that lost a victim must
    shrink or dissolve.

    Scale: locate = one narrow columnar pass; scope = sidecar lookup +
    DPP-pruned bucket read; re-cluster = |affected clusters| signing +
    BSP at cluster grain; rewrite = |affected buckets| dynamic
    overwrite. The lake-sized labeling is the write-once half this
    family always amortizes."""
    path = retracted_cluster_labels_artifact(spark, sf_dir, rebuild=True)
    art = spark.read.parquet(path)
    return art.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count("*").alias("n_docs"),
        F.max("node").alias("max_doc_id"),
    )
