"""Similarity search over the embeddings table (array<float>, dim 64).

Three tiers (SURVEY.md §2.C "LLM-pipeline"; BASELINE.json north star):

- brute-force cosine top-k: the exactness baseline — broadcast the query
  set, one partition-parallel scan of the corpus, per-query window top-k;
- banded sign-LSH pair mining (embedding-cosine near-dup): candidate
  pairs share >= 1 of 4 two-plane bands, an equality-join key — recall
  vs the all-pairs ground truth is gated in
  tests/test_similarity_semantics.py;
- sign-LSH (random hyperplane) bucketed ANN: the 100 TB path — queries
  only touch their own bucket, so the scan shrinks by ~2^n_planes; the
  hyperplanes are frozen ±1 literals so the DuckDB oracle reproduces
  bucket codes exactly.

Cosine scores are bit-identical between Spark's fold and DuckDB's list
functions (see functions/vectors.py), so rankings use exact values with
vec_id tiebreaks.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from quty_server_spark.functions.vectors import (
    as_double,
    cosine,
    cosine_norms,
    dot,
    norm,
)
from quty_server_spark.operators._helpers import (
    APPEND_BATCH_MOD,
    CENTROIDS,
    ArtifactFamily,
    Layout,
    load_table,
    read_sidecar,
    register_artifact_sinks,
    sql_where,
    write_sidecar,
)
from quty_server_spark.plans.registry import registry
from quty_server_spark.session import session_artifact

DIM = 64
N_PLANES = 8
_rng = random.Random(42)
HYPERPLANES: list[list[int]] = [
    [_rng.choice((-1, 1)) for _ in range(DIM)] for _ in range(N_PLANES)
]

# Fan the probe side of a scoring join out to the core count — the
# shared helper (see its docstring); measured here: the banded
# self-join's ~2M candidate cosines previously serialized on the single
# scan partition, 25-32 s. Results are unchanged in all consumers:
# every downstream aggregate is order-insensitive (distinct / max /
# decimal-sum / min_by) and the top-k windows tiebreak on ids.
from quty_server_spark.operators._helpers import spread_probe as _spread  # noqa: E402


SQL_QUERY_SET = "(SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 20 = 0)"
SQL_CORPUS = "(SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

# --- IVF coarse-quantizer constants (see _ivf_centroids) -------------------
# Hard ceiling on the centroid count: K = min(IVF_K_MAX, ceil(sqrt(n))).
# Keeps the index-build assignment pass linear in n (n x K, K bounded)
# and the centroid broadcast bounded by construction — IVF_K_MAX is
# ~250x under dedup.BROADCAST_NODES_MAX (ordering pinned in
# tests/test_similarity_semantics.py).
IVF_K_MAX = 4096
# The artifact families' admitted batch (``_helpers.APPEND_BATCH_MOD``):
# yesterday's admitted vectors are vec_id % 10 == 5. The coarse
# quantizer trains on the complementary STABLE STRATUM (vec_id % 10 !=
# 5, see _ivf_centroids), so assigning the batch against the base
# build's centroid sidecar yields byte-identical cells to a full
# rebuild's, and the append sink can share the write-once sink's
# oracle SQL.
IVF_APPEND_BATCH_MOD = APPEND_BATCH_MOD

# The quantizer's DuckDB twin, shared by every IVF-family oracle: the
# stable stratum's count n_q picks K_target = min(IVF_K_MAX, ceil(sqrt(
# n_q))) and the stride m = max(1, floor(n_q / K_target)); centroids are
# the stratum rows with vec_id ≡ 7 (mod m). Float division + FLOOR/CEIL
# on both engines (Spark `/` on bigints and DuckDB `/` are both double
# division), so the selected set is bit-identical.
SQL_IVF_CENT = f"""(
        SELECT vec_id AS cid, v AS cv
        FROM c, (SELECT GREATEST(1, CAST(FLOOR(COUNT(*) / LEAST({IVF_K_MAX},
                     CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS BIGINT)) AS m
                 FROM c WHERE vec_id % 10 <> {IVF_APPEND_BATCH_MOD}) AS qz
        WHERE vec_id % 10 <> {IVF_APPEND_BATCH_MOD}
          AND vec_id % qz.m = 7 % qz.m)"""

# Fixed-count query sample for recall evaluation: the exact brute-force
# arm costs |queries| x |corpus| cosines, so the query set must be a
# CONSTANT, not a fraction of the corpus.
# vec_id % 20 = 0 AND vec_id < 20 * N_EVAL_QUERIES selects exactly the
# first N_EVAL_QUERIES members of the historical % 20 sample, keeping
# sf0.001/sf0.01 results (500 vecs -> 25 queries) byte-identical.
N_EVAL_QUERIES = 25


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    )


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", as_double(F.col("embedding")).alias("v"))


@registry.query(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS {SQL_QUERY_SET}, c AS {SQL_CORPUS},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(q.v, c.v) AS cos_sim
        FROM q JOIN c ON q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, cos_sim, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 per query vector (every 20th vec_id).

    Plan: the small query set is broadcast against the corpus — one scan,
    no shuffle of the corpus; top-k is a per-query window (partial top-k
    per partition under AQE). This is the exact baseline the LSH variant
    approximates."""
    # Norms precomputed per side (see functions.vectors.cosine_norms
    # — bit-identical scores, one array fold per pair instead of three);
    # corpus probe side spread across cores (see _spread).
    q = _queries(spark, sf_dir).withColumn("qn", norm(F.col("qv")))
    c = _spread(spark, _corpus(spark, sf_dir), "vec_id").withColumn(
        "vn", norm(F.col("v"))
    )
    scored = (
        c.join(broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_norms(
                F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


def all_pairs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact O(n^2/2) pair scoring — UNREGISTERED ground-truth baseline.

    Used only by tests/test_similarity_semantics.py to measure the recall
    of the banded canonical queries (dedup_embedding_cosine's band-
    restricted candidates, sim_ann_lsh/sim_ann_ivf top-k); never part of
    the driver surface because an all-pairs BroadcastNestedLoopJoin is a
    cartesian at 100 TB."""
    c = _corpus(spark, sf_dir)
    a = c.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = c.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim")
    )


def _sql_plane_literal(plane: list[int]) -> str:
    return "[" + ", ".join(f"{x}.0" for x in plane) + "]"


_SQL_BUCKET = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_sql_plane_literal(HYPERPLANES[j])}) > 0 "
    f"THEN {1 << j} ELSE 0 END)"
    for j in range(N_PLANES)
)


def _plane_array_sql(plane: list[int]) -> str:
    """The hyperplane as one Spark-SQL double-array literal — parsed
    JVM-side in a single call. The column-API form (64 ``F.lit`` py4j
    round-trips per plane, ×8 planes) cost ~0.5 s of DRIVER time per
    ``_bucket_col``/``banded_corpus`` construction (guide §7.3; paid on
    every bench run / gate invocation of every LSH-family query).
    ``{x}.0D`` parses to the identical ±1.0 double."""
    return "array(" + ", ".join(f"{x}.0D" for x in plane) + ")"


def _dot_plane_sql(plane: list[int]) -> str:
    """``dot(v, <plane literal>)`` spelled in SQL — the same
    sequential fold (zip_with product, left-to-right sum from 0.0) as
    functions.vectors.dot, node-identical after parsing, so sign tests
    are bit-identical to the column-API form (verified on every fixture
    vector at both SFs)."""
    return (
        f"aggregate(zip_with(v, {_plane_array_sql(plane)}, "
        f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def _bucket_col() -> F.Column:
    return F.expr(
        " + ".join(
            f"(CASE WHEN {_dot_plane_sql(HYPERPLANES[j])} > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(N_PLANES)
        )
    )


# Banded sign-LSH for PAIR mining (vs the single 256-way bucket above,
# which is the point-query layout): the 8 hyperplanes split into 4 bands
# of 2; a pair is a candidate when ALL planes of at least one band agree.
# OR-of-ANDs is the classic LSH amplification — per-plane agreement for a
# pair at cosine t is 1 - acos(t)/pi, so at the 0.35 dedup threshold a
# band matches with p ~= 0.38 and any-of-4 gives ~0.85 recall at the
# threshold edge (rising fast above it; measured exactly in
# tests/test_similarity_semantics.py against all_pairs_cosine).
N_COS_BANDS = 4
PLANES_PER_BAND = N_PLANES // N_COS_BANDS


def _band_code_col(b: int) -> F.Column:
    # Same single-parse construction as _bucket_col (see
    # _plane_array_sql) — node-identical to the old column-API form.
    return F.expr(
        " + ".join(
            f"(CASE WHEN "
            f"{_dot_plane_sql(HYPERPLANES[b * PLANES_PER_BAND + r])} > 0 "
            f"THEN {1 << r} ELSE 0 END)"
            for r in range(PLANES_PER_BAND)
        )
    )


def banded_corpus(c: DataFrame) -> DataFrame:
    """(vec_id, v, band, code): each vector exploded to its 4 band codes.
    Candidate pairs join on (band, code) equality — a hash-partitionable
    key, so candidate generation is a shuffle join, never a cross join."""
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_code_col(b).alias("code"))
            for b in range(N_COS_BANDS)
        ]
    )
    return c.select("vec_id", "v", F.explode(bands).alias("bc")).select(
        "vec_id", "v", F.col("bc.band").alias("band"), F.col("bc.code").alias("code")
    )


def _sql_band_code(b: int) -> str:
    return " + ".join(
        f"(CASE WHEN list_dot_product(v, "
        f"{_sql_plane_literal(HYPERPLANES[b * PLANES_PER_BAND + r])}) > 0 "
        f"THEN {1 << r} ELSE 0 END)"
        for r in range(PLANES_PER_BAND)
    )


SQL_COS_BANDED = "\n        UNION ALL\n".join(
    f"        SELECT vec_id, v, {b} AS band, {_sql_band_code(b)} AS code FROM c"
    for b in range(N_COS_BANDS)
)


@registry.query(
    "sim_ann_lsh",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    bucketed AS (
        SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM c),
    q AS (SELECT * FROM bucketed WHERE vec_id % 20 = 0),
    scored AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, q.bucket,
               list_cosine_similarity(q.v, b.v) AS cos_sim
        FROM q JOIN bucketed b ON q.bucket = b.bucket AND q.vec_id <> b.vec_id)
    SELECT query_id, neighbor_id, bucket, cos_sim, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via sign-LSH: 8 frozen ±1 hyperplanes
    → 256 buckets; queries score only against their own bucket, then
    window top-3. At scale the corpus is hash-partitioned by bucket, so a
    query touches ~1/256 of the data — this is the IVF-style recall/cost
    trade the brute-force baseline calibrates."""
    # Per-side precomputed norms (cosine_norms — bit-identical);
    # corpus spread across cores before the derived columns (_spread).
    c = (
        _spread(spark, _corpus(spark, sf_dir), "vec_id")
        .withColumn("bucket", _bucket_col())
        .withColumn("vn", norm(F.col("v")))
    )
    q = c.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("vn").alias("qn"),
    )
    scored = (
        c.join(
            broadcast(q),
            (F.col("qbucket") == F.col("bucket")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("bucket"),
            cosine_norms(
                F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


_SQL_PROBE_LIST = "[qb, " + ", ".join(
    f"xor(qb, {1 << j})" for j in range(N_PLANES)
) + "]"


@registry.query(
    "sim_ann_lsh_multiprobe",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    bucketed AS (
        SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM c),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb
          FROM bucketed WHERE vec_id % 20 = 0),
    probes AS (
        SELECT query_id, qv, u.pb
        FROM q, UNNEST({_SQL_PROBE_LIST}) AS u(pb)),
    scored AS (
        SELECT p.query_id, m.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, m.v) AS cos_sim
        FROM probes p JOIN bucketed m
          ON p.pb = m.bucket AND p.query_id <> m.vec_id)
    SELECT query_id, neighbor_id, cos_sim, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN: each query probes its own 8-bit bucket
    plus the 8 Hamming-distance-1 neighbors (flip one hyperplane sign) —
    9 of 256 buckets. Near misses across ONE hyperplane are the dominant
    recall loss of single-probe LSH; probing the adjacent buckets buys
    most of that recall back for ~9/256 of the corpus scanned instead of
    building extra hash tables (Lv et al., multi-probe LSH, VLDB'07).
    Measured on the fixture: top-3 recall 0.027 -> 0.147 (5.4x) for 9/256
    of the corpus scanned; pinned against the all_pairs_cosine ground
    truth in tests/test_similarity_semantics.py.

    Plan shape is unchanged from sim_ann_lsh: probe keys stay equality
    keys, so candidate generation remains a hash join on bucket — the
    probe explosion multiplies only the tiny broadcast query side by 9,
    never the corpus.
    """
    # Per-side precomputed norms (cosine_norms — bit-identical);
    # corpus spread across cores before the derived columns (_spread).
    c = (
        _spread(spark, _corpus(spark, sf_dir), "vec_id")
        .withColumn("bucket", _bucket_col())
        .withColumn("vn", norm(F.col("v")))
    )
    q = c.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
        F.col("vn").alias("qn"),
    )
    probe_list = F.array(
        F.col("qb"), *[F.col("qb").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)]
    )
    probes = q.select(
        "query_id", "qv", "qn", F.explode(probe_list).alias("pb")
    )
    scored = (
        c.join(
            broadcast(probes),
            (F.col("pb") == F.col("bucket")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_norms(
                F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


def _ivf_centroids(c: DataFrame) -> DataFrame:
    """Deterministic coarse quantizer, DECOUPLED from corpus size (a
    ``vec_id % 50`` rule would make K = n/50, turning the index build
    into n²/50 compute with an unbounded centroid broadcast).
    K_target = min(IVF_K_MAX, ceil(sqrt(n_q))) — ⌈√n⌉ cells while
    small (the classic IVF balance point: probe cost ≈ n/K ≈ √n), a
    FIXED 4096 once the corpus outgrows it, so at 100 TB the assignment
    pass is n × 4096 (linear in n) and ``broadcast(cent)`` is bounded by
    construction at IVF_K_MAX rows ≪ BROADCAST_NODES_MAX
    (tests/test_similarity_semantics.py pins both the bound and the
    constant ordering).

    Selection is a stride sample: ``vec_id % m == 7 % m`` with
    m = max(1, floor(n_q / K_target)) — deterministic, reproducible in
    the DuckDB oracle (SQL_IVF_CENT), and uniform for the dense ingest-
    assigned ids the fixtures and any ingest pipeline produce. (If ids
    were ever adversarially clustered on a residue class, a portable
    mixing hash slots in here; the cap logic is unchanged.)

    Candidates come from the STABLE STRATUM only
    (``vec_id % 10 != IVF_APPEND_BATCH_MOD``): the nightly admitted
    batch is excluded from quantizer training by construction, so
    yesterday's base build and a fresh full-corpus build select the
    byte-identical centroid set — the property that lets the append
    sink share the write-once sink's oracle SQL (append ≡ rebuild holds
    by design, not fixture luck). n_q is computed INSIDE the plan (a
    1-row count aggregate cross-joined back, the allowlisted scalar-
    subquery shape) — no driver-side count."""
    u = c.filter(F.col("vec_id") % 10 != IVF_APPEND_BATCH_MOD)
    stats = u.agg(F.count("*").alias("n_q"))
    m = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor(
            F.col("n_q")
            / F.least(
                F.lit(IVF_K_MAX).cast("bigint"),
                F.ceil(F.sqrt(F.col("n_q"))),
            )
        ).cast("bigint"),
    )
    return (
        u.crossJoin(broadcast(stats))
        .filter(F.pmod(F.col("vec_id"), m) == F.pmod(F.lit(7), m))
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )


def _ivf_cells(c: DataFrame, cent: DataFrame) -> DataFrame:
    """Posting-list assignment shared by every IVF variant: each vector
    to its nearest centroid by cosine — argmax via a min_by aggregate
    over struct(-cos, cid), unique because cid tiebreaks. The partial
    aggregation collapses the corpus-x-centroids rows map-side, so only
    one row per vector reaches the shuffle.

    The result is materialized (lazy checkpoint): the assignment IS the
    IVF index build, and every variant reads it at least twice (query
    derivation + scoring join) — without materialization Catalyst
    recomputes the corpus-x-centroids pass per consumer. At real scale
    this is the posting-list write every IVF system performs once at
    index time. (:func:`_ivf_cells_plan` is the unmaterialized plan —
    tests pin its aggregate shape there, since the checkpoint node hides
    the subtree from explain output.)"""
    return _ivf_cells_plan(c, cent).localCheckpoint(eager=False)


def _ivf_cells_plan(c: DataFrame, cent: DataFrame) -> DataFrame:
    # The n×K assignment pass evaluates ONE array fold per
    # (vector, centroid) pair instead of three — both norms are
    # attached once per side (K centroid norms inside the broadcast
    # build, one norm per corpus row) and cosine_norms reproduces
    # cosine()'s scalar ops in the same order, so every assignment
    # score is bit-identical (oracle-pinned). Measured: the assignment
    # drops ~2.1 s → ~0.9 s at sf0.1.
    return (
        c.withColumn("vn", norm(F.col("v")))
        .join(broadcast(cent.withColumn("cn", norm(F.col("cv")))))
        .withColumn(
            "cent_cos",
            cosine_norms(F.col("v"), F.col("cv"), F.col("vn"), F.col("cn")),
        )
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.col("cid"),
                F.struct((-F.col("cent_cos")).alias("neg_cos"), F.col("cid")),
            ).alias("cell"),
            # v is functionally determined by vec_id (it is the corpus
            # row's own vector), so first() is deterministic in value.
            F.first("v").alias("v"),
        )
        .select("vec_id", "v", "cell")
    )


# Shared by sim_ann_ivf (recomputing index build) and
# sim_ann_ivf_artifact (probe of the precomputed posting-list artifact):
# byte-identical oracle SQL proves the artifact round trip changes
# nothing about the answer — same convention as SQL_INCREMENTAL_GATE in
# operators/dedup.py.
SQL_IVF_TOPK = f"""
    WITH c AS {SQL_CORPUS},
    cent AS {SQL_IVF_CENT},
    assigned AS (
        SELECT vec_id, v, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arn
        FROM c CROSS JOIN cent),
    cells AS (SELECT vec_id, v, cid AS cell FROM assigned WHERE arn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, cell
          FROM cells WHERE vec_id % 20 = 0),
    scored AS (
        SELECT q.query_id, m.vec_id AS neighbor_id, q.cell,
               list_cosine_similarity(q.qv, m.v) AS cos_sim
        FROM q JOIN cells m ON q.cell = m.cell AND q.query_id <> m.vec_id)
    SELECT query_id, neighbor_id, cell, cos_sim, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 3
    """


@registry.query(
    "sim_ann_ivf",
    oracle=SQL_IVF_TOPK,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a deterministic coarse quantizer —
    K = min(IVF_K_MAX, ⌈√n⌉) stride-sampled centroids (√n cells while
    small, a fixed 4096 at scale; see :func:`_ivf_centroids`) — assigns
    each vector to its nearest centroid by cosine (argmax via a min_by
    aggregate over struct(-cos, cid) — unique because cid tiebreaks);
    queries probe only their own cell (nprobe=1) and take window top-3.
    Complements sim_ann_lsh: data-dependent cells follow the corpus
    distribution where LSH's fixed hyperplanes don't. At scale the
    assignment is one broadcast pass (centroid set is small) whose
    partial aggregation collapses the corpus-x-centroids rows back to
    one row per vector BEFORE the shuffle (map-side combine — a window
    argmin would ship the whole cross product); the posting lists are
    hash-partitioned by cell, and a query's scan is |corpus|/n_cells."""
    # Corpus spread across cores (_spread) so the n×K assignment
    # and the cell-probe scoring parallelize off the one-row-group scan.
    c = _spread(spark, _corpus(spark, sf_dir), "vec_id")
    # Per-side precomputed norms (cosine_norms — bit-identical).
    cells = _ivf_cells(c, _ivf_centroids(c)).withColumn(
        "vn", norm(F.col("v"))
    )
    q = cells.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cell").alias("qcell"),
        F.col("vn").alias("qn"),
    )
    scored = (
        cells.join(
            broadcast(q),
            (F.col("qcell") == F.col("cell")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            cosine_norms(
                F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@registry.query(
    "sim_ann_ivf_nprobe2",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    cent AS {SQL_IVF_CENT},
    assigned AS (
        SELECT vec_id, v, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arn
        FROM c CROSS JOIN cent),
    cells AS (SELECT vec_id, v, cid AS cell FROM assigned WHERE arn = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cid AS pcell
        FROM assigned WHERE vec_id % 20 = 0 AND arn <= 2),
    scored AS (
        SELECT p.query_id, m.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, m.v) AS cos_sim
        FROM probes p JOIN cells m
          ON p.pcell = m.cell AND p.query_id <> m.vec_id)
    SELECT query_id, neighbor_id, cos_sim, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def sim_ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe=2: corpus posting lists stay nprobe=1 (each
    vector lives in exactly one cell), but every QUERY probes its two
    nearest cells — the standard IVF recall knob. Recall improvement over
    nprobe=1 is pinned in tests/test_similarity_semantics.py.

    Plan: posting-list assignment is the same min_by map-side-combined
    pass as sim_ann_ivf; the query-side top-2 cells rank over the tiny
    queries-x-centroids frame only (never the corpus), and probing stays
    an equality hash join with the broadcast probe side doubled.
    """
    # Corpus spread across cores (_spread; same as sim_ann_ivf).
    c = _spread(spark, _corpus(spark, sf_dir), "vec_id")
    cent = _ivf_centroids(c)
    # Per-side precomputed norms (cosine_norms — bit-identical).
    cells = _ivf_cells(c, cent).withColumn("vn", norm(F.col("v")))
    qw = Window.partitionBy("query_id").orderBy(
        F.desc("qcent_cos"), F.asc("pcell")
    )
    probes = (
        c.filter(F.col("vec_id") % 20 == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
        .join(broadcast(cent.withColumn("cn", norm(F.col("cv")))))
        .select(
            "query_id",
            "qv",
            "qn",
            F.col("cid").alias("pcell"),
            cosine_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("qcent_cos"),
        )
        .withColumn("prn", F.row_number().over(qw))
        .filter(F.col("prn") <= 2)
        .select("query_id", "qv", "qn", "pcell")
    )
    scored = (
        cells.join(
            broadcast(probes),
            (F.col("pcell") == F.col("cell")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_norms(
                F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@registry.query(
    "embed_quantize_int8",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
                     AS scale
          FROM c)
    SELECT vec_id,
           CAST(FLOOR(scale * 1000000) AS BIGINT) AS scale_micro,
           array_to_string(
               list_transform(v, x -> CAST(FLOOR(x / scale + 0.5) AS INTEGER)),
               ',') AS q8
    FROM s
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    scale = max|x|/127, values mapped by floor(x/scale + 0.5) (explicit
    half-up on both engines — ROUND differs between them at halves).
    This is the storage/throughput lever for ANN at 100 TB: 4x smaller
    vectors, SIMD-friendly int8 dot products, scale kept for dequantize.
    Scale is emitted as floor-micros so no float rounding is compared.
    The quantized vector is emitted comma-joined (scalar string): the
    driver's pandas canonicalizer cannot hash array-typed output
    columns; elements are never NULL so concat_ws ==
    array_to_string exactly."""
    c = _corpus(spark, sf_dir)
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q8 = F.transform(
        F.col("v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
    )
    return (
        c.withColumn("scale", scale)
        .select(
            "vec_id",
            F.floor(F.col("scale") * 1000000).cast("bigint").alias("scale_micro"),
            F.concat_ws(",", q8.cast("array<string>")).alias("q8"),
        )
    )


# Per-label cohesion is estimated on a bounded deterministic sample: the
# COHESION_SAMPLE members with the lowest multiplicative hash of vec_id.
# An all-pairs-within-label join is quadratic in the hottest label (one
# 1B-doc label on a 100 TB corpus = 5e17 pairs); capping the sample bounds
# every label at C(64,2) = 2016 pairs no matter how hot it gets, and the
# hash (Knuth 2^32/phi multiplier, identical integer arithmetic in Spark
# and DuckDB) makes the sample — hence the answer — engine-reproducible.
COHESION_SAMPLE = 64
_HASH_MULT = 2654435761  # floor(2^32 / golden ratio), coprime to 2^20
_HASH_MOD = 1048576


@registry.query(
    "sim_label_cohesion",
    oracle=f"""
    WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT vec_id, label, v FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY label
                       ORDER BY (vec_id * {_HASH_MULT}) % {_HASH_MOD}, vec_id) AS rn
            FROM c)
        WHERE rn <= {COHESION_SAMPLE})
    SELECT a.label,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(ROUND(list_cosine_similarity(a.v, b.v), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_cos
    FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
    GROUP BY a.label
    """,
)
def sim_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped similarity check: average pairwise cosine within each label
    over a bounded deterministic per-label sample (hash-lowest
    COHESION_SAMPLE members — see the sampling note above), rounded
    per-pair then decimal-summed so the aggregate is order-independent
    and engine-exact.

    Plan: the sample ids are picked on skinny (vec_id, label) rows, then
    joined back (broadcast — labels x 64 rows) to fetch vectors, so the
    per-label rank never sorts the 64-dim vectors; the pair join keys on
    label equality over the bounded sample — a hash join whose biggest
    group is fixed at COHESION_SAMPLE rows, immune to label skew."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    rank_w = Window.partitionBy("label").orderBy(
        (F.col("vec_id") * F.lit(_HASH_MULT)) % F.lit(_HASH_MOD), "vec_id"
    )
    sample_ids = (
        e.select("vec_id", "label")
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= COHESION_SAMPLE)
        .select("vec_id")
    )
    s = e.join(broadcast(sample_ids), "vec_id")
    # Probe side spread across cores (_spread) — the bounded-sample
    # pair join otherwise scores every pair on the single scan partition.
    a = _spread(spark, s, "vec_id").select(
        F.col("vec_id").alias("ia"), "label", F.col("v").alias("va")
    )
    b = s.select(
        F.col("vec_id").alias("ib"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
    )
    pairs = a.join(b, (F.col("label") == F.col("label_b")) & (F.col("ia") < F.col("ib")))
    return (
        pairs.select(
            "label", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_r")
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_pairs"),
            (F.sum(F.col("cos_r").cast("decimal(38,6)")).cast("double") / F.count("*")).alias(
                "avg_cos"
            ),
        )
    )


DEDUP_COS_THRESHOLD = 0.35


@registry.query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    banded AS (
{SQL_COS_BANDED}
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.code = b.code
                     AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= {DEDUP_COS_THRESHOLD})
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate REMOVAL, banded-LSH canonical form:
    greedy keep-lowest-id — a vector is dropped when a LOWER-ID vector
    with cosine >= 0.35 shares at least one sign-LSH band with it (4 bands
    x 2 hyperplanes; see banded_corpus). Candidates come from a (band,
    code) equality self-join — hash-partitionable, so at 100 TB this is a
    shuffle join on band codes whose cost tracks the duplicate density,
    never the O(n^2) cross product (same banding idea as
    dedup_minhash_lsh, dedup.py). Recall vs the exact all-pairs drop rule
    is measured in tests/test_similarity_semantics.py against
    all_pairs_cosine; the oracle replicates the banding bit-for-bit, so
    the query is deterministically exact for what it claims: the banded
    drop rule."""
    # Per-side precomputed norms (cosine_norms — bit-identical);
    # probe side spread across cores (_spread — the ~2M candidate
    # cosines previously serialized on the single scan partition).
    c = _corpus(spark, sf_dir)
    banded = banded_corpus(c).withColumn("vn", norm(F.col("v")))
    a = _spread(spark, banded, "vec_id", "band").select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"),
        F.col("vn").alias("na"),
        "band",
        "code",
    )
    b = banded.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("vn").alias("nb"),
        F.col("band").alias("band_b"),
        F.col("code").alias("code_b"),
    )
    dropped = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("code") == F.col("code_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .filter(
            cosine_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
            >= DEDUP_COS_THRESHOLD
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    e = load_table(spark, sf_dir, "embeddings")
    return e.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


@registry.query(
    "embed_dim_variance",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    comp AS (
        SELECT CAST(u.i - 1 AS INTEGER) AS dim, c.v[u.i] AS x
        FROM c, UNNEST(range(1, len(c.v) + 1)) AS u(i))
    SELECT dim,
           ROUND(AVG(x), 6) AS mean_x,
           ROUND(VAR_POP(x), 6) AS var_x,
           COUNT(*) AS n
    FROM comp GROUP BY dim
    """,
)
def embed_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance across the corpus — the embedding-QA
    scan that catches dead or collapsed dimensions before they poison
    ANN recall. posexplode fans each vector into (dim, x) rows and the
    aggregate combines map-side, so the shuffle carries 64 partial states
    per task, not the corpus. Values are rounded to a fixed scale on both
    sides (variance is order-sensitive in floats; the DECIMAL trick does
    not apply to VAR_POP, so the determinism contract is the rounding)."""
    c = _corpus(spark, sf_dir)
    return (
        c.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.round(F.var_pop("x"), 6).alias("var_x"),
            F.count("*").alias("n"),
        )
    )


@registry.query(
    "embed_norm_outliers",
    oracle="""
    WITH norms AS (
        SELECT vec_id,
               list_dot_product(embedding, embedding) AS norm2
        FROM embeddings),
    med AS (SELECT quantile_cont(norm2, 0.5) AS m FROM norms)
    SELECT n.vec_id, ROUND(n.norm2, 6) AS norm2,
           n.norm2 < 0.5 * med.m OR n.norm2 > 1.5 * med.m AS outlier
    FROM norms n, med
    """,
)
def embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-QA norm check: vectors whose squared L2 norm sits
    outside ±50% of the corpus median are flagged (truncated inputs,
    un-normalized batches, and zero vectors all show up here before
    they poison a similarity index). The fold-based dot product is
    bit-identical to DuckDB's list_dot_product loop (functions/vectors
    docstring), the median interpolates identical doubles, so the flag
    comparison agrees exactly.

    Scale: one narrow pass for norms, a 1-row median aggregate joined
    back (broadcast nested loop over a single row — the scalar-subquery
    shape, allowlisted in the plan audit)."""
    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select(
        "vec_id", dot(as_double(F.col("embedding")), as_double(F.col("embedding"))).alias("norm2")
    )
    med = norms.agg(F.expr("percentile(norm2, 0.5)").alias("m"))
    return norms.crossJoin(broadcast(med)).select(
        "vec_id",
        F.round("norm2", 6).alias("norm2"),
        (
            (F.col("norm2") < 0.5 * F.col("m"))
            | (F.col("norm2") > 1.5 * F.col("m"))
        ).alias("outlier"),
    )


@registry.query(
    "embed_centroid_drift",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    cent AS {SQL_IVF_CENT},
    assigned AS (
        SELECT vec_id, v, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arn
        FROM c CROSS JOIN cent),
    sided AS (
        SELECT vec_id, v, cid AS cell,
               CASE WHEN vec_id % 10 = {IVF_APPEND_BATCH_MOD}
                    THEN 'shard' ELSE 'lake' END AS side
        FROM assigned WHERE arn = 1),
    counts AS (
        SELECT cell, side, COUNT(*) AS n FROM sided GROUP BY 1, 2),
    means AS (
        SELECT cell, side, CAST(u.i - 1 AS INTEGER) AS dim,
               ROUND(AVG(v[u.i]), 6) AS mx
        FROM sided, UNNEST(range(1, len(v) + 1)) AS u(i)
        GROUP BY 1, 2, 3),
    drift AS (
        SELECT l.cell,
               ROUND(SUM((l.mx - s.mx) * (l.mx - s.mx)), 6) AS drift2
        FROM means l
        JOIN means s ON l.cell = s.cell AND l.dim = s.dim
         AND l.side = 'lake' AND s.side = 'shard'
        GROUP BY l.cell)
    SELECT d.cell, cl.n AS n_lake, cs.n AS n_shard, d.drift2
    FROM drift d
    JOIN counts cl ON cl.cell = d.cell AND cl.side = 'lake'
    JOIN counts cs ON cs.cell = d.cell AND cs.side = 'shard'
    """,
)
def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-family ingest drift QA — the vector analog of
    doc_ingest_mix_drift: per IVF cell, the squared L2 distance between
    the lake stratum's mean vector and the admitted batch's
    (``vec_id % 10 == IVF_APPEND_BATCH_MOD``) mean vector, under the
    FROZEN coarse quantizer. ``sim_ivf_cell_growth`` catches a batch
    that lands in the wrong cells in the wrong amounts; this op catches
    the fault growth cannot see — a batch whose vectors land in the
    RIGHT cells but sit systematically off-center (a drifted encoder, a
    re-normalized feed), which silently degrades ANN recall until the
    quantizer is retrained. Cells with no batch members report nothing
    (inner join): no evidence, no verdict.

    Scale: one assignment pass (broadcast centroids, bounded at
    IVF_K_MAX by construction), one posexplode fan-out aggregated
    map-side to (cell, side, dim) partial means — the shuffle carries
    at most 2·K·64 rows regardless of corpus size — then a K-row join.
    Means are rounded to a fixed scale on both engines (AVG is
    order-sensitive in floats; the rounding IS the determinism
    contract, same as embed_dim_variance)."""
    c = _corpus(spark, sf_dir)
    cells = _ivf_cells(c, _ivf_centroids(c))
    sided = cells.select(
        "vec_id",
        "v",
        "cell",
        F.when(
            F.col("vec_id") % 10 == IVF_APPEND_BATCH_MOD, "shard"
        )
        .otherwise("lake")
        .alias("side"),
    )
    counts = sided.groupBy("cell", "side").agg(F.count("*").alias("n"))
    means = (
        sided.select(
            "cell", "side", F.posexplode("v").alias("dim", "x")
        )
        .groupBy("cell", "side", "dim")
        .agg(F.round(F.avg("x"), 6).alias("mx"))
    )
    lake = means.filter(F.col("side") == "lake").select(
        "cell", "dim", F.col("mx").alias("ml")
    )
    shard = means.filter(F.col("side") == "shard").select(
        F.col("cell").alias("cell_s"),
        F.col("dim").alias("dim_s"),
        F.col("mx").alias("ms"),
    )
    drift = (
        lake.join(
            shard,
            (F.col("cell") == F.col("cell_s"))
            & (F.col("dim") == F.col("dim_s")),
        )
        .groupBy("cell")
        .agg(
            F.round(
                F.sum(
                    (F.col("ml") - F.col("ms"))
                    * (F.col("ml") - F.col("ms"))
                ),
                6,
            ).alias("drift2")
        )
    )
    cl = counts.filter(F.col("side") == "lake").select(
        "cell", F.col("n").alias("n_lake")
    )
    cs = counts.filter(F.col("side") == "shard").select(
        F.col("cell").alias("cell_c"), F.col("n").alias("n_shard")
    )
    return (
        drift.join(cl, "cell")
        .join(cs, F.col("cell") == F.col("cell_c"))
        .select("cell", "n_lake", "n_shard", "drift2")
    )


@registry.query(
    "sim_ann_recall_eval",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    bucketed AS (SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM c),
    q AS (SELECT * FROM bucketed
          WHERE vec_id % 20 = 0 AND vec_id < 20 * {N_EVAL_QUERIES}),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                c.vec_id) AS rn
            FROM q JOIN c ON q.vec_id <> c.vec_id)
        WHERE rn <= 3),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.v, b.v) DESC,
                                b.vec_id) AS rn
            FROM q JOIN bucketed b
              ON q.bucket = b.bucket AND q.vec_id <> b.vec_id)
        WHERE rn <= 3)
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
           CAST(COUNT(a.neighbor_id) * 1000000 // COUNT(*) AS BIGINT)
               AS recall_ppm
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """,
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: per-query top-3 recall of the sign-LSH index
    against the brute-force exact top-3 — the measurement that decides
    whether an index's bucket count / probe budget is acceptable before
    it serves a 100 TB corpus. Counts are exact integers (recall in ppm
    via floor division, non-negative so Spark div == DuckDB //).

    Scale: the query sample is a FIXED COUNT (at most N_EVAL_QUERIES =
    25: ``vec_id % 20 = 0 AND vec_id < 20 * 25``), not a fraction of the
    corpus — the proportional form (5% of the corpus) is
    quadratic-at-scale, since the exact arm evaluates
    |queries| × |corpus| cosines. With a constant query set the exact
    arm is ONE corpus scan against a tiny broadcast at any scale, and
    the approx arm stays the bucketed hash join."""
    # Per-side precomputed norms (cosine_norms — bit-identical);
    # the exact arm is the |queries| × |corpus| pass that dominates this
    # gate, so the 3-fold → 1-fold cut lands almost fully on it. The
    # corpus is spread across cores BEFORE the derived columns
    # (_spread), so bucket codes, norms and both probe arms parallelize.
    c = (
        _spread(spark, _corpus(spark, sf_dir), "vec_id")
        .withColumn("bucket", _bucket_col())
        .withColumn("vn", norm(F.col("v")))
    )
    q = c.filter(
        (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 20 * N_EVAL_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("vn").alias("qn"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    exact = (
        c.join(broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_norms(
                F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    approx = (
        c.join(
            broadcast(q),
            (F.col("qbucket") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_norms(
                F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("query_id").alias("a_query_id"),
            F.col("neighbor_id").alias("a_neighbor_id"),
        )
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_query_id"))
            & (F.col("neighbor_id") == F.col("a_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.count("a_neighbor_id").cast("bigint").alias("hits"),
            F.expr("CAST(count(a_neighbor_id) * 1000000 div count(*) AS BIGINT)")
            .alias("recall_ppm"),
        )
    )


@registry.query(
    "sim_ivf_cell_balance",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    cent AS {SQL_IVF_CENT},
    assigned AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arn
        FROM c CROSS JOIN cent),
    cells AS (SELECT vec_id, cid AS cell FROM assigned WHERE arn = 1),
    sizes AS (SELECT cell, COUNT(*) AS n_vecs FROM cells GROUP BY cell),
    tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM sizes)
    SELECT s.cell, CAST(s.n_vecs AS BIGINT) AS n_vecs,
           CAST(s.n_vecs * 1000000 // t.n_total AS BIGINT) AS share_ppm,
           CAST(s.n_vecs * t.n_cells * 100 // t.n_total AS BIGINT)
               AS pct_of_mean
    FROM sizes s CROSS JOIN tot t
    """,
)
def sim_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health report: posting-list sizes with each cell's share
    of the corpus and its size relative to the mean cell (100 = exactly
    balanced). Unbalanced cells are the IVF scale hazard — a cell
    holding 20% of a 100 TB corpus makes every query probing it scan
    20%, erasing the |corpus|/n_cells win — so this report is what
    decides re-training the coarse quantizer. All ratios are floor
    divisions of non-negative integers (Spark div == DuckDB //).

    Scale: one assignment pass (broadcast centroids, map-side-combined
    argmax), one tiny group-by over n_cells rows, and a 1-row totals
    build side joined back (scalar-subquery shape, allowlisted)."""
    c = _corpus(spark, sf_dir)
    cells = _ivf_cells(c, _ivf_centroids(c))
    sizes = cells.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    tot = sizes.agg(
        F.sum("n_vecs").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    return sizes.crossJoin(broadcast(tot)).select(
        "cell",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.expr("CAST(n_vecs * 1000000 div n_total AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr("CAST(n_vecs * n_cells * 100 div n_total AS BIGINT)").alias(
            "pct_of_mean"
        ),
    )


# ---------------------------------------------------------------------------
# Precomputed IVF posting-list artifact (index-build-once / probe-nightly)
# ---------------------------------------------------------------------------


# Sorted by vec_id within each cell so row-group min/max stats answer
# "is vec X in this posting list?" membership probes without scanning
# the cell; the DPP cell pruning is directory-level and unaffected.
IVF = Layout("cell", "vec_id", "vec_id")


def _write_ivf(
    points: DataFrame, path: str, mode: str = "errorifexists"
) -> None:
    """Write ``points`` as IVF posting lists at ``path``, each assigned
    to its nearest centroid. A base write trains the coarse quantizer
    on ``points`` and stores it as the centroid sidecar (K rows). An
    append assigns against the sidecar already at ``path``, so its read
    set is the batch plus K centroid rows, never the corpus-sized
    posting files (plan-pinned); the quantizer stays frozen."""
    append = mode == "append"
    cent = (
        read_sidecar(points.sparkSession, path, CENTROIDS)
        if append
        else _ivf_centroids(points)
    )
    IVF.write(_ivf_cells_plan(points, cent), path, mode)
    if not append:
        write_sidecar(cent, path, CENTROIDS)


def _ivf_artifact_summary(art: DataFrame) -> DataFrame:
    """Per-cell posting-size + query-landing summary of an IVF artifact
    read-back."""
    return art.groupBy(F.col("cell").cast("bigint").alias("cell")).agg(
        F.count("*").alias("n_vecs"),
        F.count(F.when(F.col("vec_id") % 20 == 0, 1)).alias("n_queries"),
    )


def _ivf_summary_sql(pred: str) -> str:
    """DuckDB twin of :func:`_ivf_artifact_summary`: the nearest-centroid
    assignment of the corpus vectors that pass ``pred``, against the
    quantizer of the whole corpus (the frozen-quantizer contract)."""
    return f"""
    WITH c AS {SQL_CORPUS},
    cent AS {SQL_IVF_CENT},
    assigned AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arn
        FROM c CROSS JOIN cent {sql_where(pred)}),
    cells AS (SELECT vec_id, cid AS cell FROM assigned WHERE arn = 1)
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) FILTER (WHERE vec_id % 20 = 0) AS BIGINT)
               AS n_queries
    FROM cells GROUP BY cell
    """


# The IVF posting lists ``(vec_id, v, cell)`` of every corpus vector:
# the index build a production ANN service runs once per corpus
# snapshot. The recomputing variants (sim_ann_ivf, sim_ann_ivf_nprobe2,
# sim_ivf_cell_balance) re-run the corpus-x-centroids assignment per
# query because their contract is self-contained; the artifact
# amortizes it over every probe. Partitioning by ``cell`` makes the
# layout the inverted index itself: a probe of cells {3, 57} reads two
# directories (the probe's scan carries a dynamic-partition-pruning
# filter on ``cell``, plan-pinned). The admitted batch's quantizer
# stays the base build's, because the quantizer trains on the stable
# stratum only (see IVF_APPEND_BATCH_MOD), so the nightly append costs
# |batch| x K broadcast assignment plus new files in the batch's cells.
IVF_FAMILY = ArtifactFamily(
    "quty_ivf_postings", IVF,
    lambda spark, sf_dir, keep: _corpus(spark, sf_dir).filter(keep),
    _ivf_artifact_summary, _ivf_summary_sql,
    shard_mod=None, write=_write_ivf,
)
register_artifact_sinks("sink_ivf_postings_artifact", IVF_FAMILY)


@registry.query(
    "sim_ann_ivf_artifact",
    oracle=SQL_IVF_TOPK,
)
def sim_ann_ivf_artifact(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """IVF ANN probing the precomputed posting-list artifact
    (``IVF_FAMILY``) instead of re-running the
    corpus-x-centroids assignment: the query sample and the probed
    posting lists BOTH come from the artifact, so the per-probe plan
    contains no centroid join and no assignment aggregate at all —
    the embeddings table is never scanned. Same top-3 contract and
    byte-identical oracle SQL as :func:`sim_ann_ivf`.

    Scale: this is the nightly/online shape of IVF — the index build
    (one corpus pass) left the probe path entirely. The artifact is
    partitioned by ``cell``, the broadcast query side filters to its
    own cells, and Spark injects a dynamic-partition-pruning subquery
    on the posting scan (pinned in tests/test_scale_plans.py), so a
    25-query probe reads only the ≤25 cell directories it needs —
    |corpus|/n_cells rows per query, straight off the layout.

    ``path`` (tests only) probes an alternative artifact — e.g. the
    appended one — proving probe-after-append ≡ probe-after-rebuild by
    set equality (tests/test_artifact_append.py)."""
    if path is None:
        path = IVF_FAMILY.build(spark, sf_dir)
    # Per-side precomputed norms (cosine_norms — bit-identical).
    art = spark.read.parquet(path).select(
        "vec_id", "v", F.col("cell").cast("bigint").alias("cell")
    ).withColumn("vn", norm(F.col("v")))
    q = art.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cell").alias("qcell"),
        F.col("vn").alias("qn"),
    )
    scored = art.join(
        broadcast(q),
        (F.col("qcell") == F.col("cell"))
        & (F.col("query_id") != F.col("vec_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        cosine_norms(
            F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )


# Same-cell cosine threshold for the embedding-family ingest gate —
# matches dedup_embedding_cosine's 0.35 near-dup bar, so the two
# embedding-dedup surfaces agree on what "semantic duplicate" means.
EMB_GATE_COS = 0.35


# Shared by the batch embedding gate and its streaming twin
# (stream_ingest_dedup_gate_embedding) — one SQL contract, two
# execution shapes, same convention as SQL_MINHASH_GATE in
# operators/dedup.py.
SQL_EMB_GATE = f"""
    WITH c AS {SQL_CORPUS},
    cent AS {SQL_IVF_CENT},
    assigned AS (
        SELECT vec_id, v, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arn
        FROM c CROSS JOIN cent),
    cells AS (SELECT vec_id, v, cid AS cell FROM assigned WHERE arn = 1)
    SELECT n.vec_id AS incoming_vec_id, o.vec_id AS lake_vec_id,
           list_cosine_similarity(n.v, o.v) AS cos_sim
    FROM cells n JOIN cells o ON n.cell = o.cell
    WHERE n.vec_id % 10 = 0 AND o.vec_id % 10 <> 0
      AND list_cosine_similarity(n.v, o.v) >= {EMB_GATE_COS}
    """


def embedding_gate_lake(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """(lake postings ``(vec_id, v, cell, vn)``, K-row centroid sidecar)
    of the IVF postings artifact at ``path`` — the two static inputs of
    :func:`embedding_gate_pairs`. ``vn`` is the precomputed norm
    :func:`cosine_norms` reads (bit-identical to :func:`cosine`)."""
    lake = (
        spark.read.parquet(path)
        .select("vec_id", "v", F.col("cell").cast("bigint").alias("cell"))
        .filter(F.col("vec_id") % 10 != 0)
        .withColumn("vn", norm(F.col("v")))
    )
    return lake, read_sidecar(spark, path, CENTROIDS)


def embedding_gate_pairs(
    shard: DataFrame, lake: DataFrame, cent: DataFrame
) -> DataFrame:
    """The embedding gate's one probe: ``shard`` vectors ``(vec_id, v)``
    are assigned to IVF cells against ``cent`` and joined cell-vs-cell
    to the ``lake`` postings of :func:`embedding_gate_lake`; returns
    ``(incoming_vec_id, lake_vec_id, cos_sim)`` at cos_sim >=
    EMB_GATE_COS. The assigned shard is broadcast, so its cells drive
    partition pruning of the cell-partitioned artifact."""
    n = _ivf_cells_plan(shard, cent).withColumn("vn", norm(F.col("v")))
    return (
        lake.alias("o")
        .join(broadcast(n.alias("n")), F.col("n.cell") == F.col("o.cell"))
        .withColumn(
            "cos_sim",
            cosine_norms(
                F.col("n.v"), F.col("o.v"), F.col("n.vn"), F.col("o.vn")
            ),
        )
        .filter(F.col("cos_sim") >= EMB_GATE_COS)
        .select(
            F.col("n.vec_id").alias("incoming_vec_id"),
            F.col("o.vec_id").alias("lake_vec_id"),
            "cos_sim",
        )
    )


@registry.query(
    "dedup_incremental_embedding_artifact",
    oracle=SQL_EMB_GATE,
)
def dedup_incremental_embedding_artifact(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """The EMBEDDING-family nightly ingest gate, completing the
    write-once/probe-nightly triad (SimHash:
    :func:`~quty_server_spark.operators.dedup.dedup_incremental_simhash_artifact`,
    MinHash:
    :func:`~quty_server_spark.operators.dedup.dedup_incremental_minhash_artifact`,
    and now semantic near-dup): tonight's shard of fresh vectors
    (``vec_id % 10 == 0``, read from the embeddings table) is assigned
    to IVF cells against the artifact's K-row centroid SIDECAR (written
    once at index-build time next to the postings — never a lake-sized
    filter scan), then probed cell-vs-cell against the artifact's lake
    postings; a pair is a semantic duplicate at cosine >= EMB_GATE_COS.
    The lake is never re-assigned and never re-scanned from the
    embeddings table — both the centroids and the postings come off the
    artifact (plan-pinned in tests/test_scale_plans.py: one embeddings
    scan — the shard — and the artifact; assignment aggregate over the
    shard only).

    Scale: nightly cost = |shard| x n_centroids broadcast assignment
    (map-side combined, one row per shard vector reaches the shuffle) +
    a same-cell equality join against the cell-partitioned artifact —
    the shard's assigned cells drive dynamic partition pruning, so the
    probe reads only the cell directories tonight's vectors land in,
    |lake|/n_cells rows per shard vector. The same argument as the
    text-family gates: the lake-sized work (assignment) is amortized
    into the write-once artifact.

    ``path`` (tests only) probes an alternative artifact — e.g. the
    appended one (tests/test_artifact_append.py)."""
    if path is None:
        path = IVF_FAMILY.build(spark, sf_dir)
    lake, cent = embedding_gate_lake(spark, path)
    return embedding_gate_pairs(
        _corpus(spark, sf_dir).filter(F.col("vec_id") % 10 == 0), lake, cent
    )


@registry.query(
    "dedup_decontaminate_embedding",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    bench AS (SELECT vec_id, v FROM c WHERE vec_id % 5 = 0),
    train AS (SELECT vec_id, v FROM c WHERE vec_id % 5 <> 0),
    m AS (
        SELECT t.vec_id, MAX(list_cosine_similarity(t.v, b.v)) AS max_cos
        FROM train t CROSS JOIN bench b GROUP BY t.vec_id
    )
    SELECT vec_id, max_cos, max_cos >= {EMB_GATE_COS} AS contaminated
    FROM m
    """,
)
def dedup_decontaminate_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-family twin
    of :func:`~quty_server_spark.operators.dedup.dedup_decontaminate_ngram`,
    completing the decontamination pair: n-gram overlap catches
    verbatim eval leakage, this op catches PARAPHRASED leakage the
    text filter cannot see (a reworded benchmark question shares few
    3-grams but sits close in embedding space). Every training vector
    (``vec_id % 5 != 0``; the % 5 == 0 slice plays the benchmark)
    reports its maximum cosine against the benchmark set and a
    contaminated flag at the family's shared EMB_GATE_COS threshold,
    so the two ops' flags compose into the standard both-modality
    decontamination gate.

    Scale: the same shape argument as the n-gram twin — eval suites
    are SMALL by construction, so the benchmark side broadcasts and
    the corpus is scanned once, never shuffled; the per-vector MAX
    map-side combines (one row per training vector reaches the
    exchange). |train| x |bench| cosines is the exact answer's price;
    if a benchmark ever outgrew broadcast, the IVF-celled probe
    (:func:`dedup_incremental_embedding_artifact`'s shape) is the
    approximate fallback. The broadcast cross join is allowlisted in
    test_plan_audit with this justification."""
    # Per-side precomputed norms (cosine_norms — bit-identical);
    # train probe side spread across cores (_spread).
    c = _corpus(spark, sf_dir).withColumn("vn", norm(F.col("v")))
    bench = c.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("bid"),
        F.col("v").alias("bv"),
        F.col("vn").alias("bn"),
    )
    train = _spread(spark, c.filter(F.col("vec_id") % 5 != 0), "vec_id")
    return (
        train.join(broadcast(bench))
        .select(
            "vec_id",
            cosine_norms(
                F.col("v"), F.col("bv"), F.col("vn"), F.col("bn")
            ).alias("cos_sim"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos_sim").alias("max_cos"))
        .select(
            "vec_id",
            "max_cos",
            (F.col("max_cos") >= EMB_GATE_COS).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Oracle-verified posting-list APPEND + growth drift guard
# ---------------------------------------------------------------------------

# IVF_APPEND_BATCH_MOD (defined with the quantizer constants at the top
# of this module): the admitted batch is vec_id % 10 == 5, and the
# quantizer trains on the complementary stable stratum, so the append
# path provably shares the write-once build's centroid set.


@registry.query(
    "sim_ivf_cell_growth",
    oracle=f"""
    WITH c AS {SQL_CORPUS},
    cent AS {SQL_IVF_CENT},
    assigned AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arn
        FROM c CROSS JOIN cent),
    cells AS (SELECT vec_id, cid AS cell FROM assigned WHERE arn = 1)
    SELECT cell,
           CAST(COUNT(*) FILTER (WHERE vec_id % 10 <> 5) AS BIGINT)
               AS n_base,
           CAST(COUNT(*) FILTER (WHERE vec_id % 10 = 5) AS BIGINT)
               AS n_appended,
           CAST(CASE WHEN COUNT(*) FILTER (WHERE vec_id % 10 <> 5) > 0
                THEN (1000000 * COUNT(*) FILTER (WHERE vec_id % 10 = 5))
                     // COUNT(*) FILTER (WHERE vec_id % 10 <> 5)
                END AS BIGINT) AS growth_ppm
    FROM cells GROUP BY cell
    """,
)
def sim_ivf_cell_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-append index drift guard — the "re-cluster when cells
    bloat" signal the append lifecycle needs: per cell, how many
    postings the base build wrote vs how many the append added, and
    the growth in integer ppm of the base size (NULL for cells born
    entirely from the append — unbounded growth, the strongest
    re-cluster signal). A centroid set frozen at build time slowly
    stops fitting a drifting corpus; cells whose growth_ppm runs far
    above the batch's overall share are where new mass concentrates,
    and recall decays first in exactly those cells (their posting
    lists lengthen, so nprobe=1 scans more yet the true neighbors
    spread into adjacent cells). Read nightly next to the gate, acted
    on when the skew crosses an ops threshold — the IVF twin of
    :func:`sim_ivf_cell_balance`, which reports static skew of a
    fresh build.

    Scale: ONE scan of the appended artifact (vec_id + the cell
    partition column only — no vector columns read), the base/appended
    split a grouping flag on it, one aggregate. Integer-ppm output so
    both engines agree bit-for-bit (floor division, positive
    operands)."""
    path = IVF_FAMILY.appended(spark, sf_dir)
    art = spark.read.parquet(path).select(
        "vec_id", F.col("cell").cast("bigint").alias("cell")
    )
    g = art.groupBy("cell").agg(
        F.count(
            F.when(F.col("vec_id") % 10 != IVF_APPEND_BATCH_MOD, 1)
        ).alias("n_base"),
        F.count(
            F.when(F.col("vec_id") % 10 == IVF_APPEND_BATCH_MOD, 1)
        ).alias("n_appended"),
    )
    return g.select(
        "cell",
        "n_base",
        "n_appended",
        # Exact integer floor-division on both engines (Spark DIV /
        # DuckDB //) — never a double in the middle.
        F.when(
            F.col("n_base") > 0,
            F.expr("(1000000 * n_appended) DIV n_base"),
        )
        .cast("bigint")
        .alias("growth_ppm"),
    )


# ---------------------------------------------------------------------------
# IVF RE-CLUSTER — the maintenance verb the drift reports feed
# ---------------------------------------------------------------------------


def reclustered_ivf_artifact(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> str:
    """The standing (appended) IVF posting-list artifact RE-CLUSTERED:
    retrain the coarse quantizer over the artifact's CURRENT stable
    stratum (frozen-K contract — K = min(IVF_K_MAX, ceil(sqrt(n_q))),
    the same :func:`_ivf_centroids` rule every build uses), reassign
    every posting to its nearest new centroid, and write a fresh
    cell-partitioned layout with a fresh centroid sidecar. The input is
    the ARTIFACT, not the embeddings table — a production re-cluster
    job runs off the index it is repairing (the lake table may have
    moved on); its old cell assignments are dropped on read, since
    reassignment under the new quantizer is the whole point. A
    :func:`session_artifact` on its own path."""

    def _write(path: str) -> None:
        standing = spark.read.parquet(
            IVF_FAMILY.appended(spark, sf_dir)
        ).select("vec_id", "v")
        _write_ivf(standing, path)

    return session_artifact(
        spark, "quty_ivf_postings_recl", sf_dir, _write, rebuild
    )


@registry.query(
    "sink_ivf_postings_artifact_recluster",
    oracle=IVF_FAMILY.summary_sql(""),
)
def sink_ivf_postings_artifact_recluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RE-CLUSTER step of the IVF index lifecycle — the maintenance
    verb the drift reports were missing a consumer for:
    :func:`embed_centroid_drift` and :func:`sim_ivf_cell_growth` report
    quantizer decay after appends, and THIS is the action an operator
    takes when those cross threshold. Stage the appended standing
    artifact (base build + admitted batch, the shared fixture device),
    retrain the coarse quantizer over its current stable stratum under
    the frozen-K contract, reassign ALL postings, write the fresh
    cell-partitioned layout + centroid sidecar, read it back and
    summarize per cell under the write-once sink's oracle SQL —
    byte-for-byte ``sink_ivf_postings_artifact``'s. A green row
    proves reclustered ≡ a fresh full build: the repair leaves the
    index exactly where a from-scratch rebuild would (probe equality
    additionally pinned in tests/test_artifact_append.py — the relabel
    verb's pattern).

    Scale: a re-cluster is inherently a full-index pass — ONE scan of
    the standing postings (vec_id + vector columns), the frozen-K
    stride retrain (n_q x 1-row stats broadcast, the allowlisted
    scalar-subquery shape), one broadcast n x K assignment (map-side
    combined argmax, K capped at IVF_K_MAX by construction), and one
    partitioned columnar write. That is the same cost as the write-once
    build — which is the honest floor for this verb: it runs when the
    index has drifted past what appends can patch, on an ops cadence
    (weekly/monthly), never nightly (the append + gate path stays
    batch-sized)."""
    path = reclustered_ivf_artifact(spark, sf_dir, rebuild=True)
    return IVF_FAMILY.summary(spark.read.parquet(path))
