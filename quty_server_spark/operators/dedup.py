"""Deduplication operators for the training-data pipeline surface.

Four families (BASELINE.json north star; SURVEY.md §2.C "LLM-pipeline"):

- exact dedup: hash-groupBy on md5(text) — at 100 TB you shuffle 16-byte
  digests, never full documents;
- MinHash + LSH near-dup: 3-word shingles → 16 md5-derived min-hashes →
  8 bands × 2 rows → band-bucket self-join → exact-Jaccard verification;
- n-gram Jaccard (exact): sparse inverted-index join on shingles — the
  ground truth the LSH variant approximates;
- SimHash: 48-bit fingerprint, near-pairs via 4×12-bit band join + Hamming
  verification (bit_count(xor)).

Everything is md5-based (functions/hashing.py) so DuckDB oracles compute
bit-identical signatures. All expressions are JVM builtins — no Python
UDFs — so whole-stage codegen applies end-to-end.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quty_server_spark.functions.hashing import (
    hash28,
    minhash_expr,
    sql_hash28,
    sql_hash60,
)
from quty_server_spark.operators._helpers import (
    LABEL_HOMES,
    ArtifactFamily,
    Layout,
    load_table,
    overlap,
    read_sidecar,
    register_artifact_sinks,
    sql_where,
    write_sidecar,
)
from quty_server_spark.plans.registry import registry
from quty_server_spark.session import (
    ensure_checkpoint_dir,
    session_artifact,
    session_memo,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

# The corpus has no exact duplicates, so dedup is exercised on a corpus with
# injected copies: every doc_id % 10 == 0 document is duplicated with a
# shifted id (+1_000_000). Deterministic and SQL-replicable.
SQL_DUPED = """
duped AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)"""


def duped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(copies)


@registry.query(
    "dedup_exact",
    oracle=f"""
    WITH {SQL_DUPED}
    SELECT md5(text) AS text_md5,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM duped
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: group on md5(text), keep min doc_id.

    Scale: the shuffle key is the 32-char digest (never the document), and
    partial aggregation collapses copies map-side before the exchange.
    """
    return (
        duped_corpus(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_md5"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shingling (shared by MinHash + exact Jaccard)
# ---------------------------------------------------------------------------

SQL_SHINGLES = """
shingled AS (
    SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 3
),
doc_shingle AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM shingled
),
doc_size AS (
    SELECT doc_id, len(shingles) AS n_sh FROM shingled
)"""


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) pairs — distinct 3-word shingles per document."""
    return doc_shingles_docs(load_table(spark, sf_dir, "documents"))


def doc_shingles_docs(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) from an already-loaded documents DataFrame —
    the variant streaming foreachBatch gates call per micro-batch."""
    toks = F.split("text", " ")
    return (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(toks) - 2), i -> "
                        "concat(element_at(toks, i), ' ', element_at(toks, i + 1), "
                        "' ', element_at(toks, i + 2)))"
                    )
                )
            ).alias("shingle"),
        )
    )


# A shingle shared by df documents contributes df*(df-1)/2 rows to the
# inverted-index self-join: the worst case is sum-over-shingles of df^2,
# and one boilerplate stop-shingle with df=1e6 at 100 TB would alone emit
# 5e11 join rows. The cap drops such shingles from the index UNIVERSE —
# sizes and intersections are both computed over kept shingles, so the
# result is a true Jaccard over the df-capped universe — bounding join
# cost at CAP * n_distinct_shingles while leaving rare (discriminative)
# shingles untouched. df <= 16 is vacuous on the fixtures (max df = 9),
# so the oracle-checked answer equals the uncapped exact Jaccard there;
# tests/test_dedup_semantics.py exercises the cap on a hot-shingle corpus.
JACCARD_DF_CAP = 16


def _pair_overlap_from(sh: DataFrame) -> DataFrame:
    """Shared pair-overlap core over the df-capped shingle universe: for
    every doc pair sharing >=1 kept shingle, (doc_a, doc_b, n_inter, na,
    nb) via an inverted-index self-join (shuffle on shingle, never a
    cross join). Jaccard and containment are projections of these counts
    — the ONE place the cap/index/sizes machinery lives.
    ``sh``: (doc_id, shingle).

    Two materialization points (lazy checkpoints): the raw shingle table
    feeds both the df computation and the capped join, and the CAPPED
    universe feeds three consumers (sizes + both self-join sides) —
    without them Catalyst re-runs the explode for every consumer."""
    sh = sh.localCheckpoint(eager=False)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= JACCARD_DF_CAP)
        .select("shingle")
    )
    sh = sh.join(rare, "shingle").localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _pair_jaccard_from(sh: DataFrame) -> DataFrame:
    """Exact Jaccard projection of :func:`_pair_overlap_from`."""
    return _pair_overlap_from(sh).select(
        "doc_a",
        "doc_b",
        (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias(
            "jaccard"
        ),
    )


def _pair_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pair_jaccard_from(doc_shingles(spark, sf_dir))


# Uncapped twin — used by the MinHash oracle, whose verification Jaccard
# is candidate-restricted (cost already bounded by LSH recall, no cap
# needed or wanted there).
SQL_PAIR_JACCARD = """
pair_inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM doc_shingle a
    JOIN doc_shingle b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pair_jaccard AS (
    SELECT p.doc_a, p.doc_b,
           p.n_inter / CAST(sa.n_sh + sb.n_sh - p.n_inter AS DOUBLE) AS jaccard
    FROM pair_inter p
    JOIN doc_size sa ON p.doc_a = sa.doc_id
    JOIN doc_size sb ON p.doc_b = sb.doc_id
)"""


# df-capped twin of SQL_PAIR_JACCARD (see JACCARD_DF_CAP note above).
SQL_PAIR_JACCARD_CAPPED = f"""
rare_shingle AS (
    SELECT shingle FROM doc_shingle GROUP BY shingle
    HAVING COUNT(*) <= {JACCARD_DF_CAP}
),
kept_shingle AS (
    SELECT ds.doc_id, ds.shingle
    FROM doc_shingle ds JOIN rare_shingle r ON ds.shingle = r.shingle
),
kept_size AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM kept_shingle GROUP BY doc_id
),
pair_inter_capped AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM kept_shingle a
    JOIN kept_shingle b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pair_jaccard_capped AS (
    SELECT p.doc_a, p.doc_b,
           p.n_inter / CAST(sa.n_sh + sb.n_sh - p.n_inter AS DOUBLE) AS jaccard
    FROM pair_inter_capped p
    JOIN kept_size sa ON p.doc_a = sa.doc_id
    JOIN kept_size sb ON p.doc_b = sb.doc_id
)"""


@registry.query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {SQL_SHINGLES}, {SQL_PAIR_JACCARD_CAPPED}
    SELECT doc_a, doc_b, jaccard FROM pair_jaccard_capped WHERE jaccard >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) over the
    df-capped shingle universe — the ground truth for the MinHash
    variant. Sparse inverted-index join: cost is sum over shingles of
    df(shingle)^2, so JACCARD_DF_CAP bounds the worst case (see the cap
    note above); on the fixtures the cap is vacuous and this IS the
    exact Jaccard."""
    return _pair_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.5)


@registry.query(
    "dedup_containment",
    oracle=f"""
    WITH {SQL_SHINGLES}, {SQL_PAIR_JACCARD_CAPPED}
    SELECT p.doc_a, p.doc_b,
           p.n_inter / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment,
           p.n_inter / CAST(sa.n_sh + sb.n_sh - p.n_inter AS DOUBLE) AS jaccard
    FROM pair_inter_capped p
    JOIN kept_size sa ON p.doc_a = sa.doc_id
    JOIN kept_size sb ON p.doc_b = sb.doc_id
    WHERE p.n_inter / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: |A ∩ B| / min(|A|, |B|) >= 0.8 —
    catches a short document embedded in a long one, which symmetric
    Jaccard misses (a 30-shingle doc fully inside a 300-shingle doc has
    containment 1.0 but Jaccard ~0.1). Emitted next to the Jaccard so a
    dedup policy can distinguish subset-dups from mutual near-dups.

    Same df-capped inverted-index join as dedup_ngram_jaccard (shared
    :func:`_pair_overlap_from` core); only the scoring projection
    differs.
    """
    return (
        _pair_overlap_from(doc_shingles(spark, sf_dir))
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") / F.least("na", "nb")).alias("containment"),
            (
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("containment") >= 0.8)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_PERM = 16
N_BANDS = 8  # bands of r=2 rows: P(candidate | J=0.8) ≈ 0.9997, | J=0.5) ≈ 0.90

_SIG_COLS = ", ".join(
    f"MIN({minhash_expr(i)}) AS s{i}" for i in range(N_PERM)
)
_SQL_BANDS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_id, "
    f"CAST(s{2*b} AS VARCHAR) || ',' || CAST(s{2*b+1} AS VARCHAR) AS sig FROM sigs"
    for b in range(N_BANDS)
)

SQL_MINHASH = f"""
hashed AS (
    SELECT doc_id, {sql_hash28('shingle')} AS h FROM doc_shingle
),
sigs AS (
    SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id
),
bands AS (
    {_SQL_BANDS}
),
candidates AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.sig = b.sig
                AND a.doc_id < b.doc_id
)"""


def minhash_sigs(sh: DataFrame) -> DataFrame:
    """16-permutation MinHash signatures from a (doc_id, shingle) table."""
    sh = sh.withColumn("h", hash28(F.col("shingle")))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.expr(minhash_expr(i))).alias(f"s{i}")
            for i in range(N_PERM)
        ]
    )


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, sig) LSH band table from a MinHash signature
    table: N_BANDS bands of r=2 rows, the band signature being the
    comma-joined pair — matching SQL_MINHASH's ``bands`` CTE exactly."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            ",",
                            F.col(f"s{2*b}").cast("string"),
                            F.col(f"s{2*b+1}").cast("string"),
                        ).alias("sig"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.sig")


def minhash_candidates(
    spark: SparkSession,
    sf_dir: str,
    sh: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band signature.
    ``sh`` lets a caller pass an already-materialized shingle table so
    candidate generation and Jaccard verification share one explode;
    ``sigs`` lets a caller that also consumes the signatures (the
    estimator-calibration query) share ONE signature aggregation —
    without it Catalyst recomputes the 16-way min aggregate per
    consumer (the dedup_simhash plan-regression class)."""
    if sigs is None:
        if sh is None:
            sh = doc_shingles(spark, sf_dir)
        sigs = minhash_sigs(sh)
    bands = minhash_bands(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@registry.query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {SQL_SHINGLES}, {SQL_MINHASH}, {SQL_PAIR_JACCARD}
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM candidates c
    JOIN pair_jaccard j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    WHERE j.jaccard >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup: banded signature buckets propose candidates,
    exact Jaccard verifies (>= 0.5). The scale path: signatures are 16
    ints/doc, the self-join touches only colliding buckets — never all
    pairs — and Jaccard is computed ONLY for candidate pairs (shingle
    intersection via two candidate-restricted joins), so verification
    cost scales with LSH recall, not with corpus pair density. Signature
    params are frozen literals so the DuckDB oracle reproduces them
    bit-for-bit (functions/hashing.py).

    The shingle explode is materialized once (lazy checkpoint) and
    shared by all four consumers (signature aggregation, sizes, and the
    two intersection sides) — Catalyst does not share common subtrees
    across joins, so the unmaterialized shape recomputed the explode 4x.
    At real scale this is the shingle-table write a dedup pipeline
    performs once per corpus snapshot. Measured at sf0.1: 2.0 -> 1.5 s."""
    sh = doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    cands = minhash_candidates(spark, sf_dir, sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(
        F.col("doc_id").alias("doc_b2"), F.col("shingle").alias("shingle_b")
    )
    inter = (
        cands.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 48
SIMHASH_BANDS = 4  # 12-bit bands: a pair at Hamming <= 3 shares one
HAMMING_MAX = 3

_SQL_SIM_BITS = " + ".join(
    f"CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
    f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
    for j in range(SIMHASH_BITS)
)

SQL_SIMHASH = f"""
tok AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
    FROM documents
),
tok_hashed AS (
    SELECT doc_id, {sql_hash60('token')} AS h FROM tok
),
simhash AS (
    SELECT doc_id, {_SQL_SIM_BITS} AS sig
    FROM tok_hashed GROUP BY doc_id
)"""


# Two 31-bit lane counters per packed 64-bit sum. Lane carry needs a
# per-bit popcount of 2^31 (2.1B distinct tokens in ONE doc) and the top
# lane's accumulator stays under 2^63 for any doc below 2^31 tokens —
# i.e. unreachable for real documents, with no silent-corruption cliff.
# (A 20-bit/3-lane packing was briefly used but capped at 2^20
# tokens/doc, a bound large corpora can actually hit.)
_SIM_LANES = 2
_SIM_LANE_BITS = 31


def simhash_sigs(
    spark: SparkSession, sf_dir: str, staged: bool = False
) -> DataFrame:
    """48-bit SimHash over distinct tokens: majority vote per bit of the
    60-bit md5 token hash. One aggregation — no UDF, no cross join.

    The votes are SIMD-packed: instead of 48 separate ±1-sum aggregation
    buffers, each packed sum carries two 31-bit lane counters (lane j
    accumulates bit j's popcount; the ±1 vote "sum > 0" is equivalent to
    "2*count > n"), so the aggregate needs 24 buffers + a row count.
    Same signatures bit-for-bit — the DuckDB oracle keeps the direct
    per-bit formulation — at half the aggregation state, and the packing
    has no reachable overflow (see _SIM_LANES note: carry would need a
    2^31-token document). Wall-clock at sf0.1 is unchanged (the
    fixture's 31-word vocabulary makes every document near-identical, so
    the banded candidate join — not this aggregation — dominates); the
    win is halved per-group state, which is what matters when signature
    aggregation spans billions of docs.

    ``staged=True`` signs the bridge-staged corpus
    (:func:`staged_documents`) instead of the raw table — the relabel
    lifecycle's non-vacuity device (see STAGED_BRIDGE_ROWS)."""
    if staged:
        return simhash_sigs_docs(staged_documents(spark, sf_dir))
    return simhash_sigs_docs(load_table(spark, sf_dir, "documents"))


def simhash_sigs_docs(d: DataFrame) -> DataFrame:
    """:func:`simhash_sigs` over an arbitrary ``(doc_id, text)`` frame —
    the same packed-vote aggregation, bit-for-bit, so a caller that gets
    its documents from somewhere other than the table scan (a streaming
    micro-batch, a quarantine re-check) signs them identically.

    The packed sums and the 48-term sig reconstruction are built as
    a handful of ``F.expr`` strings (one JVM-side parse each) instead of
    ~500 per-call Python column operations — the old construction spent
    ~0.9 s of DRIVER time in py4j round-trips building the expression
    tree before any job ran (guide §7.3 driver-side work; every bench
    run and every gate invocation re-constructs the plan). Parsed
    expressions are node-identical to the column-API form — signatures
    verified bitwise-equal on the fixture corpora at sf0.1 and sf0.001
    (construction 0.92 s → 0.08 s; execution unchanged)."""
    tok = d.select(
        "doc_id",
        F.expr("explode(array_distinct(split(text, ' '))) AS token"),
    ).select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT) AS h"
        ),
    )
    n_groups = SIMHASH_BITS // _SIM_LANES
    packed = []
    for g in range(n_groups):
        terms = [
            f"shiftleft(shiftright(h, {_SIM_LANES * g + lane}) & 1, "
            f"{_SIM_LANE_BITS * lane})"
            for lane in range(_SIM_LANES)
        ]
        packed.append(F.expr(f"sum({' + '.join(terms)}) AS p{g}"))
    agg = tok.groupBy("doc_id").agg(F.expr("count(*) AS n_tok"), *packed)
    mask = (1 << _SIM_LANE_BITS) - 1
    terms = []
    for g in range(n_groups):
        for lane in range(_SIM_LANES):
            j = _SIM_LANES * g + lane
            s_j = f"(shiftright(p{g}, {_SIM_LANE_BITS * lane}) & {mask})"
            terms.append(
                f"(CASE WHEN {s_j} * 2 > n_tok THEN CAST({1 << j} AS BIGINT)"
                f" ELSE CAST(0 AS BIGINT) END)"
            )
    return agg.select("doc_id", F.expr(f"({' + '.join(terms)}) AS sig"))


# ---------------------------------------------------------------------------
# Staged bridge corpus: driver-fixture non-vacuity for the
# relabel lifecycle
# ---------------------------------------------------------------------------

# The driver fixtures contain no standing-cluster merge (the relabel
# queue's external CORRECTNESS row was a vacuous 0 == 0), and
# /root/testdata is read-only. So, exactly like
# SQL_PII_STAGED stages synthetic PII for the scrub op, the relabel
# lifecycle queries stage a deterministic bridge trio INSIDE the query on
# BOTH engines: two 2-doc lake clusters whose SimHash signatures sit at
# distance 6 (> HAMMING_MAX — they never pair directly) and one shard doc
# at distance 3 from each (pairs with both, merging them — the
# dominant-pair majority trick from tests/test_dedup_semantics.py). The
# token choice keeps the trio >= 12 bits from every fixture doc at all
# three SFs (probed sf0.001 / sf0.01 / sf0.1; HAMMING_MAX is 3), so the
# staged structure is deterministic on top of any fixture corpus: the
# staged relabel queue always contains exactly cluster B's standing label.
_BRIDGE_WA, _BRIDGE_WB, _BRIDGE_FILL = "tok326", "tok8533", "tok42"
STAGED_BRIDGE_ROWS: list[tuple[int, str]] = [
    (9001001, " ".join([_BRIDGE_WA] * 10)),  # standing cluster A (lbl 9001001)
    (9001011, " ".join([_BRIDGE_WA] * 10)),
    (9001003, " ".join([_BRIDGE_WB] * 10)),  # standing cluster B (lbl 9001003)
    (9001013, " ".join([_BRIDGE_WB] * 10)),
    # tonight's bridge (shard: % 10 == 0) — distance 3 from A and from B
    (9002000, " ".join([_BRIDGE_WA] * 10 + [_BRIDGE_WB] * 10 + [_BRIDGE_FILL])),
]

SQL_DOCS_STAGED = (
    "documents_staged AS (\n"
    "        SELECT doc_id, text FROM documents\n"
    "        UNION ALL\n"
    "        SELECT * FROM (VALUES "
    + ", ".join(f"({i}, '{t}')" for i, t in STAGED_BRIDGE_ROWS)
    + ") t(doc_id, text)\n    )"
)

# SQL_SIMHASH reading the staged relation: the single `FROM documents`
# occurrence (the tok CTE) is redirected; everything downstream is
# byte-identical, so staged and raw signatures can never drift.
SQL_SIMHASH_STAGED = (
    SQL_DOCS_STAGED
    + ",\n    "
    + SQL_SIMHASH.lstrip().replace("FROM documents\n", "FROM documents_staged\n")
)


def staged_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with the five STAGED_BRIDGE_ROWS appended —
    the Spark twin of SQL_DOCS_STAGED. A union of a 5-row local
    relation: Catalyst plans it as the table scan plus one tiny
    in-memory partition, so every downstream plan shape (pushdown,
    banded joins, artifact writes) is unchanged at any scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        STAGED_BRIDGE_ROWS, "doc_id long, text string"
    )
    return d.unionByName(extra)


@registry.query(
    "dedup_cluster",
    oracle=f"""
    WITH RECURSIVE {SQL_SIMHASH.lstrip()},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
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
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the SimHash
    near-pair graph, each doc labeled with the min doc_id of its
    component (the canonical keeper). Iterative min-label propagation
    with pointer doubling — see :func:`min_label_components`. The
    oracle is a recursive CTE computing min reachable label. This is the
    keeper-assignment step a 100 TB dedup pipeline runs after pair
    mining; the driver only coordinates supersteps, all data movement is
    shuffle-side. The label table is memoized per (session, sf_dir) —
    see :func:`simhash_component_labels` — so the stats/keeper queries
    that consume the same labels don't re-run the BSP loop."""
    labels = simhash_component_labels(spark, sf_dir)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


# Reliable-checkpoint cadence for the BSP loop: every k-th superstep goes
# to the checkpoint dir (survives executor loss; bounds recompute to <k
# supersteps), the rest use executor-local checkpoints (lineage
# truncation only). On a real cluster point setCheckpointDir at durable
# storage (HDFS/S3); here it defaults to local tmp.
CLUSTER_CKPT_EVERY = 5

# Broadcast the label frontier in the superstep joins when the node count
# is at most this. Checkpointed frames report no size stats, so Catalyst
# assumes the label table is huge and plans a sort-merge join that
# re-shuffles the (much larger) edge list EVERY superstep; below this
# threshold the labels are a few MB ((node, lbl) = 16 bytes/row) and
# broadcasting them keeps the edge list un-shuffled in place. Above it
# (billions of near-dup nodes at 100 TB) the shuffle path engages
# automatically. Measured at sf0.1: 9.6 s -> 5.3 s for the 6-superstep
# loop.
BROADCAST_NODES_MAX = 1_000_000


def min_label_components(
    spark: SparkSession, pairs: DataFrame, max_rounds: int = 20
) -> tuple[DataFrame, int]:
    """Connected components by min-label propagation over an undirected
    pair list ``(doc_a, doc_b)``. Returns ``(labels, rounds)`` where
    labels is ``(node, lbl)`` with lbl = min node id reachable.

    Each superstep is one distributed job: the neighbor-min join, a
    pointer-doubling shortcut (lbl(lbl(node)) — turns O(diameter) rounds
    into O(log diameter)), then a LAZY checkpoint whose materialization
    and the convergence count share a single action (``agg(sum(changed))``
    runs the job that also writes the checkpoint — no second pass, no
    driver-side data beyond one count). Every CLUSTER_CKPT_EVERY-th
    superstep checkpoints reliably so an executor loss mid-loop replays
    at most k supersteps instead of the whole lineage.

    Restructured (guide §2.4, measured 2.7 s → 2.1 s on the sf0.1 rep
    graph, labels and superstep counts bit-identical incl. the line/empty
    topologies):

    - Superstep 1 from identity labels provably reduces to
      ``lbl = min(node, min-neighbor)`` (the shortcut chases through the
      identity are no-ops), so it is FOLDED INTO THE INIT as a single
      aggregation — the first superstep's three broadcast joins never
      run, and the same action also yields the node count for the
      broadcast gate and superstep 1's convergence check.
    - From superstep 2 on, the neighbor-min aggregation and the old-label
      re-attach join are MERGED: the edge list carries flagged
      self-loops (one per node, built once next to the durable edge
      checkpoint), so one ``groupBy(src)`` produces both ``min(lbl)``
      over the closed neighborhood (= least(lbl, neigh-min), since the
      self row contributes lbl(src)) and — via ``min(when(is_self))`` —
      the node's own previous label. Per round: 3 broadcast builds + 3
      joins instead of 4 + 4 (the broadcasts are NOT exchange-reused by
      Catalyst — verified in the formatted plan — so each eliminated
      build is an eliminated driver-side collect sub-job)."""
    ensure_checkpoint_dir(spark)
    pairs = pairs.select("doc_a", "doc_b")  # tolerate extra columns
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges.checkpoint(eager=True)  # pair mining runs once, durably
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("mn"))
        .select(
            "node",
            F.least(F.col("node"), F.col("mn")).alias("lbl"),
            F.col("node").alias("old_lbl"),
        )
        .localCheckpoint(eager=False)
    )
    init = labels.agg(
        F.sum((F.col("lbl") != F.col("old_lbl")).cast("long")).alias("c"),
        F.count("*").alias("n"),
    ).first()
    changed, n_nodes = init["c"], init["n"]
    small = n_nodes <= BROADCAST_NODES_MAX
    labels = labels.select("node", "lbl")
    rounds = 1
    if not changed:
        return labels, rounds
    edges2 = edges.select(
        "src", "dst", F.lit(False).alias("is_self")
    ).unionByName(
        labels.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(True).alias("is_self"),
        )
    )
    for step in range(1, max_rounds):  # cap >> log2 of any real diameter
        lab = F.broadcast(labels) if small else labels
        hop = (
            edges2.join(lab, edges2.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.min(F.when(F.col("is_self"), F.col("lbl"))).alias(
                    "old_lbl"
                ),
                F.min("lbl").alias("lbl1"),
            )
        )
        ll = labels.select(
            F.col("node").alias("ll_node"), F.col("lbl").alias("ll_lbl")
        )
        if small:
            ll = F.broadcast(ll)
        new_labels = hop.join(ll, hop.lbl1 == ll.ll_node, "left").select(
            "node",
            "old_lbl",
            F.least(
                F.col("lbl1"), F.coalesce(F.col("ll_lbl"), F.col("lbl1"))
            ).alias("lbl"),
        )
        # Second shortcut application in the SAME lazy plan (one more
        # small-side join, still a single action per superstep): chasing
        # lbl through last round's table twice extends per-round reach
        # from ~2^k to ~4^k on long-diameter graphs — measured on a
        # 256-node line: 7 rounds vs ~9 with one application (each saved
        # round is a full cluster-wide superstep at 100 TB). On the
        # dense fixture graph round count is propagation-structure-bound,
        # not reach-bound, so it is unchanged there — and the extra join
        # over the broadcast-sized label table costs nothing measurable.
        # The fixpoint is untouched: a label stable under neighbor-min +
        # shortcuts is stable under neighbor-min alone, so the
        # changed==0 exit is unaffected.
        ll2 = labels.select(
            F.col("node").alias("l2_node"), F.col("lbl").alias("l2_lbl")
        )
        if small:
            ll2 = F.broadcast(ll2)
        new_labels = new_labels.join(
            ll2, new_labels.lbl == ll2.l2_node, "left"
        ).select(
            "node",
            "old_lbl",
            F.least(
                F.col("lbl"), F.coalesce(F.col("l2_lbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        new_labels = new_labels.localCheckpoint(eager=False)
        # Single action: materializes the (lazy) local checkpoint AND
        # reduces the changed-count — the convergence check costs no
        # extra job.
        changed = new_labels.agg(
            F.sum((F.col("lbl") != F.col("old_lbl")).cast("long")).alias("c")
        ).first()[0]
        labels = new_labels.select("node", "lbl")
        if (step + 1) % CLUSTER_CKPT_EVERY == 0:
            # Reliable checkpoint AFTER the local materialization: the
            # write job re-reads the executor-cached blocks instead of
            # recomputing the superstep's joins (a lazy reliable
            # checkpoint + action runs the whole lineage twice — measured
            # 2x partition computations on this Spark build).
            labels = labels.checkpoint(eager=True)
        rounds = step + 1
        if not changed:
            break
    return labels, rounds


def simhash_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash near-dup component label table ``(node, lbl)`` — the
    single most expensive job in the repo (banded pair mining + the BSP
    loop), shared by ``dedup_cluster``, ``dedup_keep_canonical`` and
    ``dedup_cluster_stats`` through a :func:`session_memo`, so a
    composed pipeline (or the headline bench) labels the corpus ONCE
    instead of once per consumer. The returned frame is eagerly
    localCheckpointed: consumers get materialized executor-local
    blocks, not a lineage that would re-run the supersteps; on executor
    loss the entry is simply rebuilt (the BSP loop's own
    reliable-checkpoint cadence bounds that replay). The memo holds one
    ~16-byte/row label table per dataset, O(near-dup nodes).

    Mining and labeling run at SIGNATURE grain, then expand back to
    documents (:func:`_labels_from_sigs`) — the standard production
    pre-collapse (an exact 48-bit-signature group is a hamming-0
    clique; boilerplate-heavy corpora have MANY docs per signature).
    Exactness: both bucket membership and hamming are functions of the
    signature alone, so the doc-grain near-pair graph is precisely
    (same-sig cliques) ∪ (the complete bipartite expansion of every
    qualifying distinct-sig pair) — its components are the rep graph's
    components with each sig group substituted in, and min-doc-id
    labels agree because each group's rep IS its min doc_id. At sf0.1
    the band self-join shrinks from 4.98 M to 0.88 M rows. Equivalence
    to the doc-grain path is pinned in tests/test_dedup_semantics.py
    and by the recursive-CTE oracles of all three consumers."""

    def _build() -> DataFrame:
        sigs = simhash_sigs(spark, sf_dir).localCheckpoint(eager=False)
        return _labels_from_sigs(spark, sigs).localCheckpoint(eager=True)

    return session_memo(spark, "cluster_labels", sf_dir, _build)


def simhash_bands(sigs: DataFrame) -> DataFrame:
    """Explode 48-bit signatures into SIMHASH_BANDS x 12-bit pigeonhole
    bands, carrying ``sig`` through so the verify stage never re-joins the
    signature aggregation (see dedup_simhash plan note)."""
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("sig"), 12 * b)
                        .bitwiseAND(4095)
                        .alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_id", "band.band_val")


@registry.query(
    "dedup_simhash",
    oracle=f"""
    WITH {SQL_SIMHASH},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           bit_count(xor(sa.sig, sb.sig)) AS hamming
    FROM cands c
    JOIN simhash sa ON c.doc_a = sa.doc_id
    JOIN simhash sb ON c.doc_b = sb.doc_id
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {HAMMING_MAX}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: pairs within Hamming distance 3 of the 48-bit
    fingerprint. Pigeonhole banding (4 x 12-bit chunks - any pair within
    distance 3 shares at least one intact chunk) proposes candidates;
    bit_count(xor) verifies. DuckDB spells xor as ``xor()``."""
    # The signature aggregation (token explode + 48 conditional sums) is
    # the expensive subtree; carry ``sig`` THROUGH the band explode so it
    # appears exactly once in the plan — the earlier shape (band join on
    # bare ids, then two re-joins against sigs to fetch sig_a/sig_b) made
    # Catalyst recompute the aggregation three times, and forced the
    # dedup `distinct` to run over unverified candidates. With sigs
    # attached, Hamming verification runs BEFORE distinct, so the shuffle
    # dedups only true near-pairs (hamming is pair-determined, so
    # distinct over (doc_a, doc_b, hamming) equals distinct over pairs).
    # Cost: +8 bytes per exploded band row — negligible against two
    # aggregations and a wider distinct at any scale.
    sigs = simhash_sigs(spark, sf_dir)
    bands = simhash_bands(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


@registry.query(
    "dedup_prefix",
    oracle="""
    WITH pref AS (
        SELECT doc_id, lang, source,
               array_to_string(string_split(text, ' ')[1:16], ' ') AS prefix16
        FROM documents)
    SELECT prefix16,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(DISTINCT source) AS n_sources
    FROM pref
    GROUP BY prefix16
    HAVING COUNT(*) > 1
    """,
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup: documents sharing their first 16 tokens collapse to
    one keeper (min doc_id) — the cheap first pass of web-scale dedup
    (boilerplate openers, mirrored pages): one hash-shuffle on the
    prefix, no pairwise compare at all. At 100 TB, group on a 64-bit
    xxhash of the prefix instead of the string to keep shuffle rows
    small; semantics are unchanged modulo hash collisions."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 16))
    return (
        d.select("doc_id", "source", prefix.alias("prefix16"))
        .groupBy("prefix16")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") > 1)
    )


@registry.query(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE {SQL_SIMHASH.lstrip()},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
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
    lab AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup decision: every document gets its near-dup
    cluster id (connected components over the SimHash near-pair graph;
    singletons are their own cluster) and a ``keep`` flag — true exactly
    for the cluster's canonical doc (min doc_id). This is the full
    keeper policy a 100 TB training-data pipeline materializes before
    filtering: ``WHERE keep`` yields the deduplicated corpus, the
    cluster_id column keeps the provenance auditable. Scale shape: the
    expensive parts are the banded pair mining and the O(log diameter)
    BSP loop (both documented above); the final step is one left
    broadcast-join of the corpus against the label table (labels <=
    near-dup docs << corpus). The label table is shared with
    dedup_cluster/dedup_cluster_stats via the per-session memo
    (:func:`simhash_component_labels`) — one labeling pass feeds all
    three consumers."""
    labels = simhash_component_labels(spark, sf_dir)
    lab = labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    # labels are already materialized by the BSP loop, so the count is a
    # cheap scan; same threshold rationale as BROADCAST_NODES_MAX.
    small = lab.count() <= BROADCAST_NODES_MAX
    out = d.join(F.broadcast(lab) if small else lab, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        (
            F.coalesce(F.col("cluster_id"), F.col("doc_id")) == F.col("doc_id")
        ).alias("keep"),
    )


# A hot block is the entity-resolution analog of a stop-shingle: a block
# of b docs pays C(b, 2) levenshtein verifies, and the (lang, first
# token, length bucket) key concentrates stop-word-initial documents
# ("the ..."-initial English docs land in few buckets) — at 100 TB one
# hot block is quadratic. Blocks above the cap are dropped from the
# candidate universe on BOTH engines (QUALIFY-mirrored), bounding every
# block at C(16, 2) = 120 verifies — the same contract-and-device as
# JACCARD_DF_CAP / SIMHASH_BUCKET_CAP. Fixture block sizes: sf0.01
# median 1 / max 5 (cap dormant), sf0.1 median 3 / p99 14 / max 19 (cap
# bites on the hot head only); the synthetic hot-block unit test in
# tests/test_dedup_semantics.py proves the drop semantics directly.
LEV_BLOCK_CAP = 16


@registry.query(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               lang || '|' || string_split(text, ' ')[1]
                    || '|' || CAST(n_chars // 64 AS VARCHAR) AS block_key,
               substr(text, 1, 48) AS head
        FROM documents),
    capped AS (
        SELECT doc_id, block_key, head FROM keyed
        WHERE block_key IS NOT NULL
        QUALIFY COUNT(*) OVER (PARTITION BY block_key) <= {LEV_BLOCK_CAP})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.head, b.head) AS edit_dist
    FROM capped a JOIN capped b
      ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 16
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup mining by edit distance, blocked: candidate pairs
    come from an EQUALITY self-join on a blocking key (language, first
    token, 64-char length bucket) and only those pairs pay the O(L²)
    levenshtein verify on a 48-char head. The classic entity-resolution
    shape: never all-pairs — blocks above LEV_BLOCK_CAP are dropped
    before the join on BOTH engines (see cap rationale above), so
    per-block pair expansion is bounded at C(cap, 2) regardless of how
    hot a (lang, first-token, length) key gets.

    Plan: the block size comes from a window count partitioned by the
    SAME block_key the self-join shuffles on — no extra exchange. NULL
    block keys (NULL lang/text) are filtered explicitly: a NULL key
    never joins anyway, but the window partition would otherwise count
    the NULL group and both engines must agree it is not a block.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        # F.concat, not concat_ws: `||` in the oracle propagates NULL
        # (a NULL lang/text/n_chars row never joins), while concat_ws
        # would skip the NULL input and still produce a joinable key —
        # divergent candidate sets on dirty data.
        F.concat(
            F.col("lang"),
            F.lit("|"),
            F.split("text", " ").getItem(0),
            F.lit("|"),
            (F.col("n_chars") / 64).cast("bigint").cast("string"),
        ).alias("block_key"),
        F.substring("text", 1, 48).alias("head"),
    )
    keyed = (
        keyed.filter(F.col("block_key").isNotNull())
        .withColumn(
            "bsz", F.count("*").over(Window.partitionBy("block_key"))
        )
        .filter(F.col("bsz") <= LEV_BLOCK_CAP)
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.head"), F.col("b.head")).alias("edit_dist"),
    )
    return pairs.filter(F.col("edit_dist") <= 16)


# Saturated band buckets are the SimHash analog of stop-shingles: a
# bucket holding b docs contributes C(b, 2) candidate rows, and on a
# realistic Zipf-vocabulary corpus the 4 x 4096-bucket space saturates —
# tools/diverse_corpus.py measures the uncapped candidate join growing
# ~3.9x per corpus doubling (quadratic) while MinHash-LSH and df-capped
# shingle blocks stay ~2x (linear). Dropping buckets larger than the cap
# bounds the join at CAP * n_buckets rows. The cap is visible in the
# results (pairs whose only shared intact band is saturated are not
# proposed), so the oracle applies the IDENTICAL cap (QUALIFY) — this is
# the documented candidate-generation contract at scale, not a silent
# approximation. Fixture sf0.01: 494 buckets, median size 1, head ~167;
# cap 32 keeps the discriminative tail and drops the degenerate head.
SIMHASH_BUCKET_CAP = 32


@registry.query(
    "dedup_simhash_capped",
    oracle=f"""
    WITH {SQL_SIMHASH},
    bands AS (
        SELECT doc_id, sig, b.band_id,
               (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
        QUALIFY COUNT(*) OVER (PARTITION BY b.band_id,
                               (sig >> (12 * b.band_id)) & 4095)
                <= {SIMHASH_BUCKET_CAP}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {HAMMING_MAX}
    """,
)
def dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash's 100 TB candidate-generation contract: identical
    banding and Hamming verify, but band buckets larger than
    SIMHASH_BUCKET_CAP are dropped from the candidate universe before
    the self-join (both engines apply the cap, so the oracle is exact).

    Plan: bucket sizes come from a window count partitioned by the SAME
    (band_id, band_val) key the self-join shuffles on, so the cap costs
    no extra exchange — the window's sort-partitioning is reused by the
    join."""
    bands = simhash_bands(simhash_sigs(spark, sf_dir))
    bands = bands.withColumn(
        "bsz",
        F.count("*").over(Window.partitionBy("band_id", "band_val")),
    ).filter(F.col("bsz") <= SIMHASH_BUCKET_CAP)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


# Shared by dedup_incremental_simhash and its artifact-reading variant:
# both compute the same (shard-vs-lake near-pair) relation, so they are
# oracled by the same SQL — the variant differs only in WHERE the lake
# side's banded signatures come from (recomputed vs a parquet artifact).
SQL_INCREMENTAL_GATE = f"""
    WITH {SQL_SIMHASH},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
    ),
    cands AS (
        SELECT DISTINCT n.doc_id AS incoming_doc_id, o.doc_id AS lake_doc_id
        FROM bands n JOIN bands o
          ON n.band_id = o.band_id AND n.band_val = o.band_val
        WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
    )
    SELECT c.incoming_doc_id, c.lake_doc_id,
           bit_count(xor(sn.sig, so.sig)) AS hamming
    FROM cands c
    JOIN simhash sn ON c.incoming_doc_id = sn.doc_id
    JOIN simhash so ON c.lake_doc_id = so.doc_id
    WHERE bit_count(xor(sn.sig, so.sig)) <= {HAMMING_MAX}
    """


def simhash_gate_pairs(
    shard_bands: DataFrame, lake_bands: DataFrame
) -> DataFrame:
    """The SimHash gate's one join: ``(incoming_doc_id, lake_doc_id,
    hamming)`` for every shard/lake band row pair sharing a (band_id,
    band_val) bucket, kept at ``hamming <= HAMMING_MAX``. Both inputs
    carry (doc_id, sig, band_id, band_val). NOT distinct — a pair
    sharing k buckets appears k times — so each caller applies its own
    ``.distinct()`` after choosing its columns."""
    n, o = shard_bands.alias("n"), lake_bands.alias("o")
    return (
        n.join(
            o,
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.band_val") == F.col("o.band_val")),
        )
        .select(
            F.col("n.doc_id").alias("incoming_doc_id"),
            F.col("o.doc_id").alias("lake_doc_id"),
            F.bit_count(F.col("n.sig").bitwiseXOR(F.col("o.sig"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


@registry.query(
    "dedup_incremental_simhash",
    oracle=SQL_INCREMENTAL_GATE,
)
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the nightly-ingest pattern a 100 TB lake
    actually runs: an incoming shard (here ``doc_id % 10 = 0``, a
    deterministic 10% slice at every SF) is checked for near-duplicates
    AGAINST THE EXISTING LAKE ONLY, without re-mining lake-vs-lake
    pairs. Same 4 x 12-bit pigeonhole banding + Hamming verify as
    :func:`dedup_simhash`, but the band join is ASYMMETRIC
    (incoming bands x lake bands), so per run the candidate cost is
    |incoming| x bucket-density — independent of |lake|² — and the
    output is exactly the pairs an ingest gate needs to quarantine the
    shard's duplicates. The shard/lake predicates are on the grouping
    key, so Catalyst pushes them BELOW the signature aggregation onto
    the parquet scans (verified in the optimized plan: each side
    aggregates only its own documents — nothing is signed twice). At
    scale the lake side's signatures/bands are the precomputed,
    partitioned artifact (written once by the full dedup run); AQE
    broadcasts whichever band side fits (at fixture scale both do; in
    production that is the shard), and the shuffle-on-(band_id,
    band_val) shape engages automatically when neither does. On a
    boilerplate-dense corpus compose with the SIMHASH_BUCKET_CAP device
    of :func:`dedup_simhash_capped` — the cap applies to the lake-side
    buckets unchanged."""
    bands = simhash_bands(simhash_sigs(spark, sf_dir))
    return simhash_gate_pairs(
        bands.filter(F.col("doc_id") % 10 == 0),
        bands.filter(F.col("doc_id") % 10 != 0),
    ).distinct()


@registry.query(
    "dedup_incremental_simhash_capped",
    oracle=f"""
    WITH {SQL_SIMHASH},
    bands AS (
        SELECT doc_id, sig, b.band_id,
               (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
        QUALIFY COUNT(*) OVER (PARTITION BY b.band_id,
                               (sig >> (12 * b.band_id)) & 4095)
                <= {SIMHASH_BUCKET_CAP}
    )
    SELECT DISTINCT n.doc_id AS incoming_doc_id, o.doc_id AS lake_doc_id,
           bit_count(xor(n.sig, o.sig)) AS hamming
    FROM bands n JOIN bands o
      ON n.band_id = o.band_id AND n.band_val = o.band_val
    WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
      AND bit_count(xor(n.sig, o.sig)) <= {HAMMING_MAX}
    """,
)
def dedup_incremental_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental ingest gate's 100 TB candidate-generation
    contract. The diverse-corpus ladder (SCALING.md §sparsity) measures
    the UNCAPPED asymmetric join at ~4x candidates per corpus doubling
    when the shard scales with the corpus — banding is banding: dense
    boilerplate buckets explode whether the join is symmetric or not.
    Same fix as :func:`dedup_simhash_capped`, same cap, same
    QUALIFY-mirrored oracle: buckets larger than SIMHASH_BUCKET_CAP are
    non-discriminative boilerplate and leave the candidate universe
    BEFORE the shard/lake split, bounding lake-side work at
    CAP x n_buckets regardless of corpus density (measured back to
    ~2x/doubling — linear — on the diverse corpus). Production shape:
    fixed nightly shard against a growing lake; the cap is what keeps
    the gate's cost a function of the shard, not of the lake's
    boilerplate — measured directly by the ladder's fixed-shard column
    (SPARSITY.json ``fixed_shard_capped_pairs``, SCALING.md "FIXED
    shard, growing lake"): with the shard pinned at 1,250 docs and the
    lake doubling 12.5k -> 100k, capped per-run candidates go 36,661 -> 21,536
    (steps 1.09 / 0.82 / 0.66 — flat, then FALLING as saturated buckets
    retire from the universe), while the uncapped gate's double with
    every lake doubling (57,881 -> 504,929)."""
    bands = simhash_bands(simhash_sigs(spark, sf_dir))
    bands = bands.withColumn(
        "bsz",
        F.count("*").over(Window.partitionBy("band_id", "band_val")),
    ).filter(F.col("bsz") <= SIMHASH_BUCKET_CAP)
    return simhash_gate_pairs(
        bands.filter(F.col("doc_id") % 10 == 0),
        bands.filter(F.col("doc_id") % 10 != 0),
    ).distinct()


def minhash_gate_candidates(
    shard_bands: DataFrame, lake_bands: DataFrame, *carry: Column
) -> DataFrame:
    """The MinHash gate's one join: distinct ``(incoming_doc_id,
    lake_doc_id[, *carry])`` for every shard/lake band row pair equal on
    (band_id, sig). Both inputs carry (doc_id, band_id, sig); ``carry``
    columns read the lake side as ``o.`` (the artifact gates carry
    ``F.col("o.n_sh").alias("nb")`` into :func:`_minhash_gate_verify_nb`)."""
    n, o = shard_bands.alias("n"), lake_bands.alias("o")
    return (
        n.join(
            o,
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.sig") == F.col("o.sig")),
        )
        .select(
            F.col("n.doc_id").alias("incoming_doc_id"),
            F.col("o.doc_id").alias("lake_doc_id"),
            *carry,
        )
        .distinct()
    )


def _minhash_gate_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of MinHash-gate candidate pairs:
    ``cand`` is (incoming_doc_id, lake_doc_id); ``sh`` the (doc_id,
    shingle) table both sides' shingles come from. Shared by the
    recomputing and capped gates — the cap changes only the candidate
    UNIVERSE, never the verify semantics (same contract as the
    SimHash family's unchanged Hamming verify)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("incoming_doc_id"), "shingle")
    sb = sh.select(
        F.col("doc_id").alias("lake_doc_id2"),
        F.col("shingle").alias("shingle_b"),
    )
    inter = (
        cand.join(sa, "incoming_doc_id")
        .join(
            sb,
            (F.col("lake_doc_id") == F.col("lake_doc_id2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("incoming_doc_id", "lake_doc_id")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(
        F.col("doc_id").alias("incoming_doc_id"), F.col("n_sh").alias("na")
    )
    nb = sizes.select(
        F.col("doc_id").alias("lake_doc_id"), F.col("n_sh").alias("nb")
    )
    return (
        inter.join(na, "incoming_doc_id")
        .join(nb, "lake_doc_id")
        .select(
            "incoming_doc_id",
            "lake_doc_id",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def _minhash_gate_verify_nb(
    cand: DataFrame, sh_shard: DataFrame, lake_sh: DataFrame
) -> DataFrame:
    """Exact-Jaccard verification for the ARTIFACT-backed gates:
    ``cand`` is (incoming_doc_id, lake_doc_id, nb) with the lake doc's
    shingle count already embedded (read off the artifact), so only
    the shard's sizes are aggregated; ``sh_shard`` is the incoming
    side's (doc_id, shingle) table, ``lake_sh`` the lake documents'
    (lake_doc_id2, shingle_b) scan+explode. Shared by
    :func:`dedup_incremental_minhash_artifact` and the streaming twin
    so the threshold/denominator contract lives in exactly one place."""
    sa = sh_shard.select(F.col("doc_id").alias("incoming_doc_id"), "shingle")
    inter = (
        cand.join(sa, "incoming_doc_id")
        .join(
            lake_sh,
            (F.col("lake_doc_id") == F.col("lake_doc_id2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("incoming_doc_id", "lake_doc_id", "nb")
        .agg(F.count("*").alias("n_inter"))
    )
    na = (
        sh_shard.groupBy("doc_id")
        .agg(F.count("*").alias("na"))
        .select(F.col("doc_id").alias("incoming_doc_id"), "na")
    )
    return (
        inter.join(na, "incoming_doc_id")
        .select(
            "incoming_doc_id",
            "lake_doc_id",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def lake_shingles_for_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (lake_doc_id2, shingle_b) table the artifact-backed gates'
    verify stage joins — a narrow scan+explode with no aggregation (the
    lake-sized aggregations live in the artifact build).

    Deliberately carries NO lake-membership filter: the
    verify join restricts this side by the candidate's exact
    ``lake_doc_id``, and doc_ids are unique, so the rows that survive
    are precisely the candidates' own shingles — whatever convention
    put those docs into the artifact. A ``doc_id % 10 != 0`` filter
    here would silently drop every candidate whose lake doc was
    APPENDED to the artifact after admission (their Jaccard inner join
    would find no shingles → false negatives for near-dups of admitted
    docs), while buying nothing: the filter prunes rows the candidate
    join discards anyway."""
    return doc_shingles(spark, sf_dir).select(
        F.col("doc_id").alias("lake_doc_id2"),
        F.col("shingle").alias("shingle_b"),
    )


# Shared by the recomputing MinHash gate, its artifact-backed twin, and
# the streaming twin — one SQL contract, three execution shapes (the
# same constant-sharing device as SQL_INCREMENTAL_GATE for the SimHash
# family).
SQL_MINHASH_GATE = f"""
    WITH {SQL_SHINGLES}, {SQL_MINHASH},
    cand AS (
        SELECT DISTINCT n.doc_id AS incoming_doc_id, o.doc_id AS lake_doc_id
        FROM bands n
        JOIN bands o ON n.band_id = o.band_id AND n.sig = o.sig
        WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
    ),
    inter AS (
        SELECT c.incoming_doc_id, c.lake_doc_id, COUNT(*) AS n_inter
        FROM cand c
        JOIN doc_shingle a ON a.doc_id = c.incoming_doc_id
        JOIN doc_shingle b ON b.doc_id = c.lake_doc_id
                          AND b.shingle = a.shingle
        GROUP BY c.incoming_doc_id, c.lake_doc_id
    )
    SELECT i.incoming_doc_id, i.lake_doc_id,
           i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)
               AS jaccard
    FROM inter i
    JOIN doc_size sa ON sa.doc_id = i.incoming_doc_id
    JOIN doc_size sb ON sb.doc_id = i.lake_doc_id
    WHERE i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
    """


@registry.query(
    "dedup_incremental_minhash",
    oracle=SQL_MINHASH_GATE,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly ingest gate on the MinHash-LSH signature family —
    the same shard-vs-lake asymmetric split as
    :func:`dedup_incremental_simhash`, proving the incremental shape is
    signature-agnostic: tonight's shard (``doc_id % 10 == 0``) bands
    join the lake's bands on (band_id, band signature) equality, and
    only the surviving candidates pay the exact-Jaccard verify
    (intersection restricted to candidate pairs, threshold 0.5 — the
    same contract as :func:`dedup_minhash_lsh`).

    Scale: per-run candidate cost follows the shard — each shard band
    row meets only its bucket's lake rows, never |lake|² — and the
    verify joins are candidate-restricted, so verification cost scales
    with LSH recall. Measured on both ladder axes (SPARSITY.json,
    SCALING.md, the MinHash ladder columns): shard∝corpus gives 0.002 →
    0.021 candidate pairs/doc across 12.5k → 100k docs (1,766× fewer
    than the uncapped SimHash gate at n=100k); the
    fixed-shard-growing-lake column (``fixed_shard_minhash_*``) shows
    per-run candidates still GROW with the lake (29 → 695 across 16×
    lake growth, ~2×/doubling) at minuscule absolute density. The 100
    TB nightly contract is therefore the CAPPED twin
    (:func:`dedup_incremental_minhash_capped`, bounded at
    |shard bands| × MINHASH_BUCKET_CAP, measured ~lake^0.5 — the trend
    dial beyond that is r); THIS op is the calibration/teaching variant whose
    uncapped density quantifies the cap's recall cost (zero on
    realistic vocabularies — only boilerplate-clone buckets saturate).
    The lake's band table and sizes are artifact-able
    (``MINHASH_FAMILY``); the artifact-backed execution is
    :func:`dedup_incremental_minhash_artifact`."""
    sh = doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    bands = minhash_bands(minhash_sigs(sh))
    cand = minhash_gate_candidates(
        bands.filter(F.col("doc_id") % 10 == 0),
        bands.filter(F.col("doc_id") % 10 != 0),
    )
    return _minhash_gate_verify(cand, sh)


# MinHash (band_id, sig) buckets group docs sharing TWO md5-derived
# min-hashes — on realistic vocabularies they are far sparser than
# SimHash's 12-bit pigeonholes (SPARSITY.json: 0.021 vs 37.1
# candidates/doc at 100k docs), but a boilerplate-clone corpus (the
# same templated page mirrored 10^5 times) saturates them identically:
# every clone lands in the same bucket of every band, and the gate's
# asymmetric join emits |shard∩bucket| x |lake∩bucket| rows. The cap
# drops such buckets from the candidate UNIVERSE before the shard/lake
# split — exact clones are the cheap case (exact/normalized dedup
# catches them upstream for 16 bytes/doc of shuffle), so spending
# banded-join rows on them is pure waste. Vacuous on the fixtures
# (max fixture bucket = 3 at sf0.01) so the oracle-checked answer
# equals the uncapped gate's there; tests/test_dedup_semantics.py
# exercises the cap on a hot-bucket corpus.
MINHASH_BUCKET_CAP = 32


@registry.query(
    "dedup_incremental_minhash_capped",
    oracle=f"""
    WITH {SQL_SHINGLES}, {SQL_MINHASH},
    capped AS (
        SELECT doc_id, band_id, sig FROM bands
        QUALIFY COUNT(*) OVER (PARTITION BY band_id, sig)
                <= {MINHASH_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS incoming_doc_id, o.doc_id AS lake_doc_id
        FROM capped n
        JOIN capped o ON n.band_id = o.band_id AND n.sig = o.sig
        WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
    ),
    inter AS (
        SELECT c.incoming_doc_id, c.lake_doc_id, COUNT(*) AS n_inter
        FROM cand c
        JOIN doc_shingle a ON a.doc_id = c.incoming_doc_id
        JOIN doc_shingle b ON b.doc_id = c.lake_doc_id
                          AND b.shingle = a.shingle
        GROUP BY c.incoming_doc_id, c.lake_doc_id
    )
    SELECT i.incoming_doc_id, i.lake_doc_id,
           i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)
               AS jaccard
    FROM inter i
    JOIN doc_size sa ON sa.doc_id = i.incoming_doc_id
    JOIN doc_size sb ON sb.doc_id = i.lake_doc_id
    WHERE i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
    """,
)
def dedup_incremental_minhash_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MinHash gate's 100 TB candidate-generation contract — the
    QUALIFY-mirrored bucket-cap device of
    :func:`dedup_incremental_simhash_capped` applied to the (band_id,
    sig) buckets. The uncapped MinHash gate's diverse-corpus
    step ratios are ~3.5x/doubling when the shard scales with the
    corpus (SPARSITY.json ``incremental_minhash_step``), i.e. the join
    grows as the product of both sides. Buckets larger than
    MINHASH_BUCKET_CAP leave the candidate universe BEFORE the
    shard/lake split, bounding lake-side work at CAP x n_buckets; the
    exact-Jaccard verify is unchanged (the cap restricts candidates,
    not semantics). The fixed-shard-growing-lake ladder column
    (SPARSITY.json ``fixed_shard_minhash_*``) measures the production
    shape for both variants directly across 32x lake growth: with the
    shard pinned at 1,250 docs and the lake doubling 12.5k → 400k,
    capped per-run candidates go 29 → 85 → 113 → 128 → 204 → 311
    (steps 2.93/1.33/1.13/1.59/1.52 — bounded sublinear, ~lake^0.5,
    NOT the flat-falling SimHash shape: MinHash's (band_id, sig)
    bucket space is enormous, so collisions spread across many small
    buckets the cap never touches instead of saturating a fixed
    pigeonhole space — this column does not flatten, and does not
    need to).
    THE CONTRACT for this family is therefore the WORST-CASE BOUND:
    |shard bands| x CAP = 320k per run (measured 311 — three orders
    of magnitude of headroom), absolute density 0.25 candidates per
    shard doc against the 32x-grown lake; the TREND dial is r
    (rows/band), which shrinks collision probability exponentially
    where tightening the cap would only charge recall for sub-cap
    buckets it cannot affect (SCALING.md, the 400k doubling). The
    uncapped gate climbs 29 → 742 on the same ladder. This is the gate
    a 100 TB deployment runs nightly."""
    sh = doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    bands = minhash_bands(minhash_sigs(sh))
    bands = bands.withColumn(
        "bsz", F.count("*").over(Window.partitionBy("band_id", "sig"))
    ).filter(F.col("bsz") <= MINHASH_BUCKET_CAP)
    cand = minhash_gate_candidates(
        bands.filter(F.col("doc_id") % 10 == 0),
        bands.filter(F.col("doc_id") % 10 != 0),
    )
    return _minhash_gate_verify(cand, sh)


# ---------------------------------------------------------------------------
# Precomputed lake MinHash-band artifact (write-once / read-nightly gate)
# ---------------------------------------------------------------------------


MINHASH = Layout("band_id", "doc_id", "sig")


def minhash_artifact_rows(
    spark: SparkSession, sf_dir: str, keep: Column, checkpoint: bool = False
) -> DataFrame:
    """``(doc_id, sig, n_sh, band_id)`` MinHash band rows of the docs
    ``keep`` selects — the rows of every MinHash artifact build. The
    ``keep`` predicate is on the shingles' doc_id, so a batch-only
    caller shingles and signs only the batch. ``checkpoint`` pins the
    shingles (consumed by the signature AND the size aggregate) for
    the lake-sized builds; the admitted batch stays lazy so its filter
    stays visible on every documents scan (the append plan pin)."""
    sh = doc_shingles(spark, sf_dir).filter(keep)
    if checkpoint:
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return (
        minhash_bands(minhash_sigs(sh))
        .join(sizes, "doc_id")
        .select("doc_id", "sig", "n_sh", "band_id")
    )


def _minhash_artifact_summary(art: DataFrame) -> DataFrame:
    """Per-band row/bucket/doc/size summary of a MinHash-band artifact
    read-back."""
    return art.groupBy(
        F.col("band_id").cast("bigint").alias("band_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("sig").alias("n_buckets"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.sum("n_sh").cast("bigint").alias("sum_nsh"),
    )


def _minhash_summary_sql(pred: str) -> str:
    """DuckDB twin of :func:`_minhash_artifact_summary`: band rows AND
    the embedded Jaccard-denominator sizes, so an append that wrote
    wrong or missing ``n_sh`` goes red."""
    return f"""
    WITH {SQL_SHINGLES}, {SQL_MINHASH}
    SELECT CAST(b.band_id AS BIGINT) AS band_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT b.sig) AS BIGINT) AS n_buckets,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(s.n_sh) AS BIGINT) AS sum_nsh
    FROM (SELECT * FROM bands {sql_where("doc_id % 10 <> 0", pred)}) b
    JOIN doc_size s ON b.doc_id = s.doc_id
    GROUP BY b.band_id
    """


# The lake's MinHash band table ``(doc_id, sig, n_sh, band_id)`` — the
# MinHash twin of SIG_FAMILY (SURVEY.md §7). A 100 TB lake shingles and
# min-hashes its documents once; each night's gate joins the shard's
# fresh bands against this artifact instead of re-aggregating the
# lake's 16-way signature min. Each band row carries the doc's shingle
# count ``n_sh``, so the gate's Jaccard denominator needs no lake-side
# size aggregation either (8 bytes/row for a lake-sized groupBy per
# run). Lake-sized writes pin the shingles; the admitted batch stays
# lazy (the append plan pin).
MINHASH_FAMILY = ArtifactFamily(
    "quty_lake_minhash", MINHASH, minhash_artifact_rows,
    _minhash_artifact_summary, _minhash_summary_sql,
    lake_rows=partial(minhash_artifact_rows, checkpoint=True),
)
register_artifact_sinks("sink_lake_minhash_artifact", MINHASH_FAMILY)


@registry.query(
    "dedup_incremental_minhash_artifact",
    oracle=SQL_MINHASH_GATE,
)
def dedup_incremental_minhash_artifact(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """The read-nightly half of the MinHash ingest gate: the lake's
    band table AND per-doc shingle sizes come from the precomputed
    artifact (``MINHASH_FAMILY``), so the per-run plan
    aggregates ONLY the incoming shard — the lake-sized 16-way
    signature min and the lake-sized size count both left the nightly
    path (pinned in tests/test_scale_plans.py: strictly fewer
    aggregates than the recomputing gate, artifact scanned, lake
    documents touched only by the candidate-restricted verify's
    scan+explode, which is aggregation-free). Oracle is the same
    SQL_MINHASH_GATE as the recomputing gate, so the artifact round
    trip is value-verified end to end.

    Scale: nightly cost = shingle+sign the shard + one band-equality
    join against the artifact scan (shard side broadcast) + the
    candidate-restricted exact-Jaccard verify. The verify's lake-side
    shingle explode is a narrow scan-side Generate — no shuffle, no
    aggregate — and only candidate rows survive its join, so
    verification cost scales with LSH recall, not lake size.

    ``path`` (tests only) points the gate at an alternative artifact —
    e.g. the appended one — proving gate-after-append ≡
    gate-after-rebuild by set equality (tests/test_artifact_append.py);
    the registered query always reads the session-memoized build."""
    if path is None:
        path = MINHASH_FAMILY.build(spark, sf_dir)
    lake = spark.read.parquet(path).select("doc_id", "sig", "n_sh", "band_id")
    sh_shard = (
        doc_shingles(spark, sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .localCheckpoint(eager=False)
    )
    cand = minhash_gate_candidates(
        minhash_bands(minhash_sigs(sh_shard)),
        lake,
        F.col("o.n_sh").alias("nb"),
    )
    return _minhash_gate_verify_nb(
        cand, sh_shard, lake_shingles_for_verify(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# Precomputed lake-signature artifact (write-once / read-nightly gate)
# ---------------------------------------------------------------------------


# Also the media signature artifact's layout.
SIG = Layout("band_id", "doc_id", "band_val")


def sig_artifact_rows(
    spark: SparkSession, sf_dir: str, keep: Column
) -> DataFrame:
    """``(doc_id, sig, band_id, band_val)`` SimHash band rows of the
    docs ``keep`` selects — the rows of every signature artifact build.
    The predicate is on the signature aggregation's grouping key
    (doc_id), so Catalyst pushes it onto the documents scan: a
    batch-only caller signs only the batch (plan-pinned)."""
    return simhash_bands(simhash_sigs(spark, sf_dir)).filter(keep)


def _sig_artifact_summary(art: DataFrame) -> DataFrame:
    """Per-band row/bucket/doc summary of a banded-signature artifact
    read-back (text or media)."""
    return art.groupBy(
        F.col("band_id").cast("bigint").alias("band_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("band_val").alias("n_buckets"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


def band_summary_sql(sig_ctes: str, sigs: str, pred: str) -> str:
    """DuckDB twin of :func:`_sig_artifact_summary` over the lake ids
    that also pass ``pred``; ``sig_ctes`` define the ``sigs`` relation
    of ``(doc_id, sig)`` signatures (text or media)."""
    return f"""
    WITH {sig_ctes},
    bands AS (
        SELECT doc_id, sig, b.band_id,
               (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM {sigs}, (SELECT unnest(range(0, 4)) AS band_id) b
        {sql_where("doc_id % 10 <> 0", pred)}
    )
    SELECT band_id,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT band_val) AS n_buckets,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM bands GROUP BY band_id
    """


# The lake's banded SimHash signatures: the write-once half of the
# production ingest gate. A 100 TB lake signs its documents once
# (amortized over every nightly shard); each night's gate joins the
# shard's fresh bands against this artifact instead of re-aggregating
# the lake. band_id directories match the gate's join-key prefix, so a
# one-band probe prunes 3/4 of the files at planning time, and the
# band_val-sorted files give every row group a tight min/max, so a
# point probe then prunes row groups too (one local sort per task at
# write time, no extra shuffle). The nightly append of admitted docs
# writes ≤4 new files, no read-modify-write and no lake-sized compute.
SIG_FAMILY = ArtifactFamily(
    "quty_lake_sig", SIG, sig_artifact_rows, _sig_artifact_summary,
    partial(band_summary_sql, SQL_SIMHASH, "simhash"),
)
register_artifact_sinks("sink_lake_signature_artifact", SIG_FAMILY)

# The same artifact over the bridge-staged corpus (STAGED_BRIDGE_ROWS),
# the relabel lifecycle's non-vacuity device.
SIG_STAGED_FAMILY = ArtifactFamily(
    "quty_lake_sig_stg", SIG,
    lambda spark, sf_dir, keep: simhash_bands(
        simhash_sigs(spark, sf_dir, staged=True)
    ).filter(keep),
    _sig_artifact_summary,
    partial(band_summary_sql, SQL_SIMHASH_STAGED, "simhash"),
)


@registry.query(
    "dedup_incremental_simhash_artifact",
    oracle=SQL_INCREMENTAL_GATE,
)
def dedup_incremental_simhash_artifact(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """The read-nightly half of the production ingest gate — the shape
    :func:`dedup_incremental_simhash`'s docstring promises: the lake
    side's banded signatures come from the precomputed parquet artifact
    (``SIG_FAMILY``), NOT from re-signing the lake, so
    the per-run plan aggregates ONLY the incoming shard. The optimized
    plan's lake branch is a bare parquet scan of the artifact — no
    Aggregate — pinned in tests/test_scale_plans.py; the oracle is the
    same SQL as the recomputing gate, so the artifact round trip is
    value-verified end to end.

    Scale: nightly cost = sign the shard (|shard| rows) + one equality
    band join against an artifact scan. With the artifact partitioned by
    band_id and AQE broadcasting the shard's bands, the lake is read
    once, columnar, and never shuffled; the lake signature aggregation —
    the only lake-sized compute — left the nightly path entirely.

    ``path`` (tests only) points the gate at an alternative artifact —
    e.g. the appended one — proving gate-after-append ≡
    gate-after-rebuild by set equality (tests/test_artifact_append.py);
    the registered query always reads the session-memoized build."""
    if path is None:
        path = SIG_FAMILY.build(spark, sf_dir)
    lake = spark.read.parquet(path).select(
        "doc_id", "sig", "band_id", "band_val"
    )
    shard = simhash_bands(simhash_sigs(spark, sf_dir)).filter(
        F.col("doc_id") % 10 == 0
    )
    return simhash_gate_pairs(shard, lake).distinct()


# ---------------------------------------------------------------------------
# Incremental connected components: nightly cluster assignment
# against a precomputed lake label artifact
# ---------------------------------------------------------------------------


def _labels_from_sigs(spark: SparkSession, sigs: DataFrame) -> DataFrame:
    """Near-dup component labels ``(node, lbl)`` from a ``(doc_id,
    sig)`` signature frame — the signature-grain pre-collapse, banded
    rep-pair mining, min-label BSP, and clique expansion that every
    labeling consumer shares (:func:`simhash_component_labels` at full
    grain, :func:`lake_cluster_labels_artifact` for the standing lake,
    and the retraction re-cluster in operators/retract.py, which feeds
    it ONLY the affected clusters' surviving members). Identical-sig
    groups of >= 2 docs are clusters even without a banded rep pair."""
    grp = sigs.groupBy("sig").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("gsz")
    )
    ub = simhash_bands(grp.select(F.col("rep").alias("doc_id"), "sig"))
    a, b = ub.alias("a"), ub.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b")
        .distinct()
    )
    rep_lbl, _ = min_label_components(spark, rep_pairs)
    rl = rep_lbl.select(
        F.col("node").alias("rep"), F.col("lbl").alias("rlbl")
    )
    # Same broadcast gate as the BSP loop: label tables are 16 bytes/row,
    # but at billions of near-dup reps the shuffle join must engage
    # instead (rep_lbl is already materialized by the loop's final
    # action, so the count is a cheap job).
    if rep_lbl.count() <= BROADCAST_NODES_MAX:
        rl = F.broadcast(rl)
    # Expand: every doc of a labeled rep's group joins that component; a
    # group with >= 2 docs whose rep has no cross-sig edge is its own
    # component labeled by the rep (the clique's min doc_id).
    return (
        sigs.join(grp, "sig")
        .join(rl, "rep", "left")
        .filter(F.col("rlbl").isNotNull() | (F.col("gsz") >= 2))
        .select(
            F.col("doc_id").alias("node"),
            F.coalesce(F.col("rlbl"), F.col("rep")).alias("lbl"),
        )
    )


def lake_cluster_labels_artifact(
    spark: SparkSession, sf_dir: str, rebuild: bool = False,
    staged: bool = False,
) -> str:
    """The LAKE-ONLY near-dup component label table ``(node, lbl)``
    materialized as a parquet artifact — the standing cluster state a
    production lake keeps next to its signature artifact, written once
    per corpus snapshot and consumed nightly by
    :func:`dedup_cluster_incremental`. Built exactly like
    :func:`simhash_component_labels` (signature-grain pre-collapse,
    min-label BSP, clique expansion) but restricted to lake documents
    (``doc_id % 10 != 0``): lake-vs-lake mining is the expensive
    symmetric job that must NOT run nightly, so it lives here, in the
    amortized half. Sorted by ``node`` so the nightly join's point
    lookups prune row groups via min/max stats."""

    def _write(path: str) -> None:
        sigs = (
            simhash_sigs(spark, sf_dir, staged=staged)
            .filter(F.col("doc_id") % 10 != 0)
            .localCheckpoint(eager=False)
        )
        labels = _labels_from_sigs(spark, sigs)
        labels.sortWithinPartitions("node").write.parquet(path)

    kind = "quty_lake_clabels_stg" if staged else "quty_lake_clabels"
    return session_artifact(spark, kind, sf_dir, _write, rebuild)


@registry.query(
    "sink_lake_cluster_labels_artifact",
    oracle=f"""
    WITH RECURSIVE {SQL_SIMHASH.lstrip()},
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
    """,
)
def sink_lake_cluster_labels_artifact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write the lake-only cluster-label artifact (forced rebuild —
    this IS the write-once labeling job), then read it back and report
    each cluster's size and max member. The oracle recomputes lake-only
    connected components from scratch (recursive min-reachable-label
    CTE restricted to lake docs), so the round trip proves the artifact
    holds exactly the lake's standing cluster state — the contract
    :func:`dedup_cluster_incremental` relies on.

    Scale: signature-grain pair mining + the min-label BSP over the
    lake — the most expensive job in the dedup surface, which is
    exactly why it is the artifact: run once per snapshot, appended-to
    logically by each night's :func:`dedup_cluster_incremental` output,
    fully re-run only on corpus compaction."""
    path = lake_cluster_labels_artifact(spark, sf_dir, rebuild=True)
    art = spark.read.parquet(path)
    return art.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count("*").alias("n_docs"),
        F.max("node").alias("max_doc_id"),
    )


# Same reach CTE as dedup_cluster's oracle, restricted to shard nodes:
# the incremental op must agree with the FULL-corpus recompute on every
# shard doc's final label — the strongest possible contract (a shard
# doc bridging two lake clusters must get the merged component's min
# label, which neither lake cluster's standing label alone provides).
SQL_INCREMENTAL_CLUSTER = f"""
    WITH RECURSIVE {{sim}},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
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
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM reach WHERE node % 10 = 0 GROUP BY node
    """.format(sim=SQL_SIMHASH.lstrip())


@registry.query(
    "dedup_cluster_incremental",
    oracle=SQL_INCREMENTAL_CLUSTER,
)
def dedup_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly cluster ASSIGNMENT — the incremental twin of
    :func:`dedup_cluster`, completing the write-once/probe-nightly
    story for the clustering stage: tonight's shard docs are assigned
    their FINAL (full-corpus-equivalent) cluster labels without any
    lake-vs-lake mining or a lake-sized BSP. Inputs are the two
    standing artifacts — the banded lake signatures
    (``SIG_FAMILY``, for the shard-vs-lake gate join)
    and the lake cluster labels
    (:func:`lake_cluster_labels_artifact`) — plus a shard-internal
    band self-join; nothing lake-sized is recomputed.

    The device is graph CONTRACTION: every lake doc a gate pair
    touches is replaced by its standing cluster label (a lake
    component's label is its min member id, and lake-lake structure is
    already folded into the label table), so the BSP runs on a graph
    of |shard| + |touched lake clusters| nodes — per-run cost follows
    the shard. Exactness: the merged component's min label is
    min(min shard ids, constituent lake cluster labels) — precisely
    what min-label propagation over the contracted graph computes —
    and two lake clusters can only merge THROUGH shard docs (all
    lake-lake near pairs are already intra-cluster), so no merge is
    missed. The oracle recomputes full-corpus components from scratch
    and restricts to shard docs: the incremental answer must be
    IDENTICAL to the from-scratch answer, bridge merges included —
    the fixture corpus contains real bridge docs (a shard doc whose
    gate pairs touch >= 2 distinct lake clusters), and the equality +
    bridge non-vacuity are pinned in tests/test_dedup_semantics.py."""
    labels = _incremental_cluster_labels(spark, sf_dir)
    return labels.filter(F.col("node") % 10 == 0).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _incremental_cluster_labels(
    spark: SparkSession, sf_dir: str, staged: bool = False,
    labels_path: str | None = None,
) -> DataFrame:
    """The contracted-graph min-label BSP result ``(node, lbl)``,
    memoized per (session, sf_dir) — shared by
    :func:`dedup_cluster_incremental` (reads the shard-node side) and
    :func:`dedup_cluster_relabel_queue` (reads the lake-label-node
    side), so a composed nightly run (or the driver head, which runs
    both) pays the shard signing + gate join + BSP once, not twice."""
    return _incremental_cluster_state(
        spark, sf_dir, staged=staged, labels_path=labels_path
    )[0]


def _incremental_cluster_state(
    spark: SparkSession, sf_dir: str, staged: bool = False,
    labels_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(BSP labels over the contracted graph, gate-touched lake
    SINGLETONS) — the second frame is the set of lake docs that tonight's
    gate pairs touch but that have NO standing label-artifact row (they
    were singletons in the lake-only clustering and are joining a
    component for the first time). The relabel APPLY needs it to know
    which lake-side rows to APPEND (a rewrite can't reach a row that was
    never stored); it is shard-bounded by construction (a subset of the
    gate join's lake side). Both frames are checkpointed under one
    :func:`session_memo` entry so every consumer pays the signing +
    gate + BSP once."""

    def _build() -> tuple[DataFrame, DataFrame]:
        pairs, singles = _incremental_cluster_graph(
            spark, sf_dir, staged=staged, labels_path=labels_path
        )
        labels, _ = min_label_components(spark, pairs)
        return (
            labels.localCheckpoint(eager=True),
            # Lazy: only the maintenance APPLY reads the singles frame —
            # the assignment/queue consumers must not pay its action.
            singles.localCheckpoint(eager=False),
        )

    key = (sf_dir, staged, labels_path)
    return session_memo(spark, "incremental_cluster_labels", key, _build)


def _incremental_cluster_pairs(
    spark: SparkSession, sf_dir: str, materialize_shard: bool = True,
    staged: bool = False, labels_path: str | None = None,
) -> DataFrame:
    """The contracted-graph pair list :func:`dedup_cluster_incremental`
    feeds to the BSP loop — factored out so tests can pin its PLAN (the
    BSP output itself is a checkpointed RDD leaf, opaque to explain):
    both artifacts scanned, documents touched only by the shard
    signing, no lake-sized aggregation anywhere
    (tests/test_scale_plans.py). ``materialize_shard`` lazily
    checkpoints the shard's banded signatures so the gate join and the
    self-join share ONE signing pass (the production default); plan
    tests pass False to keep the signing subtree visible to explain."""
    return _incremental_cluster_graph(
        spark, sf_dir, materialize_shard=materialize_shard,
        staged=staged, labels_path=labels_path,
    )[0]


def _incremental_cluster_graph(
    spark: SparkSession, sf_dir: str, materialize_shard: bool = True,
    staged: bool = False, labels_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(contracted pair list, gate-touched lake singletons) — the pair
    list is :func:`_incremental_cluster_pairs`'s contract; the singleton
    frame ``(lake_doc_id)`` is the gate's lake side restricted to docs
    with no standing label row (see :func:`_incremental_cluster_state`).
    ``labels_path`` overrides the standing label artifact — the relabel
    APPLY's "tomorrow" test injects a MAINTAINED artifact here to prove
    a next-day gate against it equals a gate against a fresh rebuild."""
    shard_bands = (
        simhash_bands(simhash_sigs(spark, sf_dir, staged=staged))
        .filter(F.col("doc_id") % 10 == 0)
    )
    if materialize_shard:
        shard_bands = shard_bands.localCheckpoint(eager=False)
    return _cluster_graph_for_bands(
        spark,
        shard_bands,
        spark.read.parquet(
            (SIG_STAGED_FAMILY if staged else SIG_FAMILY).build(spark, sf_dir)
        ),
        labels_path
        if labels_path is not None
        else lake_cluster_labels_artifact(spark, sf_dir, staged=staged),
        materialize=materialize_shard,
    )


def _cluster_graph_for_bands(
    spark: SparkSession, shard_bands: DataFrame, sig: DataFrame,
    labels_path: str, materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """:func:`_incremental_cluster_graph` with the three inputs explicit
    — tonight's banded signatures, the standing signature rows the gate
    pairs them against, and the standing label-artifact path — so a
    per-micro-batch caller (the continuous clustering maintenance
    stream) can build the contracted graph for an arbitrary batch
    against arbitrary artifact state."""
    # Gate pairs (shard vs lake) off the signature rows — the
    # aggregation-free nightly join of dedup_incremental_simhash_artifact.
    gate = (
        simhash_gate_pairs(
            shard_bands, sig.select("doc_id", "sig", "band_id", "band_val")
        )
        .select("incoming_doc_id", "lake_doc_id")
        .distinct()
    )
    # Shard-internal near pairs: band self-join over the shard only.
    sa, sb = shard_bands.alias("a"), shard_bands.alias("b")
    shard_pairs = (
        sa.join(
            sb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
            <= HAMMING_MAX
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Contract: lake doc -> its standing cluster label (itself if the
    # doc was a lake singleton and is absent from the label table).
    lab = spark.read.parquet(labels_path).select(
        F.col("node").alias("lake_doc_id"), "lbl"
    )
    # Lazily checkpointed so the pair consumer and the singleton
    # consumer share ONE gate join + artifact lookup. Tied to
    # ``materialize`` (checkpoints are RDD leaves, opaque to explain)
    # so plan tests can keep the whole tree visible.
    contracted = gate.join(lab, "lake_doc_id", "left")
    if materialize:
        contracted = contracted.localCheckpoint(eager=False)
    pairs = (
        contracted.select(
            F.col("incoming_doc_id").alias("doc_a"),
            F.coalesce(F.col("lbl"), F.col("lake_doc_id")).alias("doc_b"),
        )
        .unionByName(
            shard_pairs.select(
                F.col("doc_a"), F.col("doc_b")
            )
        )
        .distinct()
    )
    singles = (
        contracted.filter(F.col("lbl").isNull())
        .select("lake_doc_id")
        .distinct()
    )
    return pairs, singles


# ---------------------------------------------------------------------------
# Repeated-passage detection: substring-level dedup
# ---------------------------------------------------------------------------

# 16-token windows at stride 8: every 16-token run is covered by at
# least one window start within 8 positions, so any cross-doc verbatim
# passage of >= 23 tokens (16 + stride - 1) is GUARANTEED to produce at
# least one exactly-aligned window pair; shorter repeats are caught
# when their alignments coincide. Stride halves the index size vs
# stride-1 suffix windows while keeping the guarantee — the standard
# cost/recall dial for passage-level dedup.
PASSAGE_W = 16
PASSAGE_STRIDE = 8

# The (doc_id, passage_md5) window table — ONE definition shared by the
# corpus-level report and the per-doc scrub plan, on both engines
# (four independent copies of the fence-post arithmetic would
# let the two ops' window contracts drift apart without any oracle
# going red).
SQL_PASSAGE_WINDOWS = f"""passage_docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    passage_windows AS (
        SELECT doc_id,
               md5(array_to_string(toks[i:i+{PASSAGE_W - 1}], ' '))
                   AS passage_md5
        FROM passage_docs, unnest(range(1, len(toks) - {PASSAGE_W - 2},
                             {PASSAGE_STRIDE})) AS u(i)
        WHERE len(toks) >= {PASSAGE_W}
    )"""


def _passage_windows(d: DataFrame) -> DataFrame:
    """(doc_id, passage_md5) — PASSAGE_W-token windows at
    PASSAGE_STRIDE over a documents frame; the Spark twin of
    SQL_PASSAGE_WINDOWS."""
    toks = F.split("text", " ")
    return (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= PASSAGE_W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {PASSAGE_W - 1}, "
                    f"{PASSAGE_STRIDE}), "
                    f"i -> md5(array_join(slice(toks, i, {PASSAGE_W}), ' ')))"
                )
            ).alias("passage_md5"),
        )
    )


@registry.query(
    "dedup_repeated_passages",
    oracle=f"""
    WITH {SQL_PASSAGE_WINDOWS}
    SELECT passage_md5,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
    FROM passage_windows GROUP BY passage_md5
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dedup_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level dedup — the operator whole-document dedup
    cannot express: verbatim passages repeated ACROSS documents
    (licenses, navboxes, quoted boilerplate) that inflate training
    loss without the containing documents being near-duplicates of
    each other (the Lee et al. 2022 "Deduplicating Training Data"
    finding: most duplicated text lives inside otherwise-distinct
    documents). Each doc's token stream is windowed into
    PASSAGE_W-token passages at PASSAGE_STRIDE, hashed, and grouped;
    a passage in >= 2 distinct docs is reported with its document
    frequency, occurrence count, and first host — the removal plan a
    passage-scrub pass consumes.

    Scale: aggregate-only — the plan is scan → narrow window explode
    (~len/stride rows per doc) → ONE shuffle keyed on the 16-byte
    digest with map-side partial aggregation. No self-join exists to
    go quadratic, so unlike the pair-mining family this op needs no
    hot-key cap: a boilerplate passage in 10^6 docs costs one
    aggregate row, not C(10^6, 2) join rows. The deliberate contrast:
    this REPORTS repeated text linearly; expanding to occurrence
    PAIRS would be the quadratic trap."""
    w = _passage_windows(load_table(spark, sf_dir, "documents"))
    return (
        w.groupBy("passage_md5")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# Relabel-queue oracle over a pluggable simhash CTE ({sim}): the raw
# query binds SQL_SIMHASH, the staged twin binds SQL_SIMHASH_STAGED —
# identical derivation, so the two registered rows verify the same
# machinery on two corpora (one of which is guaranteed non-vacuous).
SQL_RELABEL_QUEUE_TMPL = f"""
    WITH RECURSIVE {{sim}},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
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
    lake_edges AS (
        SELECT src, dst FROM edges WHERE src % 10 <> 0 AND dst % 10 <> 0
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    lake_reach(node, lbl) AS (
        SELECT src, src FROM lake_edges
        UNION
        SELECT e.dst, r.lbl
        FROM lake_reach r JOIN lake_edges e ON e.src = r.node
    ),
    full_labels AS (
        SELECT node, MIN(lbl) AS flbl FROM reach GROUP BY node
    ),
    lake_labels AS (
        SELECT node, MIN(lbl) AS llbl FROM lake_reach GROUP BY node
    )
    SELECT l.llbl AS old_lbl, MIN(f.flbl) AS new_lbl,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM lake_labels l JOIN full_labels f ON l.node = f.node
    GROUP BY l.llbl HAVING MIN(f.flbl) <> l.llbl
    """


@registry.query(
    "dedup_cluster_relabel_queue",
    oracle=SQL_RELABEL_QUEUE_TMPL.format(sim=SQL_SIMHASH.lstrip()),
)
def dedup_cluster_relabel_queue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The nightly RELABEL QUEUE — the honest price tag of incremental
    clustering: which STANDING lake clusters' labels are invalidated by
    tonight's merges, and how many stored label rows each rewrite
    touches. A shard doc bridging two lake clusters gives the merged
    component one final label (the min), so the other constituent
    cluster's artifact rows now carry a stale label; a pure append
    cannot fix them — they must be rewritten, and this queue is the
    rewrite's work list (a deployment compacts the label artifact when
    the queue's cumulative n_docs crosses a threshold — the clustering
    analog of :func:`~quty_server_spark.operators.similarity.sim_ivf_cell_growth`'s
    re-cluster signal).

    Derivation is contraction again: the same shard-sized BSP as
    :func:`dedup_cluster_incremental`, read from the other side — a
    lake-LABEL node whose final contracted label differs from its own
    id is a cluster that merged into something smaller (possibly a
    shard doc's id). n_docs counts that cluster's rows in the standing
    artifact via a broadcast join of the (tiny) queue against the
    artifact scan. The oracle recomputes BOTH labelings from scratch —
    lake-only (the standing state) and full-corpus (tonight's truth) —
    and diffs them, so the incremental queue is verified against the
    ground-truth definition of "stale", not against its own machinery.

    Scale: per-run cost = the contracted BSP (shard-sized) + one
    artifact scan for the row counts; the queue itself is bounded by
    the number of clusters tonight's shard touches.

    Honesty note: on the driver fixtures the queue is EMPTY (the
    fixture bridges merge lake singletons, not standing clusters), so
    the CORRECTNESS row is a vacuous 0 == 0; the non-vacuous evidence
    is tests/test_dedup_semantics.py's crafted-merge corpus AND the
    staged twin :func:`dedup_cluster_relabel_queue_staged`, whose
    external row checks the same machinery with rows > 0."""
    return _relabel_queue_frame(spark, sf_dir, staged=False)


def _relabel_queue_frame(
    spark: SparkSession, sf_dir: str, staged: bool
) -> DataFrame:
    """Shared body of the raw and staged relabel-queue queries — ONE
    implementation so the staged twin can never drift from the
    registered raw semantics."""
    labels = _incremental_cluster_labels(spark, sf_dir, staged=staged)
    queue = labels.filter(
        (F.col("node") % 10 != 0) & (F.col("lbl") != F.col("node"))
    ).select(
        F.col("node").alias("old_lbl"), F.col("lbl").alias("new_lbl")
    )
    art = spark.read.parquet(
        lake_cluster_labels_artifact(spark, sf_dir, staged=staged)
    ).select(F.col("lbl").alias("old_lbl"))
    return (
        art.join(F.broadcast(queue), "old_lbl")
        .groupBy("old_lbl", "new_lbl")
        .agg(F.count("*").alias("n_docs"))
    )


@registry.query(
    "dedup_cluster_relabel_queue_staged",
    oracle=SQL_RELABEL_QUEUE_TMPL.format(sim=SQL_SIMHASH_STAGED),
)
def dedup_cluster_relabel_queue_staged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`dedup_cluster_relabel_queue` over the bridge-staged corpus
    (STAGED_BRIDGE_ROWS) — the NON-VACUOUS external row: the staged trio
    guarantees a standing-cluster merge on any fixture corpus, so this
    query's driver CORRECTNESS row always checks real rows (exactly
    cluster B's standing label, 9001003 → 9001001, n_docs 2 — plus
    whatever merges the fixture itself contributes). Implementation and
    oracle are the SHARED raw machinery with only the corpus CTE
    swapped, so a green row here is
    evidence about the same code path the raw query runs."""
    return _relabel_queue_frame(spark, sf_dir, staged=True)


# Home-bucket count for the maintained label artifact. The partition
# column is pmod(lbl-at-insert, N): a cluster's member rows co-locate in
# ONE directory, so a relabel rewrite touches exactly the queued
# clusters' home buckets and an append touches exactly the new labels'
# buckets — everything else is untouched files (pinned in
# tests/test_dedup_semantics.py by byte-identity of unaffected buckets).
# 32 keeps fixture partitions non-trivial; a 100 TB deployment raises it
# so each bucket holds O(artifact/N) rows — the constant changes, the
# plan shape doesn't.
LABEL_HOME_BUCKETS = 32
LABELS = Layout("lbl_bucket", "node", "node")


def maintained_cluster_labels_artifact(
    spark: SparkSession, sf_dir: str, rebuild: bool = False,
    staged: bool = True,
) -> str:
    """The MAINTAINED cluster-label artifact: yesterday's standing lake
    labels re-laid into the home-bucket layout (the write-once half),
    then run through one night of maintenance
    (:func:`apply_cluster_label_maintenance`: rewrite the queued stale
    clusters, append tonight's new labels). Content equals a fresh
    full-corpus recompute's — the contract the relabel sink's oracle
    verifies end to end."""

    def _write(path: str) -> None:
        _write_home_bucket_layout(
            spark.read.parquet(
                lake_cluster_labels_artifact(spark, sf_dir, staged=staged)
            ),
            path,
        )
        apply_cluster_label_maintenance(spark, sf_dir, path, staged=staged)

    kind = "quty_maint_clabels_stg" if staged else "quty_maint_clabels"
    return session_artifact(spark, kind, sf_dir, _write, rebuild)


def _write_home_bucket_layout(labels: DataFrame, path: str) -> None:
    """Write a ``(node, lbl)`` frame as the maintained artifact's base
    state: home-bucket-partitioned data plus the label-homes sidecar.
    The sidecar (underscore-prefixed: invisible to plain parquet readers
    of ``path``, like the IVF _centroids) records which home buckets
    currently hold rows of each label — one bucket per label at base
    time; rewrites fan labels out across their merged-in clusters' home
    buckets, and the sidecar is what keeps every later night's
    maintenance reads exact."""
    art0 = labels.withColumn(
        "lbl_bucket",
        F.pmod(F.col("lbl"), F.lit(LABEL_HOME_BUCKETS)).cast("int"),
    )
    LABELS.write(art0, path)
    write_sidecar(art0.select("lbl", "lbl_bucket").distinct(), path, LABEL_HOMES)


def apply_cluster_label_maintenance(
    spark: SparkSession, sf_dir: str, path: str, staged: bool = False,
) -> None:
    """ONE night of label-artifact maintenance — the APPLY the relabel
    queue is the work list for, acting on a home-bucket-partitioned
    label artifact at ``path``:

    1. REWRITE the queued stale clusters: read ONLY the home buckets of
       queued old labels (a broadcast join on the partition column —
       dynamic partition pruning keeps every other directory unread),
       map ``old_lbl -> new_lbl``, and overwrite those partitions in
       place (:meth:`Layout.replace`; rows keep their home bucket, so
       every read bucket reappears in the output and no directory can
       be emptied-and-orphaned).
    2. APPEND tonight's new labels: the shard docs that joined
       components, plus the gate-touched lake SINGLETONS joining a
       component for the first time (a rewrite can't reach rows that
       were never stored) — new files into their labels' home buckets,
       zero read-modify-write.

    Cost follows the night, not the lake: the rewrite reads/writes
    |queued clusters' home buckets|, the append writes |tonight's
    labels| rows, and the label discovery is the same shard-sized
    contracted BSP every other incremental consumer shares.

    MULTI-ROUND correctness comes from two devices. (a) The gate's
    contraction reads its standing labels from ``path`` ITSELF (the
    maintained artifact), so each night folds against the current
    state, not the base build. (b) After a rewrite, a row's home
    bucket is its INSERT-time label's bucket — cluster F's rows fan
    out across the home buckets of every cluster it absorbed — so the
    ``_label_homes`` sidecar tracks, per current label, the bucket set
    holding its rows; each night's affected-bucket discovery is a
    sidecar lookup, never a lake scan and never an id-arithmetic guess
    (which would silently miss absorbed buckets from the second night
    on, and would misclassify a standing label that happens to be a prior shard
    doc's id). The sidecar is cluster-count-sized metadata, rewritten
    whole each night like a parquet footer. Two-round equivalence to a
    fresh rebuild is pinned in tests/test_dedup_semantics.py;
    compaction (a base rebuild) remains the long-run hygiene the
    relabel queue's cumulative n_docs prices."""
    labels, singles = _incremental_cluster_state(
        spark, sf_dir, staged=staged, labels_path=path
    )
    _apply_maintenance_for_state(spark, path, labels, singles)


def _apply_maintenance_for_state(
    spark: SparkSession, path: str, labels: DataFrame, singles: DataFrame,
) -> None:
    """One maintenance night given an already-computed contracted-BSP
    state — shared by the nightly apply (whose state comes from the
    session memo) and the continuous maintenance stream (whose state is
    per micro-batch)."""
    homes = read_sidecar(spark, path, LABEL_HOMES)
    standing = homes.select(F.col("lbl").alias("old_lbl")).distinct()
    # Queued = standing labels whose contracted-BSP label moved. Joined
    # by membership in the sidecar's label set — NOT by node % 10 —
    # so a standing label that is a prior shard doc's id still queues.
    # Built LAZY here; _run_cluster_label_maintenance materializes it
    # (|queued clusters| rows) before any write, so no write can race a
    # concurrent read of the artifact it came from.
    queue = (
        labels.join(
            F.broadcast(standing),
            labels.node == F.col("old_lbl"),
            "inner",
        )
        .filter(F.col("lbl") != F.col("node"))
        .select("old_lbl", F.col("lbl").alias("new_lbl"))
    )
    _run_cluster_label_maintenance(
        spark, path, labels, singles, queue, homes, standing
    )


def _maintenance_touched_rows(
    spark: SparkSession, path: str, affected: DataFrame
) -> DataFrame:
    """The rewrite's ENTIRE artifact read: the home-bucket-partitioned
    label artifact joined (broadcast) against the queued buckets on the
    partition column — dynamic partition pruning keeps every unaffected
    directory unread (plan-pinned in tests/test_scale_plans.py).
    Factored out because the apply checkpoints it immediately (an RDD
    leaf is opaque to explain), so the pin targets this builder."""
    art = spark.read.parquet(path)
    return art.join(F.broadcast(affected), "lbl_bucket")


def _run_cluster_label_maintenance(
    spark: SparkSession, path: str, labels: DataFrame,
    singles: DataFrame, queue: DataFrame, homes: DataFrame,
    standing: DataFrame,
) -> None:
    """The physical maintenance writes, given the night's BSP state
    (see :func:`apply_cluster_label_maintenance` for the contract):
    rewrite, append, and the sidecar update.

    The APPEND set's build + idempotence anti-join overlap the rewrite's
    read side. Legal because the anti-join's existence check depends
    only on stored *node ids*, which the rewrite never changes (it
    remaps lbl values; rows keep their node and home bucket). Every
    write waits for both legs: a dynamic partition overwrite replaces
    whole bucket directories, so an append racing it could be dropped
    with the old directory. When the queue is EMPTY (no standing
    cluster moved — the common epoch case for the continuous
    maintenance streams) the rewrite is skipped outright: it would
    match zero partitions. The sidecar is rewritten only after the
    bucket append commits, so a failed append can never leave sidecar
    entries (phantom standing labels) for rows that were never
    stored."""

    # -- tonight's append set (read-only on the artifact) ----------------
    # Tonight's shard = % 10 == 0 BSP nodes MINUS standing labels (from
    # the second night on, a standing label can be a prior shard doc's
    # id — its rows are already stored and were handled by the rewrite).
    def _build_new_nodes() -> DataFrame:
        new_nodes = (
            labels.filter(F.col("node") % 10 == 0)
            .join(
                F.broadcast(standing),
                labels.node == F.col("old_lbl"),
                "left_anti",
            )
            .unionByName(
                labels.join(
                    F.broadcast(
                        singles.select(F.col("lake_doc_id").alias("node"))
                    ),
                    "node",
                    "leftsemi",
                )
            )
            # The two branches are disjoint on the FIRST night (singles
            # are lake docs, % 10 != 0) but not across epochs: the
            # streaming maintenance gates against prior epochs' shard
            # bands too, so a gate-touched null-label doc can itself be
            # a % 10 == 0 prior-epoch doc and land in BOTH branches.
            # Rows are identical (min_label_components emits one row per
            # node), so a distinct on tonight's tiny label set restores
            # the maintained == rebuilt contract for the cross-epoch
            # merge case.
            .distinct()
            .withColumn(
                "lbl_bucket",
                F.pmod(F.col("lbl"), F.lit(LABEL_HOME_BUCKETS)).cast("int"),
            )
            # Materialized (tiny: tonight's labels) so the sidecar
            # update below can reuse it without re-running the BSP
            # consumers.
            .localCheckpoint(eager=True)
        )
        # Idempotence: a re-run of the same night (operator retry,
        # replayed job) must not re-append rows already stored —
        # anti-join against the artifact restricted to the append rows'
        # OWN home buckets (a DPP-pruned read bounded by tonight's
        # labels, never the lake), mirroring the epoch-keyed idempotent
        # sinks on the streaming side.
        app_buckets = (
            new_nodes.select("lbl_bucket")
            .distinct()
            .filter(F.col("lbl_bucket") >= 0)  # selective Filter => DPP
        )
        existing = _maintenance_touched_rows(
            spark, path, app_buckets
        ).select("node")
        return new_nodes.join(
            existing, "node", "left_anti"
        ).localCheckpoint(eager=True)

    # -- the rewrite's read side: (queue, touched rows or None) ----------
    def _read_queued() -> tuple[DataFrame, DataFrame | None]:
        q = queue.localCheckpoint(eager=True)
        if q.isEmpty():
            return q, None
        # The queued labels' CURRENT bucket sets come from the sidecar —
        # after the first night a label's rows span every absorbed
        # cluster's home bucket, so pmod(old_lbl) alone would under-read.
        affected = (
            homes.join(
                F.broadcast(q.select("old_lbl")),
                homes.lbl == F.col("old_lbl"),
                "leftsemi",
            )
            .select("lbl_bucket")
            .distinct()
            # Semantically vacuous (pmod is never negative) but
            # load-bearing: Spark inserts the DPP subquery on the
            # partitioned scan only when the build side carries a
            # selective Filter — the checkpointed queue leaf has none,
            # so without this the rewrite read degrades to scanning
            # every bucket directory.
            .filter(F.col("lbl_bucket") >= 0)
        )
        # Materialize BEFORE overwriting: Spark (correctly) refuses a
        # plan that overwrites a path it is also reading; the eager
        # checkpoint bounds this to the affected buckets' rows.
        return q, _maintenance_touched_rows(
            spark, path, affected
        ).localCheckpoint(eager=True)

    (queue, touched), new_nodes = overlap(_read_queued, _build_new_nodes)
    remapped = homes
    if touched is not None:
        # -- 1. rewrite queued clusters in their home buckets ------------
        rewritten = touched.alias("t").join(
            F.broadcast(queue).alias("q"),
            F.col("t.lbl") == F.col("q.old_lbl"),
            "left",
        ).select(
            F.col("t.node").alias("node"),
            F.coalesce(F.col("q.new_lbl"), F.col("t.lbl")).alias("lbl"),
            F.col("t.lbl_bucket").alias("lbl_bucket"),
        )
        # Rows keep their home bucket, so no bucket can empty: no
        # cleanup of emptied partitions is needed.
        LABELS.replace(rewritten, path)
        remapped = (
            homes.alias("h")
            .join(
                F.broadcast(queue).alias("q"),
                F.col("h.lbl") == F.col("q.old_lbl"),
                "left",
            )
            .select(
                F.coalesce(F.col("q.new_lbl"), F.col("h.lbl")).alias("lbl"),
                F.col("h.lbl_bucket").alias("lbl_bucket"),
            )
        )
    # -- 2. append tonight's new labels / 3. sidecar update --------------
    # Queued labels' home buckets now hold the NEW label's rows; the
    # appends add their own (lbl, home-bucket) rows. Cluster-count-
    # sized; checkpointed (alongside the append) before the overwrite,
    # which must not read the sidecar it replaces, and written whole
    # only after the append commits.
    new_homes, _ = overlap(
        lambda: remapped.unionByName(new_nodes.select("lbl", "lbl_bucket"))
        .distinct()
        .localCheckpoint(eager=True),
        lambda: _append_label_rows(new_nodes, path),
    )
    write_sidecar(new_homes, path, LABEL_HOMES)


def _append_label_rows(rows: DataFrame, path: str) -> None:
    """Append ``(node, lbl, lbl_bucket)`` rows into their home buckets
    of the maintained label artifact at ``path``."""
    LABELS.write(rows, path, "append")


# Full-corpus component summary over a pluggable simhash CTE ({sim}) —
# byte-for-byte the write-once sink's oracle with (a) the corpus CTE
# swappable and (b) the lake restriction dropped: a maintained artifact
# must hold ALL of tonight's truth (lake rewrites + shard and singleton
# appends), i.e. exactly what a full rebuild would hold. The relabel
# sink binds the bridge-staged corpus; the continuous maintenance
# stream binds the raw corpus.
SQL_FULL_LABELS_SUMMARY_TMPL = f"""
    WITH RECURSIVE {{sim}},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
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

SQL_MAINTAINED_LABELS_SUMMARY = SQL_FULL_LABELS_SUMMARY_TMPL.format(
    sim=SQL_SIMHASH_STAGED
)


@registry.query(
    "sink_lake_cluster_labels_artifact_relabel",
    oracle=SQL_MAINTAINED_LABELS_SUMMARY,
)
def sink_lake_cluster_labels_artifact_relabel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The relabel APPLY, oracle-verified end to end: build yesterday's
    standing label artifact (home-bucket layout), run one night of
    maintenance (rewrite the queued stale clusters + append tonight's
    shard and first-contact-singleton labels), read the result back and
    report the per-cluster summary. The oracle recomputes the FULL
    corpus's components from scratch over the same (bridge-staged)
    corpus, so a green row proves maintained ≡ rebuilt — the lifecycle
    step above the append sinks, one level up: not just "the grown
    artifact equals a rebuild" but "the REWRITTEN artifact equals a
    rebuild".

    Runs on the staged corpus (STAGED_BRIDGE_ROWS) so the rewrite path
    is externally NON-vacuous: the staged bridge guarantees at least one
    standing cluster's rows are actually rewritten on any fixture
    corpus — a maintenance job that appended but failed to rewrite
    would keep cluster B's stale label and go red.

    Scale: the write-once half is the lake-sized labeling job this
    family always amortizes; the maintenance half reads |queued
    clusters| home buckets + writes the night's labels (plan/behavior
    pins in tests/test_dedup_semantics.py and tests/test_scale_plans.py:
    unaffected bucket files are byte-identical after maintenance, and
    tomorrow's gate against the maintained artifact equals one against
    a fresh rebuild)."""
    path = maintained_cluster_labels_artifact(
        spark, sf_dir, rebuild=True, staged=True
    )
    art = spark.read.parquet(path)
    return art.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count("*").alias("n_docs"),
        F.max("node").alias("max_doc_id"),
    )


@registry.query(
    "doc_passage_dup_ratio",
    oracle=f"""
    WITH {SQL_PASSAGE_WINDOWS},
    dup AS (
        SELECT passage_md5 FROM passage_windows GROUP BY passage_md5
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
        SELECT w.doc_id,
               COUNT(*) AS n_windows,
               COUNT(*) FILTER (WHERE dup.passage_md5 IS NOT NULL)
                   AS n_dup_windows
        FROM passage_windows w
        LEFT JOIN dup ON w.passage_md5 = dup.passage_md5
        GROUP BY w.doc_id
    )
    SELECT doc_id,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_dup_windows AS BIGINT) AS n_dup_windows,
           CAST((1000000 * n_dup_windows) // n_windows AS BIGINT)
               AS dup_ppm
    FROM per_doc
    """,
)
def doc_passage_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document-level view of :func:`dedup_repeated_passages` —
    the scrub PLAN: for every doc (with >= PASSAGE_W tokens), what
    fraction of its passage windows is verbatim-duplicated elsewhere
    in the corpus, in integer ppm. A doc near 10^6 ppm is boilerplate
    wearing a document id (drop it whole); a doc with a thin duplicated
    band carries a shared header/footer (scrub the passages, keep the
    doc); the corpus-level aggregate of this table is the "how much of
    my 100 TB is repeated text" number that decides whether a scrub
    pass is worth scheduling at all.

    Scale: the window table is computed once and consumed twice — the
    duplicated-passage set (digest-keyed aggregate) and the per-doc
    rollup joined through a left semi/anti-free LEFT join on the
    digest. All shuffles are keyed on the 16-byte digest or doc_id;
    no self-join of occurrence pairs exists (same structural guarantee
    as the report op). Integer floor-division ppm on both engines."""
    w = _passage_windows(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    dup = (
        w.groupBy("passage_md5")
        .agg(F.count_distinct("doc_id").alias("pd"))
        .filter(F.col("pd") >= 2)
        .select("passage_md5", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        w.join(dup, "passage_md5", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count("is_dup").alias("n_dup_windows"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        F.expr("(1000000 * n_dup_windows) DIV n_windows").alias("dup_ppm"),
    )


# ---------------------------------------------------------------------------
# Passage family, incremental tier: the nightly question the
# corpus-level ops can't answer — which of TONIGHT'S docs repeat passages
# already in the lake?
# ---------------------------------------------------------------------------


def _passage_pfx(col: str = "passage_md5"):
    """Digest-prefix partition key: the first hex char of the window
    digest — 16 directories, uniform by construction (md5), so the
    artifact's layout is balanced at any corpus size and the gate's
    (pfx, digest) equi-join lets dynamic partition pruning skip the
    15/16 of the lake a sparse shard never probes."""
    return F.substring(F.col(col), 1, 1).alias("pfx")


PASSAGE = Layout("pfx", "doc_id", "passage_md5")


def passage_artifact_rows(
    spark: SparkSession, sf_dir: str, keep: Column
) -> DataFrame:
    """``(doc_id, passage_md5, pfx)`` window rows of the documents
    ``keep`` selects — the rows of every passage artifact build."""
    docs = load_table(spark, sf_dir, "documents").filter(keep)
    return _passage_windows(docs).select(
        "doc_id", "passage_md5", _passage_pfx()
    )


def _passage_artifact_summary(art: DataFrame) -> DataFrame:
    return art.groupBy(F.col("pfx").cast("string").alias("pfx")).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("passage_md5").alias("n_digests"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


def _passage_summary_sql(pred: str) -> str:
    """DuckDB twin of :func:`_passage_artifact_summary`."""
    return f"""
    WITH {SQL_PASSAGE_WINDOWS}
    SELECT substring(passage_md5, 1, 1) AS pfx,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT passage_md5) AS BIGINT) AS n_digests,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM passage_windows {sql_where("doc_id % 10 <> 0", pred)}
    GROUP BY substring(passage_md5, 1, 1)
    """


# Every PASSAGE_W-token window digest of every lake document, giving
# the repeated-passage ops the write-once / gate-nightly lifecycle. A
# 100 TB lake windows its text once; each night's shard probes digest
# membership instead of re-windowing the lake (the corpus-level ops
# re-derive all windows per run — fine for a report, wrong as a nightly
# gate). The admitted batch's windows land as new files in their
# prefix directories: no read-modify-write, and the batch predicate
# pushes onto the documents scan (plan-pinned).
PASSAGE_FAMILY = ArtifactFamily(
    "quty_lake_passages", PASSAGE, passage_artifact_rows,
    _passage_artifact_summary, _passage_summary_sql,
)
register_artifact_sinks("sink_lake_passage_artifact", PASSAGE_FAMILY)


# The passage gate's oracle — shared byte-for-byte with the streaming
# twin (stream_ingest_passage_gate), the same device as
# SQL_INCREMENTAL_GATE / SQL_MINHASH_GATE / SQL_EMB_GATE.
SQL_PASSAGE_GATE = f"""
    WITH {SQL_PASSAGE_WINDOWS},
    shard AS (
        SELECT doc_id, passage_md5 FROM passage_windows WHERE doc_id % 10 = 0
    ),
    lake AS (
        SELECT DISTINCT passage_md5 FROM passage_windows
        WHERE doc_id % 10 <> 0
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(*) FILTER (WHERE l.passage_md5 IS NOT NULL)
                AS BIGINT) AS n_lake_dup_windows,
           CAST((1000000 * COUNT(*) FILTER (
                    WHERE l.passage_md5 IS NOT NULL)) // COUNT(*)
                AS BIGINT) AS dup_ppm
    FROM shard s LEFT JOIN lake l ON s.passage_md5 = l.passage_md5
    GROUP BY s.doc_id
    """


def passage_scrub(windows: DataFrame, art: DataFrame) -> DataFrame:
    """The passage gate's one probe: per doc of ``windows`` (doc_id,
    passage_md5, pfx), ``(doc_id, n_windows, n_lake_dup_windows,
    dup_ppm)`` — total windows, windows whose (pfx, digest) is in the
    lake passage artifact ``art``, and their ratio in ppm. Lake
    multiplicity is absorbed by a LEFT SEMI join (no DISTINCT, no
    lake-side aggregation); the (pfx, digest) key prefix matches the
    artifact's partitioning, so a sparse probe prunes prefix
    directories. ``windows`` is read twice: callers checkpoint it."""
    art = art.select("pfx", "passage_md5")
    hits = (
        windows.join(art, ["pfx", "passage_md5"], "leftsemi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_lake_dup_windows"))
    )
    return (
        windows.groupBy("doc_id")
        .agg(F.count("*").alias("n_windows"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_lake_dup_windows", F.lit(0)).alias(
                "n_lake_dup_windows"
            ),
        )
        .withColumn(
            "dup_ppm",
            F.expr("(1000000 * n_lake_dup_windows) DIV n_windows"),
        )
    )


@registry.query(
    "dedup_incremental_passages",
    oracle=SQL_PASSAGE_GATE,
)
def dedup_incremental_passages(
    spark: SparkSession, sf_dir: str, path: str | None = None,
    materialize_shard: bool = True,
) -> DataFrame:
    """The nightly passage gate — which of TONIGHT'S docs repeat
    passages already in the lake, and how much of each doc is such
    repetition: per shard doc, total windows, windows whose digest
    exists in the lake artifact, and the scrub ratio in ppm. The
    corpus-level :func:`doc_passage_dup_ratio` answers this for a
    snapshot by re-deriving every window; this gate windows ONLY the
    shard and probes the standing artifact
    (``PASSAGE_FAMILY``) — per-night cost follows the
    shard, the lake is a presence probe.

    Plan shape (pinned in tests/test_scale_plans.py): the shard's
    windows come from a batch-filtered documents scan ("% 10 = 0"
    pushed to the reader) into :func:`passage_scrub`; the only
    aggregation is its shard-keyed rollup."""
    w = _passage_windows(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 == 0
        )
    ).select("doc_id", "passage_md5", _passage_pfx())
    # One windowing pass feeds both the total count and the probe
    # (checkpoints are RDD leaves, opaque to explain — plan tests pass
    # materialize_shard=False to keep the shard predicate visible).
    if materialize_shard:
        w = w.localCheckpoint(eager=False)
    return passage_scrub(
        w,
        spark.read.parquet(
            path if path is not None else PASSAGE_FAMILY.build(spark, sf_dir)
        ),
    )


# Case/whitespace-mangled copies for the normalized-dedup exercise:
# every doc_id % 7 == 0 document reappears uppercased with doubled
# spaces under doc_id + 2000000. Exact md5 dedup cannot see these;
# normalization collapses them. Deterministic and SQL-replicable.
SQL_MANGLED = """
mangled AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           replace(upper(text), ' ', '  ') AS text
    FROM documents WHERE doc_id % 7 = 0
)"""


@registry.query(
    "dedup_exact_normalized",
    oracle=f"""
    WITH {SQL_MANGLED}
    SELECT md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS norm_md5,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM mangled
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-hash dedup — the standard first pass of a web
    corpus pipeline (case folding, punctuation strip, whitespace
    collapse) that catches trivially-mangled exact copies plain md5
    misses. Returns only groups that actually collapsed (HAVING > 1).

    Scale: identical to dedup_exact — the shuffle key is the 32-char
    digest of the NORMALIZED text (computed scan-side by JVM regexp
    builtins), partial aggregation collapses copies map-side. DuckDB's
    regexp_replace needs the 'g' flag to match Spark's replace-all
    default — a normalization-contract detail both engines must agree
    on byte-for-byte."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.replace(F.upper("text"), F.lit(" "), F.lit("  ")).alias("text"),
    )
    corpus = d.unionByName(copies)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        corpus.groupBy(F.md5(norm).alias("norm_md5"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


@registry.query(
    "dedup_decontaminate_ngram",
    oracle=f"""
    WITH {SQL_SHINGLES},
    bench AS (
        SELECT DISTINCT shingle FROM doc_shingle WHERE doc_id % 5 = 0),
    hits AS (
        SELECT t.doc_id, COUNT(*) AS n_shared
        FROM doc_shingle t JOIN bench USING (shingle)
        WHERE t.doc_id % 5 <> 0
        GROUP BY t.doc_id)
    SELECT s.doc_id,
           CAST(s.n_sh AS BIGINT) AS n_sh,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(h.n_shared, 0) * 2 >= s.n_sh AS contaminated
    FROM doc_size s LEFT JOIN hits h USING (doc_id)
    WHERE s.doc_id % 5 <> 0
    """,
)
def dedup_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the eval-overlap filter every
    training pipeline runs before training: docs whose 3-gram shingles
    overlap the benchmark set (here: doc_id % 5 == 0 plays the
    benchmark) beyond a relative threshold (>= half the doc's shingles)
    are flagged. Unlike the pair-mining dedups this is a SET-membership
    shape: training shingles join the DISTINCT benchmark shingle union
    — one row per (training doc, shared shingle), never per doc pair.

    Scale: the benchmark side (eval suites) is small by construction —
    its distinct shingle set broadcasts, so the corpus is never
    shuffled; the per-doc count map-side combines. If the benchmark
    ever outgrew broadcast, the same equality join works shuffled."""
    sh = doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    bench = (
        sh.filter(F.col("doc_id") % 5 == 0).select("shingle").distinct()
    )
    train = sh.filter(F.col("doc_id") % 5 != 0)
    sizes = train.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    hits = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_sh").cast("bigint").alias("n_sh"),
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        (F.coalesce("n_shared", F.lit(0)) * 2 >= F.col("n_sh")).alias(
            "contaminated"
        ),
    )


_SQL_SIG_MATCH = " + ".join(
    f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END" for i in range(N_PERM)
)


@registry.query(
    "dedup_minhash_error_eval",
    oracle=f"""
    WITH {SQL_SHINGLES}, {SQL_MINHASH}, {SQL_PAIR_JACCARD}
    SELECT c.doc_a, c.doc_b,
           CAST({_SQL_SIG_MATCH} AS BIGINT) AS n_match,
           CAST(({_SQL_SIG_MATCH}) * 1000000 // {N_PERM} AS BIGINT)
               AS est_ppm,
           j.jaccard
    FROM candidates c
    JOIN sigs sa ON c.doc_a = sa.doc_id
    JOIN sigs sb ON c.doc_b = sb.doc_id
    JOIN pair_jaccard j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    """,
)
def dedup_minhash_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair, the
    signature-agreement estimate (matching permutations / 16, the
    quantity LSH banding thresholds on) next to the exact shingle
    Jaccard it estimates. This is the report that justifies N_PERM /
    N_BANDS before a 100 TB dedup run: if est_ppm systematically
    overshoots jaccard at the 0.5 decision boundary, the band/row split
    is wrong for the corpus. Agreement counts are exact integers;
    est_ppm is a floor division of non-negative ints.

    Scale: candidates come from the banded join (never all pairs);
    signatures are 16 ints/doc joined by doc_id; the exact-Jaccard arm
    is candidate-restricted exactly like dedup_minhash_lsh's verify.
    Candidate pairs sharing no shingle (possible only via h28
    collisions) drop from BOTH engines' inner join against the
    shingle-intersection table."""
    sh = doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    # One signature aggregation shared by banding AND both per-side sig
    # joins (materialized lazily — 3 consumers; see minhash_candidates).
    sigs = minhash_sigs(sh).localCheckpoint(eager=False)
    cands = minhash_candidates(spark, sf_dir, sigs=sigs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb_sh = sh.select(
        F.col("doc_id").alias("doc_b2"), F.col("shingle").alias("shingle_b")
    )
    inter = (
        cands.join(sa_sh, "doc_a")
        .join(
            sb_sh,
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"sa{i}") for i in range(N_PERM)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"sb{i}") for i in range(N_PERM)],
    )
    n_match = None
    for i in range(N_PERM):
        term = F.when(F.col(f"sa{i}") == F.col(f"sb{i}"), 1).otherwise(0)
        n_match = term if n_match is None else n_match + term
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("bigint").alias("n_match"),
            (n_match.cast("bigint") * 1000000 / F.lit(N_PERM))
            .cast("bigint")
            .alias("est_ppm"),
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


@registry.query(
    "dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {SQL_SIMHASH.lstrip()},
    bands AS (
        SELECT doc_id, b.band_id, (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM simhash, (SELECT unnest(range(0, 4)) AS band_id) b
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
    lab AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    assigned AS (
        SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
    ),
    csize AS (
        SELECT cluster_id, COUNT(*) AS csz FROM assigned GROUP BY cluster_id
    )
    SELECT CAST(csz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(csz * COUNT(*) AS BIGINT) AS n_docs,
           CAST((csz - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM csize GROUP BY csz
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: the near-dup cluster-size histogram — how
    many clusters of each size exist, how many documents they hold, and
    how many would be removed by keep-one-per-cluster. THE number a
    100 TB dedup run is judged by (corpus shrinkage) and the first
    diagnostic when a threshold is wrong (a giant cluster = threshold
    too loose; all singletons = too strict). Exact integer counts.

    Scale: REUSES the banded near-pair graph + BSP components via the
    per-(session, sf_dir) label memo (:func:`simhash_component_labels`)
    — the labeling pass that dedup_cluster already ran is not repeated;
    the histogram itself is two tiny aggregations over the label table,
    which is orders of magnitude smaller than the corpus."""
    labels = simhash_component_labels(spark, sf_dir)
    lab = labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    small = lab.count() <= BROADCAST_NODES_MAX
    assigned = d.join(F.broadcast(lab) if small else lab, "doc_id", "left").select(
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
    )
    csize = assigned.groupBy("cluster_id").agg(F.count("*").alias("csz"))
    return csize.groupBy("csz").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.col("csz") * F.count("*")).cast("bigint").alias("n_docs"),
        ((F.col("csz") - 1) * F.count("*")).cast("bigint").alias("n_removable"),
    ).select(
        F.col("csz").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )
