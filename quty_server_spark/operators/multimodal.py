"""Multimodal column handling: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a modality tag
and a metadata struct; decode / feature-extraction runs as Arrow-batched
pandas over ``mapInPandas`` — the Spark-side plumbing (schema, batch
iteration, partitioning) is real and oracle-tested. The actual codec calls
are STUBBED (no image/audio libraries in this container): see
:func:`decode_image` / :func:`decode_audio` which raise
``NotImplementedError``, and :func:`_fake_decode` — the deterministic
stand-in the queries use so results stay verifiable.

The binary payload is synthesized from ``documents.text`` (utf-8 bytes) —
the fixture set has no real media — so every byte-level feature has an
exact SQL twin (ascii text ⇒ byte i == ascii(char i)).

Scale: mapInPandas streams Arrow batches (default 10k rows) through one
Python worker per core; payload bytes never hit the driver. For real
media, partition by size-bucketed modality so one 4K video batch cannot
OOM a worker.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from quty_server_spark.operators._helpers import (
    ArtifactFamily,
    load_table,
    register_artifact_sinks,
)
from quty_server_spark.operators.dedup import (
    SIG,
    _sig_artifact_summary,
    band_summary_sql,
)
from quty_server_spark.plans.registry import registry

MODALITIES = ["image", "audio", "video"]


def decode_image(payload: bytes) -> dict:
    """STUB — real image decode (PIL/opencv) is unavailable in this
    container. The plumbing that would call it is real; swap this body
    for ``PIL.Image.open(io.BytesIO(payload))`` when the codec exists."""
    raise NotImplementedError("image codecs not available in this environment")


def decode_audio(payload: bytes) -> dict:
    """STUB — real audio decode (soundfile/librosa) is unavailable."""
    raise NotImplementedError("audio codecs not available in this environment")


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in decoder: derives 'media' features from raw
    bytes only, so the DuckDB oracle can replicate them exactly."""
    n = len(payload)
    first = payload[0] if n else 0
    checksum = sum(payload[:16]) % 256
    return {
        "n_bytes": n,
        "first_byte": first,
        "checksum16": checksum,
        "fake_width": n % 640 + 1,
        "fake_height": n % 480 + 1,
    }


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, modality, payload binary, meta struct)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(m) for m in MODALITIES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.col("lang").alias("container"),
            F.col("source").alias("origin"),
            F.col("n_chars").alias("declared_size"),
        ).alias("meta"),
    )


_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("first_byte", IntegerType()),
        StructField("checksum16", IntegerType()),
        StructField("fake_width", IntegerType()),
        StructField("fake_height", IntegerType()),
    ]
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batch in, feature batch out. Real decode
    would dispatch on modality to decode_image/decode_audio; here every
    modality goes through the deterministic fake decoder."""
    for pdf in batches:
        feats = [_fake_decode(bytes(p)) for p in pdf["payload"]]
        out = pd.DataFrame(feats)
        out.insert(0, "modality", pdf["modality"].values)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


@registry.query(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                           ELSE 'video' END AS modality,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte,
           CAST(list_sum(list_transform(range(1, LEAST(LENGTH(text), 16) + 1),
                i -> ascii(substr(text, i, 1)))) % 256 AS INTEGER) AS checksum16,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS fake_width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS fake_height
    FROM documents
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary feature extraction through the real mapInPandas pipeline
    (Arrow batches, python worker, declared output schema); the codec call
    inside is the deterministic stub."""
    return media_table(spark, sf_dir).mapInPandas(
        _extract_features, schema=_FEATURE_SCHEMA
    )


@registry.query(
    "mm_resize_dims",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               octet_length(encode(text)) % 640 + 1 AS w,
               octet_length(encode(text)) % 480 + 1 AS h
        FROM documents WHERE doc_id % 3 = 0)
    SELECT doc_id, w AS src_width, h AS src_height,
           CAST(FLOOR(224.0 * w / GREATEST(w, h)) AS INTEGER) AS dst_width,
           CAST(FLOOR(224.0 * h / GREATEST(w, h)) AS INTEGER) AS dst_height
    FROM dims
    """,
)
def mm_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning for 'image' payloads: aspect-preserving fit into a
    224x224 budget (long side scaled to 224). The pixel resample itself
    would run inside the mapInPandas decode stub (operators above); the
    dimension arithmetic — the part a planner needs for batch sizing and
    memory budgeting at scale — is pure column math, oracle-checked."""
    feats = media_table(spark, sf_dir).filter(F.col("modality") == "image")
    n = F.octet_length("payload")
    w = (n % 640 + 1).cast("int")
    h = (n % 480 + 1).cast("int")
    longest = F.greatest(w, h)
    return feats.select(
        "doc_id",
        w.alias("src_width"),
        h.alias("src_height"),
        # floor, not round: 224*w/max hits exact halves, where Spark
        # (half-up) and DuckDB (banker's) disagree.
        F.floor(F.lit(224.0) * w / longest).cast("int").alias("dst_width"),
        F.floor(F.lit(224.0) * h / longest).cast("int").alias("dst_height"),
    )


@registry.query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id,
           n_chars % 30 + 1 AS duration_s,
           CAST(f.frame_idx AS BIGINT) AS frame_idx,
           CAST((ascii(substr(text, 1, 1)) + 7 * f.frame_idx) % 256 AS INTEGER)
               AS frame_feature
    FROM documents, UNNEST(range(0, n_chars % 30 + 1)) AS f(frame_idx)
    WHERE doc_id % 3 = 2
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for 'video' payloads: fake duration from metadata,
    one row per sampled frame (1 fps), per-frame feature derived from the
    payload deterministically. Real frame extraction would be a
    mapInPandas over (payload, frame_idx) batches — the explode shape,
    which is the part that matters for partitioning, is identical."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 2)
    duration = (F.col("n_chars") % 30 + 1).cast("int")
    return (
        d.withColumn("duration_s", duration)
        .select(
            "doc_id",
            "duration_s",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("duration_s").cast("bigint") - 1)).alias(
                "frame_idx"
            ),
            F.col("text"),
        )
        .select(
            "doc_id",
            F.col("duration_s").cast("bigint").alias("duration_s"),
            "frame_idx",
            ((F.ascii(F.substring("text", 1, 1)) + 7 * F.col("frame_idx")) % 256)
            .cast("int")
            .alias("frame_feature"),
        )
    )


CHUNK = 256  # bytes per audio chunk (stands in for a fixed sample window)


@registry.query(
    "mm_audio_chunks",
    oracle=f"""
    WITH a AS (SELECT doc_id, text, n_chars FROM documents
               WHERE doc_id % 3 = 1 AND n_chars >= {CHUNK}),
    idx AS (SELECT doc_id, text,
                   unnest(range(0, CAST(ceil(n_chars / {CHUNK}.0) AS BIGINT)))
                       AS chunk_idx
            FROM a)
    SELECT doc_id, chunk_idx,
           LENGTH(substring(text, CAST(chunk_idx * {CHUNK} + 1 AS INT), {CHUNK}))
               AS chunk_len,
           md5(substring(text, CAST(chunk_idx * {CHUNK} + 1 AS INT), {CHUNK}))
               AS chunk_md5
    FROM idx
    """,
)
def mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking of 'audio' binary payloads (doc_id % 3 == 1
    is the audio modality slice of media_table): each payload is split
    into 256-byte windows — the shape of sample-frame extraction before a
    feature UDF — emitting per-chunk length and content hash. Pure
    JVM-side byte slicing: explode(sequence) × substring on the binary
    column, no Python; one row per chunk keeps batches bounded no matter
    how long one recording is (a 10 GB audio file becomes 40M rows, not
    one 10 GB cell per operator). The oracle mirrors the slicing on the
    source text (payload bytes ARE the utf-8 text, ascii ⇒ 1 byte/char)."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter((F.col("doc_id") % 3 == 1) & (F.col("n_chars") >= CHUNK)).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    n_chunks = F.ceil(F.octet_length("payload") / float(CHUNK)).cast("bigint")
    chunk = F.expr(f"substring(payload, CAST(chunk_idx * {CHUNK} + 1 AS INT), {CHUNK})")
    return (
        a.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)))
        .select(
            "doc_id",
            "chunk_idx",
            F.octet_length(chunk).alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


@registry.query(
    "mm_modality_mix",
    oracle="""
    WITH media AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS modality,
               octet_length(encode(text)) AS n_bytes,
               lang AS container
        FROM documents)
    SELECT modality,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(n_bytes) // COUNT(*) AS BIGINT) AS avg_bytes,
           CAST(MAX(n_bytes) AS BIGINT) AS max_bytes,
           CAST(COUNT(DISTINCT container) AS BIGINT) AS n_containers
    FROM media GROUP BY modality
    """,
)
def mm_modality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-corpus composition report: per modality, item count, byte
    volume, average/max payload size, and container variety — the
    numbers that size a multimodal ingest (which decode pool gets how
    many workers, what Arrow batch size keeps the biggest payload from
    OOMing a python worker, whether one modality dominates storage).
    Computed from the typed metadata + payload length only: no decode,
    so it runs at catalog speed even when the codecs are the env-gated
    stubs. Integer floor-division average.

    Scale: one narrow scan, 3-row group-by; octet_length is computed
    executor-side without materializing payload copies."""
    m = media_table(spark, sf_dir)
    return (
        m.select(
            "modality",
            F.octet_length("payload").alias("n_bytes"),
            F.col("meta.container").alias("container"),
        )
        .groupBy("modality")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.expr("CAST(sum(n_bytes) div count(*) AS BIGINT)").alias(
                "avg_bytes"
            ),
            F.max("n_bytes").cast("bigint").alias("max_bytes"),
            F.countDistinct("container").cast("bigint").alias("n_containers"),
        )
    )


@registry.query(
    "mm_payload_dedup",
    oracle="""
    WITH media AS (
        SELECT doc_id,
               ['image','audio','video'][(doc_id % 3 + 1)::INT] AS modality,
               text AS payload_text
        FROM documents
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id,
               ['image','audio','video'][((doc_id + 1) % 3 + 1)::INT]
                   AS modality,
               text AS payload_text
        FROM documents WHERE doc_id % 9 = 0
    )
    SELECT md5(payload_text) AS payload_md5,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT modality) AS n_modalities
    FROM media
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MEDIA dedup — the dedup family extended to the multimodal
    binary column: group items by the md5 of their raw payload bytes
    (codec-free, so it works on media the container cannot decode),
    keep the lowest id, and report each collapsed group's copy count
    and DISTINCT MODALITY count — n_modalities > 1 is the
    cross-modality duplicate (the same bytes filed under two container
    tags), a mislabeling QA catch no text-side dedup can see. The
    fixture stages a deterministic byte-identical twin for every ninth
    item under a SHIFTED modality tag (id + 3,000,000), so the
    cross-modality case is always exercised; the synthesized payload is
    the document's utf-8 bytes, making the byte-level digest exactly
    reproducible in SQL.

    Scale: identical to dedup_exact — the digest is computed scan-side
    (JVM md5 over the binary column; payload bytes never leave the
    executor), the shuffle key is the 32-char digest, and partial
    aggregation collapses copies map-side. For real media this is the
    first pass before perceptual hashing, at pennies per petabyte."""
    base = media_table(spark, sf_dir).select("doc_id", "modality", "payload")
    twins_src = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 9 == 0
    )
    twins = twins_src.select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in MODALITIES]),
            ((F.col("doc_id") + 1) % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
    )
    media = base.unionByName(twins)
    return (
        media.groupBy(F.md5("payload").alias("payload_md5"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
            F.countDistinct("modality").alias("n_modalities"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Perceptual (near-dup) media dedup
# ---------------------------------------------------------------------------

# Payloads below this size have sub-2-byte signature regions; they fall
# back to the exact digest pass (mm_payload_dedup), which needs no
# region statistics. 96 = 2 bytes x PERCEP_REGIONS.
PERCEP_MIN_BYTES = 96
# Region count == dedup.SIMHASH_BITS, so the perceptual signature rides
# the text family's ENTIRE banding machinery (simhash_bands' 4 x 12-bit
# pigeonhole split, SIMHASH_BUCKET_CAP, HAMMING_MAX) unchanged.
PERCEP_REGIONS = 48

# Staged twin id offset (distinct from mm_payload_dedup's 3M
# exact-twin universe). Deliberately ≡ 7 (mod 10): a twin lands in a
# DIFFERENT shard/lake residue than its original, so the staged pairs
# cross the nightly-ingest boundary — a lake original's twin can arrive
# with tonight's shard (and a shard original's twin sits in the lake),
# which is what keeps the incremental artifact gate
# (mm_neardup_incremental_artifact) non-vacuous by construction instead
# of by fixture luck.
_NEARDUP_TWIN_BASE = 6_000_007


def _percep_sig_batch(payloads) -> list[int]:
    """Blockhash-style perceptual signature, vectorized per payload:
    split the byte stream into PERCEP_REGIONS equal spans, bit r = 1
    iff region r's mean byte value exceeds the whole payload's mean —
    compared in exact integer cross-multiplication (region_sum * n >
    total * region_len), so both engines agree bit-for-bit with no
    float in sight. Region sums come from one cumulative sum
    (O(n) per payload); for real media the same signature would be
    computed over the decoded luma/PCM plane instead of raw bytes —
    same shape, same banding downstream."""
    import numpy as np

    bits_idx = np.arange(PERCEP_REGIONS, dtype=np.int64)
    out = []
    for p in payloads:
        arr = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.int64)
        n = arr.size
        c = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(arr)])
        bounds = (np.arange(PERCEP_REGIONS + 1, dtype=np.int64) * n) // PERCEP_REGIONS
        rs = c[bounds[1:]] - c[bounds[:-1]]
        rl = bounds[1:] - bounds[:-1]
        tot = c[-1]
        bits = rs * n > tot * rl
        out.append(int(((bits.astype(np.int64)) << bits_idx).sum()))
    return out


_PERCEP_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("sig", LongType())]
)


def _extract_percep_sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batch of (doc_id, payload) in,
    (doc_id, sig) out — the feature-extraction seam where a real
    deployment would decode the media first (decode_image/decode_audio)
    and hash the decoded plane."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "sig": _percep_sig_batch(pdf["payload"]),
            }
        )


def percep_media_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup candidate universe: every media item of
    :func:`media_table` at or above PERCEP_MIN_BYTES, plus a staged
    NEAR-twin for every (doc_id % 9 == 3) item — its first two bytes
    swapped (byte-different ⇒ exact dedup is blind to it) under a
    SHIFTED modality tag. Both swapped bytes live inside signature
    region 0 (region length n//48 >= 2 at the size floor), so the
    twin's region statistics — and therefore its signature — are
    IDENTICAL to the original's: the staged pair is the re-encoded
    duplicate the perceptual pass exists to catch, deterministic on
    both engines. Twins where the two bytes are equal are skipped
    (those would be exact copies, mm_payload_dedup's business)."""
    base = media_table(spark, sf_dir).select("doc_id", "modality", "payload")
    twins_src = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 9 == 3)
        & (F.octet_length(F.encode("text", "utf-8")) >= PERCEP_MIN_BYTES)
        & (F.substring("text", 1, 1) != F.substring("text", 2, 1))
    )
    twins = twins_src.select(
        (F.col("doc_id") + _NEARDUP_TWIN_BASE).alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in MODALITIES]),
            ((F.col("doc_id") + 1) % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode(
            F.concat(
                F.substring("text", 2, 1),
                F.substring("text", 1, 1),
                F.expr("substring(text, 3)"),
            ),
            "utf-8",
        ).alias("payload"),
    )
    return base.unionByName(twins).filter(
        F.octet_length("payload") >= PERCEP_MIN_BYTES
    )


def _percep_region_sql() -> str:
    """The signature CTEs the oracle uses — byte statistics via one
    char-split per payload (O(n)), region sums via list slices."""
    R = PERCEP_REGIONS
    bit = (
        f"CASE WHEN rs * n > tot * rl THEN (CAST(1 AS BIGINT) << r) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    return f"""
    b AS (
        SELECT doc_id,
               list_transform(string_split(pt, ''), c -> ascii(c)) AS by,
               octet_length(encode(pt)) AS n
        FROM media
    ),
    regs AS (
        SELECT doc_id, n, r.r AS r,
               list_sum(by[(r.r * n) // {R} + 1 : ((r.r + 1) * n) // {R}]) AS rs,
               ((r.r + 1) * n) // {R} - (r.r * n) // {R} AS rl,
               list_sum(by) AS tot
        FROM b, (SELECT unnest(range(0, {R})) AS r) r
    ),
    sigt AS (
        SELECT doc_id, CAST(SUM({bit}) AS BIGINT) AS sig
        FROM regs GROUP BY doc_id
    )"""


def _percep_sig_ctes() -> str:
    """The signature half — staged universe + region statistics +
    48-bit signatures (``sigt``). Shared verbatim by every media-family
    oracle: the near-pair miner, the cluster collapse, the write-once /
    append artifact summaries, and the incremental gate — one
    definition of "a media item's perceptual signature" everywhere."""
    return f"""media AS (
        SELECT doc_id,
               ['image','audio','video'][(doc_id % 3 + 1)::INT] AS modality,
               text AS pt
        FROM documents
        WHERE octet_length(encode(text)) >= {PERCEP_MIN_BYTES}
        UNION ALL
        SELECT orig_id + {_NEARDUP_TWIN_BASE} AS doc_id,
               ['image','audio','video'][((orig_id + 1) % 3 + 1)::INT]
                   AS modality,
               substr(pt, 2, 1) || substr(pt, 1, 1) || substr(pt, 3) AS pt
        FROM (SELECT doc_id AS orig_id, text AS pt FROM documents)
        WHERE orig_id % 9 = 3
          AND octet_length(encode(pt)) >= {PERCEP_MIN_BYTES}
          AND substr(pt, 1, 1) <> substr(pt, 2, 1)
    ),
    {_percep_region_sql().lstrip()}"""


def _mm_neardup_ctes() -> str:
    """Signature CTEs + the capped banding + the candidate-pair
    relation ``pr`` — shared verbatim by the pair oracle
    (mm_payload_neardup) and the cluster collapse oracle
    (mm_payload_neardup_keep)."""
    from quty_server_spark.operators.dedup import (
        HAMMING_MAX,
        SIMHASH_BUCKET_CAP,
    )

    return f"""{_percep_sig_ctes()},
    bands AS (
        SELECT doc_id, sig, b.band_id,
               (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM sigt, (SELECT unnest(range(0, 4)) AS band_id) b
        QUALIFY COUNT(*) OVER (PARTITION BY b.band_id,
                               (sig >> (12 * b.band_id)) & 4095)
                <= {SIMHASH_BUCKET_CAP}
    ),
    pr AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.sig, b.sig)) AS hamming
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= {HAMMING_MAX}
    )"""


def _mm_neardup_oracle() -> str:
    return f"""
    WITH {_mm_neardup_ctes()}
    SELECT p.doc_a, p.doc_b, p.hamming,
           ma.modality <> mb.modality AS cross_modality
    FROM pr p
    JOIN media ma ON p.doc_a = ma.doc_id
    JOIN media mb ON p.doc_b = mb.doc_id
    """


@registry.query("mm_payload_neardup", oracle=_mm_neardup_oracle())
def mm_payload_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL media dedup — the near-dup tier above
    :func:`mm_payload_dedup`'s exact digest pass: real pipelines dedup
    re-encoded/resized media whose bytes differ but whose content does
    not. Each payload gets a blockhash-style 48-bit signature (region
    mean vs global mean, exact integer comparison) computed through the
    REAL decode seam — mapInPandas over Arrow batches, the same
    plumbing a codec-present deployment would run — and the signature
    space then rides the text family's SimHash machinery UNCHANGED:
    :func:`~quty_server_spark.operators.dedup.simhash_bands` 4 x 12-bit
    pigeonhole banding, the SIMHASH_BUCKET_CAP saturated-bucket drop
    (both engines apply it, so the cap is the documented contract, not
    an approximation), and the HAMMING_MAX verify. Pairs carry a
    cross_modality flag — a perceptual match filed under two different
    container tags is the mislabeled re-encode QA catch.

    Non-vacuity is staged, not assumed: every ninth document plants a
    byte-swapped near-twin under a shifted modality tag
    (:func:`percep_media_universe`) — signature-identical but
    byte-different, invisible to the exact pass by construction
    (pinned in tests/test_extension_semantics.py).

    Scale: signatures are one O(n) cumulative sum per payload inside
    Arrow batches (payload bytes never hit the driver); candidates come
    from band-equality self-join only — never all-pairs — with
    saturated buckets dropped BEFORE the join by a window count over
    the join's own shuffle key (no extra exchange; plan pinned in
    tests/test_plan_audit.py); the Hamming verify touches candidate
    pairs only, and the modality decoration joins AFTER mining on the
    id-keyed universe (as split_leakage_near_dup does)."""
    from quty_server_spark.operators.dedup import (
        HAMMING_MAX,
        SIMHASH_BUCKET_CAP,
        simhash_bands,
    )
    from pyspark.sql import Window

    uni = percep_media_universe(spark, sf_dir)
    sigs = uni.select("doc_id", "payload").mapInPandas(
        _extract_percep_sigs, schema=_PERCEP_SCHEMA
    )
    bands = (
        simhash_bands(sigs)
        .withColumn(
            "bsz", F.count("*").over(Window.partitionBy("band_id", "band_val"))
        )
        .filter(F.col("bsz") <= SIMHASH_BUCKET_CAP)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
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
    mods = uni.select("doc_id", "modality")
    ma = mods.select(
        F.col("doc_id").alias("doc_a"), F.col("modality").alias("mod_a")
    )
    mb = mods.select(
        F.col("doc_id").alias("doc_b"), F.col("modality").alias("mod_b")
    )
    return pairs.join(ma, "doc_a").join(mb, "doc_b").select(
        "doc_a",
        "doc_b",
        "hamming",
        (F.col("mod_a") != F.col("mod_b")).alias("cross_modality"),
    )


def _mm_neardup_keep_oracle() -> str:
    return f"""
    WITH RECURSIVE {_mm_neardup_ctes()},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pr
        UNION ALL SELECT doc_b, doc_a FROM pr
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    flab AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node)
    SELECT f.lbl AS cluster_id,
           COUNT(*) AS n_members,
           COUNT(DISTINCT m.modality) AS n_modalities,
           COUNT(DISTINCT md5(m.pt)) AS n_byte_variants
    FROM flab f JOIN media m ON f.node = m.doc_id
    GROUP BY 1
    """


@registry.query("mm_payload_neardup_keep", oracle=_mm_neardup_keep_oracle())
def mm_payload_neardup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual pass's COLLAPSE decision — what
    :func:`~quty_server_spark.operators.dedup.dedup_keep_canonical` is
    to the text near-pairs, this is to the media near-pairs: connected
    components over :func:`mm_payload_neardup`'s pair graph (the shared
    min-label BSP core), keeper = the min-id member (== the reported
    cluster_id), and a per-cluster audit: member count, DISTINCT
    MODALITY count (the cross-container collapse), and DISTINCT
    payload-digest count — n_byte_variants > 1 is the perceptual-only
    win, the members the exact digest pass (mm_payload_dedup) could
    never collapse. The staged byte-swapped twins guarantee that case
    is always exercised.

    Scale: pair mining is the capped/banded join (bounded above);
    the component loop is the same O(log diameter) BSP every labeling
    consumer amortizes, over the near-dup node set only (≪ corpus);
    the collapse report is one cluster-grain aggregation against the
    id-keyed universe."""
    from quty_server_spark.operators.dedup import min_label_components

    uni = percep_media_universe(spark, sf_dir)
    pairs = mm_payload_neardup(spark, sf_dir)
    labels, _ = min_label_components(spark, pairs)
    mem = uni.join(
        labels.select(F.col("node").alias("doc_id"), "lbl"), "doc_id"
    )
    return mem.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.countDistinct("modality").alias("n_modalities"),
        F.countDistinct(F.md5("payload")).alias("n_byte_variants"),
    )


# ---------------------------------------------------------------------------
# Media signature artifact tier (parity with the text families'
# write-once / append / probe-nightly lifecycle)
# ---------------------------------------------------------------------------


def media_sig_bands(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Banded perceptual signatures ``(doc_id, sig, band_id, band_val)``
    of the staged media universe (or a caller-filtered slice of it) —
    the mapInPandas signing pass + the text family's
    :func:`~quty_server_spark.operators.dedup.simhash_bands` explode.
    Callers filter the UNIVERSE, not the bands, so a shard-only caller
    signs only the shard (nothing is signed twice — the same pushdown
    discipline as the text incremental gate)."""
    from quty_server_spark.operators.dedup import simhash_bands

    uni = docs if docs is not None else percep_media_universe(spark, sf_dir)
    sigs = uni.select("doc_id", "payload").mapInPandas(
        _extract_percep_sigs, schema=_PERCEP_SCHEMA
    )
    return simhash_bands(sigs)


def media_artifact_rows(
    spark: SparkSession, sf_dir: str, keep: Column
) -> DataFrame:
    """Banded perceptual-signature rows of the media ``keep`` selects
    from the staged universe — the rows of every media artifact build.
    The predicate filters the UNIVERSE, so only those items are signed."""
    return media_sig_bands(
        spark, sf_dir, docs=percep_media_universe(spark, sf_dir).filter(keep)
    )


# Banded perceptual signatures of the LAKE media (``doc_id % 10 <> 0``
# of the staged universe), laid out as the text family's SIG (band_id
# directories, band_val-sorted row groups). A 100 TB media lake decodes
# and signs once; each night's gate joins the shard's fresh signatures
# against this artifact instead of re-decoding the lake (for real
# media the signing pass is the expensive decode, so amortizing it is
# the whole artifact story). The append twin signs the admitted batch
# alone, never re-decoding the lake.
MEDIA_SIG_FAMILY = ArtifactFamily(
    "quty_media_sig", SIG, media_artifact_rows, _sig_artifact_summary,
    lambda pred: band_summary_sql(_percep_sig_ctes(), "sigt", pred),
)
register_artifact_sinks("sink_media_signature_artifact", MEDIA_SIG_FAMILY)


def _mm_incremental_gate_oracle() -> str:
    from quty_server_spark.operators.dedup import HAMMING_MAX

    return f"""
    WITH {_percep_sig_ctes()},
    bands AS (
        SELECT doc_id, sig, b.band_id,
               (sig >> (12 * b.band_id)) & 4095 AS band_val
        FROM sigt, (SELECT unnest(range(0, 4)) AS band_id) b
    )
    SELECT DISTINCT n.doc_id AS incoming_doc_id, o.doc_id AS lake_doc_id,
           bit_count(xor(n.sig, o.sig)) AS hamming
    FROM bands n JOIN bands o
      ON n.band_id = o.band_id AND n.band_val = o.band_val
    WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
      AND bit_count(xor(n.sig, o.sig)) <= {HAMMING_MAX}
    """


@registry.query(
    "mm_neardup_incremental_artifact", oracle=_mm_incremental_gate_oracle()
)
def mm_neardup_incremental_artifact(
    spark: SparkSession, sf_dir: str, art_path: str | None = None
) -> DataFrame:
    """The media family's NIGHTLY INGEST GATE — the probe-nightly half
    of the artifact lifecycle: tonight's media shard (``doc_id % 10 ==
    0`` of the staged universe — staged twins land in a residue SHIFTED
    from their originals' by the ``_NEARDUP_TWIN_BASE ≡ 7 (mod 10)``
    device, so staged pairs cross the shard/lake boundary and the gate
    is non-vacuous by construction) is decoded and signed FRESH —
    shard-sized work — and its
    bands join the standing artifact's lake bands asymmetrically
    (incoming × lake, never lake × lake). Same shape as
    :func:`~quty_server_spark.operators.dedup.dedup_incremental_simhash`,
    with the stake that makes it matter for media: the lake-side decode
    is the expensive step, and the artifact means it never runs again.
    The oracle recomputes both sides from scratch, so a green row
    proves the artifact path equals a full re-sign; gate-after-append ≡
    gate-after-rebuild is pinned in tests/test_artifact_append.py. On a
    boilerplate-dense media corpus, compose with the
    SIMHASH_BUCKET_CAP device exactly as mm_payload_neardup does — the
    cap applies to the lake buckets unchanged."""
    from quty_server_spark.operators.dedup import simhash_gate_pairs

    if art_path is None:
        art_path = MEDIA_SIG_FAMILY.build(spark, sf_dir)
    shard_uni = percep_media_universe(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0
    )
    return simhash_gate_pairs(
        media_sig_bands(spark, sf_dir, docs=shard_uni),
        spark.read.parquet(art_path),
    ).distinct()


def _survivors_oracle() -> str:
    """The write-once oracle scoped to the retraction survivors."""
    from quty_server_spark.operators.retract import RETRACT_MOD

    return MEDIA_SIG_FAMILY.summary_sql(f"doc_id % 10 <> {RETRACT_MOD}")


_SQL_MEDIA_SIG_SURVIVORS = _survivors_oracle()


def _tombstoned_media_copy(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """A private copy of the media signature artifact with the victims
    (``doc_id % 10 == RETRACT_MOD`` of the staged universe) tombstoned."""
    from quty_server_spark.operators.retract import (
        RETRACT_MOD,
        tombstoned_copy,
    )
    from quty_server_spark.session import fresh_tmp_dir

    victims = percep_media_universe(spark, sf_dir).filter(
        F.col("doc_id") % 10 == RETRACT_MOD
    ).select("doc_id")
    return tombstoned_copy(
        spark,
        MEDIA_SIG_FAMILY.build(spark, sf_dir),
        fresh_tmp_dir(spark, kind, sf_dir),
        victims,
    )


@registry.query(
    "sink_media_signature_artifact_retract",
    oracle=_SQL_MEDIA_SIG_SURVIVORS,
)
def sink_media_signature_artifact_retract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RETRACTION verb for the media-signature artifact — the new
    family joins the lifecycle the four text/vector families
    already complete (write-once → append → retract): victims
    (``doc_id % 10 == RETRACT_MOD`` of the staged universe — lake
    originals AND lake-resident twins) are tombstoned into the standing
    artifact's ``_tombstones`` sidecar (the generic O(victims)
    idempotent device from operators/retract.py; zero artifact data
    files touched), and the LIVE VIEW — artifact minus tombstones via
    the shared broadcast anti-join reader — is summarized under the
    write-once oracle re-scoped to the survivors: a green row proves
    live ≡ a from-scratch survivor build. Deferred physical compaction
    composes through the generic :func:`~quty_server_spark.operators.retract.compact_tombstones`
    unchanged (live ≡ compacted ≡ rebuilt pinned in
    tests/test_retract_semantics.py).

    Scale: the takedown writes one victim-list-sized sidecar; consumers
    pay one broadcast anti-join until scheduled compaction folds it —
    for media this is the difference between a takedown that re-decodes
    nothing and one that re-signs a lake."""
    from quty_server_spark.operators.retract import read_artifact_live

    priv = _tombstoned_media_copy(spark, sf_dir, "quty_media_sig_rt")
    return MEDIA_SIG_FAMILY.summary(
        read_artifact_live(spark, priv, SIG.id_col)
    )


@registry.query(
    "sink_media_signature_artifact_retract_compacted",
    oracle=_SQL_MEDIA_SIG_SURVIVORS,
)
def sink_media_signature_artifact_retract_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DEFERRED half of the media tombstone lifecycle, as its own
    oracle row — the parity the text tier's
    :func:`~quty_server_spark.operators.retract.sink_lake_artifacts_retract_compacted`
    already has: tombstone the victims (O(victims) sidecar, zero data
    files touched), run the scheduled COMPACTION (the generic
    :func:`~quty_server_spark.operators.retract.compact_tombstones` on
    the artifact's (band_id, doc_id, band_val) layout — the physical
    partition-scoped rewrite device, sidecar cleared), and summarize
    from a PLAIN artifact read — no tombstone-aware view anywhere in
    the plan. Sharing the survivor-scoped write-once oracle with the
    live-view retract verb closes the media triangle with oracle rows
    on every edge: live-view ≡ compacted-physical ≡
    rebuilt-on-survivors (the strongest-grain row equality is
    additionally pinned in tests/test_retract_semantics.py).

    Scale: compaction reads only the partitions holding a victim row
    (the narrow (id, partition) semi-join derives the set) and rewrites
    them with the DPP-scoped dynamic overwrite; for media the stake is
    the same as the gate's — nothing is ever re-decoded, the takedown's
    cost follows the victims, not the lake."""
    from quty_server_spark.operators.retract import compact_tombstones

    priv = _tombstoned_media_copy(spark, sf_dir, "quty_media_sig_rtc")
    compact_tombstones(spark, priv, SIG)
    return MEDIA_SIG_FAMILY.summary(spark.read.parquet(priv))
