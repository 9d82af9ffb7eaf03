"""Training-data pipeline composition operators.

The reference is a message engine (quty-io/quty-server); these operators
are the mandated EXTENSION surface: the per-document transforms a
large-scale LLM training pipeline runs between raw corpus and training
shards — PII scrubbing, repetition filtering (Gopher-style), boilerplate
detection, sequence packing, per-label embedding centroids, and source
mixing. All JVM-builtin expressions (regexp/split/transform/explode +
hash-partitioned aggregation) — no Python in any hot path. Every operator
is a single scan plus at most one keyed shuffle, so each scales linearly
with corpus size at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from quty_server_spark.operators._helpers import Layout, load_table, overlap
from quty_server_spark.plans.registry import registry

# Regexes shared by the Spark path and the DuckDB twin (Java regex and
# RE2 agree on this subset: classes, quantifiers, no backrefs).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+\\d[\\d-]+\\d"

# The synthetic corpus contains no PII, so the fixture deterministically
# stages one email and one phone per document before scrubbing — the
# scrub machinery (match, count, redact) is what's under test.
SQL_PII_STAGED = """
staged AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or +1-555-0' || CAST(doc_id % 100 AS VARCHAR)
               AS text
    FROM documents
)"""


@registry.query(
    "text_pii_scrub",
    oracle=f"""
    WITH {SQL_PII_STAGED}
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM staged
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: count and replace email/phone spans.

    One codegen'd scan; regexp_replace/regexp_count are JVM expressions,
    so at 100 TB this is an embarrassingly parallel map with column
    pruning down to (doc_id, text).
    """
    d = load_table(spark, sf_dir, "documents")
    staged = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-0"),
        (F.col("doc_id") % 100).cast("string"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(staged, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(staged, F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(staged, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("scrubbed"),
    )


@registry.query(
    "text_repetition_ngrams",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    grams AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
    )
    SELECT doc_id, COUNT(*) AS n_grams,
           COUNT(DISTINCT g) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT g) AS n_repeated,
           (COUNT(*) - COUNT(DISTINCT g)) * 1000 // COUNT(*) AS rep_permille
    FROM grams GROUP BY doc_id
    """,
)
def text_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition: the fraction of 3-gram
    occurrences that are duplicates of an earlier 3-gram in the same doc
    (high ratio = looping/boilerplate text, a standard pre-train filter).

    Plan: explode 3-grams (JVM transform over the split array), then one
    hash aggregation keyed by doc_id with map-side partial aggregation —
    the explode never leaves the original document's partition until the
    per-doc agg shuffle. Integer per-mille keeps the oracle hash exact.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-3),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                )
            ).alias("g"),
        )
    )
    return grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
        (F.count("*") - F.countDistinct("g")).alias("n_repeated"),
        F.expr("(count(*) - count(distinct g)) * 1000 div count(*)").alias(
            "rep_permille"
        ),
    )


# Boilerplate = a 5-gram shingle shared by >= 3 distinct documents (74
# shingles on the 500-doc fixture), capped at the BOILER_TOP_K highest-df
# shingles. The cap is what makes the broadcast SAFE at any corpus size:
# under an absolute df threshold alone the set grows with vocabulary, and
# a forced broadcast of an unbounded set OOMs; top-K bounds it by
# construction (vacuous on the fixture: 74 < 10000).
BOILER_MIN_DF = 3
BOILER_TOP_K = 10_000

SQL_DOC_SHINGLES = """
words AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
    WHERE len(string_split(text, ' ')) >= 5
),
doc_shingles AS (
    SELECT DISTINCT doc_id,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                || w[i+3] || ' ' || w[i+4] AS g
    FROM words, UNNEST(range(1, len(w) - 3)) AS t(i)
)"""


@registry.query(
    "text_boilerplate_shingles",
    oracle=f"""
    WITH {SQL_DOC_SHINGLES},
    boiler AS (
        SELECT g FROM (
            SELECT g, COUNT(*) AS df FROM doc_shingles GROUP BY g
            HAVING COUNT(*) >= {BOILER_MIN_DF}
            ORDER BY df DESC, g LIMIT {BOILER_TOP_K})
    )
    SELECT s.doc_id, COUNT(*) AS n_shingles,
           COUNT(b.g) AS n_boiler,
           COUNT(b.g) * 1000 // COUNT(*) AS boiler_permille
    FROM doc_shingles s LEFT JOIN boiler b ON s.g = b.g
    GROUP BY s.doc_id
    """,
)
def text_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate detection: flag 5-gram shingles that recur
    across >= BOILER_MIN_DF distinct documents (headers/footers/templates)
    and score each document's boilerplate density.

    Plan: distinct (doc, shingle) pairs -> shingle document frequency with
    map-side combine -> top-K by df (TakeOrdered, bounded by
    BOILER_TOP_K) -> the bounded boilerplate set is BROADCAST back
    against the per-doc shingles. The only large shuffle is the distinct;
    the df table and the join never move the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    shingles = (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-5), i -> concat_ws(' ',"
                    " w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    boiler = (
        shingles.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DF)
        .orderBy(F.desc("df"), "g")
        .limit(BOILER_TOP_K)  # TakeOrdered: bounded, so broadcast is safe
        .select("g")
    )
    joined = shingles.join(
        broadcast(boiler.withColumn("is_boiler", F.lit(1))), "g", "left"
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.count("is_boiler").alias("n_boiler"),
        F.expr("count(is_boiler) * 1000 div count(*)").alias("boiler_permille"),
    )


SEQ_LEN = 2048
N_PACK_SHARDS = 8


@registry.query(
    "doc_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, doc_id % {N_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    offsets AS (
        SELECT shard, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS start_off
        FROM toks
    )
    SELECT shard, CAST(start_off // {SEQ_LEN} AS BIGINT) AS bin,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed
    FROM offsets GROUP BY shard, start_off // {SEQ_LEN}
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training shards: lay documents end to
    end in doc_id order and cut SEQ_LEN-token (2048) bins; a document
    belongs to the bin its start offset falls in.

    A single global running sum would serialize the corpus through one
    task, so packing is sharded: each of N_PACK_SHARDS hash shards packs
    independently (training shards are independent files anyway). Within a
    shard the cumulative sum is one window over the shard's partition —
    at 100 TB, shard count scales with the cluster, keeping every window
    partition bounded.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % N_PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = toks.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        offsets.withColumn(
            "bin", F.expr(f"start_off div {SEQ_LEN}")
        )
        .groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens_packed"),
        )
    )


def _pack_sequences_bpe_oracle() -> str:
    """The packer's shard/offset/bin SQL with the whitespace token
    counts swapped for the trained tokenizer's — per-doc counts come
    from the encoder oracle's shared ``bpe_counts`` CTE
    (:func:`~quty_server_spark.operators.textops._bpe_encode_counts_cte`),
    so the packer and the encoder cannot disagree on what a document
    tokenizes to."""
    from quty_server_spark.operators.textops import _bpe_encode_counts_cte

    return f"""
    WITH {_bpe_encode_counts_cte()},
    toks AS (
        SELECT doc_id, doc_id % {N_PACK_SHARDS} AS shard,
               n_bpe_tokens AS n_tokens
        FROM bpe_counts
    ),
    offsets AS (
        SELECT shard, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS start_off
        FROM toks
    )
    SELECT shard, CAST(start_off // {SEQ_LEN} AS BIGINT) AS bin,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed
    FROM offsets GROUP BY shard, start_off // {SEQ_LEN}
    """


@registry.query("doc_pack_sequences_bpe", oracle=_pack_sequences_bpe_oracle())
def doc_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing under the TRAINED TOKENIZER — the
    consumer chain that motivated text_bpe_encode:
    :func:`doc_pack_sequences` lays documents into SEQ_LEN bins by
    WHITESPACE token counts, but a trainer's data loader packs by what
    its tokenizer actually emits. Same sharded cumulative-sum plan,
    with per-doc counts from
    :func:`~quty_server_spark.operators.textops.text_bpe_encode` (the
    N trained merges applied in training order). Documents with no
    alphabetic word tokenize to nothing and pack nothing — both engines
    derive membership from the same encode output, so the convention
    cannot drift.

    Scale: per-doc counts come from the VOCABULARY-GRAIN encode
    (:func:`~quty_server_spark.operators.textops.text_bpe_encode_vocab`
    — the merge scan runs per DISTINCT word, not per
    occurrence; the narrow-map teaching op text_bpe_encode prices the
    per-occurrence alternative and is pinned row-equal in pytest, so
    the packer's rows are unchanged); packing adds one window over each
    of N_PACK_SHARDS hash shards (shard count scales with the cluster,
    bounding every window partition), then one bin-grain aggregation —
    identical exchange profile to the whitespace packer."""
    from quty_server_spark.operators.textops import text_bpe_encode_vocab

    counts = text_bpe_encode_vocab(spark, sf_dir)
    toks = counts.select(
        "doc_id",
        (F.col("doc_id") % N_PACK_SHARDS).alias("shard"),
        F.col("n_bpe_tokens").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = toks.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        offsets.withColumn("bin", F.expr(f"start_off div {SEQ_LEN}"))
        .groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens_packed"),
        )
    )


@registry.query(
    "embed_label_centroids",
    oracle="""
    WITH comp AS (
        SELECT label, i AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sum_q, COUNT(*) AS n_vecs,
           CAST(SUM(q) // COUNT(*) AS BIGINT) AS centroid_milli
    FROM comp GROUP BY label, dim
    """,
)
def embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, integer-exact: quantize each
    component to milli-units (float->double is exact, floor is exact),
    then sum integers — associative, so Spark's unordered partial
    aggregation matches the oracle bit-for-bit, unlike float means.

    Plan: posexplode to (label, dim) rows, one hash aggregation with
    map-side combine on a label*64 key space. This is the centroid build
    step IVF/k-means seeding needs; sim_ann_ivf consumes frozen centroids,
    this derives them from the data.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1000).alias("q"),
    )
    return comp.groupBy("label", "dim").agg(
        F.sum("q").alias("sum_q"),
        F.count("*").alias("n_vecs"),
        F.expr("sum(q) div count(*)").alias("centroid_milli"),
    )


@registry.query(
    "text_domain_mix",
    oracle="""
    WITH per AS (
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs, n_chars,
           CAST(n_docs * 1000 // SUM(n_docs) OVER (PARTITION BY lang)
                AS BIGINT) AS share_permille
    FROM per
    """,
)
def text_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing ratios per language: the table a pipeline uses to set
    per-domain sampling weights (e.g. upsample wiki, downsample crawl).

    Plan: one aggregation to (lang, source) grain — map-side combined —
    then a window over the tiny aggregate, never over the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    return per.withColumn(
        "share_permille",
        F.expr("n_docs * 1000 div sum(n_docs) over (partition by lang)"),
    )


@registry.query(
    "doc_chunk_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    chunks AS (
        SELECT doc_id,
               CAST(s // 48 AS BIGINT) AS chunk_idx,
               list_slice(t, s + 1, s + 64) AS chunk
        FROM toks, UNNEST(generate_series(0, len(t) - 1, 48)) AS g(s))
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS INT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM chunks
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking: split each document into
    64-token chunks with stride 48 (16-token overlap) — the standard
    prep step for context-window-bounded training/RAG ingestion. Emits
    a per-chunk md5 (not the text) so the result stays hash-comparable
    and small.

    Scale shape: pure narrow operations — split, sequence, explode,
    slice — all JVM builtins inside one whole-stage-codegen scan; no
    shuffle, no UDF. Output rows ≈ input tokens / stride, produced
    streaming per input partition, so 100 TB chunks exactly like 100 MB.
    Chunk boundaries are token-index-deterministic (layout-independent).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("t") - 1, F.lit(0)), F.lit(48)
    )
    return (
        toks.select("doc_id", "t", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / 48).cast("bigint").alias("chunk_idx"),
            F.slice("t", F.col("s") + 1, F.lit(64)).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").alias("n_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_md5"),
        )
    )


@registry.query(
    "doc_quality_gate",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_uniq
        FROM documents)
    SELECT doc_id,
           CASE WHEN n_tok < 40 THEN 'too_short'
                WHEN lang NOT IN ('en', 'de', 'fr') THEN 'lang_filtered'
                WHEN n_uniq * 3 < n_tok THEN 'too_repetitive'
                ELSE 'keep' END AS verdict,
           CASE WHEN n_tok >= 40 AND lang IN ('en', 'de', 'fr')
                 AND n_uniq * 3 >= n_tok
                THEN TRUE ELSE FALSE END AS keep
    FROM scored
    """,
)
def doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed keep/drop gate of a training pipeline: every
    document gets a verdict with the FIRST failing reason (priority:
    length floor → language allowlist → repetition ceiling — the order
    operators are cheapest to evaluate), so rejected volume is
    attributable per rule, which is how real pipelines tune their
    filters. All-integer/string logic — no floats to diverge.

    Scale: a zero-shuffle narrow map over the corpus; every signal is
    computed from the token array already in the row, inside the scan's
    codegen stage."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    allowed = F.col("lang").isin("en", "de", "fr")
    verdict = (
        F.when(n_tok < 40, "too_short")
        .when(~allowed, "lang_filtered")
        .when(n_uniq * 3 < n_tok, "too_repetitive")
        .otherwise("keep")
    )
    # when/otherwise(False), not the bare boolean conjunction: a NULL
    # text/lang row must be keep=FALSE like the oracle's CASE ... ELSE
    # FALSE, not keep=NULL (the three-valued-logic divergence class).
    return d.select(
        "doc_id",
        verdict.alias("verdict"),
        F.when((n_tok >= 40) & allowed & (n_uniq * 3 >= n_tok), True)
        .otherwise(False)
        .alias("keep"),
    )


@registry.query(
    "doc_mix_rebalance",
    oracle="""
    WITH cells AS (
        SELECT lang, source, COUNT(*) AS n_docs
        FROM documents GROUP BY lang, source),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM cells)
    SELECT c.lang, c.source, CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(c.n_docs * 1000000 // t.n_total AS BIGINT) AS share_ppm,
           CAST(LEAST(1000000,
                (t.n_total // t.n_cells) * 1000000 // c.n_docs) AS BIGINT)
               AS weight_ppm,
           CAST(c.n_docs * LEAST(1000000,
                (t.n_total // t.n_cells) * 1000000 // c.n_docs) // 1000000
               AS BIGINT) AS expected_docs
    FROM cells c CROSS JOIN tot t
    """,
)
def doc_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalancing weights: per (lang, source) cell, the
    Bernoulli keep-probability (ppm) that flattens the corpus toward a
    uniform cell mix — over-represented cells are downsampled toward
    the per-cell target (total/n_cells), under-represented cells keep
    everything (weight capped at 1.0; upsampling is a repeat policy
    decided elsewhere). This is the standard mix-balancing step before
    sampling a 100 TB crawl into a training set; expected_docs audits
    the post-sample mix. All ratios are floor divisions of non-negative
    integers, so both engines agree exactly.

    Scale: one group-by over the corpus, then arithmetic on the tiny
    cell table against a 1-row totals build side (scalar-subquery
    shape, allowlisted); the per-doc application of these weights is
    sample_bernoulli_hash's narrow hash filter."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))
    tot = cells.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    weight = F.least(
        F.lit(1000000).cast("bigint"),
        F.expr("(n_total div n_cells) * 1000000 div n_docs"),
    )
    return (
        cells.crossJoin(broadcast(tot))
        .withColumn("weight_ppm", weight.cast("bigint"))
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("CAST(n_docs * 1000000 div n_total AS BIGINT)").alias(
                "share_ppm"
            ),
            "weight_ppm",
            # integer div, NOT float /: at ~4e9 expected docs a double
            # quotient one ulp under an integer rounds up across it,
            # diverging from the oracle's floor (//).
            F.expr("CAST(n_docs * weight_ppm div 1000000 AS BIGINT)").alias(
                "expected_docs"
            ),
        )
    )


@registry.query(
    "doc_seqlen_histogram",
    oracle="""
    WITH toks AS (
        SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
        WHERE len(string_split(text, ' ')) >= 1)
    SELECT CAST(FLOOR(LOG2(n_tokens)) AS INT) AS bucket_pow2,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM toks GROUP BY FLOOR(LOG2(n_tokens))
    """,
)
def doc_seqlen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram in power-of-two buckets — the sizing
    input for doc_pack_sequences (pick SEQ_LEN), chunking (how much
    straddles), and batch shaping (padding waste under length
    bucketing). Same log2-bucket device as graph_degree_distribution.

    Scale: one narrow scan + one tiny group-by; token counts never
    leave the executors unaggregated."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.size(F.split("text", " ")).alias("n_tokens")).filter(
        F.col("n_tokens") >= 1
    )
    return (
        toks.groupBy(
            F.floor(F.log2("n_tokens")).cast("int").alias("bucket_pow2")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
    )


@registry.query(
    "doc_ingest_mix_drift",
    oracle="""
    WITH keyed AS (
        SELECT lang, source,
               CAST(FLOOR(LOG2(len(string_split(text, ' ')))) AS INT)
                   AS len_pow2,
               doc_id % 10 = 0 AS is_shard
        FROM documents
        WHERE len(string_split(text, ' ')) >= 1),
    cells AS (
        SELECT lang, source, len_pow2,
               COUNT(*) FILTER (WHERE is_shard) AS n_shard,
               COUNT(*) FILTER (WHERE NOT is_shard) AS n_lake
        FROM keyed GROUP BY lang, source, len_pow2),
    tot AS (SELECT CAST(SUM(n_shard) AS BIGINT) AS shard_total,
                   CAST(SUM(n_lake) AS BIGINT) AS lake_total FROM cells)
    SELECT c.lang, c.source, c.len_pow2,
           CAST(c.n_shard AS BIGINT) AS n_shard,
           CAST(c.n_lake AS BIGINT) AS n_lake,
           CAST(c.n_shard * 1000000 // NULLIF(t.shard_total, 0) AS BIGINT)
               AS shard_ppm,
           CAST(c.n_lake * 1000000 // NULLIF(t.lake_total, 0) AS BIGINT)
               AS lake_ppm,
           CAST(ABS(c.n_shard * 1000000 // NULLIF(t.shard_total, 0)
                    - c.n_lake * 1000000 // NULLIF(t.lake_total, 0))
               AS BIGINT) AS drift_ppm
    FROM cells c CROSS JOIN tot t
    """,
)
def doc_ingest_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly ingest DISTRIBUTION QA — the check that runs next to the
    dedup gates before a shard is admitted: per (lang, source,
    pow2-length-bucket) cell, tonight's shard share vs the lake's
    share, and their absolute difference in ppm. A drifting feed (a
    crawler stuck on one domain, a language filter silently failing, a
    truncation bug shifting the length histogram) shows up as large
    drift_ppm rows BEFORE it pollutes the lake — dedup gates can't see
    this class of fault because drifted documents are usually novel,
    not duplicated. Shares are integer ppm via floor division, so both
    engines agree exactly (same convention as doc_mix_rebalance). A degenerate corpus with an EMPTY shard or lake side yields NULL ppm columns in BOTH engines (Spark integer div-by-zero is NULL; the oracle mirrors it with NULLIF) rather than diverging on an error.

    Scale: ONE scan of the corpus computes both sides — the shard/lake
    split is a grouping flag, not two passes — one shuffle on the
    3-column cell key, then arithmetic on the tiny cell table against a
    1-row totals build side (scalar-subquery shape, allowlisted). At
    100 TB the production variant reads last night's cell table from a
    matview instead of re-scanning the lake; the cell-grain output IS
    that matview."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "lang",
        "source",
        F.floor(F.log2(F.size(F.split("text", " "))))
        .cast("int")
        .alias("len_pow2"),
        (F.col("doc_id") % 10 == 0).alias("is_shard"),
    ).filter(F.size(F.split("text", " ")) >= 1)
    cells = keyed.groupBy("lang", "source", "len_pow2").agg(
        F.count(F.when(F.col("is_shard"), 1)).alias("n_shard"),
        F.count(F.when(~F.col("is_shard"), 1)).alias("n_lake"),
    )
    tot = cells.agg(
        F.sum("n_shard").cast("bigint").alias("shard_total"),
        F.sum("n_lake").cast("bigint").alias("lake_total"),
    )
    return (
        cells.crossJoin(broadcast(tot))
        .select(
            "lang",
            "source",
            "len_pow2",
            F.col("n_shard").cast("bigint").alias("n_shard"),
            F.col("n_lake").cast("bigint").alias("n_lake"),
            F.expr("CAST(n_shard * 1000000 div shard_total AS BIGINT)").alias(
                "shard_ppm"
            ),
            F.expr("CAST(n_lake * 1000000 div lake_total AS BIGINT)").alias(
                "lake_ppm"
            ),
            F.expr(
                "CAST(ABS(n_shard * 1000000 div shard_total "
                "- n_lake * 1000000 div lake_total) AS BIGINT)"
            ).alias("drift_ppm"),
        )
    )


@registry.query(
    "doc_pack_efficiency",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id % {N_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST((SUM(n_tokens) + {SEQ_LEN} - 1) // {SEQ_LEN} AS BIGINT)
               AS n_bins,
           CAST(SUM(n_tokens) * 1000000 //
                (((SUM(n_tokens) + {SEQ_LEN} - 1) // {SEQ_LEN}) * {SEQ_LEN})
               AS BIGINT) AS fill_ppm,
           CAST(SUM(CASE WHEN n_tokens > {SEQ_LEN} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_oversize
    FROM toks GROUP BY shard
    """,
)
def doc_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit for doc_pack_sequences: per shard, how
    many SEQ_LEN bins the contiguous token stream needs, the fill ratio
    (ppm — the complement is padding waste paid by every training
    step), and how many documents exceed SEQ_LEN outright (must be
    chunked first or they straddle bins). Contiguous greedy packing
    fills every bin except the last completely, so bins and fill derive
    exactly from the token total — no window needed, unlike the packer
    itself. All integer arithmetic.

    Scale: one narrow scan, one 8-row group-by — the audit is free next
    to the pack it audits."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % N_PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    n_bins = F.expr(f"(sum(n_tokens) + {SEQ_LEN - 1}) div {SEQ_LEN}")
    return toks.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        n_bins.cast("bigint").alias("n_bins"),
        F.expr(
            f"CAST(sum(n_tokens) * 1000000 div "
            f"(((sum(n_tokens) + {SEQ_LEN - 1}) div {SEQ_LEN}) * {SEQ_LEN}) "
            f"AS BIGINT)"
        ).alias("fill_ppm"),
        F.sum(F.when(F.col("n_tokens") > SEQ_LEN, 1).otherwise(0))
        .cast("bigint")
        .alias("n_oversize"),
    )


def snapshot_quality_keep():
    """The snapshot family's shared quality predicate (length >= 40
    tokens, whitelisted language, type-token ratio >= 1/3) as a Column
    over a (text, lang) projection — one definition for the batch
    snapshot, the incremental nightly twin, and the continuous stream
    (streaming/ops.py stream_corpus_snapshot), so the three surfaces
    can never drift on what "quality" means."""
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    return (
        (n_tok >= 40)
        & F.col("lang").isin("en", "de", "fr")
        & (F.size(F.array_distinct(toks)) * 3 >= n_tok)
    )


def _snapshot_oracle(scope: str = "", nightly: bool = False) -> str:
    """The training snapshot's truth, assembled from the SAME fragments
    the constituent ops' oracles use (the SimHash component labels for
    the keeper, the passage windows for the scrub ratio), so the
    composition cannot drift from its parts.

    ``scope`` restricts the corpus to the documents it keeps (the
    retraction survivors, the lake): the signing, the passage windows
    and the output all read the scoped relation. ``nightly`` is the
    incremental snapshot: tonight's shard only (``doc_id % 10 = 0``),
    keepers elected over the full corpus's components, scrubbed against
    lake passage presence instead of corpus-wide repeats."""
    from quty_server_spark.operators.dedup import (
        passage_window_ctes,
        simhash_label_ctes,
        simhash_sig_ctes,
    )

    corpus = "scoped_docs" if scope else "documents"
    scoped = (
        f"scoped_docs AS (SELECT * FROM documents WHERE {scope}),\n    "
        if scope
        else ""
    )
    # The scrub's duplicated passages: repeated across the corpus, or
    # (nightly) present in the lake.
    dup = (
        "SELECT DISTINCT passage_md5 FROM passage_windows"
        " WHERE doc_id % 10 <> 0"
        if nightly
        else "SELECT passage_md5 FROM passage_windows GROUP BY passage_md5"
        " HAVING COUNT(DISTINCT doc_id) >= 2"
    )
    shard = "d.doc_id % 10 = 0 AND " if nightly else ""
    return f"""
    WITH RECURSIVE {scoped}{simhash_label_ctes(simhash_sig_ctes(corpus))},
    {passage_window_ctes(corpus)},
    dup AS (
        {dup}
    ),
    scrub AS (
        SELECT w.doc_id,
               (1000000 * COUNT(*) FILTER (
                    WHERE dup.passage_md5 IS NOT NULL))
                   // COUNT(*) AS dup_ppm
        FROM passage_windows w
        LEFT JOIN dup ON w.passage_md5 = dup.passage_md5
        GROUP BY w.doc_id
    )
    SELECT d.doc_id, d.lang, d.source,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(l.lbl, d.doc_id) AS cluster_id,
           CAST(COALESCE(s.dup_ppm, 0) AS BIGINT) AS dup_ppm
    FROM {corpus} d
    LEFT JOIN labels l ON d.doc_id = l.node
    LEFT JOIN scrub s ON d.doc_id = s.doc_id
    WHERE {shard}len(string_split(d.text, ' ')) >= 40
      AND d.lang IN ('en', 'de', 'fr')
      AND len(list_distinct(string_split(d.text, ' '))) * 3
          >= len(string_split(d.text, ' '))
      AND COALESCE(l.lbl, d.doc_id) = d.doc_id
      AND COALESCE(s.dup_ppm, 0) < 500000
    """


@registry.query("corpus_training_snapshot", oracle=_snapshot_oracle())
def corpus_training_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PRODUCT — the corpus a trainer actually reads, as one
    declarative plan composing the pipeline's gates: a document enters
    the training snapshot iff it (1) passes the quality gate
    (:func:`doc_quality_gate`: length floor, language allowlist,
    repetition ceiling), (2) is its near-dup cluster's canonical keeper
    (:func:`~quty_server_spark.operators.dedup.dedup_keep_canonical`'s
    min-doc_id policy over the SimHash component labels), and (3) is
    not majority-boilerplate
    (:func:`~quty_server_spark.operators.dedup.doc_passage_dup_ratio`'s
    duplicated-window ppm < 500000). Output carries the audit columns
    (cluster_id, dup_ppm, n_tokens) so every admission is attributable
    to the gates it passed — the provenance a curation report needs.

    The oracle is assembled from the constituent ops' own SQL
    fragments, so the composed definition provably matches its parts;
    each gate is additionally oracle-verified standalone.

    Scale: the three gates reuse what the pipeline already amortizes —
    the quality predicates are narrow scan-side expressions, the keeper
    joins the session-memoized component labels (one BSP pass feeds
    four consumers now), and the scrub ratio is the digest-keyed
    aggregate pair. One corpus scan per gate family, no new shuffles
    beyond what the standalone ops pay; WHERE keep composition happens
    in the same plan, so Catalyst prunes rejected rows before the
    output projection."""
    from quty_server_spark.operators.dedup import simhash_component_labels

    return scoped_training_snapshot(
        spark,
        load_table(spark, sf_dir, "documents"),
        simhash_component_labels(spark, sf_dir),
    )


def snapshot_gates(
    docs: DataFrame, labels: DataFrame, scrub: DataFrame
) -> DataFrame:
    """The snapshot's three gates over ``docs``, stated once for the
    batch, scoped and nightly snapshots: the quality predicate
    (:func:`snapshot_quality_keep`), the canonical keeper over the
    component ``labels`` ``(node, lbl)`` (a doc without a label is its
    own cluster), and the boilerplate ceiling over ``scrub``'s
    ``(doc_id, dup_ppm)``. Output carries the audit columns."""
    from quty_server_spark.operators.dedup import BROADCAST_NODES_MAX

    n_tok = F.size(F.split("text", " "))
    lab = labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    # The label table is the near-dup doc set — unbounded at corpus
    # scale, so the broadcast is gated like every other label consumer
    # (a bare broadcast() hint has no size-based fallback and would OOM
    # at 100 TB); labels arrive materialized, so the count is cheap.
    small = lab.count() <= BROADCAST_NODES_MAX
    # quality_keep filters the same projection that feeds the output —
    # scan-side predicate, no self-join. The scrub is built by the
    # caller over its own corpus (a low-quality doc's passages still
    # mark duplicates).
    return (
        docs.filter(snapshot_quality_keep())
        .select("doc_id", "lang", "source", n_tok.alias("n_tokens"))
        .join(F.broadcast(lab) if small else lab, "doc_id", "left")
        .join(scrub, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.coalesce("dup_ppm", F.lit(0)).cast("bigint").alias("dup_ppm"),
        )
        .filter(
            (F.col("cluster_id") == F.col("doc_id"))
            & (F.col("dup_ppm") < 500000)
        )
    )


@registry.query(
    "corpus_training_snapshot_incremental",
    oracle=_snapshot_oracle(nightly=True),
)
def corpus_training_snapshot_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE NIGHTLY PRODUCT — tonight's additions to the training
    snapshot, composed entirely from the incremental tier: a shard doc
    enters iff it (1) passes the quality gate (same predicates as
    :func:`corpus_training_snapshot`), (2) is the canonical keeper of
    its FULL-corpus near-dup component — computed from the contracted
    shard-sized BSP (:func:`~quty_server_spark.operators.dedup._incremental_cluster_labels`:
    provably full-recompute-equivalent labels, so "keeper" here means
    exactly what the batch snapshot means by it, including losing to a
    lake doc with a smaller id), and (3) is not majority lake
    boilerplate (the passage gate's lake-presence dup_ppm < 500000 —
    the NIGHTLY scrub question; unlike the batch snapshot's corpus-wide
    dup windows, shard-vs-shard passage repeats are next snapshot
    compaction's business, not tonight's).

    The oracle recomputes full-corpus components and lake passage
    presence from scratch and restricts to the shard, so a green row
    proves the incremental composition equals tonight's truth — the
    composed analog of dedup_cluster_incremental's contract.

    Scale: zero lake-sized compute per night. Documents is scanned
    shard-only (the batch predicate pushes to the reader); component
    labels come from the memoized contracted BSP (shared with the
    assignment, queue, and maintenance consumers — one signing + gate
    join per night feeds all four); passage hits are a LEFT SEMI probe
    of the write-once digest artifact. The shard-label join is
    broadcast-gated at BROADCAST_NODES_MAX with shuffle fallback."""
    from quty_server_spark.operators.dedup import (
        _incremental_cluster_labels,
        _passage_pfx,
        _passage_windows,
        PASSAGE_FAMILY,
        passage_scrub,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    labels = _incremental_cluster_labels(spark, sf_dir).filter(
        F.col("node") % 10 == 0
    )
    w = _passage_windows(d).select(
        "doc_id", "passage_md5", _passage_pfx()
    ).localCheckpoint(eager=False)
    scrub = passage_scrub(
        w, spark.read.parquet(PASSAGE_FAMILY.build(spark, sf_dir))
    ).select("doc_id", "dup_ppm")
    return snapshot_gates(d, labels, scrub)


def _snapshot_mm_oracle() -> str:
    """The multimodal snapshot's truth, assembled from the family's own
    fragments (the snapshot's assembly pattern): the media collapse
    decision — :func:`~quty_server_spark.operators.multimodal._mm_neardup_ctes`'
    signature/banding/pair CTEs verbatim plus the keep oracle's
    component fold and per-cluster audit — joined onto the full text
    snapshot, nested as its own recursive chain so neither side's CTE
    names can collide with the other's."""
    from quty_server_spark.operators.dedup import component_label_ctes
    from quty_server_spark.operators.multimodal import _mm_neardup_ctes

    return f"""
    WITH RECURSIVE {_mm_neardup_ctes()},
    {component_label_ctes()},
    maudit AS (
        SELECT f.lbl AS media_cluster_id,
               COUNT(*) AS n_members,
               COUNT(DISTINCT m.modality) AS n_modalities,
               COUNT(DISTINCT md5(m.pt)) AS n_byte_variants
        FROM labels f JOIN media m ON f.node = m.doc_id
        GROUP BY 1),
    snap AS ({_snapshot_oracle()})
    SELECT s.doc_id, s.lang, s.source, s.n_tokens, s.cluster_id, s.dup_ppm,
           ['image','audio','video'][(s.doc_id % 3 + 1)::INT] AS modality,
           COALESCE(f.lbl, s.doc_id) AS media_cluster_id,
           CAST(COALESCE(a.n_members, 1) AS BIGINT) AS n_members,
           CAST(COALESCE(a.n_modalities, 1) AS BIGINT) AS n_modalities,
           CAST(COALESCE(a.n_byte_variants, 1) AS BIGINT) AS n_byte_variants
    FROM snap s
    LEFT JOIN labels f ON s.doc_id = f.node
    LEFT JOIN maudit a ON COALESCE(f.lbl, s.doc_id) = a.media_cluster_id
    WHERE COALESCE(f.lbl, s.doc_id) = s.doc_id
    """


@registry.query("corpus_training_snapshot_mm", oracle=_snapshot_mm_oracle())
def corpus_training_snapshot_mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PRODUCT, COVERING THE MULTIMODAL COLUMN — the consumer the
    media keep/drop decision was missing:
    :func:`corpus_training_snapshot` admits documents through the text
    gates but says nothing about their media payloads, while
    :func:`~quty_server_spark.operators.multimodal.mm_payload_neardup_keep`
    elects perceptual-cluster keepers that no snapshot consumed. This
    op joins the two: a document enters the multimodal snapshot iff it
    passes all three TEXT gates AND it is its media near-dup cluster's
    canonical keeper (min-id member over
    :func:`~quty_server_spark.operators.multimodal.mm_payload_neardup`'s
    pair graph; an item with no perceptual near-pair keeps itself) —
    so a re-encoded duplicate's carrier doc is dropped from the
    training corpus even when its TEXT is unique. Output rows carry the
    text audit columns plus the media ones: modality,
    media_cluster_id, and the cluster's member/modality/byte-variant
    counts (n_byte_variants > 1 on a keeper row is the perceptual-only
    collapse the exact digest pass could never make; n_modalities > 1
    is the cross-container catch — both staged by the fixture's
    byte-swapped twins and pinned non-vacuous in
    tests/test_extension_semantics.py).

    The oracle is assembled from the constituents' own SQL fragments —
    the media family's shared signature/banding/pair CTEs and the text
    snapshot's full oracle nested as a CTE — so the composition cannot
    drift from its parts.

    Scale: the text side rides everything the batch snapshot already
    amortizes (memoized component labels, digest-keyed scrub); the
    media side is the capped/banded pair mine + the min-label BSP over
    the near-dup node set only (≪ corpus) and a cluster-grain audit
    aggregate; the final joins are doc-keyed, the label join
    broadcast-gated at BROADCAST_NODES_MAX with shuffle fallback like
    every label consumer."""
    from quty_server_spark.operators.dedup import (
        BROADCAST_NODES_MAX,
        min_label_components,
    )
    from quty_server_spark.operators.multimodal import (
        media_table,
        mm_payload_neardup,
        percep_media_universe,
    )

    # The text snapshot and the media keeper election are independent
    # until the final doc-keyed join and ride DIFFERENT memo families
    # (full-corpus text labels vs nothing), so they overlap race-free.
    (labels, _), snap = overlap(
        lambda: min_label_components(spark, mm_payload_neardup(spark, sf_dir)),
        lambda: corpus_training_snapshot(spark, sf_dir).localCheckpoint(
            eager=True
        ),
    )
    uni = percep_media_universe(spark, sf_dir)
    lab = labels.select(F.col("node").alias("doc_id"), F.col("lbl"))
    audit = (
        uni.join(lab, "doc_id")
        .groupBy(F.col("lbl").alias("media_cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("modality").alias("n_modalities"),
            F.countDistinct(F.md5("payload")).alias("n_byte_variants"),
        )
    )
    # Near-dup node set — unbounded at corpus scale, so the same
    # broadcast gate as every simhash/media label consumer (the labels
    # are BSP-materialized; the count is a cheap scan).
    small = lab.count() <= BROADCAST_NODES_MAX
    mods = media_table(spark, sf_dir).select("doc_id", "modality")
    return (
        snap.join(mods, "doc_id")
        .join(F.broadcast(lab) if small else lab, "doc_id", "left")
        .withColumn("media_cluster_id", F.coalesce("lbl", F.col("doc_id")))
        .filter(F.col("media_cluster_id") == F.col("doc_id"))
        .join(audit, "media_cluster_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "cluster_id",
            "dup_ppm",
            "modality",
            "media_cluster_id",
            F.coalesce("n_members", F.lit(1)).cast("bigint").alias("n_members"),
            F.coalesce("n_modalities", F.lit(1))
            .cast("bigint")
            .alias("n_modalities"),
            F.coalesce("n_byte_variants", F.lit(1))
            .cast("bigint")
            .alias("n_byte_variants"),
        )
    )


def scoped_training_snapshot(
    spark: SparkSession, docs: DataFrame, labels: DataFrame | None = None
) -> DataFrame:
    """:func:`corpus_training_snapshot`'s three gates applied to an
    ARBITRARY documents frame — the Spark twin of
    ``_snapshot_oracle(scope)``: keepers over the scope's own component
    labels, the scrub over the scope's own passage repeats. Shared by
    the full corpus, the retraction-impact audit (survivor scope) and
    the trainer-shard base build (lake scope), so "the snapshot over
    corpus X" means exactly one thing everywhere.

    ``labels``: the ``(node, lbl)`` component labels of EXACTLY this
    scope, when the scope has a standing materialization (the
    session-memoized full-corpus labels, the lake's
    :func:`~quty_server_spark.operators.dedup.lake_cluster_labels_artifact`).
    Otherwise (None) the scope is labeled once through
    :func:`~quty_server_spark.operators.dedup.component_labels`, so the
    keeper join and the broadcast-gate count read materialized labels
    instead of re-signing the scope."""
    from quty_server_spark.operators.dedup import (
        _passage_windows,
        component_labels,
        simhash_sigs_docs,
    )

    if labels is None:
        labels = component_labels(spark, simhash_sigs_docs(docs))
    w = _passage_windows(docs).localCheckpoint(eager=False)
    dup = (
        w.groupBy("passage_md5")
        .agg(F.count_distinct("doc_id").alias("pd"))
        .filter(F.col("pd") >= 2)
        .select("passage_md5", F.lit(1).alias("is_dup"))
    )
    scrub = (
        w.join(dup, "passage_md5", "left")
        .groupBy("doc_id")
        .agg(F.expr("(1000000 * count(is_dup)) DIV count(*)").alias("dup_ppm"))
    )
    return snapshot_gates(docs, labels, scrub)


# Number of output shards for the trainer handoff. A real run sizes
# this to the trainer's data-loader parallelism (hundreds to
# thousands); the mechanics — hash assignment, partitioned layout,
# read-back audit — are shard-count-independent.
N_TRAIN_SHARDS = 8


class _SpreadLayout(Layout):
    """A :class:`Layout` whose writes first hash rows over
    ``4 * N_TRAIN_SHARDS`` tasks by (partition, id), not by partition
    alone: one task per shard would cap write parallelism at
    N_TRAIN_SHARDS regardless of cluster size. Every task lands its
    files in the right ``shard=N`` directory, so the layout is
    identical and the write scales with the cluster, not the shard
    count."""

    __slots__ = ()

    def _sorted(self, rows: DataFrame) -> DataFrame:
        return super()._sorted(
            rows.repartition(4 * N_TRAIN_SHARDS, self.part, self.id_col)
        )


TRAIN_SHARDS = _SpreadLayout("shard", "doc_id", "doc_id")


def _shard_summary_oracle(snap_sql: str) -> str:
    """Per-shard read-back summary over any snapshot SQL — the SELECT
    block shared byte-for-byte by the write-once shard sink and its
    append twin, so both lifecycle steps are summarized under one
    definition (a drift between them is impossible by construction)."""
    from quty_server_spark.functions.hashing import sql_hash28

    shard = (
        sql_hash28("'shard|' || CAST(doc_id AS VARCHAR)")
        + f" % {N_TRAIN_SHARDS}"
    )
    return f"""
    WITH snap AS ({snap_sql})
    SELECT CAST({shard} AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM snap
    GROUP BY 1
    """


def _training_shards_oracle() -> str:
    """The snapshot oracle wrapped as a CTE and re-aggregated per
    shard: the read-back audit must equal the shard-grouped summary of
    exactly what corpus_training_snapshot admits."""
    return _shard_summary_oracle(_snapshot_oracle())


@registry.query("sink_training_shards", oracle=_training_shards_oracle())
def sink_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer handoff — THE PRODUCT's last mile: the training
    snapshot (:func:`corpus_training_snapshot`) hashed into
    N_TRAIN_SHARDS content-keyed shards, WRITTEN as parquet partitioned
    by shard (each shard sorted by doc_id within its files), then read
    back and audited per shard (doc count, token total, id range). The
    oracle re-aggregates the snapshot's own SQL per shard, so a green
    row proves the written layout holds exactly the snapshot — nothing
    dropped, duplicated, or mis-sharded in the write → read round trip.

    Scale: shard assignment is a scan-side hash (content-keyed →
    layout-independent and append-stable: a grown corpus only ADDS
    files per shard, it never moves an old doc between shards). The
    write is one exchange on the shard key; the read-back audit prunes
    to partition directories and aggregates map-side. Balanced by
    construction (md5 uniformity), and a skewed shard would surface
    here as an n_docs outlier — this audit is the check a training run
    gates on before it starts burning accelerator hours.
    """
    from quty_server_spark.session import fresh_tmp_dir

    out = fresh_tmp_dir(spark, "quty_train_shards", sf_dir)
    _write_training_shards(corpus_training_snapshot(spark, sf_dir), out)
    return _shard_summary(spark.read.parquet(out))


def _shard_col():
    """The content-keyed shard assignment: md5-derived hash of the
    doc_id alone — layout-independent and append-stable by construction
    (a grown corpus only ADDS rows per shard, it never moves an old doc
    between shards). One expression shared by the write-once sink and
    the append twin so the two lifecycle steps cannot disagree on where
    a doc lives."""
    from quty_server_spark.functions.hashing import hash28

    return (
        hash28(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
        % N_TRAIN_SHARDS
    )


def _write_training_shards(snap: DataFrame, out: str, mode: str = "errorifexists") -> None:
    """The shard write every sink uses: ``snap``'s rows in their
    content-keyed shards, laid out as :data:`TRAIN_SHARDS`."""
    TRAIN_SHARDS.write(snap.withColumn("shard", _shard_col()), out, mode)


def _shard_summary(back: DataFrame) -> DataFrame:
    """Read-back audit both sinks return — the Spark twin of
    :func:`_shard_summary_oracle`'s SELECT block."""
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def appended_training_shards(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> str:
    """Yesterday's standing shard directories — the write-once sink run
    over the lake corpus (``doc_id % 10 <> 0``, via
    :func:`scoped_training_snapshot`) — with tonight's snapshot
    additions (:func:`corpus_training_snapshot_incremental`'s output)
    APPENDED: a partitioned parquet ``mode("append")``, so new files
    land inside the standing ``shard=N`` directories with ZERO
    read-modify-write of existing files. A
    :func:`~quty_server_spark.session.session_artifact`, shared by the
    registered append sink and the append ≡ rebuild / byte-identity
    tests."""
    from quty_server_spark.session import session_artifact

    return session_artifact(
        spark,
        "quty_train_shards_app",
        sf_dir,
        lambda path: _build_appended_training_shards(spark, sf_dir, path),
        rebuild,
    )


def _build_appended_training_shards(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """The standing-state fixture device shared by the append twin and
    the compaction verb: yesterday's shards (the write-once sink over
    the lake corpus) plus tonight's incremental-snapshot additions
    appended into the same ``shard=N`` directories. Factored so the
    compactor can stage its OWN private copy of the appended layout
    instead of mutating the memoized one other consumers hold.

    The base (lake-scoped) snapshot rides the STANDING lake
    cluster-label artifact
    (:func:`~quty_server_spark.operators.dedup.lake_cluster_labels_artifact`)
    instead of re-mining + re-BSP-ing the lake on every build: its
    result is byte-equal to the artifact the incremental tier already
    consumes, and in production "yesterday's shards" are likewise built
    NEXT TO the standing label table. Tonight's incremental snapshot is
    independent of the base write until the append, so the two overlap.
    """
    import shutil

    from quty_server_spark.operators.dedup import (
        lake_cluster_labels_artifact,
        PASSAGE_FAMILY,
        SIG_FAMILY,
    )

    shutil.rmtree(path, ignore_errors=True)
    lake_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    # Shared-artifact pre-warm (serial): both legs below consume these
    # memoized builders; building them before the thread fork makes the
    # fork race-free (a memoized builder is not safe to FIRST-build from
    # two threads — both would write the same session path).
    lab = spark.read.parquet(lake_cluster_labels_artifact(spark, sf_dir))
    SIG_FAMILY.build(spark, sf_dir)
    PASSAGE_FAMILY.build(spark, sf_dir)
    _, incr = overlap(
        lambda: _write_training_shards(
            scoped_training_snapshot(spark, lake_docs, labels=lab), path
        ),
        lambda: corpus_training_snapshot_incremental(
            spark, sf_dir
        ).localCheckpoint(eager=True),
    )
    _write_training_shards(incr, path, mode="append")


def _training_shards_append_oracle() -> str:
    """The append twin's truth: yesterday's shards hold the snapshot
    over the lake corpus (the lake-scoped snapshot oracle), tonight
    adds exactly the incremental snapshot's rows — summarized per shard
    under the byte-shared :func:`_shard_summary_oracle` block."""
    lake = _snapshot_oracle("doc_id % 10 <> 0")
    incr = _snapshot_oracle(nightly=True)
    union = f"""
        SELECT doc_id, lang, source, n_tokens, cluster_id, dup_ppm
        FROM ({lake})
        UNION ALL
        SELECT doc_id, lang, source, n_tokens, cluster_id, dup_ppm
        FROM ({incr})
    """
    return _shard_summary_oracle(union)


@registry.query(
    "sink_training_shards_append",
    oracle=_training_shards_append_oracle(),
)
def sink_training_shards_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPEND step of the trainer-handoff lifecycle —
    :func:`sink_training_shards` claimed append-stability by
    construction ("a grown corpus only ADDS files per shard, never
    moves an old doc"); this op proves it the way every artifact family
    proved it: tonight's snapshot additions
    (:func:`corpus_training_snapshot_incremental`, batch-only compute)
    are written ``mode("append")`` into the standing shard directories
    and the grown layout is read back and audited per shard under the
    byte-shared summary block. The content-keyed shard hash guarantees
    no standing doc moves (pinned file-by-file in
    tests/test_artifact_append.py), so the append is purely additive.

    The oracle is deliberately the UNION of the lake-scoped snapshot
    and the incremental snapshot — NOT the full-corpus write-once
    oracle: yesterday's shards were written under yesterday's truth,
    and a lake keeper dethroned tonight (a shard doc with a smaller id
    joins its cluster) or a lake doc pushed over the dup_ppm ceiling by
    tonight's passages STAYS in the standing files until the next
    snapshot compaction — exactly the incremental snapshot's documented
    contract ("shard-vs-shard repeats are next compaction's business")
    and the tombstone tier's deferred-compaction shape. The fixture
    exhibits the divergence (stale keepers exist at both test SFs —
    pinned in tests/test_artifact_append.py), so this oracle choice is
    load-bearing, not cosmetic.

    Scale: the nightly write is shard-additions-sized — the lake is
    neither re-read nor re-written; write parallelism stays decoupled
    from shard count (the shared writer's (shard, doc_id)
    repartition); the read-back audit prunes to partition directories
    and aggregates map-side."""
    path = appended_training_shards(spark, sf_dir, rebuild=True)
    return _shard_summary(spark.read.parquet(path))


def _training_shards_bpe_oracle() -> str:
    """The BPE-denominated shard audit: the snapshot oracle (nested,
    with its own recursive label chain) LEFT-joined to the encoder
    oracle's shared ``bpe_counts`` CTE — ridden byte-for-byte via
    :func:`~quty_server_spark.operators.textops._bpe_encode_counts_cte`,
    so the shard totals and the encoder cannot drift on what "trained
    tokens" means — re-aggregated per content-keyed shard."""
    from quty_server_spark.functions.hashing import sql_hash28
    from quty_server_spark.operators.textops import _bpe_encode_counts_cte

    shard = (
        sql_hash28("'shard|' || CAST(s.doc_id AS VARCHAR)")
        + f" % {N_TRAIN_SHARDS}"
    )
    return f"""
    WITH {_bpe_encode_counts_cte()},
    snap AS ({_snapshot_oracle()})
    SELECT CAST({shard} AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(COALESCE(b.n_bpe_tokens, 0)) AS BIGINT)
               AS total_bpe_tokens,
           MIN(s.doc_id) AS min_doc_id,
           MAX(s.doc_id) AS max_doc_id
    FROM snap s LEFT JOIN bpe_counts b ON s.doc_id = b.doc_id
    GROUP BY 1
    """


@registry.query(
    "sink_training_shards_bpe", oracle=_training_shards_bpe_oracle()
)
def sink_training_shards_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer handoff DENOMINATED IN TRAINED TOKENS — the BPE
    encoder's third consumer:
    :func:`sink_training_shards` sizes and audits shards in whitespace
    ``n_tokens``, but a trainer's data loader budgets steps in what the
    tokenizer actually emits. This twin joins each admitted snapshot
    row to its :func:`~quty_server_spark.operators.textops.text_bpe_encode`
    count, writes the shards WITH the ``n_bpe_tokens`` column in the
    layout (the loader reads per-doc trained-token counts straight off
    the shard files — no re-encode at load time), then reads the layout
    back and audits per shard in BOTH denominations. The oracle rides
    the encoder oracle's shared ``bpe_counts`` CTE byte-for-byte, and
    the per-shard totals are pinned in pytest to sum to the encoder's
    totals over the snapshot's docs — the shard audit, the encoder, and
    the training curve all count one multiset.

    Scale: per-doc counts come from the VOCABULARY-GRAIN encode
    (:func:`~quty_server_spark.operators.textops.text_bpe_encode_vocab`
    — the merge scan runs once per DISTINCT word, not per occurrence,
    pinned row-equal to the narrow-map encoder in pytest, so the shard
    rows and the audit are unchanged; measured at sf0.1 the swap cut
    this sink by ~7.5 s), the join is
    doc-keyed against the snapshot (snapshot-sized, not corpus-sized,
    after Catalyst pushes the join below the audit agg), and the
    write/read-back is the shared (shard, doc_id) repartition device —
    write parallelism decoupled from shard count. LEFT join + COALESCE
    0: a document admitted by the snapshot's whitespace-token gates but
    holding zero [a-z] words (no BPE symbols) stays in its shard with
    an explicit zero, on both engines."""
    from quty_server_spark.operators.textops import text_bpe_encode_vocab
    from quty_server_spark.session import fresh_tmp_dir

    out = fresh_tmp_dir(spark, "quty_train_shards_bpe", sf_dir)
    snap = corpus_training_snapshot(spark, sf_dir)
    bpe = text_bpe_encode_vocab(spark, sf_dir)
    snap_bpe = snap.join(bpe, "doc_id", "left").withColumn(
        "n_bpe_tokens",
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("bigint"),
    )
    _write_training_shards(snap_bpe, out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# Column list of the snapshot/shard row — one definition shared by the
# compactor's diff (positional exceptAll needs both sides in this exact
# order) and its tests.
SNAPSHOT_COLS = ["doc_id", "lang", "source", "n_tokens", "cluster_id", "dup_ppm"]


def compact_training_shards_inplace(
    spark: SparkSession, sf_dir: str, path: str,
    fresh: DataFrame | None = None,
) -> list[int]:
    """SNAPSHOT COMPACTION — the deferred semantic the append twin's
    oracle documents: after appends, standing shard files still hold
    rows tonight's FULL-corpus truth rejects (a lake keeper dethroned
    by a smaller-id shard clustermate, a doc pushed over the dup_ppm
    ceiling by tonight's passages — both fixture-exhibited, pinned in
    tests/test_artifact_append.py). This verb folds that debt: compute
    the symmetric ROW difference between the standing layout and a
    fresh :func:`corpus_training_snapshot`, map the differing docs to
    their content-keyed shards, and dynamically overwrite ONLY those
    ``shard=N`` directories with the fresh truth's rows for those
    shards (:meth:`Layout.replace`, the partition-scoped rewrite device
    of :func:`~quty_server_spark.operators.retract._retract_rows`).
    Shards with no differing doc are never read for the rewrite and
    their files are untouched (byte-identity pinned in
    tests/test_artifact_append.py). Returns the affected shard list.

    The diff is on FULL rows, not just membership, so a doc whose
    audit columns drifted (e.g. dup_ppm re-priced by tonight's
    passages) also routes its shard into the rewrite — after
    compaction the layout equals a from-scratch rebuild row-for-row,
    not merely doc-for-doc (set-equality pinned in tests).

    Scale: the diff is one exchange on the row key over (standing ∪
    fresh) — both sides snapshot-sized, and the fresh side rides the
    session-memoized component labels; the affected-shard collect is
    metadata-grain (≤ N_TRAIN_SHARDS values, the same bounded-collect
    class as the retraction device's partition lists); the rewrite
    reads nothing from the standing layout (replacement rows come from
    the fresh snapshot) and writes only affected directories, keeping
    write parallelism decoupled from shard count via the shared
    (shard, doc_id) repartition."""
    if fresh is None:
        fresh = corpus_training_snapshot(spark, sf_dir).select(
            *SNAPSHOT_COLS
        ).localCheckpoint(eager=False)
    standing = spark.read.parquet(path).select(*SNAPSHOT_COLS)
    diff = standing.exceptAll(fresh).unionByName(fresh.exceptAll(standing))
    affected = sorted(
        r[0]
        for r in diff.select(_shard_col().alias("shard")).distinct().collect()
    )
    if not affected:
        return []
    repl = fresh.withColumn("shard", _shard_col()).filter(
        F.col("shard").isin(affected)
    )
    # An affected shard left with ZERO fresh rows is removed.
    TRAIN_SHARDS.replace(repl, path, affected)
    return affected


@registry.query(
    "sink_training_shards_compact", oracle=_training_shards_oracle()
)
def sink_training_shards_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPACTION step of the trainer-handoff lifecycle: stage the
    appended standing state (yesterday's lake-scoped shards + tonight's
    additions, the shared fixture device, built in a compactor-private
    directory so the memoized appended layout other consumers hold is
    never mutated), run :func:`compact_training_shards_inplace`, read
    the layout back, and summarize per shard under the full-corpus
    WRITE-ONCE oracle —
    byte-for-byte the same SQL as :func:`sink_training_shards`. A green
    row therefore proves the closing of the lifecycle triangle: the
    compacted layout ≡ a fresh write-once build, i.e. the append
    oracle's documented stale-keeper debt is exactly what compaction
    folds, no more and no less.

    Scale: the bench number is forced cold (standing-state build
    included — the fixture device); the production nightly compaction
    cost is the diff (snapshot-sized, label-memo-warm) plus a rewrite
    of only the shards holding a stale row.

    The fresh full-corpus snapshot the diff needs is independent of the
    staged standing-state build and rides a DIFFERENT memo family (the
    full-corpus labels of :func:`simhash_component_labels`, not the
    lake-scoped artifacts), so the two overlap race-free."""
    from quty_server_spark.session import session_tmp_dir

    path = session_tmp_dir(spark, "quty_train_shards_cmp", sf_dir)
    _, fresh = overlap(
        lambda: _build_appended_training_shards(spark, sf_dir, path),
        lambda: corpus_training_snapshot(spark, sf_dir)
        .select(*SNAPSHOT_COLS)
        .localCheckpoint(eager=True),
    )
    compact_training_shards_inplace(spark, sf_dir, path, fresh=fresh)
    return _shard_summary(spark.read.parquet(path))


def _retraction_impact_oracle() -> str:
    """Both snapshots from scratch: the full corpus's and the
    survivors' (``doc_id % 10 <> RETRACT_MOD``), per language."""
    from quty_server_spark.operators.retract import RETRACT_MOD

    return f"""
    WITH before AS (
        SELECT lang, COUNT(*) AS n, SUM(n_tokens) AS t
        FROM ({_snapshot_oracle()}) GROUP BY lang),
    after AS (
        SELECT lang, COUNT(*) AS n, SUM(n_tokens) AS t
        FROM ({_snapshot_oracle(f"doc_id % 10 <> {RETRACT_MOD}")})
        GROUP BY lang)
    SELECT COALESCE(b.lang, a.lang) AS lang,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS docs_before,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS docs_after,
           CAST(COALESCE(b.t, 0) AS BIGINT) AS tokens_before,
           CAST(COALESCE(a.t, 0) AS BIGINT) AS tokens_after,
           CAST(COALESCE(a.n, 0) - COALESCE(b.n, 0) AS BIGINT) AS docs_delta,
           CAST(COALESCE(a.t, 0) - COALESCE(b.t, 0) AS BIGINT) AS tokens_delta
    FROM before b FULL JOIN after a ON b.lang = a.lang
    """


@registry.query(
    "snapshot_retraction_impact", oracle=_retraction_impact_oracle()
)
def snapshot_retraction_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the takedown costs THE PRODUCT — the audit that ties the
    retraction verb to the table a trainer reads: per
    language, the training snapshot's doc/token counts BEFORE the
    victim removal vs AFTER (the snapshot recomputed over the
    survivors), with signed deltas. The after side is NOT simply
    "before minus victim rows": removing a victim KEEPER re-elects a
    new canonical member for its cluster, removing a victim's passages
    can drop a surviving doc's dup_ppm below the scrub ceiling, and
    removing a bridge victim can split a cluster into two keepers — so
    docs_delta can be positive for a language. The oracle computes both
    sides from scratch (the survivors side over the scoped corpus), so
    a green row proves the engine's survivors snapshot equals tonight's
    post-takedown truth.

    Scale: the before side rides the session-memoized component labels
    (shared with every snapshot consumer); the after side is the
    takedown audit's stated one-off — survivor signing + ONE
    survivor-corpus labeling pass through
    (:func:`~quty_server_spark.operators.dedup.component_labels`, the
    same call the label-retraction sink makes) + survivor passage
    windows; both keeper joins broadcast-gated at BROADCAST_NODES_MAX.
    Takedowns are rare events, and the audit's value IS the from-scratch
    proof; the O(victims) standing-state path (home-bucket rewrites, no
    corpus relabeling) is the label-retraction sink — this op prices
    the product impact, it does not maintain state."""
    from quty_server_spark.operators.retract import RETRACT_MOD

    full = corpus_training_snapshot(spark, sf_dir)
    before = full.groupBy("lang").agg(
        F.count("*").alias("bn"), F.sum("n_tokens").alias("bt")
    )

    surv = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != RETRACT_MOD
    )
    surv_snap = scoped_training_snapshot(spark, surv)
    after = surv_snap.groupBy("lang").agg(
        F.count("*").alias("an"), F.sum("n_tokens").alias("at")
    )
    b = before.withColumnRenamed("lang", "lang_b")
    return (
        b.join(after, b.lang_b == after.lang, "full")
        .select(
            F.coalesce("lang_b", "lang").alias("lang"),
            F.coalesce("bn", F.lit(0)).cast("bigint").alias("docs_before"),
            F.coalesce("an", F.lit(0)).cast("bigint").alias("docs_after"),
            F.coalesce("bt", F.lit(0)).cast("bigint").alias("tokens_before"),
            F.coalesce("at", F.lit(0)).cast("bigint").alias("tokens_after"),
            (
                F.coalesce("an", F.lit(0)) - F.coalesce("bn", F.lit(0))
            ).cast("bigint").alias("docs_delta"),
            (
                F.coalesce("at", F.lit(0)) - F.coalesce("bt", F.lit(0))
            ).cast("bigint").alias("tokens_delta"),
        )
    )
