"""Deterministic sampling & dataset-split operators.

A training-data pipeline needs reproducible sampling: the same document
must land in the same split on every run, on any cluster layout, with no
coordination. Random sampling (``df.sample``) cannot be oracle-checked
and is not layout-stable, so everything here derives from the content
key's md5 (functions/hashing.py pattern): hash-mod bucketing gives
Bernoulli sampling, per-label windows give stratified sampling, and
fixed hash ranges give train/val/test assignment. All JVM builtins.

At 100 TB: these are single scans with no shuffle (Bernoulli/split) or
one shuffle by the stratum key (stratified) — and because assignment is
content-keyed, incremental re-runs over grown corpora keep historical
rows in their original splits (no leakage when data is appended).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quty_server_spark.functions.hashing import hash28, sql_hash28
from quty_server_spark.operators._helpers import load_table
from quty_server_spark.plans.registry import registry


@registry.query(
    "sample_bernoulli_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {sql_hash28("'salt1|' || CAST(doc_id AS VARCHAR)")} % 100 < 10
    """,
)
def sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample, content-keyed: keep rows whose salted key
    hash falls in a fixed 10/100 band. Layout-independent, replayable,
    and a different salt gives an independent sample."""
    d = load_table(spark, sf_dir, "documents")
    key = F.concat(F.lit("salt1|"), F.col("doc_id").cast("string"))
    return d.filter(hash28(key) % 100 < 10).select("doc_id", "lang")


@registry.query(
    "sample_stratified_topk",
    oracle=f"""
    SELECT lang, doc_id, hrank
    FROM (SELECT lang, doc_id,
                 ROW_NUMBER() OVER (
                     PARTITION BY lang
                     ORDER BY {sql_hash28("'salt2|' || CAST(doc_id AS VARCHAR)")},
                              doc_id) AS hrank
          FROM documents)
    WHERE hrank <= 25
    """,
)
def sample_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: exactly 25 docs per language, chosen by hash
    order (deterministic shuffle within stratum). One shuffle on the
    stratum key; skewed strata cost only their own partition."""
    d = load_table(spark, sf_dir, "documents")
    key = F.concat(F.lit("salt2|"), F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(hash28(key).asc(), F.col("doc_id").asc())
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("hrank"))
        .filter(F.col("hrank") <= 25)
    )


@registry.query(
    "split_train_val_test",
    oracle=f"""
    SELECT CASE
             WHEN {sql_hash28("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
             WHEN {sql_hash28("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
             ELSE 'test'
           END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment from fixed hash bands of the
    salted doc key. Content-keyed: appending new data never moves an old
    row across splits (no train/test leakage on incremental rebuilds)."""
    d = load_table(spark, sf_dir, "documents")
    band = hash28(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(band < 80, "train").when(band < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@registry.query(
    "sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {sql_hash28("'salt4|' || CAST(doc_id AS VARCHAR)")} % 1000
          < CASE WHEN lang = 'en' THEN 50 ELSE 200 END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing Bernoulli sample — the training-mix op: the
    head language ('en') keeps 5 percent, every tail language 20
    percent, so the sampled mix flattens toward uniform. The rate is a
    literal CASE over the stratum column (no join, no shuffle — a pure
    narrow filter the parquet scan can evaluate), and membership is the
    same salted-hash band device as sample_bernoulli_hash:
    layout-independent, replayable, append-stable, independent of other
    salts. At 100 TB this is a full-scan filter with zero exchanges."""
    d = load_table(spark, sf_dir, "documents")
    key = F.concat(F.lit("salt4|"), F.col("doc_id").cast("string"))
    rate = F.when(F.col("lang") == "en", 50).otherwise(200)
    return d.filter(hash28(key) % 1000 < rate).select("doc_id", "lang")


# Split-band fragment shared by split_train_val_test and the leakage
# report below — one definition so the two queries can never disagree on
# what "train" means.
_SPLIT_BAND_SQL = (
    sql_hash28("'split|' || CAST(doc_id AS VARCHAR)") + " % 100"
)
SQL_SPLIT_CASE = f"""CASE
             WHEN {_SPLIT_BAND_SQL} < 80 THEN 'train'
             WHEN {_SPLIT_BAND_SQL} < 90 THEN 'val'
             ELSE 'test'
           END"""


def split_col() -> "F.Column":
    """Spark twin of :data:`SQL_SPLIT_CASE` (same salt, same bands)."""
    band = (
        hash28(F.concat(F.lit("split|"), F.col("doc_id").cast("string")))
        % 100
    )
    return (
        F.when(band < 80, "train").when(band < 90, "val").otherwise("test")
    )


@registry.query(
    "split_leakage_report",
    oracle=f"""
    WITH mangled AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               replace(upper(text), ' ', '  ') AS text
        FROM documents WHERE doc_id % 7 = 0
    ),
    keyed AS (
        SELECT md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS norm_md5,
               {SQL_SPLIT_CASE} AS split,
               doc_id
        FROM mangled
    )
    SELECT a.split AS split_a, b.split AS split_b,
           COUNT(DISTINCT a.norm_md5) AS n_leaked_hashes,
           COUNT(DISTINCT b.doc_id) AS n_leaked_docs_b
    FROM keyed a JOIN keyed b
      ON a.norm_md5 = b.norm_md5 AND a.split < b.split
    GROUP BY 1, 2
    """,
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit — the check a train/val/test
    assignment must pass before evaluation numbers mean anything: for
    every ordered split pair, how many normalized-content hashes (and
    how many documents on the b side) appear in BOTH splits. Exact
    leakage only here; the near-dup analog is what
    ``dedup_decontaminate_ngram`` measures against benchmarks. The
    fixture corpus has no exact copies at the small SFs, so the query
    stages the same deterministic mangled twins dedup_exact_normalized
    stages (id + 2,000,000, upper-cased, double-spaced) — a mangled
    copy hashes to a DIFFERENT split band than its original with
    probability ~0.34, so the report always checks real leaked rows.

    Scale: the content key is the md5 of the normalized text (computed
    scan-side, JVM regexp builtins), so the self-join is an equality
    join on a 32-char digest — hash-partitioned, combiner-friendly, and
    its output tracks the duplicate density, never |corpus|². One
    shuffle on the digest; the split label rides along as a column.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.replace(F.upper("text"), F.lit(" "), F.lit("  ")).alias(
                "text"
            ),
        )
    )
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    keyed = mangled.select(
        norm.alias("norm_md5"), split_col().alias("split"), "doc_id"
    )
    a = keyed.select(
        F.col("norm_md5").alias("h"), F.col("split").alias("split_a")
    )
    b = keyed.select(
        F.col("norm_md5").alias("h_b"),
        F.col("split").alias("split_b"),
        F.col("doc_id").alias("doc_b"),
    )
    return (
        a.join(
            b,
            (F.col("h") == F.col("h_b"))
            & (F.col("split_a") < F.col("split_b")),
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.countDistinct("h").alias("n_leaked_hashes"),
            F.countDistinct("doc_b").alias("n_leaked_docs_b"),
        )
    )


# Per-language token budget for sample_token_budget. 1,500 tokens binds
# at every fixture SF (the smallest per-language corpus is ~3,500
# tokens), so the cutoff is always exercised.
TOKEN_BUDGET = 1500


@registry.query(
    "sample_token_budget",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               {sql_hash28("'budget|' || CAST(doc_id AS VARCHAR)")} AS hkey
        FROM documents
    ),
    runs AS (
        SELECT lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS tok_before
        FROM toks
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens) * 1000000 // {TOKEN_BUDGET} AS BIGINT)
               AS fill_ppm
    FROM runs
    WHERE COALESCE(tok_before, 0) < {TOKEN_BUDGET}
    GROUP BY lang
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling — the curriculum/mixture primitive: each
    language contributes documents in deterministic hash order until its
    running token total reaches TOKEN_BUDGET (a document is admitted iff
    the total BEFORE it is under budget, so the budget is exceeded by at
    most one document — the standard greedy fill). Reports per-language
    admitted docs, tokens, and fill ppm (≥ 1,000,000 means the budget
    bound, < means the stratum ran dry).

    Scale: the cumsum is a DISTRIBUTED prefix sum — 32 range buckets
    over the hash order with per-bucket windows and a tiny broadcast
    offset table — so parallelism is strata × buckets, not one reducer
    per language. The hash order is content-keyed (layout-independent,
    replayable), and because admission depends only on a prefix of the
    per-stratum hash order, appending new data can only ever displace
    documents at the budget frontier — never reshuffle the whole
    selection.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        hash28(
            F.concat(F.lit("budget|"), F.col("doc_id").cast("string"))
        ).alias("hkey"),
    )
    return _token_budget_fill(toks)


def _token_budget_fill(toks: DataFrame) -> DataFrame:
    """The greedy budget fill over a ``(doc_id, lang, n_tokens, hkey)``
    frame — one implementation shared by the whitespace sampler and
    its trained-tokenizer twin, so 'admit until the stratum's running
    total reaches TOKEN_BUDGET' means one thing under either counting.

    Distributed prefix sum: a single per-stratum window caps the
    cumsum at one reducer per language — at 100 TB with 5 languages
    that is 5 tasks doing all the work. Instead: 32 RANGE buckets
    over the hash order (bucket = hkey >> 23 is monotone in hkey, so
    bucket-asc concatenation IS the global order), a window inside
    each (lang, bucket), and per-bucket offsets from a tiny
    5×32-row aggregate broadcast back. Same admission set, 160-way
    parallel cumsum."""
    toks = toks.withColumn("bkt", F.shiftright("hkey", 23))
    wb = (
        Window.partitionBy("lang", "bkt")
        .orderBy("hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = toks.withColumn(
        "in_before", F.coalesce(F.sum("n_tokens").over(wb), F.lit(0))
    )
    woff = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        toks.groupBy("lang", "bkt")
        .agg(F.sum("n_tokens").alias("btok"))
        .withColumn(
            "boff", F.coalesce(F.sum("btok").over(woff), F.lit(0))
        )
        .select("lang", "bkt", "boff")
    )
    runs = within.join(F.broadcast(offs), ["lang", "bkt"]).withColumn(
        "tok_before", F.col("boff") + F.col("in_before")
    )
    return (
        runs.filter(F.coalesce(F.col("tok_before"), F.lit(0)) < TOKEN_BUDGET)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr(
                f"CAST(sum(n_tokens) * 1000000 div {TOKEN_BUDGET} AS BIGINT)"
            ).alias("fill_ppm"),
        )
    )


def _token_budget_bpe_oracle() -> str:
    """The whitespace sampler's SQL with the token counts swapped for
    the trained tokenizer's — counts through the encoder oracle's
    shared ``bpe_counts`` CTE, membership = documents with at least one
    alphabetic word (a doc that tokenizes to nothing fills no budget;
    both engines derive membership from the same encode output)."""
    from quty_server_spark.operators.textops import _bpe_encode_counts_cte

    return f"""
    WITH {_bpe_encode_counts_cte()},
    toks AS (
        SELECT d.doc_id, d.lang, b.n_bpe_tokens AS n_tokens,
               {sql_hash28("'budget|' || CAST(d.doc_id AS VARCHAR)")} AS hkey
        FROM documents d JOIN bpe_counts b ON d.doc_id = b.doc_id
    ),
    runs AS (
        SELECT lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS tok_before
        FROM toks
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens) * 1000000 // {TOKEN_BUDGET} AS BIGINT)
               AS fill_ppm
    FROM runs
    WHERE COALESCE(tok_before, 0) < {TOKEN_BUDGET}
    GROUP BY lang
    """


@registry.query("sample_token_budget_bpe", oracle=_token_budget_bpe_oracle())
def sample_token_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling under the TRAINED TOKENIZER — the second
    consumer that motivated text_bpe_encode: a
    curriculum budget is spent in the tokens a trainer actually pays
    for, not whitespace splits. Same deterministic hash-order greedy
    fill, same distributed prefix sum (:func:`_token_budget_fill`,
    shared with the whitespace sampler), with per-doc counts from
    :func:`~quty_server_spark.operators.textops.text_bpe_encode`.
    BPE symbol counts sit well above whitespace counts at 6 merges
    (the vocabulary is still near character level), so TOKEN_BUDGET
    binds even harder — the cutoff is always exercised.

    Scale: per-doc counts come from the VOCABULARY-GRAIN encode
    (:func:`~quty_server_spark.operators.textops.text_bpe_encode_vocab`
    — the merge scan runs per DISTINCT word, pinned
    row-equal to the narrow-map encoder in pytest, so the fill's rows
    are unchanged); the fill adds the 160-way bucketed cumsum and a
    stratum-grain aggregate — the whitespace sampler's exchange profile
    plus one doc-keyed join for the lang column."""
    from quty_server_spark.operators.textops import text_bpe_encode_vocab

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = text_bpe_encode_vocab(spark, sf_dir)
    toks = counts.join(d, "doc_id").select(
        "doc_id",
        "lang",
        F.col("n_bpe_tokens").alias("n_tokens"),
        hash28(
            F.concat(F.lit("budget|"), F.col("doc_id").cast("string"))
        ).alias("hkey"),
    )
    return _token_budget_fill(toks)


def _near_dup_leakage_oracle() -> str:
    from quty_server_spark.operators.dedup import (
        SQL_SIMHASH,
        simhash_near_ctes,
    )

    return f"""
    WITH {SQL_SIMHASH.lstrip()}, {simhash_near_ctes(capped=True)},
    sp AS (SELECT doc_id, {SQL_SPLIT_CASE} AS s FROM documents),
    tagged AS (
        SELECT LEAST(x.s, y.s) AS split_a, GREATEST(x.s, y.s) AS split_b,
               CASE WHEN x.s < y.s THEN n.doc_a ELSE n.doc_b END AS doc_a,
               CASE WHEN x.s < y.s THEN n.doc_b ELSE n.doc_a END AS doc_b
        FROM near n
        JOIN sp x ON n.doc_a = x.doc_id
        JOIN sp y ON n.doc_b = y.doc_id
        WHERE x.s <> y.s)
    SELECT split_a, split_b,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT doc_a) AS n_docs_a,
           COUNT(DISTINCT doc_b) AS n_docs_b
    FROM tagged GROUP BY 1, 2
    """


@registry.query("split_leakage_near_dup", oracle=_near_dup_leakage_oracle())
def split_leakage_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate cross-split contamination — the leak that actually
    costs eval integrity in practice (exact copies are rare after a
    dedup pass; paraphrases and re-crawls are not): for every unordered
    split pair, the SimHash near-dup pairs (banded candidates, Hamming
    ≤ HAMMING_MAX verify — the same contract every dedup consumer uses)
    whose two members landed in DIFFERENT splits, with the distinct doc
    counts on each side. A training run gates on this next to the exact
    report (:func:`split_leakage_report`); the remedy is moving whole
    near-dup CLUSTERS across split boundaries, never individual docs.

    Scale: the dedup family's CAPPED mining shape — banded equality
    self-join restricted to buckets <= SIMHASH_BUCKET_CAP (the measured
    linear contract; uncapped banding is ~4x/doubling on realistic
    vocabularies, SCALING.md), codegen'd Hamming verify before any
    distinct, split labels attached by two hash joins on doc_id after
    the near set is already mined. Content-keyed splits
    mean the report is append-stable: new data can only add rows, never
    relabel an old doc's split."""
    from quty_server_spark.operators.dedup import (
        HAMMING_MAX,
        SIMHASH_BUCKET_CAP,
        simhash_bands,
        simhash_sigs,
    )

    sigs = simhash_sigs(spark, sf_dir)
    # The 100 TB candidate contract (dedup_simhash_capped's device):
    # band buckets past SIMHASH_BUCKET_CAP leave the candidate universe
    # before the self-join — QUALIFY-mirrored in the oracle, window
    # partitioned on the same key the join shuffles on (no extra
    # exchange). Uncapped SimHash banding measures ~4x/doubling on a
    # realistic Zipf vocabulary (SCALING.md); capped is the linear path.
    bands = (
        simhash_bands(sigs)
        .withColumn(
            "bsz",
            F.count("*").over(Window.partitionBy("band_id", "band_val")),
        )
        .filter(F.col("bsz") <= SIMHASH_BUCKET_CAP)
    )
    a = bands.select(
        F.col("doc_id").alias("da"), "band_id", "band_val",
        F.col("sig").alias("siga"),
    )
    b = bands.select(
        F.col("doc_id").alias("db"),
        F.col("band_id").alias("band_id_b"),
        F.col("band_val").alias("band_val_b"),
        F.col("sig").alias("sigb"),
    )
    near = (
        a.join(
            b,
            (F.col("band_id") == F.col("band_id_b"))
            & (F.col("band_val") == F.col("band_val_b"))
            & (F.col("da") < F.col("db")),
        )
        .filter(
            F.bit_count(
                F.col("siga").bitwiseXOR(F.col("sigb"))
            )
            <= HAMMING_MAX
        )
        .select("da", "db")
        .distinct()
    )
    d = load_table(spark, sf_dir, "documents")
    sp = d.select("doc_id", split_col().alias("s"))
    x = sp.select(F.col("doc_id").alias("da"), F.col("s").alias("sa"))
    y = sp.select(F.col("doc_id").alias("db"), F.col("s").alias("sb"))
    tagged = (
        near.join(x, "da")
        .join(y, "db")
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            F.when(F.col("sa") < F.col("sb"), F.col("da"))
            .otherwise(F.col("db"))
            .alias("doc_a"),
            F.when(F.col("sa") < F.col("sb"), F.col("db"))
            .otherwise(F.col("da"))
            .alias("doc_b"),
        )
    )
    return tagged.groupBy("split_a", "split_b").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_a").alias("n_docs_a"),
        F.countDistinct("doc_b").alias("n_docs_b"),
    )
