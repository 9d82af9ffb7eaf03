"""Text-analysis operators for the training-data pipeline surface.

Language-ID (stopword n-gram heuristic), quality scoring, token counting
(whitespace + regex), and document fingerprinting (rolling polynomial
hash). All JVM-builtin expressions (split/filter/aggregate/regexp) — no
Python in the hot path; at 100 TB these are embarrassingly parallel scans
with column pruning down to (doc_id, text).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from quty_server_spark.functions.hashing import hash28, sql_hash28
from quty_server_spark.operators._helpers import load_table
from quty_server_spark.plans.registry import registry
from quty_server_spark.session import session_artifact, session_memo

STOPWORDS = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "los"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "de", "et", "est"],
}


@registry.query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS n_chars_measured,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
           list_aggregate(list_transform(string_split(text, ' '),
               t -> LENGTH(t)), 'max') AS max_token_len,
           (n_chars = LENGTH(text)) AS n_chars_ok
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics: char/token/unique counts, distinct ratio,
    longest token, and a consistency check against the stored n_chars."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("distinct_ratio"),
        F.array_max(F.transform(toks, lambda t: F.length(t))).alias("max_token_len"),
        (F.col("n_chars") == F.length("text")).alias("n_chars_ok"),
    )


@registry.query(
    "text_tokenize",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re_tokens,
           len(list_filter(string_split(text, ' '), t -> LENGTH(t) > 5))
               AS n_long_tokens,
           len(regexp_extract_all(text, '[aeiou]')) AS n_vowels
    FROM documents
    """,
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex token
    pass ([a-z0-9]+ runs), plus long-token and vowel counts."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)).alias(
            "n_re_tokens"
        ),
        F.size(F.filter(toks, lambda t: F.length(t) > 5)).alias("n_long_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[aeiou]"), 0)).alias("n_vowels"),
    )


def _lang_hits_expr_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), "
        f"t -> list_contains([{words}], t)))"
    )


@registry.query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {_lang_hits_expr_sql('en')} AS en_hits,
           {_lang_hits_expr_sql('es')} AS es_hits,
           {_lang_hits_expr_sql('de')} AS de_hits,
           {_lang_hits_expr_sql('fr')} AS fr_hits,
           CASE
             WHEN {_lang_hits_expr_sql('en')} = 0 AND {_lang_hits_expr_sql('es')} = 0
              AND {_lang_hits_expr_sql('de')} = 0 AND {_lang_hits_expr_sql('fr')} = 0
             THEN 'und'
             WHEN {_lang_hits_expr_sql('en')} >= {_lang_hits_expr_sql('es')}
              AND {_lang_hits_expr_sql('en')} >= {_lang_hits_expr_sql('de')}
              AND {_lang_hits_expr_sql('en')} >= {_lang_hits_expr_sql('fr')} THEN 'en'
             WHEN {_lang_hits_expr_sql('es')} >= {_lang_hits_expr_sql('de')}
              AND {_lang_hits_expr_sql('es')} >= {_lang_hits_expr_sql('fr')} THEN 'es'
             WHEN {_lang_hits_expr_sql('de')} >= {_lang_hits_expr_sql('fr')} THEN 'de'
             ELSE 'fr'
           END AS guessed_lang
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: count hits against per-language
    stopword sets, argmax with a fixed precedence (en > es > de > fr) and
    'und' when nothing matches. (The fixture's `lang` labels are random
    tags on English-ish text — the labeled lang is carried through so the
    heuristic's disagreement is itself queryable.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def hits(lang: str):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    en, es, de, fr = (hits(lang) for lang in ("en", "es", "de", "fr"))
    guess = (
        F.when((en == 0) & (es == 0) & (de == 0) & (fr == 0), "und")
        .when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("en_hits"),
        es.alias("es_hits"),
        de.alias("de_hits"),
        fr.alias("fr_hits"),
        guess.alias("guessed_lang"),
    )


@registry.query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '),
                                  t -> {sql_hash28('t')})),
               (acc, h) -> (acc * 31 + h) % 2147483648) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: rolling polynomial hash
    (acc*31 + md5-hash(token)) mod 2^31 over the token sequence — unlike
    the set-based MinHash/SimHash signatures, reordering words changes it."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.aggregate(
            F.transform(toks, lambda t: hash28(t)),
            F.lit(0).cast("bigint"),
            lambda acc, h: (acc * 31 + h) % F.lit(2147483648).cast("bigint"),
        ).alias("fingerprint"),
    )


WINNOW_W = 4  # window width over 3-gram hashes (MOSS-style winnowing)

_SQL_KGRAM_HASH = (
    "CAST('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),"
    " 1, 7) AS BIGINT)"
)


@registry.query(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    k AS (SELECT doc_id,
                 list_transform(range(1, len(toks) - 1),
                                i -> {_SQL_KGRAM_HASH}) AS kh
          FROM t WHERE len(toks) >= {WINNOW_W + 2}),
    w AS (SELECT doc_id,
                 list_sort(list_distinct(list_transform(
                     range(1, len(kh) - {WINNOW_W} + 2),
                     i -> list_aggregate(kh[i:i+{WINNOW_W - 1}], 'min')))) AS fp
          FROM k)
    SELECT doc_id, array_to_string(fp, ',') AS fp, len(fp) AS fp_size FROM w
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    3-gram, slide a width-4 window over the hash sequence, keep each
    window's minimum — guarantees any shared substring of >= w+k-1 tokens
    between two documents shares a fingerprint, with ~2/(w+1) selection
    density. Pure array-expression pipeline (transform/slice/array_min),
    one scan, no shuffle; the fingerprint set is the shuffle-friendly
    join key for plagiarism-style containment detection at scale.
    The fingerprint list is emitted comma-joined (scalar string): the
    driver's pandas canonicalizer cannot hash array-typed output
    columns, and no element is NULL so concat_ws ==
    array_to_string exactly."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    kh = F.expr(
        "transform(sequence(1, size(toks) - 2), i -> "
        "CAST(conv(substring(md5(concat(element_at(toks, i), ' ', "
        "element_at(toks, i + 1), ' ', element_at(toks, i + 2))), 1, 7), 16, 10)"
        " AS BIGINT))"
    )
    wins = F.expr(
        f"transform(sequence(1, size(kh) - {WINNOW_W - 1}), "
        f"i -> array_min(slice(kh, i, {WINNOW_W})))"
    )
    return (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= WINNOW_W + 2)
        .withColumn("kh", kh)
        .select("doc_id", F.array_sort(F.array_distinct(wins)).alias("fp_arr"))
        .select(
            "doc_id",
            F.concat_ws(",", F.col("fp_arr").cast("array<string>")).alias("fp"),
            F.size("fp_arr").alias("fp_size"),
        )
    )


@registry.query(
    "text_pmi_collocations",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
    big AS (SELECT toks[i] AS w1, toks[i + 1] AS w2, COUNT(*) AS c_xy
            FROM t, unnest(range(1, len(toks))) AS r(i)
            GROUP BY toks[i], toks[i + 1]),
    uni AS (SELECT w, COUNT(*) AS c
            FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
    tot AS (SELECT (SELECT SUM(c) FROM uni) AS n_uni,
                   (SELECT SUM(c_xy) FROM big) AS n_big),
    scored AS (
        SELECT b.w1, b.w2, b.c_xy,
               CAST(b.c_xy * t.n_uni * t.n_uni AS DOUBLE)
                   / CAST(t.n_big * u1.c * u2.c AS DOUBLE) AS pmi_ratio
        FROM big b
        JOIN uni u1 ON b.w1 = u1.w
        JOIN uni u2 ON b.w2 = u2.w
        CROSS JOIN tot t
        WHERE b.c_xy >= 5)
    SELECT w1, w2, c_xy, pmi_ratio, rn
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_ratio DESC, w1, w2) AS rn
          FROM scored)
    WHERE rn <= 50
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 bigrams by pointwise-mutual-information
    ratio P(x,y)/(P(x)P(y)), support >= 5. PMI is emitted as the raw
    probability ratio, not its log — the ratio is two exact int64
    products and ONE double division, so it hash-matches the oracle
    (libm log() is not bit-specified across engines). Unigram and total
    counts are tiny aggregates broadcast into the bigram table; at scale
    the only real shuffle is the bigram group-by, and the top-50 is a
    TakeOrdered, not a full sort."""
    d = load_table(spark, sf_dir, "documents")
    toks_df = d.select(F.split("text", " ").alias("toks"))
    big = (
        toks_df.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
                )
            ).alias("bg")
        )
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    uni = (
        toks_df.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = toks_df.agg(
        F.sum(F.size("toks")).alias("n_uni"),
        F.sum(F.size("toks") - 1).alias("n_big"),
    )
    u1 = uni.select(F.col("w").alias("u1w"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("u2w"), F.col("c").alias("c_y"))
    scored = (
        big.join(broadcast(u1), F.col("w1") == F.col("u1w"))
        .join(broadcast(u2), F.col("w2") == F.col("u2w"))
        .join(broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            (
                (F.col("c_xy") * F.col("n_uni") * F.col("n_uni")).cast("double")
                / (F.col("n_big") * F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("pmi_ratio"),
        )
    )
    # Top-50 via orderBy().limit() → TakeOrderedAndProject: each task ships
    # only its local 50 candidates, so the full bigram vocabulary is never
    # sorted in one partition. The rank window then runs over 50 rows only.
    top = scored.orderBy(F.desc("pmi_ratio"), F.asc("w1"), F.asc("w2")).limit(50)
    w = Window.orderBy(F.desc("pmi_ratio"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rn", F.row_number().over(w))


@registry.query(
    "text_tfidf_keywords",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w, tf.tf, df.df,
               CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)
                   AS tfidf_ratio
        FROM tf JOIN df ON tf.w = df.w CROSS JOIN n)
    SELECT doc_id, w AS keyword, tf, df, tfidf_ratio, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf_ratio DESC, w) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF with a
    linear IDF (tf·N/df rather than tf·log(N/df)) — same selectivity
    signal, and exactly reproducible across engines (one int64 product,
    one double division; no libm log whose rounding is unspecified). The
    document
    frequency table is a tiny aggregate broadcast back onto the term
    table; the per-doc top-3 is a window over the doc_id partitioning
    that the TF group-by already established — one real shuffle total."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = terms.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(broadcast(df.withColumnRenamed("w", "dfw")), F.col("w") == F.col("dfw"))
        .join(broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("keyword"),
            "tf",
            "df",
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("df").cast("double")
            ).alias("tfidf_ratio"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_ratio"), F.asc("keyword"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@registry.query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           LEAST(len(string_split(text, ' ')) / 50.0, 1.0) AS length_score,
           len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS diversity_score,
           LEAST(5.0 * len(list_filter(string_split(text, ' '),
               t -> list_contains(['the', 'a', 'of', 'and', 'is'], t)))
               / CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)
               AS stopword_score,
           0.4 * LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
           + 0.3 * (len(list_distinct(string_split(text, ' ')))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE))
           + 0.3 * LEAST(5.0 * len(list_filter(string_split(text, ' '),
                 t -> list_contains(['the', 'a', 'of', 'and', 'is'], t)))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)
               AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation, lexical diversity, and
    a natural-language-likeness proxy (stopword density). Weighted sum of
    deterministic double terms (identical op order on both engines)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    length_score = F.least(n / F.lit(50.0), F.lit(1.0))
    diversity = F.size(F.array_distinct(toks)) / n
    stop_ratio = F.least(
        F.lit(5.0) * F.size(F.filter(toks, lambda t: F.array_contains(stop, t))) / n,
        F.lit(1.0),
    )
    return d.select(
        "doc_id",
        length_score.alias("length_score"),
        diversity.alias("diversity_score"),
        stop_ratio.alias("stopword_score"),
        (0.4 * length_score + 0.3 * diversity + 0.3 * stop_ratio).alias("quality"),
    )


@registry.query(
    "text_bigram_familiarity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bigrams AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
    corpus AS (
        SELECT bg, COUNT(*) AS cnt FROM bigrams GROUP BY bg)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(c.cnt) AS BIGINT) AS freq_mass,
           CAST(SUM(c.cnt) // COUNT(*) AS BIGINT) AS familiarity
    FROM bigrams b JOIN corpus c ON b.bg = c.bg
    GROUP BY b.doc_id
    """,
)
def text_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-grounded fluency heuristic: score each document by the
    average corpus frequency of its word bigrams (a log-free stand-in
    for bigram-LM perplexity — documents made of common word
    transitions score high, word-soup outliers score low). All-integer
    output, so the score is bit-identical across engines.

    Scale: bigram explode is narrow; the corpus count is one shuffle to
    bigram grain (map-side combined — Zipf head bigrams pre-sum inside
    each partition); the score join shuffles by bigram then re-aggregates
    per doc. No UDF, no driver-side vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(slice(t, 1, size(t) - 1), (x, i) -> concat(x, ' ', t[i + 1]))")
        ).alias("bg"),
    )
    corpus = bigrams.groupBy("bg").agg(F.count("*").alias("cnt"))
    return (
        bigrams.join(corpus, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("cnt").cast("bigint").alias("freq_mass"),
            F.expr("sum(cnt) div count(*)").cast("bigint").alias("familiarity"),
        )
    )


@registry.query(
    "text_bpe_pair_counts",
    oracle="""
    WITH words AS (
        SELECT t.word AS w, COUNT(*) AS cnt
        FROM documents,
             UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(word)
        WHERE t.word <> ''
        GROUP BY t.word),
    pairs AS (
        SELECT substr(w, g.i, 1) AS l, substr(w, g.i + 1, 1) AS r, cnt
        FROM words, UNNEST(generate_series(1, length(w) - 1)) AS g(i)
        WHERE length(w) >= 2)
    SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM pairs GROUP BY l, r
    ORDER BY pair_count DESC, l, r LIMIT 50
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner step of BPE vocabulary training: corpus-weighted
    adjacent-symbol pair counts (here the character-level first round —
    the pair a real trainer would merge next is the argmax row). The
    word-frequency table is the classic BPE compression: pair counting
    runs over DISTINCT words weighted by occurrence count, not over
    every token occurrence — at 100 TB the per-round working set is the
    vocabulary (Zipf: millions), not the corpus (trillions of tokens).

    Plan: tokenize/explode is narrow; one shuffle to word grain
    (map-side combined — Zipf head words pre-sum per partition); the
    pair explode is narrow over the vocabulary; one map-side-combined
    pair aggregation (alphabet² keys at most); TakeOrdered for the
    deterministic top-50 (ties broken by the pair itself). No UDF, no
    driver-side vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> struct(substring(w, i, 1) AS l, "
                    "substring(w, i + 1, 1) AS r))"
                )
            ).alias("p"),
            "cnt",
        )
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
    )
    return (
        pairs.groupBy("l", "r")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "l", "r")
        .limit(50)
    )


@registry.query(
    "text_bpe_merge_step",
    oracle=r"""
    WITH words AS (
        SELECT t.word AS w, COUNT(*) AS cnt
        FROM documents,
             UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(word)
        WHERE t.word <> ''
        GROUP BY t.word),
    pc AS (
        SELECT substr(w, g.i, 1) AS l, substr(w, g.i + 1, 1) AS r,
               CAST(SUM(cnt) AS BIGINT) AS c
        FROM words, UNNEST(generate_series(1, length(w) - 1)) AS g(i)
        WHERE length(w) >= 2
        GROUP BY 1, 2),
    top1 AS (SELECT l || r AS mp FROM pc ORDER BY c DESC, l, r LIMIT 1),
    merged AS (
        SELECT replace(regexp_replace(replace(w, t.mp, '#'),
                                      '(.)', '\1|', 'g'),
                       '#', t.mp) AS s,
               cnt
        FROM words, top1 t),
    syms AS (
        SELECT list_filter(string_split(s, '|'), x -> x <> '') AS ss, cnt
        FROM merged),
    pairs2 AS (
        SELECT ss[g.i] AS l, ss[g.i + 1] AS r, cnt
        FROM syms, UNNEST(generate_series(1, len(ss) - 1)) AS g(i)
        WHERE len(ss) >= 2)
    SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM pairs2 GROUP BY l, r
    ORDER BY pair_count DESC, l, r LIMIT 50
    """,
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE training iteration — the step that closes the loop
    :func:`text_bpe_pair_counts` opens: take the argmax pair from the
    character-level counts (ties broken by the pair itself), APPLY the
    merge to every vocabulary word, and recount adjacent-symbol pairs
    over the merged symbol sequences (the input to the next round's
    argmax). Because pre-merge symbols are single characters, greedy
    left-to-right BPE merging is exactly leftmost non-overlapping
    substring replacement — both engines' ``replace`` — so the merge is
    deterministically the textbook semantics, not an approximation
    ('banana' + merge 'an' → b|an|an|a). The merged symbol is staged
    through a '#' placeholder (words are [a-z]+ by construction, so the
    marker cannot collide), then each residual character is delimited
    and the marker expanded back.

    Scale: the working set is the VOCABULARY weighted by occurrence
    counts (the classic BPE compression — millions of words, not
    trillions of tokens); the argmax pair is a 1-row TakeOrdered
    broadcast back over the vocabulary; merge + re-split + pair explode
    are narrow string expressions; one map-side-combined aggregation at
    symbol-pair grain. A full tokenizer training run is this step
    iterated — each round the same vocabulary-sized job with one more
    merge in the alphabet."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pc = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> struct(substring(w, i, 1) AS l, "
                    "substring(w, i + 1, 1) AS r))"
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("cnt").alias("c"))
    )
    top1 = (
        pc.orderBy(F.desc("c"), "l", "r")
        .limit(1)
        .select(F.concat("l", "r").alias("mp"))
    )
    merged = words.crossJoin(F.broadcast(top1)).select(
        F.replace(
            F.regexp_replace(
                F.replace(F.col("w"), F.col("mp"), F.lit("#")),
                "(.)",
                r"$1|",
            ),
            F.lit("#"),
            F.col("mp"),
        ).alias("s"),
        "cnt",
    )
    syms = merged.select(
        F.expr("filter(split(s, '\\\\|'), x -> x != '')").alias("ss"), "cnt"
    )
    pairs2 = (
        syms.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ss) - 1), "
                    "i -> struct(ss[i - 1] AS l, ss[i] AS r))"
                )
            ).alias("p"),
            "cnt",
        )
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
    )
    return (
        pairs2.groupBy("l", "r")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "l", "r")
        .limit(50)
    )




# Number of chained merges the BPE training loop runs. A real tokenizer
# trains tens of thousands; the loop mechanics — lazy-checkpointed
# vocabulary, broadcast argmax, exact greedy merge apply — are
# merge-count-independent, and SCALING.md measures the per-merge cost
# flat in the round index.
BPE_TRAIN_MERGES = 6

# The exact greedy BPE merge of the round's argmax pair (l, r), applied
# to a '|'-delimited symbol string via a left-to-right scan: merge
# whenever the accumulator's LAST symbol is l and the incoming symbol is
# r. This is provably textbook greedy leftmost non-overlapping merging
# for MULTI-CHARACTER symbols too — including the l == r run case
# ('a a a a' + merge (a,a) -> 'aa aa'), where a single substring replace
# on the delimited form is WRONG (it consumes the shared delimiter and
# splits runs as 'aa a a'; pinned in tests/test_dedup_properties.py's
# BPE block). Pure higher-order JVM expression — no UDF.
#
# Per-task work: the scan is guarded by a native
# substring test — the merge is a provable NO-OP unless ``s`` contains
# '|l|r|'. Proof: a merge fires only when the accumulator's last symbol
# equals l and the incoming ORIGINAL symbol is r; the accumulator's last
# symbol is either an original symbol of s or an earlier-merged 'lr',
# and 'lr' = l is impossible (strictly longer), so every fire consumes
# an ORIGINALLY-adjacent (l, r) pair — which, in the canonical delimited
# form ('|' + sym + '|' ... + '|', exactly what v0 and every round's
# output are), appears verbatim as the substring '|l|r|'. When the
# guard skips, the string is returned unchanged, which equals what the
# scan would rebuild (the canonical form round-trips). The aggregate
# lambda runs INTERPRETED per symbol (higher-order exprs don't codegen),
# so skipping it for the overwhelming share of (string, pair) combos
# that don't contain the pair is the dominant per-token cost cut —
# measured at sf0.1 across the BPE family. The
# DuckDB oracle keeps the unguarded scan: same value, hash-verified.
_SQL_BPE_APPLY = """
    CASE WHEN NOT contains(s, concat('|', l, '|', r, '|')) THEN s
    ELSE aggregate(
        filter(split(s, '\\\\|'), t -> t != ''),
        '|',
        (acc, x) -> CASE
            WHEN endswith(acc, concat('|', l, '|')) AND x = r
            THEN concat(substring(acc, 1, length(acc) - length(l) - 1),
                        l, r, '|')
            ELSE concat(acc, x, '|') END) END
"""


def _bpe_sym_pairs(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol pair counts over a delimited-string
    vocabulary ``(s, cnt)`` — the recount both the argmax and the
    output table use each round."""
    syms = vocab.select(
        F.expr("filter(split(s, '\\\\|'), x -> x != '')").alias("ss"), "cnt"
    )
    return (
        syms.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ss) - 1), "
                    "i -> struct(ss[i - 1] AS l, ss[i] AS r))"
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("cnt").alias("c"))
    )


# The DuckDB twin of _SQL_BPE_APPLY: one round's exact greedy merge of
# the broadcast argmax pair (t.l, t.r) applied to a '|'-delimited symbol
# string ``s`` via the same left-to-right accumulator scan. One string
# shared by the training chain's v{k} CTEs and the encoder's e{k} CTEs,
# so "apply merge k" cannot mean two things between training and
# encoding.
_DUCK_BPE_APPLY = """list_reduce(
                   ['|'] || list_transform(
                       list_filter(string_split(s, '|'), x -> x <> ''),
                       e -> e || '|'),
                   (acc, x) -> CASE
                       WHEN ends_with(acc, '|' || t.l || '|')
                            AND x = t.r || '|'
                       THEN substr(acc, 1,
                                   length(acc) - length(t.l) - 1)
                            || t.l || t.r || '|'
                       ELSE acc || x END)"""


def _bpe_cte_chain(n: int = BPE_TRAIN_MERGES) -> list[str]:
    """The training loop UNROLLED: n rounds of (recount -> argmax ->
    exact greedy apply via list_reduce) as chained CTEs — mechanical
    generation, so the oracles stay plain (non-recursive) SQL DuckDB
    executes comfortably at any fixture scale. Shared by the merge-table
    oracle (text_bpe_train_n) and the compression-curve oracle
    (text_bpe_compression), which therefore cannot drift on what "the
    trained state after round k" means."""
    ctes = [
        r"""words AS (
        SELECT t.word AS w, COUNT(*) AS cnt
        FROM documents,
             UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(word)
        WHERE t.word <> ''
        GROUP BY t.word),
    v0 AS (
        SELECT '|' || regexp_replace(w, '(.)', '\1|', 'g') AS s, cnt
        FROM words)"""
    ]
    for k in range(1, n + 1):
        ctes.append(f"""ss{k} AS (
        SELECT list_filter(string_split(s, '|'), x -> x <> '') AS ss, cnt
        FROM v{k - 1}),
    pc{k} AS (
        SELECT ss[g.i] AS l, ss[g.i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS c
        FROM ss{k}, UNNEST(generate_series(1, len(ss) - 1)) AS g(i)
        WHERE len(ss) >= 2
        GROUP BY 1, 2),
    top{k} AS (SELECT l, r, c FROM pc{k} ORDER BY c DESC, l, r LIMIT 1),
    v{k} AS (
        SELECT {_DUCK_BPE_APPLY} AS s, cnt
        FROM v{k - 1}, top{k} t)""")
    return ctes


def _bpe_train_oracle(n: int = BPE_TRAIN_MERGES) -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_round, l, r, c AS pair_count "
        f"FROM top{k}"
        for k in range(1, n + 1)
    )
    return "WITH " + ",\n    ".join(_bpe_cte_chain(n)) + "\n    " + union


@registry.query("text_bpe_train_n", oracle=_bpe_train_oracle())
def text_bpe_train_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING LOOP — :func:`text_bpe_merge_step` chained for
    BPE_TRAIN_MERGES rounds, producing the real tokenizer-training
    artifact: the ordered MERGE TABLE (round, pair, corpus-weighted
    count at selection). Each round recounts adjacent-symbol pairs over
    the current vocabulary, picks the argmax (ties by the pair itself),
    and applies the merge EXACTLY — a left-to-right scan
    (_SQL_BPE_APPLY) that is textbook greedy leftmost non-overlapping
    merging even for multi-character symbols and l == r runs, where the
    single-round op's substring-replace device no longer applies
    (property-tested against a reference greedy BPE in
    tests/test_dedup_properties.py). The oracle unrolls the identical
    loop into plain chained SQL, so every round's CHOICE and COUNT are
    hash-verified, not just the final state.

    Scale: the working set stays the VOCABULARY weighted by occurrence
    counts (the classic BPE compression); each round is one map-side-
    combined pair aggregation + a 1-row broadcast argmax joined back +
    a narrow higher-order merge scan — the hardened BSP-loop shape
    (lazy localCheckpoint per round truncating lineage, ZERO driver
    actions inside the loop; the merge table materializes everything in
    one job at the end). A production run sizes rounds to the target
    vocab; per-merge cost is measured flat in SCALING.md."""
    _, tops = _bpe_train_state(spark, sf_dir)
    rounds = [
        top1.select(
            F.lit(k).cast("bigint").alias("merge_round"),
            "l",
            "r",
            F.col("c").cast("bigint").alias("pair_count"),
        )
        for k, top1 in enumerate(tops, start=1)
    ]
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out


def _bpe_train_state(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], list[DataFrame]]:
    """The training loop itself: returns ``(vocabs, tops)`` — the
    delimited-string vocabulary after 0..N merges (each lazily
    localCheckpointed, so downstream consumers share materializations
    within one action tree) and the N per-round 1-row argmax frames.
    One loop shared by the merge-table, compression-curve, encoder,
    packer, and budget-sampler queries — the Spark twin of
    :func:`_bpe_cte_chain` — and MEMOIZED per (session, sf_dir), the
    same one-pass-feeds-every-consumer convention as the component
    label memo: one training run per session serves all five
    registered consumers (bench and the A/B harness clear the memo
    before timing text_bpe_train_n, so the trainer's number stays the
    cold training cost and the consumers' numbers are their marginal
    cost — the dedup_cluster / corpus_training_snapshot convention).

    The Python-side list of N frames is fine at fixture merge counts
    (plan size grows linearly in N; lineage does not — each round is
    checkpoint-truncated). A production-length run (10^4+ merges)
    should write the merge table incrementally (append each round's
    argmax row to a sink) instead of unioning N frames at the close —
    recorded here so whoever grows BPE_TRAIN_MERGES sees it."""
    return session_memo(
        spark, "bpe_state", sf_dir, lambda: _bpe_train_loop(spark, sf_dir)
    )


def _bpe_train_loop(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], list[DataFrame]]:
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = words.select(
        F.concat(
            F.lit("|"), F.regexp_replace("w", "(.)", r"$1|")
        ).alias("s"),
        "cnt",
    ).localCheckpoint(eager=False)
    vocabs, tops = [vocab], []
    for _k in range(1, BPE_TRAIN_MERGES + 1):
        top1 = (
            _bpe_sym_pairs(vocab)
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        tops.append(top1)
        vocab = (
            vocab.crossJoin(F.broadcast(top1.select("l", "r")))
            .select(F.expr(_SQL_BPE_APPLY).alias("s"), "cnt")
            .localCheckpoint(eager=False)
        )
        vocabs.append(vocab)
    return vocabs, tops


def _bpe_compression_oracle(n: int = BPE_TRAIN_MERGES) -> str:
    totals = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_round, "
        f"CAST(SUM(cnt * len(list_filter(string_split(s, '|'), "
        f"x -> x <> ''))) AS BIGINT) AS corpus_symbols FROM v{k}"
        for k in range(0, n + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_bpe_cte_chain(n))
        + f""",
    tot AS ({totals}),
    base AS (SELECT corpus_symbols AS b FROM tot WHERE merge_round = 0)
    SELECT t.merge_round, t.corpus_symbols,
           CAST(((base.b - t.corpus_symbols) * 1000000) // base.b AS BIGINT)
               AS saved_ppm
    FROM tot t, base
    """
    )


@registry.query("text_bpe_compression", oracle=_bpe_compression_oracle())
def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINING CURVE — what a tokenizer trainer actually monitors
    while :func:`text_bpe_train_n` runs: after each of the 0..N merge
    rounds, the total corpus symbol count (token-occurrence-weighted,
    i.e. what the corpus tokenizes to under the vocabulary trained so
    far) and the cumulative compression in ppm of the character-level
    baseline. Diminishing saved_ppm steps are the stop signal for
    vocabulary sizing. The per-round drop is the number of merge
    APPLICATIONS, which is ≤ the selected pair's count (overlapping
    occurrences merge only once — 'aaa' holds two 'aa' pairs but one
    merge); tests/test_dedup_properties.py pins that invariant against
    the merge table.

    Scale: shares :func:`_bpe_train_state`'s loop (same lazy-checkpoint
    convention — each round's vocabulary materializes once and serves
    both the argmax and this curve); the curve itself is one
    vocabulary-sized aggregate per round plus a 1-row round-0 baseline
    joined back."""
    vocabs, _ = _bpe_train_state(spark, sf_dir)
    n_syms = F.expr(
        "sum(cnt * size(filter(split(s, '\\\\|'), x -> x != '')))"
    )
    rows = [
        v.agg(n_syms.cast("bigint").alias("corpus_symbols")).select(
            F.lit(k).cast("bigint").alias("merge_round"), "corpus_symbols"
        )
        for k, v in enumerate(vocabs)
    ]
    tot = rows[0]
    for r in rows[1:]:
        tot = tot.unionByName(r)
    base = (
        tot.filter(F.col("merge_round") == 0)
        .select(F.col("corpus_symbols").alias("b"))
    )
    return tot.crossJoin(F.broadcast(base)).select(
        "merge_round",
        "corpus_symbols",
        F.expr("CAST(((b - corpus_symbols) * 1000000) DIV b AS BIGINT)").alias(
            "saved_ppm"
        ),
    )


def _bpe_encode_counts_cte(n: int = BPE_TRAIN_MERGES) -> str:
    """The encoder's full CTE prefix (training chain + e{k} apply
    chain) plus a ``bpe_counts(doc_id, n_bpe_tokens)`` CTE — the
    per-doc counts any downstream consumer's oracle starts from.
    Shared by the encode oracle's SELECT and the BPE packer."""
    ctes = _bpe_cte_chain(n)
    ctes.append(r"""docw AS (
        SELECT doc_id,
               '|' || regexp_replace(t.word, '(.)', '\1|', 'g') AS s
        FROM documents,
             UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(word)
        WHERE t.word <> ''),
    e0 AS (SELECT doc_id, s FROM docw)""")
    for k in range(1, n + 1):
        ctes.append(f"""e{k} AS (
        SELECT doc_id, {_DUCK_BPE_APPLY} AS s
        FROM e{k - 1}, top{k} t)""")
    ctes.append(f"""bpe_counts AS (
        SELECT doc_id,
               CAST(SUM(len(list_filter(string_split(s, '|'),
                                        x -> x <> ''))) AS BIGINT)
                   AS n_bpe_tokens
        FROM e{n} GROUP BY doc_id)""")
    return ",\n    ".join(ctes)


def _bpe_encode_oracle(n: int = BPE_TRAIN_MERGES) -> str:
    """Train (the shared unrolled chain), then ENCODE: every document's
    words re-tokenized under the n trained merges applied in training
    order — e{k} CTEs reusing the training chain's own apply expression
    (_DUCK_BPE_APPLY) verbatim, counts through the shared
    ``bpe_counts`` CTE every downstream consumer's oracle also reads."""
    return (
        "WITH "
        + _bpe_encode_counts_cte(n)
        + """
    SELECT doc_id, n_bpe_tokens FROM bpe_counts
    """
    )


@registry.query("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer — the merge table's consumer:
    :func:`text_bpe_train_n` produces the merge table, and
    this op tokenizes the corpus under it, reporting each document's
    BPE token count (the number a packer or token-budget sampler would
    use instead of whitespace counts). Each document's words are
    exploded to word grain, expanded to the character-level delimited
    form, and the N trained merges are applied IN TRAINING ORDER — the
    same _SQL_BPE_APPLY exact greedy scan the trainer uses, chained N
    times as a pure narrow map (each round is one broadcast of the
    1-row argmax + one higher-order expression; no vocabulary lookup
    table anywhere). The per-doc count is the word-grain symbol counts
    re-aggregated on doc_id.

    The corpus total of these per-doc counts IS the training curve's
    round-N corpus_symbols (:func:`text_bpe_compression` counts the
    same multiset through the weighted vocabulary) — pinned in
    tests/test_extension_semantics.py, so the encoder and the trainer
    cannot disagree about what the trained tokenizer does to the
    corpus.

    Scale: encoding is inherently per-token work — one narrow scan of
    the corpus through N merge expressions (the merges are 1-row
    broadcasts; lineage is the trainer's lazily-checkpointed loop
    state), plus one doc-keyed re-aggregation. On a skew-heavy corpus
    swap in :func:`text_bpe_encode_vocab` — the registered
    distinct-word encode + count join twin (vocabulary-grain work,
    output-equality pinned) — at the cost of two extra shuffles; at
    fixture scale and for typical web corpora this narrow map wins."""
    _, tops = _bpe_train_state(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    enc = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            F.concat(
                F.lit("|"), F.regexp_replace("w", "(.)", r"$1|")
            ).alias("s"),
        )
    )
    for top1 in tops:
        enc = enc.crossJoin(F.broadcast(top1.select("l", "r"))).select(
            "doc_id", F.expr(_SQL_BPE_APPLY).alias("s")
        )
    return enc.select(
        "doc_id",
        F.size(F.expr("filter(split(s, '\\\\|'), x -> x != '')")).alias("k"),
    ).groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bpe_tokens")
    )


@registry.query("text_bpe_encode_vocab", oracle=_bpe_encode_oracle())
def text_bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-SAFE encode variant :func:`text_bpe_encode`'s docstring
    documents — now registered, not just described: encode each
    DISTINCT word once (vocabulary-grain work — the N trained merges
    applied to the distinct-word set, carrying the original word as the
    join key), then join the per-word symbol count back to per-document
    occurrence counts and re-aggregate. Same trained state, same
    _SQL_BPE_APPLY exact greedy scan, same ``bpe_counts`` oracle SQL
    byte-for-byte as the narrow-map encoder — output equality is
    additionally pinned in tests/test_extension_semantics.py, so the
    two execution shapes provably agree row-for-row.

    Scale: this is the shape for SKEW-HEAVY corpora — the narrow map
    pays the merge scan per word OCCURRENCE (linear in corpus tokens;
    a 10^9-occurrence word is scanned 10^9 times), while this variant
    pays it per DISTINCT word (vocabulary-grain, sublinear in corpus
    above the vocabulary floor — Heaps' law) at the cost of two extra
    exchanges: the (doc_id, word) occurrence count and the word-keyed
    count join (the occurrence side arrives pre-aggregated, one row
    per (doc, word)). SCALING.md's BPE ladder shows exactly that
    crossover signature: the vocab arm's per-doubling step stays under
    the narrow map's once corpus growth outruns vocabulary growth."""
    _, tops = _bpe_train_state(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"),
    ).filter(F.col("w") != "")
    occ = words.groupBy("doc_id", "w").agg(F.count("*").alias("occ"))
    enc = words.select("w").distinct().select(
        "w",
        F.concat(F.lit("|"), F.regexp_replace("w", "(.)", r"$1|")).alias("s"),
    )
    for top1 in tops:
        enc = enc.crossJoin(F.broadcast(top1.select("l", "r"))).select(
            "w", F.expr(_SQL_BPE_APPLY).alias("s")
        )
    wlen = enc.select(
        "w",
        F.size(F.expr("filter(split(s, '\\\\|'), x -> x != '')")).alias(
            "n_syms"
        ),
    )
    return (
        occ.join(wlen, "w")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("occ") * F.col("n_syms"))
            .cast("bigint")
            .alias("n_bpe_tokens")
        )
    )


def _write_bpe_merges(
    spark: SparkSession, sf_dir: str, path: str, n: int = BPE_TRAIN_MERGES
) -> str:
    """Write the first ``n`` merge rules ITERATIVELY — one 1-row parquet
    append per training round — the incremental merge-table write a
    production-length run needs:
    the artifact on disk is always a valid (shorter) tokenizer, so an
    interrupted 10^4-merge training job resumes from its last appended
    round instead of losing the union-at-the-close. The prefix property
    (after k appends the artifact holds exactly training rounds 1..k)
    is pinned in tests/test_extension_semantics.py. At fixture merge
    counts each append is one tiny file; a production run would batch
    appends (every ~100 rounds) — the device, not the batch size, is
    what this materializes."""
    shutil.rmtree(path, ignore_errors=True)
    _, tops = _bpe_train_state(spark, sf_dir)
    for k, top1 in enumerate(tops[:n], start=1):
        top1.select(
            F.lit(k).cast("bigint").alias("merge_round"),
            "l",
            "r",
            F.col("c").cast("bigint").alias("pair_count"),
        ).coalesce(1).write.mode("append").parquet(path)
    return path


def bpe_merges_artifact(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> str:
    """Path of the persisted merge-table artifact — the TOKENIZER as a
    lake object, decoupled from the training session: consumers
    (:func:`text_bpe_encode_artifact`, a production loader) read N
    merge rows from parquet instead of holding N per-round frames on a
    live trainer's driver. A :func:`session_artifact`."""
    return session_artifact(
        spark,
        "quty_bpe_merges",
        sf_dir,
        lambda path: _write_bpe_merges(spark, sf_dir, path),
        rebuild,
    )


@registry.query("sink_bpe_merges_artifact", oracle=_bpe_train_oracle())
def sink_bpe_merges_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the trained tokenizer (forced rebuild — this IS the
    training run), then read it back: the returned merge table comes
    OFF DISK, and its oracle is :func:`text_bpe_train_n`'s training
    recursion byte-for-byte, so the green row proves the artifact
    holds exactly the ordered merge rules the in-session trainer
    derives — the contract :func:`text_bpe_encode_artifact` relies on.
    The 7th artifact family (after signature/minhash/IVF/passage/media/
    trainer-shards): the merge table is written incrementally per round
    (:func:`_write_bpe_merges`), not unioned from N driver frames at
    the close.

    Scale: training cost is the vocabulary-grain BSP loop
    (:func:`_bpe_train_state`); the artifact adds one 1-row append per
    round. The read-back scans N rows."""
    path = bpe_merges_artifact(spark, sf_dir, rebuild=True)
    return spark.read.parquet(path).select(
        "merge_round", "l", "r", "pair_count"
    )


# The whole trained tokenizer applied as ONE expression: an outer
# aggregate over the broadcast merges array `M` (training order), whose
# lambda applies _SQL_BPE_APPLY's exact greedy scan for that round's
# pair (m.l, m.r). Plan size is CONSTANT in the merge count — the
# production-vocabulary property the N-chained-crossJoin encoders lack
# (10^4 merges would mean 10^4 plan nodes there; here it is one
# expression plus one array broadcast).
_SQL_BPE_APPLY_ALL = """
    aggregate(
        M,
        s,
        (acc, m) -> CASE
            WHEN NOT contains(acc, concat('|', m.l, '|', m.r, '|'))
            THEN acc
            ELSE aggregate(
            filter(split(acc, '\\\\|'), t -> t != ''),
            '|',
            (a, x) -> CASE
                WHEN endswith(a, concat('|', m.l, '|')) AND x = m.r
                THEN concat(substring(a, 1, length(a) - length(m.l) - 1),
                            m.l, m.r, '|')
                ELSE concat(a, x, '|') END) END)
"""


@registry.query("text_bpe_encode_artifact", oracle=_bpe_encode_oracle())
def text_bpe_encode_artifact(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """Encode from the PERSISTED tokenizer — no in-session training
    anywhere in the plan: the merge table is read from
    :func:`bpe_merges_artifact`, folded distributed-side into one
    training-ordered ``array<struct<l,r>>`` row (array_sort on the
    (merge_round, l, r) struct — no driver collect), broadcast, and
    applied as a SINGLE nested higher-order expression
    (_SQL_BPE_APPLY_ALL): the outer aggregate iterates the merges, the
    inner aggregate is the same exact greedy left-to-right scan the
    trainer uses. Same per-doc count contract and byte-identical
    ``bpe_counts`` oracle as :func:`text_bpe_encode`; row equality to
    the in-session encoder is pinned in
    tests/test_extension_semantics.py.

    Scale: THIS is the shape a production-length vocabulary needs —
    plan size constant in N (one expression + one array broadcast,
    ~100 KB at 10^4 merges) where the chained narrow map grows one
    crossJoin per merge; per-token work is identical. Encoding runs in
    any later session from the artifact alone, the point of persisting
    a tokenizer. On skew-heavy corpora compose with
    :func:`text_bpe_encode_vocab`'s distinct-word device — encode the
    distinct words under this expression, then join counts back."""
    if path is None:
        path = bpe_merges_artifact(spark, sf_dir)
    merges = (
        spark.read.parquet(path)
        .select(F.struct("merge_round", "l", "r").alias("m"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(m)),"
                " x -> struct(x.l AS l, x.r AS r))"
            ).alias("M")
        )
    )
    d = load_table(spark, sf_dir, "documents")
    enc = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            F.concat(
                F.lit("|"), F.regexp_replace("w", "(.)", r"$1|")
            ).alias("s"),
        )
        .crossJoin(F.broadcast(merges))
        .select("doc_id", F.expr(_SQL_BPE_APPLY_ALL).alias("s"))
    )
    return (
        enc.select(
            "doc_id",
            F.size(
                F.expr("filter(split(s, '\\\\|'), x -> x != '')")
            ).alias("k"),
        )
        .groupBy("doc_id")
        .agg(F.sum("k").cast("bigint").alias("n_bpe_tokens"))
    )


@registry.query(
    "text_lexicon_sentiment",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '),
                               x -> x IN ('fast', 'big'))) AS pos_hits,
               len(list_filter(string_split(text, ' '),
                               x -> x IN ('slow', 'small', 'dup'))) AS neg_hits,
               len(string_split(text, ' ')) AS n_tok
        FROM documents)
    SELECT doc_id, CAST(pos_hits AS BIGINT) AS pos_hits,
           CAST(neg_hits AS BIGINT) AS neg_hits,
           CAST(pos_hits * 1000000 // n_tok
                - neg_hits * 1000000 // n_tok AS BIGINT) AS polarity_ppm
    FROM scored
    """,
)
def text_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment/polarity scoring — the classic
    dictionary-counting text op (quality gates often use the same shape
    for toxicity/keyword lexicons). Positive and negative hit counts
    come from higher-order `filter` lambdas over the token array —
    entirely narrow, ZERO shuffles, evaluated inside the parquet scan's
    codegen stage; at 100 TB this is a pure map over the corpus.
    Polarity is integer ppm of tokens; each division is non-negative
    before the subtraction so Spark's truncating `div` and DuckDB's
    flooring `//` agree (negative-numerator floor-vs-trunc is a real
    cross-engine divergence this phrasing sidesteps)."""
    d = load_table(spark, sf_dir, "documents")
    pos = F.size(F.expr("filter(split(text, ' '), x -> x IN ('fast', 'big'))"))
    neg = F.size(
        F.expr("filter(split(text, ' '), x -> x IN ('slow', 'small', 'dup'))")
    )
    ppm = (
        "cast(size(filter(split(text, ' '), x -> x IN ('fast', 'big'))) "
        "     AS BIGINT) * 1000000 div size(split(text, ' ')) "
        "- cast(size(filter(split(text, ' '), "
        "             x -> x IN ('slow', 'small', 'dup'))) AS BIGINT) "
        "  * 1000000 div size(split(text, ' '))"
    )
    return d.select(
        "doc_id",
        pos.cast("bigint").alias("pos_hits"),
        neg.cast("bigint").alias("neg_hits"),
        F.expr(ppm).cast("bigint").alias("polarity_ppm"),
    )


def _lang_id_eval_oracle() -> str:
    # The classifier's own oracle SQL as a CTE: the eval can never
    # disagree with the classifier about what was guessed.
    guessed = registry.oracles["text_lang_id"]
    return f"""
    WITH preds AS ({guessed})
    SELECT labeled_lang, guessed_lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER (
               PARTITION BY labeled_lang) AS BIGINT) AS share_ppm
    FROM preds
    GROUP BY labeled_lang, guessed_lang
    """


@registry.query("text_lang_id_eval", oracle=_lang_id_eval_oracle())
def text_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval harness for the engine's own language-ID heuristic — a
    confusion matrix against the corpus's ground-truth labels: per
    (labeled, guessed) cell, the doc count and its integer-ppm share of
    the labeled class (the diagonal cells' shares are per-class recall).
    The oracle embeds text_lang_id's own SQL as a CTE, so the eval and
    the classifier can never drift. On this fixture the matrix honestly
    reports that the stopword heuristic disagrees with the random lang
    tags on English-ish text — which is the point: a production corpus
    swap makes this the regression gate for the classifier's quality,
    with zero new machinery.

    Scale: the classifier is a narrow scan-side battery; the matrix is
    one map-side-combined aggregation at |langs|² grain plus a window
    over the tiny matrix itself — corpus size only moves the scan."""
    preds = text_lang_id(spark, sf_dir)
    w = Window.partitionBy("labeled_lang")
    return (
        preds.groupBy("labeled_lang", "guessed_lang")
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "share_ppm",
            F.expr(
                "CAST(n_docs * 1000000 div sum(n_docs) OVER ("
                "PARTITION BY labeled_lang) AS BIGINT)"
            ),
        )
    )


# Frozen integer weights for the linear quality scorer — the
# fasttext-style "quality classifier" stage of a pretraining pipeline,
# reduced to its plan shape: engineered integer features, a frozen dot
# product, a threshold. Real deployments swap the weights; the plan is
# identical.
QUALITY_W_TOKENS = 3        # more tokens -> better, saturates via cap
QUALITY_W_DISTINCT = 2      # distinct-token ratio (ppm / 1000)
QUALITY_W_STOPWORD = 1      # en-stopword density (ppm / 1000)
QUALITY_W_WLEN = -40        # penalize very long average word length
QUALITY_THRESHOLD = 2600


@registry.query(
    "text_linear_quality_classifier",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               LEAST(len(string_split(text, ' ')), 256) AS n_tok,
               len(string_split(text, ' ')) AS raw_tok,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               {_lang_hits_expr_sql('en')} AS stop_hits,
               length(replace(text, ' ', '')) AS n_letters
        FROM documents),
    scored AS (
        SELECT doc_id,
               CAST({QUALITY_W_TOKENS} * n_tok
                  + {QUALITY_W_DISTINCT} * (n_distinct * 1000 // raw_tok)
                  + {QUALITY_W_STOPWORD} * (stop_hits * 1000 // raw_tok)
                  + {QUALITY_W_WLEN} * (n_letters * 10 // raw_tok)
                 AS BIGINT) AS score
        FROM feats)
    SELECT doc_id, score, score >= {QUALITY_THRESHOLD} AS keep
    FROM scored
    """,
)
def text_linear_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear quality scoring — the classifier-filter stage (the
    fasttext-style device of CCNet/Gopher-class pipelines) in its
    Spark-native shape: four engineered integer features per document
    (capped token count, distinct-token ratio, English-stopword
    density, average word length in tenths), a FROZEN integer weight
    vector, one threshold. Everything is integer floor arithmetic, so
    the score is bit-identical across engines with no rounding
    contract; swapping trained weights (or widening to hundreds of
    hashed n-gram features via a map literal) changes constants, not
    the plan.

    Scale: a pure narrow map — zero exchanges, whole-stage codegen'd
    scan-side expressions; the corpus never shuffles. The keep flag
    composes with doc_quality_gate's rule battery as two independent
    gates a snapshot intersects."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    raw_tok = F.size(toks)
    feats = d.select(
        "doc_id",
        F.least(raw_tok, F.lit(256)).alias("n_tok"),
        raw_tok.alias("raw_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(
            F.filter(
                toks,
                lambda t: F.array_contains(
                    F.array(*[F.lit(w) for w in STOPWORDS["en"]]), t
                ),
            )
        ).alias("stop_hits"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_letters"
        ),
    )
    score = (
        QUALITY_W_TOKENS * F.col("n_tok")
        + QUALITY_W_DISTINCT
        * F.expr("n_distinct * 1000 div raw_tok")
        + QUALITY_W_STOPWORD * F.expr("stop_hits * 1000 div raw_tok")
        + QUALITY_W_WLEN * F.expr("n_letters * 10 div raw_tok")
    ).cast("bigint")
    return feats.select(
        "doc_id",
        score.alias("score"),
        (score >= QUALITY_THRESHOLD).alias("keep"),
    )
