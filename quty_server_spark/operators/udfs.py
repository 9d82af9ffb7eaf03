"""Pandas-UDF operator surface (SURVEY.md §2.C last row).

The engine's extension points, one query per UDF flavor:

- grouped-map ``applyInPandas``: per-group normalization (z-score within
  label) — the shape used for per-entity model scoring at 100 TB: one
  shuffle by the group key, then embarrassingly parallel Arrow batches;
- grouped-agg ``pandas_udf``: a custom aggregate (value-weighted mean)
  that Spark's builtins don't provide directly;
- scalar ``pandas_udf`` lives in operators/auth.py (HMAC verification);
  ``mapInPandas`` in operators/multimodal.py; ``applyInPandasWithState``
  in streaming/ops.py.

Every UDF here is Arrow-batched (vectorized numpy inside), never
row-at-a-time Python. Oracles replicate the math in SQL, which keeps the
UDFs honest: same groups, same values, bit-stable output (rounded to a
fixed scale on both sides where float order could differ).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from quty_server_spark.operators._helpers import load_table
from quty_server_spark.plans.registry import registry


def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-label z-score of the document length (population stddev).
    Rounded to 6 decimals so Spark's and DuckDB's float reduction order
    cannot produce differing last bits."""
    mu = pdf["n_chars"].mean()
    sd = pdf["n_chars"].std(ddof=0)
    z = (pdf["n_chars"] - mu) / sd if sd > 0 else pdf["n_chars"] * 0.0
    return pd.DataFrame(
        {
            "lang": pdf["lang"],
            "doc_id": pdf["doc_id"],
            "n_chars": pdf["n_chars"],
            "z_len": z.round(6),
        }
    )


@registry.query(
    "udf_grouped_zscore",
    oracle="""
    SELECT lang, doc_id, n_chars,
           ROUND(CASE WHEN stddev_pop(n_chars) OVER (PARTITION BY lang) > 0
                 THEN (n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                      / stddev_pop(n_chars) OVER (PARTITION BY lang)
                 ELSE 0.0 END, 6) AS z_len
    FROM documents
    """,
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: z-score document length within each
    language group. One shuffle on the group key; each group is a single
    Arrow batch processed vectorized."""
    d = load_table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return d.groupBy("lang").applyInPandas(
        _zscore, schema="lang string, doc_id long, n_chars long, z_len double"
    )


@registry.query(
    "udf_grouped_agg_wmean",
    oracle="""
    SELECT event_type,
           ROUND(SUM(value * user_id) / SUM(user_id), 6) AS weighted_mean
    FROM events
    WHERE user_id > 0
    GROUP BY event_type
    """,
)
def udf_grouped_agg_wmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas_udf: user-weighted mean of event value — a
    custom aggregate with partial-aggregation-free semantics (the whole
    group's arrays arrive in one Arrow batch). Rounded on both engines."""

    @pandas_udf("double")
    def wmean(v: pd.Series, w: pd.Series) -> float:
        return round(float((v * w).sum() / w.sum()), 6)

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") > 0)
    return ev.groupBy("event_type").agg(
        wmean("value", "user_id").alias("weighted_mean")
    )


@registry.query(
    "udf_iter_model_score",
    oracle="""
    SELECT vec_id, label,
           CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
               * (((i - 1) * 2654435761) % 1000)) AS BIGINT) AS score
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    GROUP BY vec_id, label
    """,
)
def udf_iter_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-series pandas UDF: the model-inference shape — an
    expensive artifact (here a deterministic weight vector standing in
    for a loaded model) is initialized ONCE per partition, then reused
    across every Arrow batch the iterator yields. At 100 TB this
    amortization is the difference between loading a model per batch and
    per executor-core.

    Numerics are integer-exact end to end: components quantize to milli
    units (float->double exact, floor exact), weights are integers, the
    dot product is an int64 sum — so the vectorized numpy matmul matches
    DuckDB's index-ordered SUM bit-for-bit, with no float-order hazard.
    """

    @pandas_udf("long")
    def model_score(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # once-per-partition init (the "model load"); width comes from
        # the first batch so the weights track the embedding dimension
        w = None
        for s in it:
            m = np.stack(s.to_numpy())
            if w is None:
                w = np.array(
                    [(i * 2654435761) % 1000 for i in range(m.shape[1])],
                    dtype=np.int64,
                )
            q = np.floor(m.astype(np.float64) * 1000).astype(np.int64)
            yield pd.Series(q @ w)

    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", model_score("embedding").alias("score")
    )


# Cogroup bucket count for the as-of UDF: enough groups that one hot
# bucket cannot straggle a task (256 over 32 local cores; the 20-100x
# headroom rule of guide §2.5), few enough that per-group pandas
# overhead is negligible.
ASOF_BUCKETS = 256


def _asof_pair(clicks: pd.DataFrame, purchases: pd.DataFrame) -> pd.DataFrame:
    """Bucket-level as-of: each purchase matched to ITS USER's latest
    click at or before it (pandas merge_asof, backward, ``by=user_id``).

    Amortise per-task work: the cogroup key is a hash
    BUCKET of users, not the user itself — cogrouped applyInPandas pays
    Arrow-slice + pandas-construction overhead PER GROUP, and ~50k
    single-user groups cost ~11 s at sf0.1 while the actual asof work is
    milliseconds. With ASOF_BUCKETS groups the per-group overhead is
    amortized and merge_asof's ``by`` column applies the identical
    per-user matching inside one vectorized call. Per-user semantics,
    tiebreak included, are unchanged (oracle-pinned)."""
    if clicks.empty or purchases.empty:
        return pd.DataFrame(
            columns=["user_id", "purchase_id", "click_id", "gap_s"]
        )
    # sort by (ts, event_id) HERE, not just ts: pandas' default quicksort
    # is unstable, so a ts-only re-sort could permute equal-ts rows and
    # break the highest-event_id tiebreak merge_asof relies on (within a
    # user, equal-ts clicks end in event_id order, and backward-asof
    # takes the LAST in-order row of the by-group — the max event_id)
    c = clicks.sort_values(["ts", "event_id"]).assign(
        click_ts=lambda d: d["ts"]
    )
    p = purchases.sort_values(["ts", "event_id"])
    m = pd.merge_asof(
        p, c[["user_id", "ts", "event_id", "click_ts"]], on="ts",
        by="user_id", direction="backward", suffixes=("", "_c"),
    )
    m = m[m["event_id_c"].notna()]
    return pd.DataFrame(
        {
            "user_id": m["user_id"].astype("int64"),
            "purchase_id": m["event_id"].astype("int64"),
            "click_id": m["event_id_c"].astype("int64"),
            # second-boundary crossings (truncate each side first), matching
            # DuckDB date_diff('second', ...) — floor(delta) would be one
            # low whenever the fractional parts straddle a boundary
            "gap_s": (
                (m["ts"].dt.floor("s") - m["click_ts"].dt.floor("s"))
                .dt.total_seconds()
                .astype("int64")
            ),
        }
    )


@registry.query(
    "udf_cogrouped_asof",
    oracle="""
    WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase'),
    ranked AS (
        SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
               CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_s,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
    )
    SELECT user_id, purchase_id, click_id, gap_s FROM ranked WHERE rn = 1
    """,
)
def udf_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the remaining pandas-UDF flavor: clicks
    and purchases cogrouped per user, matched with merge_asof (latest
    click at or before each purchase) inside one Arrow batch pair.

    One shuffle per side on the cogroup key, then embarrassingly parallel
    per-user pandas — the shape for per-entity alignment logic too
    fiddly for joins (here it IS join-expressible, which is exactly what
    lets the SQL oracle keep the UDF honest). The builtin-join as-of lives
    in relational.py (join_asof); this is the extension-point twin.

    Tiebreak note: merge_asof picks the LAST row among equal timestamps
    in the sorted clicks frame; _asof_pair sorts by (ts, event_id), so
    that is the highest event_id — mirrored by the oracle's ORDER BY
    c.ts DESC, c.event_id DESC.
    """
    ev = load_table(spark, sf_dir, "events")
    # Cogroup on a deterministic hash bucket of the user (synthetic
    # keys are derived deterministically), not the raw user
    # id — see _asof_pair's bucket note. Same shuffle (one exchange per
    # side, now on the bucket), ~ASOF_BUCKETS pandas invocations
    # instead of one per user. Measured 11.1 s → 1.3 s at sf0.1.
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(ASOF_BUCKETS))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", bucket.alias("b")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", bucket.alias("b")
    )
    return (
        clicks.groupBy("b")
        .cogroup(purchases.groupBy("b"))
        .applyInPandas(
            _asof_pair,
            schema="user_id long, purchase_id long, click_id long, gap_s long",
        )
    )


def _arrow_vec_stats(batches):
    """mapInArrow worker: per-vector integer stats straight off the Arrow
    buffers — quantize each component to int milli-units (floor(x*1000),
    matching embed_quantize_int8's device) and emit the sum of squares
    plus the argmax dimension. Integer math end-to-end, so no float
    reduction-order slack against the SQL oracle."""
    import pyarrow as pa

    for batch in batches:
        tbl = pa.table(batch)
        vec_ids = tbl.column("vec_id").to_pylist()
        out_ids, out_sq, out_dim = [], [], []
        for vid, vec in zip(vec_ids, tbl.column("embedding").to_pylist()):
            q = [int(np.floor(x * 1000)) for x in vec]
            out_ids.append(vid)
            out_sq.append(sum(v * v for v in q))
            out_dim.append(max(range(len(q)), key=lambda i: (q[i], -i)) + 1)
        yield pa.record_batch(
            [
                pa.array(out_ids, pa.int64()),
                pa.array(out_sq, pa.int64()),
                pa.array(out_dim, pa.int32()),
            ],
            names=["vec_id", "sq_norm_milli", "argmax_dim"],
        )


@registry.query(
    "udf_map_in_arrow",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               [CAST(floor(x * 1000) AS BIGINT) FOR x IN embedding] AS qv
        FROM embeddings)
    SELECT vec_id,
           CAST(list_sum([v * v FOR v IN qv]) AS BIGINT) AS sq_norm_milli,
           CAST(list_position(qv, list_max(qv)) AS INT) AS argmax_dim
    FROM q
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the rawest Python extension point — the worker
    receives Arrow RecordBatches directly (no pandas conversion layer),
    the shape for zero-copy handoff to native kernels (tokenizers,
    image codecs, vector engines). Computes per-embedding integer
    milli-quantized squared norms and the argmax dimension (first-wins
    on ties, matching list_position's first-match). Arrow batches
    stream per partition — no shuffle, no collect; the batch iterator
    keeps memory at batch granularity at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInArrow(
        _arrow_vec_stats, "vec_id long, sq_norm_milli long, argmax_dim int"
    )
