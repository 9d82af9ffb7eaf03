"""Batch sources: canonical parquet tables.

The driver's fixture set (TESTDATA.md) is a TPC-H-ish star schema plus an
``events`` message stream, a ``documents`` corpus and an ``embeddings``
vector table. These loaders are the single place where schema quirks are
normalized so every downstream operator sees clean types:

- ``events.ts`` is parquet TIMESTAMP(NANOS); with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it scans as int64 ns and is
  converted here to a microsecond timestamp (truncation, matching DuckDB's
  ``ts::TIMESTAMP`` cast of a TIMESTAMP_NS value).
- naive (isAdjustedToUTC=false) parquet timestamps: ``configure()`` disables
  ``spark.sql.parquet.inferTimestampNTZ.enabled`` so they scan directly as
  session-tz TIMESTAMP (UTC-pinned — wall-clock values bit-exact with the
  oracle's naive reading) with NO cast above the scan, keeping ts/date
  filters pushed down to parquet. The NTZ→TIMESTAMP cast below is a
  defensive fallback for sessions where that conf could not be applied.

Scale note: loads are plain ``spark.read.parquet`` so Catalyst keeps
predicate pushdown / column pruning / partition pruning; do NOT cache or
materialize here — the 100 TB design point relies on scans staying lazy and
pruned per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quty_server_spark.session import configure

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Footer-inferred schema per parquet path. A bare spark.read.parquet
# fires a (small) schema-inference Spark job on EVERY DataFrame
# construction; with the schema supplied the read is pure plan
# building — zero jobs (pinned for route_fanout in
# tests/test_pubsub_semantics.py). Keyed by (path, mtime): the mtime
# tag invalidates the entry if a path is ever REWRITTEN with a
# different schema (a bare-path key would silently serve the
# stale schema, reading nulls/mis-typed columns), while costing one
# os.stat per construction — still zero Spark jobs. Bounded FIFO so
# tmp-dir corpora churned across a long test session cannot grow the
# dict without limit. Schemas are session-independent plain StructTypes.
_SCHEMA_CACHE: dict = {}
_SCHEMA_CACHE_MAX = 256


def _path_mtime(path: str) -> int | None:
    import os

    try:
        # For a directory the mtime changes when files are added or
        # removed (the Spark rewrite patterns: overwrite, append) —
        # exactly the invalidation signal needed; for a single file it
        # changes on rewrite. Nanosecond precision so two rewrites in
        # the same second still produce distinct keys.
        # Known limits, documented not defended: in-place content
        # mutation without a metadata change, and rewrites confined to
        # key=value/ SUBdirectories of a partitioned layout (top-level
        # mtime unchanged), are not Spark write patterns for these
        # single-directory fixture tables; a catalog with real table
        # versions is the production answer.
        return os.stat(path).st_mtime_ns
    except OSError:
        return None  # non-local path: cache under a constant tag


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one canonical table, normalizing schema quirks."""
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (path, _path_mtime(path))
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # int64 nanoseconds -> microsecond timestamp. Integer division (DIV)
        # is mandatory: float division would round the ~1.7e18 ns epoch value
        # past double precision before truncating.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        # Session tz is UTC, so this cast keeps wall-clock values bit-exact
        # with the DuckDB oracle's naive reading of the same parquet.
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every canonical table as a temp view (for spark.sql use)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)
