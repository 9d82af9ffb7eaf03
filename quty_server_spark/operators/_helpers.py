"""Shared helpers for oracle-exact aggregation and table access.

The determinism strategy (see plans/registry.py docstring): double-typed
measures are summed as DECIMAL(38,6) — decimal addition is exact and
associative, so Spark's partition-parallel partial aggregation and DuckDB's
single-node aggregation produce bit-identical results; the final cast back
to double is a single deterministic rounding. This also holds at 100 TB:
decimal sums are Tungsten-native (no UDF), and partial aggregation
(map-side combine) still applies.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable
from typing import Any, NamedTuple

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quty_server_spark.sources.tables import load_table  # noqa: F401  (re-export)

DEC = "decimal(38,6)"


def spread_probe(spark: SparkSession, df: DataFrame, *cols: str) -> DataFrame:
    """Fan a small probe-side plan out to the core count (r17, guide
    §2.5/§2.6): the fixture parquet files are ONE row group each, so
    their scan is a single partition and everything below the query's
    first exchange runs on one core. For plans whose downstream per-row
    work dwarfs the scan decode — candidate-pair cosine scoring, the
    10M-row fan-out join — a deterministic hash repartition on ``cols``
    (thousands of distinct values over ``defaultParallelism`` partitions,
    the 20-100x headroom rule) parallelizes that work. Scale-safe by the
    gate, not by luck: when the scan already has >= core-count partitions
    (any production-sized input) this is a NO-OP — no exchange is added,
    so the at-scale plan is untouched and payloads are never re-shuffled.

    Deliberately NOT applied wholesale (e.g. in load_table): an
    interleaved A/B measured the blanket form REGRESSING every query
    whose per-row work is comparable to the parquet decode (the decode
    stays serial either way, and the extra exchange + 32-task stage
    costs more than it buys — events_time_rollup 2.0x, text_pmi 1.8x).
    Apply it only where measurement shows the downstream work dominates.
    The partition-count probe is pure physical planning — no Spark job
    (the zero-jobs construction pins in tests stay green)."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *[F.col(c) for c in cols])


def dsum(col: str | Column) -> Column:
    """Exact-decimal sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: str | Column) -> Column:
    """Deterministic average: exact decimal sum / count, divided in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def osum(expr: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def oavg(expr: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) / COUNT({expr}))"


# Sidecars: small tables stored under an underscore-prefixed directory
# inside an artifact root, which parquet readers of the root skip (the
# _SUCCESS / _metadata convention). Read and written only through
# read_sidecar / write_sidecar.
TOMBSTONES = "_tombstones"  # retracted ids not yet compacted away
LABEL_HOMES = "_label_homes"  # label -> home buckets holding its rows
CENTROIDS = "_centroids"  # the IVF coarse quantizer


def read_sidecar(spark: SparkSession, path: str, name: str) -> DataFrame:
    """The ``name`` sidecar of the artifact at ``path``. Read as an
    explicit list of its part files: a directory or glob read of an
    underscore-prefixed path logs a false "All paths were ignored"
    warning although it reads the rows."""
    d = os.path.join(path, name)
    return spark.read.parquet(
        *sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    )


def write_sidecar(df: DataFrame, path: str, name: str) -> None:
    """Write ``df`` whole as the ``name`` sidecar of the artifact at
    ``path``, replacing any earlier one. ``df`` must not read the
    sidecar it replaces (checkpoint it first)."""
    df.write.mode("overwrite").parquet(os.path.join(path, name))


def overlap(*legs: Callable[[], Any]) -> list[Any]:
    """Run independent legs concurrently and return their results in leg
    order. ``legs[0]`` runs on the calling thread, every other leg on a
    :class:`pyspark.InheritableThread`, so the caller's job group and
    local properties reach the jobs a leg submits. Every leg is joined
    before this returns or raises. If any leg fails, the first failure
    in leg order is raised, with the later ones attached as notes."""
    results: list[Any] = [None] * len(legs)
    errors: list[BaseException | None] = [None] * len(legs)

    def run(i: int) -> None:
        try:
            results[i] = legs[i]()
        except BaseException as e:  # re-raised below, after every join
            errors[i] = e

    threads = [
        InheritableThread(run, args=(i,)) for i in range(1, len(legs))
    ]
    for t in threads:
        t.start()
    run(0)
    for t in threads:
        t.join()
    failed = [e for e in errors if e is not None]
    if failed:
        for other in failed[1:]:
            failed[0].add_note(f"concurrent leg also failed: {other!r}")
        raise failed[0]
    return results


class Layout(NamedTuple):
    """The on-disk layout of a standing, partitioned parquet artifact:
    one directory per ``part`` value, files sorted by ``sort_key``
    within each directory (row-group min/max stats then answer point
    probes), rows identified by ``id_col`` (what a retraction or a
    tombstone removes). Every write, append, rewrite and retraction of
    a standing artifact goes through one of these, so each artifact
    states its layout once.

    Each family has a write-once build, an append twin and a retraction,
    and all of them share one rows function that takes the id predicate
    that selects the rows. The append twin writes yesterday's rows
    (lake minus the admitted batch), then appends the batch's rows
    computed from the batch alone; because base ∪ batch is the lake
    exactly, the append sink reports under the write-once sink's oracle
    SQL byte-for-byte, so a green row proves append ≡ rebuild. The
    retraction sinks reuse that oracle scoped to the survivors."""

    part: str
    id_col: str
    sort_key: str

    def _sorted(self, rows: DataFrame) -> DataFrame:
        return rows.sortWithinPartitions(self.part, self.sort_key)

    def write(
        self, rows: DataFrame, path: str, mode: str = "errorifexists"
    ) -> None:
        """The sorted, partitioned parquet write; ``mode`` is passed
        through (``append`` adds files to the partitions the rows
        belong to and never rewrites an existing file)."""
        self._sorted(rows).write.partitionBy(self.part).mode(mode).parquet(
            path
        )

    def replace(
        self, rows: DataFrame, path: str,
        affected: DataFrame | Iterable | None = None,
    ) -> None:
        """Overwrite in place exactly the partitions ``rows`` populate
        (dynamic partition overwrite: every other directory keeps its
        files). A dynamic overwrite cannot delete a partition absent
        from its input, so each ``affected`` partition value (a list,
        or a one-column frame of them) that ``rows`` no longer
        populates is removed explicitly — a driver loop over distinct
        partition values, bounded by the artifact's partition count,
        never by rows."""
        (
            self._sorted(rows)
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.part)
            .mode("overwrite")
            .parquet(path)
        )
        if affected is None:
            return
        kept = {r[0] for r in rows.select(self.part).distinct().collect()}
        if isinstance(affected, DataFrame):
            affected = [r[0] for r in affected.collect()]
        for v in affected:
            if v not in kept:
                shutil.rmtree(
                    os.path.join(path, f"{self.part}={v}"), ignore_errors=True
                )
