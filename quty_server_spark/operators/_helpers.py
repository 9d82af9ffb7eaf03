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

from quty_server_spark.plans.registry import registry
from quty_server_spark.session import session_artifact
from quty_server_spark.sources.tables import load_table  # noqa: F401  (re-export)

DEC = "decimal(38,6)"


def spread_probe(spark: SparkSession, df: DataFrame, *cols: str) -> DataFrame:
    """Fan a small probe-side plan out to the core count (guide
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

    Each family (an :class:`ArtifactFamily`) has a write-once build, an
    append twin and a retraction, and all of them share one rows
    function that takes the id predicate that selects the rows. The
    append twin writes yesterday's rows (lake minus the admitted
    batch), then appends the batch's rows computed from the batch
    alone; because base ∪ batch is the lake exactly, the append sink
    reports under the write-once sink's oracle SQL byte-for-byte, so a
    green row proves append ≡ rebuild. The retraction sinks reuse that
    oracle scoped to the survivors."""

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


# Fixture convention of the append exercise: yesterday's admitted batch
# is id % 10 == APPEND_BATCH_MOD, inside the standing lake and disjoint
# from tonight's shard (id % 10 == 0).
APPEND_BATCH_MOD = 5


def sql_where(*preds: str) -> str:
    """A DuckDB ``WHERE`` clause ANDing the non-empty ``preds`` ('' when
    none is)."""
    preds = tuple(p for p in preds if p)
    return f"WHERE {' AND '.join(preds)}" if preds else ""


class ArtifactFamily(NamedTuple):
    """One standing artifact family, declared once next to its rows
    function: the write-once build, the append twin and both oracle
    sinks all derive from it.

    ``rows(spark, sf_dir, keep)`` builds the rows of the ids ``keep``
    selects; ``summary(frame)`` is the sinks' per-partition summary of
    a read-back, and ``summary_sql(pred)`` its DuckDB twin over the
    lake ids that also pass the SQL predicate ``pred`` ('' for the
    whole lake)."""

    kind: str
    layout: Layout
    rows: Callable[[SparkSession, str, Column], DataFrame]
    summary: Callable[[DataFrame], DataFrame]
    summary_sql: Callable[[str], str]
    # Tonight's shard residue, which the lake leaves out; None when the
    # lake is every id.
    shard_mod: int | None = 0
    # The rows of lake-sized writes, where they differ from ``rows``.
    lake_rows: (
        Callable[[SparkSession, str, Column], DataFrame] | None
    ) = None
    # (rows, path, mode) -> None, where a write does more than
    # ``layout.write``.
    write: Callable[[DataFrame, str, str], None] | None = None

    def lake(self) -> Column:
        """The standing lake's ids."""
        if self.shard_mod is None:
            return F.lit(True)
        return F.col(self.layout.id_col) % 10 != self.shard_mod

    def admitted(self) -> Column:
        """Yesterday's admitted batch."""
        return F.col(self.layout.id_col) % 10 == APPEND_BATCH_MOD

    def build(
        self, spark: SparkSession, sf_dir: str, rebuild: bool = False
    ) -> str:
        """Path of the write-once build: the lake's rows."""
        return self._artifact(spark, sf_dir, self.kind, self.lake(), rebuild)

    def appended(
        self, spark: SparkSession, sf_dir: str, rebuild: bool = False
    ) -> str:
        """Path of the append twin: yesterday's rows (lake minus the
        admitted batch), then the batch's rows, computed from the batch
        alone, appended."""
        return self._artifact(
            spark, sf_dir, f"{self.kind}_app",
            self.lake() & ~self.admitted(), rebuild, self.admitted(),
        )

    def _artifact(
        self, spark: SparkSession, sf_dir: str, kind: str, base: Column,
        rebuild: bool, batch: Column | None = None,
    ) -> str:
        """A :func:`~quty_server_spark.session.session_artifact` holding
        the ``base`` ids' rows, plus the ``batch`` ids' rows appended."""
        put = self.write or self.layout.write
        lake_rows = self.lake_rows or self.rows

        def _write(path: str) -> None:
            put(lake_rows(spark, sf_dir, base), path, "errorifexists")
            if batch is not None:
                put(self.rows(spark, sf_dir, batch), path, "append")

        return session_artifact(spark, kind, sf_dir, _write, rebuild)


def register_artifact_sinks(name: str, family: ArtifactFamily) -> None:
    """Register the family's two oracle sinks: ``name`` summarizes a
    forced write-once build and ``name_append`` a forced append twin,
    both under the write-once oracle (the contract on :class:`Layout`)."""
    oracle = family.summary_sql("")
    for suffix, make in (("", family.build), ("_append", family.appended)):
        registry.register(
            name + suffix,
            lambda spark, sf_dir, make=make: family.summary(
                spark.read.parquet(make(spark, sf_dir, rebuild=True))
            ),
            oracle,
        )
