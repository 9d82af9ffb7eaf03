"""SparkSession factory + per-session tuning.

Two entry points:

- :func:`get_spark` builds a session for local runs (tests, bench).
- :func:`configure` applies runtime-settable confs to an EXISTING session
  (the correctness driver owns its own SparkSession and hands it to us, so
  anything we rely on at query time must be runtime-settable).

Scale stance (100 TB design point): every conf here is either a no-op or a
win on a real cluster — AQE handles skew/coalescing at runtime, Arrow keeps
the unavoidable pandas-UDF paths vectorized, and the two parquet-timestamp
confs pin how fixture timestamps scan (naive micros → session-tz TIMESTAMP
with pushdown intact; legacy NANOS → int64 fallback path in load_table).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import SparkSession

# Confs that are runtime-settable and required/valuable regardless of who
# built the SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # Defensive: older fixtures stored events.ts as TIMESTAMP(NANOS),
    # scanned as long (ns) and converted in load_table. The current
    # fixtures are timestamp[us], but the conf is kept so a regeneration
    # back to nanos degrades to the handled int64 path instead of erroring.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-vectorized pandas UDF / toPandas transfer.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Session timezone pinned so epoch<->timestamp conversions are stable
    # and match the DuckDB oracle (naive timestamps).
    "spark.sql.session.timeZone": "UTC",
    # The fixtures store naive parquet timestamps (isAdjustedToUTC=false).
    # Scanning them as TIMESTAMP_NTZ would force a cast-projection above
    # every scan (blocking parquet predicate pushdown on ts/date filters);
    # with inference off they scan directly as session-tz TIMESTAMP, which
    # under the UTC pin is bit-identical to the oracle's naive reading —
    # filters stay pushed, plans stay cast-free.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark 4.1 Python data source filter pushdown: required for any
    # reader implementing pushFilters (sources/synth_source.py) — a
    # pushFilters reader ERRORS with the conf off rather than silently
    # skipping pushdown.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static on some builds; never fail configuration.
            pass
    return spark


def get_spark(
    app_name: str = "quty-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster leave it unset and let AQE coalesce from a higher initial value.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Long multi-query sessions (bench, gates) accumulate
        # dropped localCheckpoint blocks and broadcasts whose JVM-side
        # cleanup waits on a driver GC cycle; the ContextCleaner's
        # periodic System.gc() defaults to 30min — far longer than a
        # whole bench run — so block-manager state grows monotonically
        # and late queries run against a pressured heap (measured
        # run-to-run drift at sf0.1, see OPTIMIZATION_r17.md). 2min
        # bounds the garbage window; on a real cluster the same setting
        # is the standard hygiene for long-lived drivers.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


# Every scratch directory of this process lives under one root per
# application, $TMPDIR/quty/<application id>/: removed at interpreter
# exit, with a sweep of stale sibling roots when it is first handed out.
_SCRATCH_TOP = "quty"
_APP_ROOTS: set[str] = set()
# Crash-leftover window. Deliberately LONG (7 days, not hours): a
# sibling application root belongs to another PROCESS whose liveness
# this one cannot check, and artifact paths are memoized per session
# without existence re-checks, so deleting a live session's root breaks
# its readers mid-run rather than forcing a rebuild. Normal exits are
# reclaimed by atexit; this sweep only exists for crashed/killed runs,
# and a 7-day-old live local[] session is implausible.
_STALE_SIBLING_SECONDS = 7 * 24 * 3600


def _cleanup_app_roots() -> None:
    for d in _APP_ROOTS:
        shutil.rmtree(d, ignore_errors=True)


def _prune_stale_siblings(top: str, own_root: str) -> None:
    """Delete sibling application roots under ``top`` whose mtime is
    older than _STALE_SIBLING_SECONDS. Never touches ``own_root``."""
    import time

    try:
        entries = os.listdir(top)
    except OSError:
        return
    now = time.time()
    for e in entries:
        p = os.path.join(top, e)
        if p == own_root:
            continue
        try:
            if now - os.stat(p).st_mtime > _STALE_SIBLING_SECONDS:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def _app_root(spark: SparkSession) -> str:
    """This application's scratch root, ``$TMPDIR/quty/<application id>``.

    The first call registers the root for atexit removal and sweeps
    stale siblings. Later calls touch the root: writes land in nested
    directories and never refresh its own mtime, so without this
    heartbeat a live week-old session would look stale to a newer
    sibling's sweep."""
    import atexit

    top = os.path.join(tempfile.gettempdir(), _SCRATCH_TOP)
    root = os.path.join(top, spark.sparkContext.applicationId)
    if root not in _APP_ROOTS:
        if not _APP_ROOTS:
            atexit.register(_cleanup_app_roots)
        _APP_ROOTS.add(root)
        _prune_stale_siblings(top, root)
    else:
        try:
            os.utime(root)
        except OSError:
            pass
    return root


def session_tmp_dir(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """Path of the session-scoped scratch directory for ``kind`` over
    ``sf_dir``: ``$TMPDIR/quty/<spark application id>/<kind>/<sf
    basename>``. Only the path: nothing is created or removed (queries
    that write there start from :func:`fresh_tmp_dir`).

    The application id isolates concurrent sessions (e.g. a bench loop
    and an oracle gate on the same sf_dir): a second process's rebuild
    never deletes files under the first one's readers. The path is NOT
    unique per session object: every ``spark.newSession()`` shares its
    parent's application id, so a second call in the same application
    rewrites the same directory in place."""
    return os.path.join(
        _app_root(spark), kind, os.path.basename(sf_dir.rstrip("/"))
    )


def fresh_tmp_dir(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """:func:`session_tmp_dir`'s path with whatever it held removed, so
    an errorifexists write or a ``copytree`` to it works and nothing an
    earlier call left there is read back."""
    path = session_tmp_dir(spark, kind, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    return path


def ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Point reliable checkpoints (the BSP loops' ``checkpoint()``) at
    ``checkpoint/`` under this application's scratch root, unless a
    checkpoint dir is already set. Only the JVM SparkContext can say
    whether one is (PySpark has no getter)."""
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
        spark.sparkContext.setCheckpointDir(
            os.path.join(_app_root(spark), "checkpoint")
        )


def session_memo(
    spark: SparkSession,
    family: str,
    key: Hashable,
    build: Callable[[], Any],
    rebuild: bool = False,
) -> Any:
    """Return ``build()``'s result for ``key``, building it only on the
    first call per session (or when ``rebuild``).

    The contract every standing artifact and label table follows:

    - State rides on the SparkSession object, one dict per family at
      ``spark._quty_<family>``, read fresh on every call. A fresh
      ``spark.newSession()`` therefore starts cold, so correctness
      never depends on the memo, and replacing or clearing that dict
      (the benches' cold-timing reset) forces the next call to rebuild.
    - Memoized builders are not safe to FIRST-build the same key from
      two threads; callers that fork (``overlap``) pre-warm serially.
    """
    memo = vars(spark).setdefault(f"_quty_{family}", {})
    if rebuild or key not in memo:
        memo[key] = build()
    return memo[key]


def reset_memos(spark: SparkSession, *families: str) -> None:
    """Drop the named memo families on ``spark`` so the next call to each
    builder rebuilds (a cold-timing reset)."""
    for family in families:
        vars(spark).pop(f"_quty_{family}", None)


def session_artifact(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    write: Callable[[str], Any],
    rebuild: bool = False,
) -> str:
    """Path of the on-disk artifact ``kind`` for ``sf_dir``, written by
    ``write(path)`` once per session (or again when ``rebuild``).

    A :func:`session_memo` keyed by ``(kind, sf_dir)``, written to
    :func:`fresh_tmp_dir`'s application-id-keyed path: a concurrent
    session's forced rebuild never deletes files under this session's
    memoized readers, and a build never reads leftover state. Staged
    variants pass their own ``kind``."""

    def _build() -> str:
        path = fresh_tmp_dir(spark, kind, sf_dir)
        write(path)
        return path

    return session_memo(spark, "artifacts", (kind, sf_dir), _build, rebuild)
