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
    # Defensive: through round 3 events.parquet carried TIMESTAMP(NANOS),
    # scanned as long (ns) and converted in load_table. The round-4 fixtures
    # are timestamp[us], but the conf is kept so a future regeneration back
    # to nanos degrades to the handled int64 path instead of erroring.
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
        # r17: long multi-query sessions (bench, gates) accumulate
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


# Scratch dirs created by THIS process, reclaimed at interpreter exit —
# plus a stale-sibling sweep at creation time. Together they bound the
# accumulation the application-id keying introduced (r11 ADVICE: app-id
# paths are never revisited, so crashed/killed runs leaked parquet under
# $TMPDIR forever).
_CREATED_TMP_DIRS: set[str] = set()
# Crash-leftover window. Deliberately LONG (7 days, not hours): a
# sibling app-id dir belongs to another PROCESS whose liveness this one
# cannot check, and artifact paths are memoized per session without
# existence re-checks — deleting a live session's dir breaks its
# readers mid-run rather than "forcing a rebuild". Normal exits are
# reclaimed by atexit; this sweep only exists for crashed/killed runs,
# and a 7-day-old live local[] session is implausible (r12 review).
_STALE_SIBLING_SECONDS = 7 * 24 * 3600


def _cleanup_session_tmp_dirs() -> None:
    for d in _CREATED_TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _prune_stale_siblings(kind_root: str, own_app_dir: str) -> None:
    """Delete sibling application-id directories older than
    _STALE_SIBLING_SECONDS — crash leftovers only (normal exits clean
    up via atexit). The window is a week, not hours, because a sibling
    belongs to another process whose liveness cannot be checked here
    and whose memoized artifact readers would NOT rebuild on deletion
    (paths are cached per session) — deleting a live session's dir is
    cross-process breakage, not a cheap rebuild. Never touches this
    session's own directory."""
    import time

    try:
        entries = os.listdir(kind_root)
    except OSError:
        return
    now = time.time()
    for e in entries:
        p = os.path.join(kind_root, e)
        if p == own_app_dir:
            continue
        try:
            if now - os.stat(p).st_mtime > _STALE_SIBLING_SECONDS:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def session_tmp_dir(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """Session-scoped scratch directory for on-disk artifacts:
    ``$TMPDIR/<kind>/<spark application id>/<sf basename>``.

    The application id isolates concurrent sessions (e.g. a bench loop
    and an oracle gate on the same sf_dir): without it, a second
    session's forced rebuild ``rmtree``'s a predictable shared path and
    can delete parquet row groups out from under the first session's
    memoized reader mid-scan (r10 ADVICE). The path is NOT unique per
    session object: every ``spark.newSession()`` shares its parent's
    application id, so a fresh session's artifact build (see
    :func:`session_artifact`) rewrites the same directory in place.

    Reclamation (r11 ADVICE): the per-session app-id dir is registered
    for atexit removal (covers every normal exit — the accumulation
    case), and week-stale sibling app-id dirs are pruned at creation
    time (covers crashed runs; see _prune_stale_siblings for why the
    window is deliberately long)."""
    import atexit

    kind_root = os.path.join(tempfile.gettempdir(), kind)
    app_dir = os.path.join(kind_root, spark.sparkContext.applicationId)
    if app_dir not in _CREATED_TMP_DIRS:
        if not _CREATED_TMP_DIRS:
            atexit.register(_cleanup_session_tmp_dirs)
        _CREATED_TMP_DIRS.add(app_dir)
        _prune_stale_siblings(kind_root, app_dir)
    else:
        # Heartbeat (r12 ADVICE): writes land nested under per-sf
        # subdirectories and never refresh app_dir's own mtime, so a
        # genuinely live week-old session could look stale to a newer
        # sibling's prune sweep. Touching our own dir on each call
        # keeps a live session's artifacts safe from siblings.
        try:
            os.utime(app_dir)
        except OSError:
            pass
    return os.path.join(
        app_dir,
        os.path.basename(sf_dir.rstrip("/")),
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

    A :func:`session_memo` keyed by ``(kind, sf_dir)``. The directory is
    :func:`session_tmp_dir`'s application-id-keyed path, so a concurrent
    session's forced rebuild never deletes files under this session's
    memoized readers. Each build first removes whatever the directory
    holds, so a build never reads leftover state. Staged variants pass
    their own ``kind``."""

    def _build() -> str:
        path = session_tmp_dir(spark, kind, sf_dir)
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        return path

    return session_memo(spark, "artifacts", (kind, sf_dir), _build, rebuild)
