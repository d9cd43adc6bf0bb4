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
import tempfile
from typing import Callable, Hashable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

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
    import shutil

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
    import shutil
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
    ``$TMPDIR/<kind>/<spark application id>/<sf basename>``. Returns the
    path without touching its contents, so callers (tests, examples) can
    locate what a build left there; a build empties it first
    (:func:`fresh_tmp_dir`).

    The application id isolates concurrent sessions (e.g. a bench loop
    and an oracle gate on the same sf_dir): without it, a second
    session's forced rebuild clears a predictable shared path and can
    delete parquet row groups out from under the first session's
    memoized reader mid-scan (r10 ADVICE). The path is unique per
    session like the :func:`memo` state that holds it, so correctness
    never depends on leftover /tmp state.

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


def fresh_tmp_dir(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """:func:`session_tmp_dir`, emptied: whatever an earlier build of
    this session left at the path is removed, so a (re)build always
    writes into an empty directory."""
    import shutil

    path = session_tmp_dir(spark, kind, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    return path


def memo(
    spark: SparkSession,
    family: str,
    key: Hashable,
    build: Callable[[], T],
    rebuild: bool = False,
) -> T:
    """The session memo: ``build()``'s result, cached in the dict on
    ``spark._quty_<family>`` under ``key``. ``build`` runs on a miss or
    when ``rebuild`` is set (the forced rebuild of the write-once sinks).

    Contract, shared by every memoized artifact path, label table and
    training state in the package:

    - The state is per session: it rides on the SparkSession object, so
      a fresh driver session always rebuilds and correctness never
      depends on the cache. A build that writes files writes under
      :func:`session_tmp_dir` (emptied first, :func:`fresh_tmp_dir`),
      keyed by the application id, so a concurrent session's rebuild
      never deletes files under this session's cached reader (r10
      ADVICE).
    - The attribute names (``_quty_cluster_labels``,
      ``_quty_bpe_state``, …) are a stable reset interface: bench and
      measurement tools, including ones that import older checkouts,
      clear or replace those dicts by name to time a build cold. Never
      rename a family.
    - There is no lock: two threads that first-build one key both run
      ``build`` into the same directory, so callers that fork legs
      build the shared entries serially first.
    """
    attr = f"_quty_{family}"
    cache = getattr(spark, attr, None)
    if cache is None:
        cache = {}
        setattr(spark, attr, cache)
    if rebuild or key not in cache:
        cache[key] = build()
    return cache[key]
