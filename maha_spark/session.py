"""SparkSession helper with scale-aware defaults, and the engine state
each session owns.

Local tests run on local[N]; the same config keys are what you would tune
on a 1000-executor cluster (AQE on, partition sizing, broadcast threshold).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "maha-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # Python workers import maha_spark BY NAME (cloudpickle serializes
    # the pandas-UDF closures' module functions by reference), so the
    # package root must be importable ON THE WORKER, not just in the
    # driver's sys.path. A driver launched from outside the repo (sys.
    # path.insert without PYTHONPATH) would otherwise fail every UDF op
    # with ModuleNotFoundError. Local-mode workers inherit this process
    # env; on a real cluster the package ships as a wheel/--py-files and
    # this is a no-op.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root)
    # JIT code-cache sizing (driver JVM; must be in the env BEFORE the
    # gateway launches — same mechanism as the PYTHONPATH export above).
    # The engine's workload is many heterogeneous generated-code queries:
    # with the JVM default (240 MB, segmented), the profiled-nmethods
    # segment fills and HotSpot starts flushing warm methods, which then
    # recompile on the next query — measured 779 s of accumulated JIT
    # time across one 48-entry contract pass, with every op paying
    # multi-second re-warmup. 512 MB holds the whole working set (peak
    # observed use ~115 MB per segment). No-op if the caller already
    # sized it or the JVM is up (r12 optimization round, guide §1/§7).
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "ReservedCodeCacheSize" not in opts:
        os.environ["SPARK_SUBMIT_OPTS"] = (
            f"{opts} -XX:ReservedCodeCacheSize=512m".strip())
    builder = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # static conf, applies at first-session JVM init: the 100-entry
        # default LRU over compiled codegen classes thrashes under the
        # contract's ~50 multi-stage queries — identical generated
        # source was re-janino-compiled and re-JITed per entry (one-pass
        # contract sweep measured 365 s -> 150 s from this alone; the
        # cached classes are a few MB of metaspace). Cluster-safe: the
        # same thrash hits any long-lived serving driver.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §3.1/§9 baseline: let the planner pick shuffled-hash
        # join when its size conditions hold instead of defaulting to
        # sort-merge — skips both sort legs on the mid-size joins the
        # 64 MB broadcast threshold doesn't catch (cluster-plausible:
        # the planner still requires the build side to fit per
        # partition). Interleaved A/B r13 (4 rounds each, same
        # session): op_curate 3.52-3.91 s vs 4.07-4.25 s — every pair
        # in favor; no entry slower (probe in OPTIMIZATION_r13.md).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # /tmp may be reaped by the host while long benchmarks run, which
        # kills shuffle files mid-query; keep block-manager dirs local
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS",
                               os.path.join(os.path.dirname(
                                   os.path.dirname(os.path.abspath(__file__))),
                                   ".spark-tmp")))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # Local-filesystem fast path (r13, guide §7.3): Hadoop's default
    # file:// stack costs one .crc sidecar file AND one fork+exec'd
    # chmod per created file/dir when libhadoop is absent (always, in a
    # pip-installed PySpark). On hosts with supervised process spawn
    # (~85 ms per exec measured here) a dynamic-partition write of a few
    # thousand files serializes into MINUTES of chmod execs, and every
    # streaming-checkpoint metadata file pays the same tax (driver
    # thread dumps showed executor tasks parked in
    # Shell.runCommand <- RawLocalFileSystem.setPermission). The
    # committed FastLocalFileSystem jar no-ops setPermission and skips
    # the checksum layer; only the "file" scheme is remapped — cluster
    # schemes (hdfs/s3a/abfs) are untouched, so this is pure local-
    # deployment hygiene, not a bench special case.
    jvm_jar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "jvm", "maha-fastlocalfs.jar")
    if os.path.exists(jvm_jar) and not os.environ.get(
            "MAHA_SPARK_NO_FASTLOCALFS"):
        builder = (
            builder
            .config("spark.driver.extraClassPath", jvm_jar)
            .config("spark.executor.extraClassPath", jvm_jar)
            .config("spark.hadoop.fs.file.impl",
                    "mahaspark.fs.FastLocalFileSystem")
            .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
                    "mahaspark.fs.FastLocalFs"))
    return builder.getOrCreate()


def active_session() -> Optional[SparkSession]:
    """The session a caller without one in hand means: the thread's
    active session, else the process's instantiated one.
    ``getActiveSession`` is thread-local (a JVM InheritableThreadLocal
    that pool and py4j callback threads never inherit), so a serving
    worker thread would otherwise see no session at all."""
    return (SparkSession.getActiveSession()
            or getattr(SparkSession, "_instantiatedSession", None))


#: the running request's engine state and scoped caches
#: (``EngineState.request_scope``)
_REQUEST_CACHES: ContextVar[Optional[tuple]] = ContextVar(
    "maha_spark_request_caches", default=None)


def state_for(spark: SparkSession) -> "EngineState":
    """The engine state owned by ``spark``: an attribute of the session
    object, so it dies with the session and a new session never sees an
    old session's entries (README "Engine state")."""
    st = getattr(spark, "_maha_state", None)
    if st is None:  # setdefault: one winner if two threads get here
        st = spark.__dict__.setdefault("_maha_state", EngineState())
    return st


class EngineState:
    """Every cache the engine keeps for one SparkSession: bound tables
    (``table``), planned contract DataFrames (``plans``), private Hadoop
    FileSystems (``filesystems``) and scoped caches, per request inside
    ``request_scope`` and per session outside it."""

    def __init__(self) -> None:
        self._tables_lock = threading.Lock()
        self._caches_lock = threading.Lock()
        self._tables: dict[str, tuple[float, DataFrame]] = {}
        self._session_caches: list[tuple[int, DataFrame]] = []
        #: plan semantic hash -> live scoped-cache registrations
        self._holders: dict[int, int] = {}
        self.plans: dict[tuple[str, str], DataFrame] = {}
        self.filesystems: dict[tuple, object] = {}

    def table(self, path: str, read: Callable[[], DataFrame]) -> DataFrame:
        """The DataFrame bound for ``path`` at its current version,
        built by ``read`` on a miss. The version is read BEFORE ``read``
        lists the files, so a rewrite landing during the read leaves the
        entry stale and the next call reads again. One lock covers
        lookup, read and insert: each version gets one DataFrame, and
        the stale entry is unpersisted before the new one caches (Spark
        matches cached plans, not versions)."""
        from .plans.versioning import table_version
        version = table_version(path)
        with self._tables_lock:
            hit = self._tables.get(path)
            if hit is not None:
                if hit[0] == version:
                    return hit[1]
                _unpersist(hit[1])
                del self._tables[path]
            df = read()
            self._tables[path] = (version, df)
            return df

    def scoped_cache(self, df: DataFrame) -> DataFrame:
        """``df.cache()``, registered with the running request (whose
        state counts it) or, outside any request, with this session."""
        df = df.cache()
        key = df.semanticHash()
        scope = _REQUEST_CACHES.get()
        owner = self if scope is None else scope[0]
        with owner._caches_lock:
            (owner._session_caches if scope is None else scope[1]).append(
                (key, df))
            owner._holders[key] = owner._holders.get(key, 0) + 1
        return df

    def _release(self, caches: list[tuple[int, DataFrame]]) -> None:
        """Unpersist (blocking) each cache that no other registration
        still holds. Spark keeps one cache entry per plan, shared by
        equal plans of concurrent requests; dropping it under a request
        that already planned against it makes that request rebuild the
        blocks as an RDD nothing ever unpersists."""
        with self._caches_lock:
            for key, df in caches:
                self._holders[key] -= 1
                if not self._holders[key]:
                    del self._holders[key]
                    _unpersist(df, blocking=True)

    @contextmanager
    def request_scope(self) -> Iterator[None]:
        """Run a request: caches registered inside it, from any thread
        that carries this context, are unpersisted when it ends."""
        scope: list[tuple[int, DataFrame]] = []
        token = _REQUEST_CACHES.set((self, scope))
        try:
            yield
        finally:
            _REQUEST_CACHES.reset(token)
            self._release(scope)

    def release_scoped_caches(self) -> int:
        """Unpersist (blocking) the scoped caches registered outside any
        request; returns how many."""
        with self._caches_lock:
            drained, self._session_caches = self._session_caches, []
        self._release(drained)
        return len(drained)

    def stats(self) -> dict[str, int]:
        with self._caches_lock:
            scoped = sum(self._holders.values())
        return {"scopedCaches": scoped,
                "bindingCachedTables": len(self._tables)}

    def clear(self) -> None:
        """Drop the bound tables (unpersisting them), the planned
        DataFrames and the scoped caches outside any request."""
        with self._tables_lock:
            tables, self._tables = list(self._tables.values()), {}
        self.plans.clear()
        for _version, df in tables:
            _unpersist(df, blocking=True)
        self.release_scoped_caches()


def _unpersist(df: DataFrame, blocking: bool = False) -> None:
    try:
        df.unpersist(blocking)
    except Exception:
        pass  # a dead session's frames hold nothing to free
