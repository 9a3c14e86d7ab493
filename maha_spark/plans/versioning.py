"""Explicit table-version stamps — the object-store-safe invalidation
contract.

The engine's three read-side caches — the binding's DataFrame memo
(``plans/binding.py``), the data-skipping sidecar freshness gate
(``plans/skipping.py``), and the result-level cache
(``execution/result_cache.py``) — all need ONE question answered
cheaply: "has this table been rewritten since I last looked?".  They
previously keyed on the table ROOT's POSIX directory mtime, which a
100 TB deployment's actual storage (S3 / ABFS / GCS) does not have:
object-store "directories" are key prefixes with no mtime and no
``utime``, so every maintenance rewrite would silently stop
invalidating anything.

The contract is now an explicit ``_table_version`` stamp file in the
table root, written atomically (temp file + rename — and the leading
underscore keeps Spark's and pyarrow's parquet readers from treating
it as data, same convention as ``_SUCCESS``) by every
engine-maintained rewrite: ``overwrite_day_partitions`` and, through
it, compaction, Z-order, upsert, incremental rollup refresh — plus the
two primitives that only delete (row-level delete's emptied-day
removal and retention).  ``table_version`` reads the stamp, falling
back to the root mtime for tables no engine rewrite has ever stamped
(the driver's read-only testdata, external inputs) — mtime remains the
LOCAL-FILESYSTEM fallback, not the contract.  Scheme-qualified table
roots (``s3a://…``, ``hdfs://…``, ``file://…``) route all stamp I/O
through the Hadoop FileSystem API of the active SparkSession, so the
contract holds on the object stores it was written for; plain POSIX
paths keep zero-JVM local I/O (the binding memo probes the version on
every table access).

Monotonicity and mtime-compatibility: a new stamp is
``max(previous + 1e-3, wall clock at write)``.  Wall-clock seeding
keeps stamp values comparable with (and never smaller than) any mtime
a sidecar freshness record captured before the table's first stamp, so
a table transitions mtime -> stamp without ever appearing to move
backwards; the +1ms floor keeps rapid successive rewrites distinct
even under coarse filesystem clocks, while staying far above the 1e-6
comparison slack the staleness gates use and far below any realistic
rewrite rate (a stamp only outruns the wall clock if a table sustains
>1000 rewrites per second).

External writers that mutate day directories without going through the
engine's primitives must call ``bump_table_version`` themselves — the
same caller contract the mtime era documented, now with a portable
spelling.
"""

from __future__ import annotations

import os
import time

VERSION_FILE = "_table_version"


def _stamp_path(table_dir: str) -> str:
    # URI paths keep their own separator; os.path.join is correct for
    # both ("a://b/c" + "/x") on POSIX separators
    return table_dir.rstrip("/") + "/" + VERSION_FILE \
        if "://" in table_dir else os.path.join(table_dir, VERSION_FILE)


def _is_uri(path: str) -> bool:
    """True for scheme-qualified paths (``s3a://…``, ``hdfs://…``,
    ``file://…``) — routed through the Hadoop FileSystem API; plain
    POSIX paths stay on local I/O (no JVM round-trips in the hot
    memo-probe path)."""
    return "://" in path


def _hadoop_fs(path: str):
    """(FileSystem, jvm gateway) for ``path`` via the active
    SparkSession's Hadoop configuration, or (None, None) when no
    session is active (plain-Python unit contexts) — same gateway
    pattern as ``ops/common.fs_exists``.

    A PRIVATE (``newInstance``, not Hadoop's shared cache) with
    checksums disabled: the shared cached FileSystem must not have its
    checksum flags mutated under Spark's feet, and on LocalFileSystem a
    checksummed stamp write leaves a ``.crc`` sidecar that poisons
    reads after any plain-POSIX rewrite of the same stamp (the two
    spellings must interoperate). The binding memo probes
    ``table_version`` on EVERY table access, so the instance is memoized
    per (scheme, authority) in ``EngineState.filesystems`` and stays
    open for the session's lifetime — callers must NOT close it."""
    from ..session import active_session, state_for
    try:
        spark = active_session()
        if spark is None:
            return None, None
        jvm = spark._jvm
        uri = jvm.java.net.URI.create(path)
        cache = state_for(spark).filesystems
        key = (uri.getScheme(), uri.getAuthority())
        fs = cache.get(key)
        if fs is None:
            fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
                uri, spark._jsc.hadoopConfiguration())
            fs.setVerifyChecksum(False)
            fs.setWriteChecksum(False)
            fs = cache.setdefault(key, fs)
        return fs, jvm
    except Exception:
        return None, None


def table_version(path: str) -> float:
    """Current version of the table at ``path``: the explicit
    ``_table_version`` stamp when present, else the root mtime (the
    fallback for never-stamped tables), else -1.0 (missing path —
    distinct from every real version).

    Scheme-qualified paths (s3a://, hdfs://, file://…) read the stamp
    and the mtime fallback through the Hadoop FileSystem API — the
    object-store deployments the contract exists for; plain paths use
    local I/O."""
    if _is_uri(path):
        return _table_version_hadoop(path)
    try:
        with open(_stamp_path(path)) as f:
            return float(f.read().strip())
    except (OSError, ValueError):
        pass
    try:
        return os.path.getmtime(path)
    except OSError:
        return -1.0


def _table_version_hadoop(path: str) -> float:
    fs, jvm = _hadoop_fs(path)
    if fs is None:
        return -1.0
    jpath = jvm.org.apache.hadoop.fs.Path
    stamp = jpath(_stamp_path(path))
    # two attempts: on a store whose rename is copy+delete, a reader
    # can race a concurrent bumper's swap and transiently find no
    # stamp — one immediate re-probe closes that window instead of
    # falling back to the (possibly older) root mtime
    for _ in range(2):
        try:
            if fs.exists(stamp):
                body = jvm.org.apache.commons.io.IOUtils.toString(
                    fs.open(stamp), "UTF-8")
                return float(body.strip())
        except Exception:
            pass
    try:
        root = jpath(path)
        if fs.exists(root):
            # object-store "directories" report epoch-0 mtimes; any
            # stamped table never reaches this branch
            return (fs.getFileStatus(root).getModificationTime()
                    / 1000.0)
    except Exception:
        pass
    return -1.0


def bump_table_version(table_dir: str) -> float:
    """Atomically record a new strictly-greater version for the table.

    Write-unique-temp-then-rename makes a concurrent reader see either
    the old or the new stamp, never a partial one: the tmp name embeds
    the version value and pid (two bumpers never touch each other's
    half-written file), and the swap is an overwrite-capable
    ``FileContext.rename(..., OVERWRITE)`` — no delete-to-rename window
    with no stamp at all. On schemes without FileContext the fallback
    is delete+rename of the complete tmp, and ``table_version``'s
    one-shot re-probe covers the transient miss (an object store's
    rename is copy+delete — a reader can miss, never see a partial).
    Scheme-qualified paths route through the Hadoop FileSystem API so
    the contract actually holds on s3a://-style storage; plain paths
    use local I/O, where the root mtime is also bumped (best-effort) so
    external mtime-based tooling keeps seeing changes. Returns the new
    version (or -1.0 when the table root does not exist — nothing to
    version)."""
    if _is_uri(table_dir):
        return _bump_table_version_hadoop(table_dir)
    if not os.path.isdir(table_dir):
        return -1.0
    new = max(table_version(table_dir) + 1e-3, time.time())
    # unique tmp per writer: two concurrent bumpers can never
    # interleave writes into (or rename) each other's half-written tmp
    tmp = _tmp_stamp_path(table_dir, new)
    try:
        with open(tmp, "w") as f:
            f.write(repr(new))
        os.replace(tmp, _stamp_path(table_dir))
    except OSError:
        return -1.0
    try:
        os.utime(table_dir, None)
    except OSError:
        pass
    return new


def _tmp_stamp_path(table_dir: str, new: float) -> str:
    """Writer-unique temp stamp name: the version value, pid, and
    thread id keyed into the filename mean no two bumpers ever share a
    tmp (the fixed ``.tmp`` spelling let concurrent bumpers rename each
    other's half-written file — a reader could see a PARTIAL stamp).
    Keeps the leading-underscore prefix so parquet readers skip crash
    leftovers."""
    import threading
    return "%s.%s.%d.%d.tmp" % (_stamp_path(table_dir), repr(new),
                                os.getpid(), threading.get_ident())


def _rename_overwrite(jvm, src: str, dst: str, root: str) -> bool:
    """Overwrite-capable rename via ``FileContext.rename(...,
    Options.Rename.OVERWRITE)`` — no delete-then-rename window in which
    a concurrent reader finds NO stamp and transiently regresses to the
    root-mtime fallback. Returns False when FileContext is unavailable
    for the scheme (caller falls back to delete+rename, which the
    read-side re-probe covers)."""
    try:
        from pyspark import SparkContext

        from ..session import active_session
        spark = active_session()
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jvm.java.net.URI.create(root),
            spark._jsc.hadoopConfiguration())
        rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
        opts = SparkContext._gateway.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        jpath = jvm.org.apache.hadoop.fs.Path
        fc.rename(jpath(src), jpath(dst), opts)
        return True
    except Exception:
        return False


def _bump_table_version_hadoop(table_dir: str) -> float:
    fs, jvm = _hadoop_fs(table_dir)
    if fs is None:
        return -1.0
    jpath = jvm.org.apache.hadoop.fs.Path
    try:
        if not fs.exists(jpath(table_dir)):
            return -1.0
    except Exception:
        return -1.0
    # up to 3 attempts: with writer-unique tmps a concurrent bumper can
    # make THIS writer's swap lose a rename race (never corrupt the
    # stamp) — the loser recomputes a fresh version and tries again
    for _ in range(3):
        try:
            new = max(table_version(table_dir) + 1e-3, time.time())
            stamp_s = _stamp_path(table_dir)
            tmp_s = _tmp_stamp_path(table_dir, new)
            out = fs.create(jpath(tmp_s), True)
            out.write(bytearray(repr(new), "ascii"))
            out.close()
            try:
                if _rename_overwrite(jvm, tmp_s, stamp_s, table_dir):
                    return new
                # scheme without FileContext support: delete+rename of
                # the COMPLETE writer-unique tmp — a racing reader can
                # briefly miss the stamp (its re-probe covers that) but
                # can never see a partial value
                fs.delete(jpath(stamp_s), False)
                if fs.rename(jpath(tmp_s), jpath(stamp_s)):
                    return new
            finally:
                # no-op when the rename consumed the tmp; clears it on
                # any failed/raised swap so retries never leave debris
                try:
                    fs.delete(jpath(tmp_s), False)
                except Exception:
                    pass
        except Exception:
            pass
    return -1.0
