"""Shared primitives for the data-pipeline operators (dedup / similarity /
text analysis).

Determinism contract with the DuckDB oracle: every hash is derived from
``md5`` hex (identical across engines), integer math stays below 2^63
(no overflow), and float expressions are written with identical
association order on both sides so IEEE results are bit-equal.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import active_session, state_for

#: prime modulus for minhash permutations (fits 32 bits)
MINHASH_P = 2147483647
#: rolling-hash modulus
ROLL_P = 1000000007


def scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` with lifecycle tracking: the cached frame is
    registered with the session's engine state so its storage blocks
    are dropped once the op's plan has been consumed.

    The pipeline ops cache intermediate signature streams consumed by
    multiple branches of one returned plan; the plan is lazy, so the op
    itself cannot unpersist (the blocks must outlive the caller's
    action). Inside ``engine.execute`` the cache belongs to that request
    and is released when it ends; outside any request it stays on the
    session until ``release_scoped_caches()`` (bench.py calls it per
    entry)."""
    return state_for(df.sparkSession).scoped_cache(df)


def release_scoped_caches() -> int:
    """Unpersist (blocking) the active session's scoped caches
    registered outside any request; returns how many."""
    spark = active_session()
    return state_for(spark).release_scoped_caches() if spark else 0


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — correct on
    HDFS/S3A/ABFS/GCS where ``os.path.exists`` would silently return
    False (and let a bootstrap branch clobber a remote table with an
    empty one). Falls back to the local check if the JVM gateway is
    unavailable (plain-Python unit contexts)."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))
    except Exception:
        return os.path.exists(path)


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create (or truncate) an empty marker file through the Hadoop
    FileSystem API — the in-progress sentinel the index-maintenance
    paths use to detect a crash between two non-atomic writes. Local
    fallback mirrors ``fs_exists``."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.create(jpath, True).close()
    except Exception:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w"):
            pass


def fs_list_files(spark: SparkSession, path: str,
                  suffix: str = ".parquet") -> list[tuple[str, int]]:
    """(path, byte size) of every direct child file with ``suffix`` —
    the file-stat probe compaction sizing needs, through the Hadoop
    FileSystem API so ``s3a://``-style index roots work; local
    ``os.listdir`` fallback when the gateway is unavailable."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        out = []
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if st.isFile() and name.endswith(suffix):
                out.append((path.rstrip("/") + "/" + name, st.getLen()))
        return out
    except Exception:
        try:
            return [(os.path.join(path, f),
                     os.path.getsize(os.path.join(path, f)))
                    for f in os.listdir(path) if f.endswith(suffix)]
        except OSError:
            return []


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Move a file or directory (dst must not exist) — the
    temp-then-rename swap step for maintenance rewrites, portable to
    object-store roots; ``os.rename`` fallback."""
    try:
        jvm = spark._jvm
        jsrc = jvm.org.apache.hadoop.fs.Path(src)
        fs = jsrc.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)))
    except Exception:
        try:
            os.rename(src, dst)
            return True
        except OSError:
            return False


def fs_rmtree(spark: SparkSession, path: str) -> None:
    """Recursively remove a directory tree (no-op when absent) —
    ``shutil.rmtree`` portable to object-store roots."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        import shutil
        shutil.rmtree(path, ignore_errors=True)


def fs_delete(spark: SparkSession, path: str) -> None:
    """Remove a marker file (no-op when absent) — Hadoop FS with the
    same local fallback as ``fs_exists``/``fs_touch``."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, False)
    except Exception:
        try:
            os.remove(path)
        except OSError:
            pass


def persistent_rdd_ids(spark: SparkSession) -> set:
    """IDs of every currently persisted RDD (caches + local
    checkpoints) — snapshot before creating scoped state, diff after to
    release exactly what a block of work allocated."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return set(m.keySet().toArray())


def release_new_persistent_rdds(spark: SparkSession, before: set) -> int:
    """Unpersist every RDD persisted since the ``before`` snapshot —
    the cleanup for ``localCheckpoint`` blocks, which sit below the SQL
    CacheManager and are untouched by ``DataFrame.unpersist``. A
    long-running ingest loop (streaming ``foreachBatch``) calls this per
    micro-batch so checkpoint blocks never accumulate."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for rid in list(m.keySet().toArray()):
        if rid not in before:
            m.get(rid).unpersist()
            n += 1
    return n


def releases_checkpoints(fn):
    """Release every RDD the wrapped rewrite persisted before it
    returns: the maintenance primitives ``localCheckpoint`` their
    survivor rows to decouple read-from-dir and overwrite-to-same-dir,
    and once the write commits those blocks are dead weight — in a
    long-lived serving session each maintenance cycle would otherwise
    grow ``persistedRdds`` forever (found by the r12 soak probe's
    residency counters). Only for functions that fully materialize
    their result to storage and return plain values; never wrap
    anything that returns a DataFrame depending on the blocks."""
    import functools

    @functools.wraps(fn)
    def wrap(*args, **kwargs):
        spark = args[0] if args and isinstance(args[0], SparkSession) \
            else None
        if spark is None:
            return fn(*args, **kwargs)
        before = persistent_rdd_ids(spark)
        try:
            return fn(*args, **kwargs)
        finally:
            release_new_persistent_rdds(spark, before)
    return wrap


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table via the engine's binding (nanos-timestamp safe,
    optionally cached).

    The corpus tables ship as a single small parquet file, which Spark
    scans as ONE partition — and the pipeline ops do expression-heavy
    per-row work (md5 minhash permutations, bigram explode), so a
    1-partition scan serializes the whole op on one core (measured 2.5x
    end-to-end on ngram-jaccard at sf0.1). Fan the rows out to the
    session's parallelism first; at real scale the input is already
    many-filed and this is a no-op.
    """
    from ..plans.binding import ParquetBinding
    df = ParquetBinding(spark, sf_dir).table(name)
    if name in ("documents", "embeddings"):
        par = spark.sparkContext.defaultParallelism
        # file count bounds the scan parallelism; len(inputFiles()) avoids
        # the DataFrame->Python-RDD conversion a getNumPartitions probe pays
        if len(df.inputFiles()) < par:
            df = df.repartition(par)
    return df


def words_sql(text: str = "text") -> str:
    """Whitespace tokenization (Spark spelling)."""
    return f"split(trim({text}), '\\\\s+')"


def duck_words_sql(text: str = "text") -> str:
    """Whitespace tokenization (DuckDB spelling)."""
    return f"string_split_regex(trim({text}), '\\s+')"


def h28_sql(expr: str) -> str:
    """First 7 md5 hex chars as an integer (< 2^28) — Spark spelling."""
    return f"CAST(conv(substr(md5({expr}), 1, 7), 16, 10) AS BIGINT)"


def duck_h28_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 7))::BIGINT"


def h32_sql(expr: str) -> str:
    """First 8 md5 hex chars as an integer (< 2^32) — Spark spelling."""
    return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def duck_h32_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def h60_sql(expr: str) -> str:
    """First 15 md5 hex chars as an integer (< 2^60) — Spark spelling.

    The wide variant for EXHAUSTIVE window hashing (every k-gram position,
    ``ops/substring.py``): a 32-bit space sees birthday collisions from
    ~2^16 distinct windows — guaranteed false "duplicates" at corpus
    scale — while 60 bits holds ~2^30 windows at the same risk, and the
    value still fits BIGINT with headroom for arithmetic."""
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def duck_h60_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def dot64_sql(a: str, b: str, one_based: bool, cast: str) -> str:
    """Explicit 64-term dot product with strictly left-to-right addition.

    Both engines evaluate ``+`` left-associatively, so writing the sum out
    term-by-term (instead of an engine-specific list_dot_product /
    aggregate fold) makes the IEEE result bit-identical.
    """
    lo = 1 if one_based else 0
    terms = [
        f"CAST({a}[{i}] AS {cast}) * CAST({b}[{i}] AS {cast})"
        for i in range(lo, lo + 64)
    ]
    return "(" + " + ".join(terms) + ")"


def dot_fold_sql(a: str, b: str, cast: str = "DOUBLE") -> str:
    """Left-fold dot product (Spark side only).

    Semantically identical to ``dot64_sql``'s explicit left-associated
    64-term sum — ``aggregate`` folds strictly left-to-right, and
    ``0.0 + t0 == t0`` in IEEE — but the generated code is O(1) instead of
    O(dims). The inline form, repeated across LSH planes/tables in one
    projection, overflowed janino's 64 KB method limit and dropped the
    whole stage to interpreted evaluation.
    """
    return (f"aggregate(zip_with({a}, {b}, (p, q) -> "
            f"CAST(p AS {cast}) * CAST(q AS {cast})), "
            f"CAST(0 AS {cast}), (acc, t) -> acc + t)")
