"""Engine state owned by the SparkSession (maha_spark/session.py): one
binding memo per session, stamped with the table version read before
the files are listed, and safe under concurrent binds."""

from __future__ import annotations

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.plans import binding  # noqa: E402
from maha_spark.plans.binding import ParquetBinding  # noqa: E402
from maha_spark.plans.versioning import bump_table_version  # noqa: E402
from maha_spark.session import state_for  # noqa: E402


def _table(spark, base) -> str:
    pdir = os.path.join(str(base), "t")
    (spark.range(40).selectExpr("id", "CAST(id % 4 AS INT) AS dt")
     .write.partitionBy("dt").parquet(pdir))
    return pdir


def test_state_is_per_session_and_shared_by_bindings(spark, tmp_path):
    assert state_for(spark) is state_for(spark)
    assert state_for(spark.newSession()) is not state_for(spark)
    _table(spark, tmp_path)
    # the memo outlives the short-lived bindings that fill it
    df = ParquetBinding(spark, str(tmp_path)).table("t")
    assert ParquetBinding(spark, str(tmp_path)).table("t") is df


def test_concurrent_binds_one_dataframe_per_version(spark, tmp_path):
    """8 threads bind one table at once, before and after a version
    bump: every thread gets the same DataFrame for a version, a new one
    after the bump, and binds racing a stream of bumps never raise."""
    pdir = _table(spark, tmp_path)

    def bind_all(n: int = 8) -> list:
        gate = threading.Barrier(n)

        def one():
            gate.wait()
            return ParquetBinding(spark, str(tmp_path)).table("t")

        with ThreadPoolExecutor(n) as ex:
            return [f.result() for f in [ex.submit(one) for _ in range(n)]]

    first = bind_all()
    assert len({id(df) for df in first}) == 1
    assert bump_table_version(pdir) > 0
    second = bind_all()
    assert len({id(df) for df in second}) == 1
    assert second[0] is not first[0]

    stop = threading.Event()

    def bumper() -> None:
        while not stop.is_set():
            bump_table_version(pdir)
            time.sleep(0.005)

    t = threading.Thread(target=bumper)
    t.start()
    try:
        for _ in range(5):
            bind_all()
    finally:
        stop.set()
        t.join(60)
    assert not t.is_alive()
    assert ParquetBinding(spark, str(tmp_path)).table("t").count() == 40


def test_bump_during_read_leaves_entry_stale(spark, tmp_path, monkeypatch):
    """A rewrite that lands after ``spark.read`` listed the files but
    before the memo insert must not be paired with the old listing: the
    entry keeps the version read before the listing, so the next bind
    lists again and sees the new partition."""
    pdir = _table(spark, tmp_path)
    read = binding.normalize_timestamps

    def read_then_rewrite(df):
        out = read(df)
        (spark.range(100, 101).selectExpr("id", "9 AS dt")
         .write.mode("append").partitionBy("dt").parquet(pdir))
        bump_table_version(pdir)
        return out

    b = ParquetBinding(spark, str(tmp_path))
    monkeypatch.setattr(binding, "normalize_timestamps", read_then_rewrite)
    stale = b.table("t")
    monkeypatch.setattr(binding, "normalize_timestamps", read)
    assert stale.count() == 40            # listed before the rewrite
    fresh = b.table("t")
    assert fresh is not stale
    assert fresh.count() == 41
    assert b.table("t") is fresh


def test_equal_plans_stay_cached_until_last_holder_ends(spark):
    """Spark keeps one cache entry per plan. When two requests cache
    equal plans, the first to end must not drop the entry the other
    still plans against: that request would rebuild the blocks as an
    RDD that nothing unpersists."""
    from maha_spark.ops.common import scoped_cache

    state = state_for(spark)
    n0 = state.stats()["scopedCaches"]

    def plan():
        return spark.range(1000).selectExpr("id * 7 AS v")

    with state.request_scope():
        held = scoped_cache(plan())
        assert held.count() == 1000
        with state.request_scope():
            assert scoped_cache(plan()).count() == 1000
        assert held.storageLevel.useMemory
    assert not held.storageLevel.useMemory
    assert state.stats()["scopedCaches"] == n0
