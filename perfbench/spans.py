"""Spans around the engine's layers, recorded from outside the program.

``Tracer.install`` wraps each layer's public function with a span (name,
start, end, parent, request id); spans stay in memory and ``dump``
writes them out when the run ends. Py4J round trips are counted per
thread, so a planner span knows how many JVM calls it made. Spark job and
stage statistics are read through the status tracker, per operation, by
job group.

The tracer also times its own bookkeeping, which is reported as the
tracing overhead: a traced-vs-untraced comparison of two separate runs
differs by more than this overhead from run-to-run spread alone.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from typing import Any, Callable

#: (module path, attribute, span name); module-level functions are
#: patched where the engine looks them up, methods on their class
LAYERS = (
    ("maha_spark.engine", "parse_request", "request.parse"),
    ("maha_spark.request.sql", "sql_to_request_json", "request.parse"),
    ("maha_spark.engine", "build_request_model", "model.build"),
    ("maha_spark.plans.planner:Planner", "build", "plans.build"),
    ("maha_spark.plans.binding:ParquetBinding", "table",
     "plans.binding_table"),
    ("maha_spark.plans.scale", "overwrite_day_partitions", "plans.overwrite"),
    ("maha_spark.execution.result_cache:ResultCache", "key_for",
     "result_cache.lookup"),
    ("maha_spark.execution.result_cache:ResultCache", "get",
     "result_cache.lookup"),
    ("maha_spark.curators.curators", "run_curators", "curators.run"),
    ("maha_spark.engine", "to_json_response", "output.to_json"),
)

#: StageData getters summed per operation
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "shuffle_read": "shuffleReadBytes",
    "shuffle_write": "shuffleWriteBytes",
    "spill_mem": "memoryBytesSpilled",
    "spill_disk": "diskBytesSpilled",
}


def _resolve(path: str):
    import importlib
    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []
        self.own_s = 0.0             # bookkeeping time, all threads

    # -- span recording -------------------------------------------------
    def _state(self):
        st = self._local
        if not hasattr(st, "stack"):
            st.stack, st.rid, st.py4j = [], None, 0
        return st

    def span(self, name: str, fn: Callable, *args, **kwargs):
        t0 = time.perf_counter()
        st = self._state()
        parent = st.stack[-1] if st.stack else None
        calls0 = st.py4j
        st.stack.append(name)
        t1 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            st.stack.pop()
            rec = (name, t1, t2, parent, st.rid, st.py4j - calls0,
                   threading.get_ident())
            with self._lock:
                self.spans.append(rec)
                self.own_s += (t1 - t0) + (time.perf_counter() - t2)

    def set_request(self, rid: str | None) -> None:
        self._state().rid = rid

    def add_own(self, seconds: float) -> None:
        with self._lock:
            self.own_s += seconds

    # -- installation ---------------------------------------------------
    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            return tracer.span(name, orig, *args, **kwargs)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def install(self, spark) -> None:
        for path, attr, name in LAYERS:
            self._wrap(_resolve(path), attr, name)
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            tracer._state().py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._patched.append((client, "send_command", send))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- aggregation ----------------------------------------------------
    def totals(self) -> dict:
        """name -> {"ms": outermost-span time, "n": calls, "py4j": ...}.
        Nested spans of the same name (a planner build inside a curator
        inside a planner build) count once, at the outermost."""
        out: dict[str, dict] = defaultdict(lambda: {"ms": 0.0, "n": 0,
                                                    "py4j": 0})
        for name, t1, t2, parent, _rid, calls, _tid in self.spans:
            if parent == name:
                continue
            agg = out[name]
            agg["ms"] += (t2 - t1) * 1000.0
            agg["n"] += 1
            agg["py4j"] += calls
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            fh.write(json.dumps(extra) + "\n")
            for name, t1, t2, parent, rid, calls, tid in self.spans:
                fh.write(json.dumps({
                    "name": name, "start": t1, "end": t2, "parent": parent,
                    "request_id": rid, "py4j_calls": calls,
                    "thread": tid}) + "\n")


class SparkStats:
    """Per-operation Spark job/stage totals, attributed by job group."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.per_op: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._ungrouped0 = set(self._ungrouped())

    def _ungrouped(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def begin(self, rid: str) -> None:
        self.sc.setJobGroup(rid, rid)

    def end(self, rid: str, label: str) -> dict:
        """Sum the stages of every job that ran in ``rid``'s group. A
        stage Spark skipped has no attempt in the status store and is
        counted as absent."""
        from py4j.protocol import Py4JJavaError
        t0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot["jobs"] = tot["stages"] = 0
        tot["label"] = label
        for jid in tracker.getJobIdsForGroup(rid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            tot["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Py4JJavaError:
                    continue
                tot["stages"] += 1
                for k, getter in STAGE_FIELDS.items():
                    tot[k] += int(getattr(sd, getter)())
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        with self._lock:
            self.per_op[rid] = tot
        self.tracer.add_own(time.perf_counter() - t0)
        return tot

    def unattributed_jobs(self) -> int:
        return len(set(self._ungrouped()) - self._ungrouped0)
