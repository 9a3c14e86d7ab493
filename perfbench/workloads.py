"""The workloads and what each run measures.

Every workload follows the same steps: copy the benchmark's tables (a
slice of the sf0.1 test data, see ``slice_data.py``) into the run's work
directory, start the session and set the engine up (set-up is timed from
process start), run the timed phase, then compute the DuckDB oracle
answers and check every answer.

* ``dashboard``: four closed-loop clients on one engine draw Zipf-skewed
  panels from a pool several times the result cache's capacity, a fifth
  of them with a curator and a tenth sent as SQL; rollup refreshes run
  between the reads at fixed moments of the run.
* ``ops_batch``: seeded-order sweeps over the non-streaming pipeline ops,
  one fresh process per run, as a batch job sees them.

An answer that differs from its oracle or replay counts as failed and
makes the run incorrect. No operation of either workload is expected to
raise, so one that raises (or a curator error folded into an envelope)
does the same.

A dashboard refresh runs alone: requests in flight finish first and new
ones wait until the rewritten rollup is bound. The engine does not yet
serve reads beside a rewrite of the table they read (a read can find a
replaced file gone, and two readers can both find the binding's memo
stale and both drop it), so a refresh beside reads measures those
failures rather than the engine's speed.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gate
import mix
import procs
import slice_data
from stats import tail_percentile
from spans import SparkStats, Tracer

DASH_CLIENTS = 4
#: result-cache capacity and pool size: the pool is POOL_FACTOR times the
#: capacity, so the Zipf head fits and the tail evicts within one run
CACHE_CAPACITY = 8
POOL_FACTOR = 6
ZIPF_S = 1.0
#: REFRESHES times per run, at evenly spaced moments, the next client
#: restates the trailing REFRESH_DAYS days of the rollup (on a clock
#: rather than an operation count, so every run has the same number)
REFRESHES, REFRESH_DAYS = 2, 7
#: set-up executes every panel of the pool this many times
WARM_PASSES = 2
#: set-up runs the draw sequence this far ahead and executes the panels
#: an LRU cache would then hold, so the timed phase starts in steady state
#: instead of in a burst of hits on a freshly filled cache
STEADY_DRAWS = 400
#: replays per run are capped (a serial replay costs as much as a timed
#: miss); the replayed keys are a seeded sample of the distinct ones
DASH_REPLAYS = 20

#: the non-streaming pipeline ops, in ``ops.entry_queries`` order
OPS = ("op_text_stats", "op_contamination", "op_exact_substring_dedup",
       "op_winnow_matches", "op_winnow_contamination",
       "op_exact_substring_spans", "op_lm_perplexity", "op_semdedup",
       "op_sessionize", "op_asof_join", "op_token_quantiles",
       "op_dedup_signatures", "op_dedup_minhash_lsh",
       "op_dedup_ngram_jaccard", "op_dedup_embed_cosine",
       "op_dedup_simhash_pairs", "op_dedup_clusters", "op_dedup_incremental",
       "op_curate", "op_sketch_setops", "op_sim_topk", "op_sim_lsh_buckets",
       "op_freq_topk", "op_mm_decode", "op_mm_pixel_stats",
       "op_pack_sequences", "op_sample_stratified")

#: end-to-end metrics every run reports (with tracing off)
E2E_METRICS = ("latency_p50_ms", "throughput_rps", "setup_s")

#: per-layer metrics a traced run reports, with their units. Layers a
#: workload does not exercise report 0 there.
LAYER_UNITS = {
    "request.parse_ms": "ms", "model.build_ms": "ms",
    "plans.build_ms": "ms", "plans.py4j_calls": "count",
    "plans.binding_table_ms": "ms", "plans.overwrite_ms": "ms",
    "result_cache.hit_ratio": "ratio", "result_cache.hits": "count",
    "result_cache.misses": "count", "result_cache.evictions": "count",
    "result_cache.lookup_ms": "ms", "curators.ms": "ms",
    "output.to_json_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.unattributed_jobs": "count",
    "setup.session_ms": "ms", "setup.warm_ms": "ms",
    "engine.leaked_rdds": "count", "engine.scoped_caches": "count",
    "engine.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    **{f"ops.{n}_ms": "ms" for n in OPS},
    **{f"ops.{n}_tasks": "count" for n in OPS},
}


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    traced: bool
    work: str
    t0: float                             # process start (perf_counter)
    spans_path: str = ""
    latencies_ms: list = field(default_factory=list)
    refresh_s: list = field(default_factory=list)
    sweep_s: list = field(default_factory=list)
    op_ms: dict = field(default_factory=dict)     # op name -> [ms]
    attempted: int = 0
    failed: int = 0
    mismatches: int = 0
    problems: list = field(default_factory=list)
    completed: int = 0                    # operations that ran
    window_s: float = 0.0                 # the window throughput is over
    in_window: int = 0                    # operations done inside it
    setup: dict = field(default_factory=dict)
    mix: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def fail(self, what: str, mismatch: bool = False) -> None:
        with self._lock:
            self.failed += 1
            self.mismatches += mismatch
            if len(self.problems) < 20:
                self.problems.append(what[:300])


class Bench:
    """One run's session, tracer and Spark attribution."""

    def __init__(self, run: Run):
        self.run = run
        self.t_setup0 = run.t0
        self.t_session0 = time.perf_counter()
        from maha_spark.session import get_spark
        self.spark = get_spark("maha-perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.t_session = time.perf_counter()
        self.tracer = Tracer() if run.traced else None
        self.sstats = None
        self._seq = 0
        self._seq_lock = threading.Lock()

    def start_timed(self) -> None:
        now = time.perf_counter()
        self.run.setup = {
            "setup_s": now - self.t_setup0,
            "session_ms": (self.t_session - self.t_session0) * 1000.0,
            "warm_ms": (now - self.t_session) * 1000.0}
        if self.tracer is not None:
            self.tracer.install(self.spark)
            self.sstats = SparkStats(self.spark, self.tracer)

    def call(self, kind: str, fn, *args):
        """Run one timed operation; returns (result, ms). Tracing and
        job-group attribution happen only in traced runs, and the
        status-store read after the operation is outside its time."""
        with self._seq_lock:
            self._seq += 1
            rid = f"{self.run.workload}-{self.run.seed}-{self._seq}"
        if self.tracer is None:
            t0 = time.perf_counter()
            out = fn(*args)
            return out, (time.perf_counter() - t0) * 1000.0
        self.tracer.set_request(rid)
        self.sstats.begin(rid)
        t0 = time.perf_counter()
        try:
            out = self.tracer.span(kind, fn, *args)
        finally:
            ms = (time.perf_counter() - t0) * 1000.0
            self.sstats.end(rid, kind)
            self.tracer.set_request(None)
        return out, ms

    def end_timed(self) -> None:
        """Read the peak RSS reached so far and, in a traced run, the
        per-layer figures."""
        pids = [os.getpid()]
        jvm = procs.jvm_pid(self.spark)
        if jvm is not None:
            pids.append(jvm)
        self.run.peak_rss_mb = procs.peak_rss_mb(pids)
        if self.tracer is not None:
            self.run.layers = layer_metrics(self.run, self)

    def finish(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()
            if self.run.spans_path:
                self.tracer.dump(self.run.spans_path, {
                    "workload": self.run.workload, "seed": self.run.seed})
        procs.stop_session(self.spark)


# ---------------------------------------------------------------- serving
def _execute(engine, op: mix.Op):
    if op.kind == "sql":
        return engine.execute_sql(op.payload)
    return engine.execute(op.payload)


def _curator_errors(envelope: dict) -> list[str]:
    """Curator failures the engine folded into a successful envelope."""
    return [f"{name}: {cur['error']}"
            for name, cur in (envelope.get("curators") or {}).items()
            if isinstance(cur, dict) and "error" in cur]


def _digest(envelope: dict) -> str:
    out = {"rows": gate.envelope_rows(envelope)}
    for name, cur in sorted((envelope.get("curators") or {}).items()):
        fields = cur.get("header", {}).get("fields")
        out[name] = gate.envelope_rows(cur) if fields is not None \
            else cur
    return repr(out)


def _contract_engine(spark, data: str, cache=None):
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import (build_contract_registry,
                                              ensure_udfs)
    ensure_udfs(spark)
    return engine_for_dir(spark, build_contract_registry(), data,
                          result_cache=cache)


def prepare_data(run: Run, src: str) -> str:
    """A private copy of a set of the benchmark's tables: the dashboard
    writes its rollups beside them and some ops write scratch tables
    there."""
    return shutil.copytree(src, os.path.join(run.work, "data"))


def _oracle_answers(run: Run, data: str, sql: dict) -> dict:
    return gate.answers(data, sql, os.path.join(os.path.dirname(run.work),
                                                "oracles"))


def _check_shapes(run: Run, data: str, got: dict) -> None:
    """Each warm-up answer must equal its DuckDB oracle, and the oracle
    must have rows: two empty results would agree whatever the engine
    computed."""
    from maha_spark.examples.contract import QUERIES
    answers = _oracle_answers(run, data,
                              {n: QUERIES[n]["sql"] for n in got})
    for name, rows in got.items():
        if not answers[name][1]:
            run.fail(f"oracle {name}: DuckDB returned no rows", True)
        elif not gate.same_rows(rows, answers[name]):
            run.fail(f"oracle {name}: rows differ from DuckDB", True)


def _warm(run: Run, engine, pool: list, clients: int) -> dict:
    """Set-up passes, from ``clients`` threads: each unmodified contract
    shape once, for the oracle check after the timed phase, and every
    panel of the pool WARM_PASSES times. A dashboard's panels are known
    queries: the first execution of a panel compiles code for its
    literals and costs a re-run's time again, and re-runs keep getting
    faster for a while after that, so without these passes a run's speed
    would depend on how many of its panels happened to run for the first
    time while it was timed, and how early."""
    shapes = mix.contract_shapes()
    rng = random.Random(run.seed)
    order = []
    for _ in range(WARM_PASSES):
        order += rng.sample(pool, len(pool))
    got = {}

    def shape(name: str) -> None:
        try:
            got[name] = gate.envelope_rows(engine.execute(shapes[name]))
        except Exception as e:
            run.fail(f"oracle {name}: {type(e).__name__}: {e}", True)

    run.attempted += len(mix.DASHBOARD_SHAPES)
    with ThreadPoolExecutor(clients) as ex:
        waits = [ex.submit(shape, n) for n in mix.DASHBOARD_SHAPES]
        waits += [ex.submit(_execute, engine, op) for op in order]
        for w in waits:
            w.result()
    return got


def _serve(bench: Bench, engine, next_op, clients: int,
           responses: dict, refresh) -> None:
    """Closed loop: each client sends its next operation when the last
    one returns, until the run's time is up."""
    run = bench.run
    lock = threading.Lock()
    stats = mix.MixStats(run.seed)
    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    # a refresh runs alone: it waits for the requests in flight to return
    # and holds new ones back until it is done (see the module docstring)
    turn = threading.Condition()
    state = {"in_flight": 0, "refreshing": False}

    def exclusive_refresh(lo: str, hi: str) -> float:
        with turn:
            state["refreshing"] = True
            turn.wait_for(lambda: state["in_flight"] == 0)
        try:
            return bench.call("refresh", refresh, lo, hi)[1]
        finally:
            with turn:
                state["refreshing"] = False
                turn.notify_all()

    def request(op: mix.Op):
        with turn:
            turn.wait_for(lambda: not state["refreshing"])
            state["in_flight"] += 1
        try:
            return bench.call("request", _execute, engine, op)
        finally:
            with turn:
                state["in_flight"] -= 1
                turn.notify_all()

    def client() -> None:
        while True:
            with lock:
                if time.perf_counter() >= deadline:
                    return
                op = next_op()
                stats.record(op)
            try:
                if op.kind == "refresh":
                    ms = exclusive_refresh(*op.payload)
                else:
                    env, ms = request(op)
            except Exception as e:
                run.fail(f"{op.kind} {op.shape}: {type(e).__name__}: {e}",
                         True)
                # a failed request misses any latency limit: it ranks
                # above every answered one (and is not in throughput)
                if op.kind != "refresh":
                    with lock:
                        run.latencies_ms.append(math.inf)
                continue
            finally:
                with lock:
                    run.attempted += 1
            done = time.perf_counter() <= deadline
            errors = [] if op.kind == "refresh" else _curator_errors(env)
            if errors:
                run.fail(f"{op.kind} {op.shape}: curator {errors[0]}", True)
            with lock:
                if op.kind == "refresh":
                    run.refresh_s.append(ms / 1000.0)
                    continue
                run.latencies_ms.append(ms)
                run.completed += 1
                run.in_window += done
                if not errors:
                    responses.setdefault(op.key, (op, []))[1].append(env)

    threads = [threading.Thread(target=client, name=f"client-{i}")
               for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # requests still running at the deadline are not counted: dividing by
    # the time the last of them took to finish made the figure depend on
    # which request happened to be in flight
    run.window_s = run.seconds
    run.mix = stats.summary(CACHE_CAPACITY)


def _replay_check(run: Run, spark, data: str, responses: dict,
                  limit: int) -> None:
    """Each distinct response must equal a serial, cache-off replay of
    the same request on a fresh engine; every repeat of a request (cache
    hits included) must equal its replay too."""
    fresh = _contract_engine(spark, data)
    keys = sorted(responses)
    random.Random(run.seed).shuffle(keys)
    replayed = set(keys[:limit])
    for key in keys:
        op, envs = responses[key]
        digests = [_digest(e) for e in envs]
        if key in replayed:
            try:
                want = _digest(_execute(fresh, op))
            except Exception as e:
                run.fail(f"replay {op.shape}: {type(e).__name__}: {e}")
                continue
        else:
            want = digests[0]
        for d in digests:
            if d != want:
                run.fail(f"replay {op.shape}: response differs "
                         f"({key[:120]})", True)
    run.info["replayed"] = len(replayed)
    run.info["distinct_responses"] = len(keys)


def _engine_state(engine) -> dict:
    st = engine.status()
    return {"rdds": st["persistedRdds"], "scoped": st["scopedCaches"]}


def _cache_counts(engine) -> dict:
    c = engine.result_cache
    return {"hits": c.hits, "misses": c.misses, "evictions": c.evictions}


def run_dashboard(run: Run) -> None:
    from maha_spark.examples.contract import (materialize_events_rollup,
                                              materialize_lineitem_rollup,
                                              refresh_lineitem_rollup)
    data = prepare_data(run, slice_data.DASHBOARD_DATA)
    last = slice_data.LAST_DAY
    window = ((last - dt.timedelta(REFRESH_DAYS - 1)).isoformat(),
              last.isoformat())
    bench = Bench(run)
    try:
        spark = bench.spark
        from maha_spark.execution.result_cache import ResultCache
        from maha_spark.plans.binding import ParquetBinding

        def refresh(lo: str, hi: str) -> None:
            refresh_lineitem_rollup(spark, data, data, lo, hi)
            # bind the new version before readers resume, so they do not
            # all find the binding's memo stale at once
            ParquetBinding(spark, data).table("lineitem_daily")

        # data preparation through the engine's own materializers, the
        # two rollups at once
        with ThreadPoolExecutor(2) as ex:
            for done in [ex.submit(materialize_lineitem_rollup, spark, data,
                                   data, partitioned=True),
                         ex.submit(materialize_events_rollup, spark, data,
                                   data)]:
                done.result()
        engine = _contract_engine(spark, data,
                                  ResultCache(max_entries=CACHE_CAPACITY))
        refresh(*window)
        pool = mix.dashboard_pool(run.seed, CACHE_CAPACITY * POOL_FACTOR,
                                  slice_data.FIRST_DAY, slice_data.DAYS)
        shape_rows = _warm(run, engine, pool, DASH_CLIENTS)
        ranks = mix.zipf_draws(run.seed, len(pool), ZIPF_S)
        for op in mix.lru_after(pool, ranks, STEADY_DRAWS, CACHE_CAPACITY):
            _execute(engine, op)
        marks = [run.seconds * (k + 1) / (REFRESHES + 1)
                 for k in range(REFRESHES)]
        t0 = []

        def next_op() -> mix.Op:
            now = time.perf_counter()
            if not t0:
                t0.append(now)
            if marks and now - t0[0] >= marks[0]:
                marks.pop(0)
                return mix.Op("refresh", "refresh", window, "refresh")
            return pool[next(ranks)]

        before, cache0 = _engine_state(engine), _cache_counts(engine)
        bench.start_timed()
        responses: dict = {}
        _serve(bench, engine, next_op, DASH_CLIENTS, responses, refresh)
        after, cache1 = _engine_state(engine), _cache_counts(engine)
        run.info["result_cache"] = {k: cache1[k] - cache0[k] for k in cache1}
        run.info["leaked_rdds"] = after["rdds"] - before["rdds"]
        run.info["scoped_caches"] = after["scoped"] - before["scoped"]
        bench.end_timed()
        _check_shapes(run, data, shape_rows)
        _replay_check(run, spark, data, responses, DASH_REPLAYS)
    finally:
        bench.finish()


# ---------------------------------------------------------------- batch
def run_ops_batch(run: Run) -> None:
    data = prepare_data(run, slice_data.OPS_DATA)
    bench = Bench(run)
    try:
        from maha_spark.ops import entry_oracles, entry_queries
        from maha_spark.ops.common import release_scoped_caches
        entries = entry_queries()
        fns = {n: entries[n] for n in OPS}
        spark = bench.spark
        # an engine over the same data only to read engine.status()
        status_engine = _contract_engine(spark, data)
        before = _engine_state(status_engine)
        bench.start_timed()

        def one(name: str):
            try:
                return fns[name](spark, data).collect()
            finally:
                release_scoped_caches()

        outputs: dict = {}
        stats = mix.MixStats(run.seed)
        t0 = time.perf_counter()
        sweep = 0
        while sweep == 0 or time.perf_counter() - t0 < run.seconds:
            t_sweep = time.perf_counter()
            for op in mix.ops_sweep(run.seed, sweep, list(OPS)):
                stats.record(op)
                run.attempted += 1
                try:
                    rows, ms = bench.call(f"ops.{op.key}", one, op.key)
                except Exception as e:
                    # no op is expected to raise; its time stays in the
                    # sweep, so one that fails fast cannot read as faster
                    run.fail(f"{op.key}: {type(e).__name__}: {e}", True)
                    continue
                run.completed += 1
                run.op_ms.setdefault(op.key, []).append(ms)
                outputs.setdefault(op.key, []).append(rows)
            # a batch job's latency is its sweep: the median op moved by
            # 30% between seeds with which ops happened to run cold
            run.sweep_s.append(time.perf_counter() - t_sweep)
            run.latencies_ms.append(run.sweep_s[-1] * 1000.0)
            sweep += 1
        run.window_s = time.perf_counter() - t0
        run.in_window = run.completed
        run.mix = stats.summary(1)
        run.mix["sweeps"] = sweep
        after = _engine_state(status_engine)
        run.info["leaked_rdds"] = after["rdds"] - before["rdds"]
        run.info["scoped_caches"] = after["scoped"] - before["scoped"]
        bench.end_timed()
    finally:
        bench.finish()
    oracle_sql = entry_oracles()
    answers = _oracle_answers(run, data, {n: oracle_sql[n] for n in outputs
                                          if n in oracle_sql})
    for name, outs in outputs.items():
        want = answers.get(name)
        if want is not None and not want[1]:
            run.fail(f"{name}: DuckDB returned no rows", True)
            continue
        for rows in outs:
            if want is not None and \
                    not gate.same_rows(gate.spark_rows(rows), want):
                run.fail(f"{name}: rows differ from DuckDB", True)


# ---------------------------------------------------------------- layers
def _spark_means(sstats: SparkStats) -> dict:
    ops = list(sstats.per_op.values())
    n = max(len(ops), 1)

    def mean(key):
        return sum(o[key] for o in ops) / n

    return {
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.executor_run_ms": mean("executor_run_ms"),
        "spark.shuffle_bytes": mean("shuffle_read") + mean("shuffle_write"),
        "spark.spill_bytes": mean("spill_mem") + mean("spill_disk"),
        "spark.unattributed_jobs": float(sstats.unattributed_jobs()),
    }


def layer_metrics(run: Run, bench: Bench) -> dict:
    """Per-layer figures: time per call of each layer (so a layer's cost
    does not move with the hit ratio), Spark totals per operation, and
    counts for the run."""
    tot = bench.tracer.totals()

    def per_call(name: str, key: str = "ms") -> float:
        return tot[name][key] / tot[name]["n"] if tot[name]["n"] else 0.0

    n_req = run.mix.get("requests", 0)
    n_ops = run.completed + len(run.refresh_s)
    cache = run.info.get("result_cache",
                         {"hits": 0, "misses": 0, "evictions": 0})
    looked = cache["hits"] + cache["misses"]
    busy_ms = (sum(x for x in run.latencies_ms if x != math.inf)
               + 1000.0 * sum(run.refresh_s))
    out = {
        "request.parse_ms": per_call("request.parse"),
        "model.build_ms": per_call("model.build"),
        "plans.build_ms": per_call("plans.build"),
        "plans.py4j_calls": per_call("plans.build", "py4j"),
        "plans.binding_table_ms": (tot["plans.binding_table"]["ms"] / n_ops
                                   if n_ops else 0.0),
        "plans.overwrite_ms": per_call("plans.overwrite"),
        "result_cache.hit_ratio": cache["hits"] / looked if looked else 0.0,
        "result_cache.hits": cache["hits"],
        "result_cache.misses": cache["misses"],
        "result_cache.evictions": cache["evictions"],
        "result_cache.lookup_ms": (tot["result_cache.lookup"]["ms"] / n_req
                                   if n_req else 0.0),
        "curators.ms": per_call("curators.run"),
        "output.to_json_ms": per_call("output.to_json"),
        "setup.session_ms": run.setup["session_ms"],
        "setup.warm_ms": run.setup["warm_ms"],
        "engine.leaked_rdds": run.info["leaked_rdds"],
        "engine.scoped_caches": run.info["scoped_caches"],
        "engine.peak_rss_mb": run.peak_rss_mb,
        "trace.overhead_frac": (bench.tracer.own_s * 1000.0 / busy_ms
                                if busy_ms else 0.0),
    }
    out.update(_spark_means(bench.sstats))
    for name in OPS:
        times = run.op_ms.get(name, [])
        out[f"ops.{name}_ms"] = statistics.median(times) if times else 0.0
        tasks = [v["tasks"] for v in bench.sstats.per_op.values()
                 if v["label"] == f"ops.{name}"]
        out[f"ops.{name}_tasks"] = statistics.median(tasks) if tasks else 0.0
    return {name: float(out[name]) for name in LAYER_UNITS}


WORKLOADS = {"dashboard": run_dashboard, "ops_batch": run_ops_batch}


def e2e(run: Run) -> dict:
    """The end-to-end figures of a run, by name: (value, unit)."""
    lat = run.latencies_ms
    p95 = tail_percentile(lat, 95)
    return {
        "latency_p50_ms": (statistics.median(lat) if lat else 0.0, "ms"),
        "latency_p95_ms": (p95, "ms"),
        "latency_samples": (len(lat), "count"),
        "throughput_rps": (run.in_window / run.window_s
                           if run.window_s else 0.0, "1/s"),
        "refresh_s": (statistics.median(run.refresh_s)
                      if run.refresh_s else None, "s"),
        "batch_s": (statistics.median(run.sweep_s)
                    if run.sweep_s else None, "s"),
        "error_frac": (run.failed / max(run.attempted, 1), "frac"),
        "setup_s": (run.setup.get("setup_s", 0.0), "s"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
        "leaked_rdds": (run.info.get("leaked_rdds"), "count"),
        "scoped_caches": (run.info.get("scoped_caches"), "count"),
    }
