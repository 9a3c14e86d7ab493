"""Seeded request and op mixes for the workloads.

The engine only ever sees the generated requests. Every generator takes
the run's seed, and ``MixStats`` records what a run actually sent, so a
claim that depends on repetition, curators or SQL can cite the measured
share.
"""

from __future__ import annotations

import bisect
import copy
import datetime as dt
import json
import random
from dataclasses import dataclass, field

#: the events table covers these days (January 2024, inside the
#: contract's events window)
EVENT_DAY0 = dt.date(2024, 1, 1)
EVENT_DAYS = 30

#: contract shapes a dashboard polls: served from the day-partitioned
#: ``lineitem_daily`` and ``events_hourly`` rollups where the planner can,
#: from the raw star otherwise
DASHBOARD_SHAPES = ("q1_pricing_summary", "q3_daily_revenue",
                    "q20_monthly_rollup", "q8_filtered_rollup",
                    "q17_events_hourly", "q4_nation_revenue_by_segment",
                    "q5_region_rollup", "q28_banding")

#: dashboard windows: the trailing N days up to a seeded end day
DASHBOARD_WINDOWS = (7, 14, 28, 56)

#: curator configurations a dashboard panel may attach (one per request)
CURATORS = (
    ("totalmetrics", {"totalmetrics": {}}),
    ("rowcount", {"rowcount": {}}),
    ("drilldown", {"drilldown": {"config": {"dimension": "{drill}"}}}),
    ("timeshift", {"timeshift": {}}),
)
DRILL_DIM = {"tpch": "line_status", "events_cube": "event_type"}

#: the SQL entry point's grammar covers these filter operators only
SQL_OPERATORS = {"between", "=", "<>", ">", "<", "in", "not in", "like"}
#: request keys the SQL grammar can express
SQL_KEYS = {"cube", "selectFields", "filterExpressions", "sortBy",
            "rowsPerPage", "paginationStartIndex"}


def contract_shapes() -> dict[str, dict]:
    """name -> request JSON of every single-request contract cube entry."""
    from maha_spark.examples.contract import QUERIES
    return {n: q["request"] for n, q in QUERIES.items() if "request" in q}


def _iso(d: dt.date) -> str:
    return d.isoformat()


def with_window(req: dict, lo: str, hi: str) -> dict:
    out = copy.deepcopy(req)
    out["filterExpressions"] = [
        {**f, "from": lo, "to": hi}
        if f.get("field") == "day" and f.get("operator") == "between" else f
        for f in out.get("filterExpressions", [])]
    return out


def to_sql(req: dict) -> str | None:
    """The same request in the SQL entry point's grammar, or None when
    the request uses something that grammar cannot express."""
    if set(req) - SQL_KEYS:
        return None

    def lit(v):
        return str(v) if isinstance(v, (int, float)) else \
            "'" + str(v).replace("'", "''") + "'"

    preds = []
    for f in req.get("filterExpressions", []):
        op = f.get("operator")
        if op not in SQL_OPERATORS or "compareTo" in f:
            return None
        col = f'"{f["field"]}"'
        if op == "between":
            preds.append(f"{col} BETWEEN {lit(f['from'])} AND {lit(f['to'])}")
        elif op in ("in", "not in"):
            vals = ", ".join(lit(v) for v in f["values"])
            preds.append(f"{col} {op.upper()} ({vals})")
        else:
            preds.append(f"{col} {op.upper()} {lit(f['value'])}")
    sql = ("SELECT " + ", ".join(f'"{s["field"]}"'
                                 for s in req["selectFields"])
           + f" FROM {req['cube']}")
    if preds:
        sql += " WHERE " + " AND ".join(preds)
    if req.get("sortBy"):
        sql += " ORDER BY " + ", ".join(f'"{s["field"]}" {s["order"]}'
                                        for s in req["sortBy"])
    if "rowsPerPage" in req:
        sql += f" LIMIT {int(req['rowsPerPage'])}"
    if "paginationStartIndex" in req:
        if "rowsPerPage" not in req:
            return None
        sql += f" OFFSET {int(req['paginationStartIndex'])}"
    return sql


@dataclass(frozen=True)
class Op:
    """One generated operation: a JSON request, a SQL request, a
    rollup refresh or a pipeline op."""
    kind: str                       # "json" | "sql" | "refresh" | "op"
    key: str                        # identity of the request / op name
    payload: object = None          # dict (json), str (sql), (lo, hi)
    shape: str = ""
    curator: str = ""


def request_op(req: dict, shape: str, as_sql: bool,
               curator: str = "") -> Op:
    sql = to_sql(req) if as_sql else None
    if sql is not None:
        return Op("sql", "sql:" + sql, sql, shape, curator)
    text = json.dumps(req, sort_keys=True)
    return Op("json", "json:" + text, req, shape, curator)


def dashboard_pool(seed: int, size: int, day0: dt.date, days: int,
                   curator_every: int = 5, sql_every: int = 10) -> list[Op]:
    """``size`` distinct dashboard panels in popularity order (rank 0 is
    the hottest). Rank r polls shape ``DASHBOARD_SHAPES[r % 8]`` over a
    trailing window of ``DASHBOARD_WINDOWS[r // 8 % 4]`` days, every
    ``curator_every``-th rank carries one curator (the kinds in turn) and
    every ``sql_every``-th rank is sent as SQL when the SQL grammar can
    express it, so each popularity band has the same mix whatever the
    seed; the seed picks the day each window ends on."""
    rng = random.Random(seed)
    shapes = contract_shapes()
    last = day0 + dt.timedelta(days - 1)
    pool: list[Op] = []
    seen: set[str] = set()
    while len(pool) < size:
        rank = len(pool)
        name = DASHBOARD_SHAPES[rank % len(DASHBOARD_SHAPES)]
        req = copy.deepcopy(shapes[name])
        span = DASHBOARD_WINDOWS[rank // len(DASHBOARD_SHAPES)
                                 % len(DASHBOARD_WINDOWS)]
        if req["cube"] == "events_cube":
            span = min(span, 14)
            end = EVENT_DAY0 + dt.timedelta(EVENT_DAYS - 1
                                            - rng.randrange(14))
        else:
            end = last - dt.timedelta(rng.randrange(max(1, days - span)))
        req = with_window(req, _iso(end - dt.timedelta(span - 1)), _iso(end))
        curator = ""
        if rank % curator_every == curator_every - 1:
            curator, cfg = CURATORS[rank // curator_every % len(CURATORS)]
            req["curators"] = json.loads(json.dumps(cfg).replace(
                "{drill}", DRILL_DIM[req["cube"]]))
        op = request_op(req, name, rank % sql_every == 3, curator)
        if op.key not in seen:
            seen.add(op.key)
            pool.append(op)
    return pool


def zipf_draws(seed: int, n_items: int, s: float):
    """Endless Zipf(s) ranks over ``n_items``. The uniforms are a
    golden-ratio sequence from a seeded start rather than independent
    draws, so every run of a given length sees the tail in nearly the
    same proportion; that keeps the miss count, and with it the run's
    throughput, from swinging with the seed."""
    weights = [1.0 / (k + 1) ** s for k in range(n_items)]
    total = sum(weights)
    cum, acc = [], 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)
    u = random.Random(seed).random()
    step = (5 ** 0.5 - 1) / 2
    while True:
        u = (u + step) % 1.0
        yield min(bisect.bisect_left(cum, u), n_items - 1)


def lru_after(pool: list[Op], ranks, draws: int, capacity: int) -> list[Op]:
    """The panels an LRU cache of ``capacity`` holds after ``draws`` draws
    from ``ranks`` (oldest first). Executing them in this order puts the
    cache in the state a long-running dashboard would have reached, and
    the timed phase continues the same draw sequence from there."""
    from collections import OrderedDict
    lru: "OrderedDict[int, None]" = OrderedDict()
    for _ in range(draws):
        r = next(ranks)
        lru.pop(r, None)
        lru[r] = None
        if len(lru) > capacity:
            lru.popitem(last=False)
    return [pool[r] for r in lru]


def ops_sweep(seed: int, sweep: int, names: list[str]) -> list[Op]:
    """One sweep over ``names`` in an order seeded by (seed, sweep)."""
    order = sorted(names)
    random.Random(seed * 1009 + sweep).shuffle(order)
    return [Op("op", n, shape=n) for n in order]


@dataclass
class MixStats:
    """What a run actually sent."""
    seed: int
    sent: int = 0
    distinct: set = field(default_factory=set)
    repeats: int = 0
    curators: int = 0
    sql: int = 0
    refreshes: int = 0
    ops: int = 0

    def record(self, op: Op) -> None:
        if op.kind == "refresh":
            self.refreshes += 1
            return
        if op.kind == "op":
            self.ops += 1
            return
        self.sent += 1
        if op.key in self.distinct:
            self.repeats += 1
        self.distinct.add(op.key)
        self.curators += bool(op.curator)
        self.sql += op.kind == "sql"

    def summary(self, cache_capacity: int) -> dict:
        n = max(self.sent, 1)
        return {
            "seed": self.seed,
            "requests": self.sent,
            "distinct_requests": len(self.distinct),
            "distinct_per_cache_capacity":
                round(len(self.distinct) / cache_capacity, 3),
            "repeated_share": round(self.repeats / n, 4),
            "curator_requests": self.curators,
            "curator_share": round(self.curators / n, 4),
            "sql_share": round(self.sql / n, 4),
            "refreshes": self.refreshes,
            "ops": self.ops,
        }
