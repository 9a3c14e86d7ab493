"""Frequent-items advisor: mine the request-log ledger for TopN-by-count
workloads and close the loop with day-grain frequent-items partials —
the third ledger-mining advisor, alongside rollup grains
(``registry/advisor.py``) and skipping sidecars/Z-order
(``registry/skip_advisor.py``).

The workload shape it targets: dashboards asking "top N <dim> by count
over <date range>" (one grouped dim, a CountRollup metric sorted DESC,
a small page). At 100 TB each such request is a full fact scan per
refresh; a stored ``(dt, freq_items)`` partial table
(``core/freqitems.py``) serves it at cost ∝ days × k' with per-item
certainty flags. The advisor only recommends shapes the partials can
answer EXACTLY as logged: unfiltered (beyond the mandatory Day bounds),
single plain fact dim, pure row-count metric — anything else (dim-join
filters, sum metrics) would change the counts and must keep scanning.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.freqitems import FREQ_K, freq_items_partial, freq_topk_serve
from ..core.rollup import CountRollup


@dataclass(frozen=True)
class FreqTopkRecommendation:
    """One (physical table, physical dim column) whose TopN-by-count
    workload a day-grain frequent-items partial table would serve."""
    table: str
    column: str
    day_col: str
    count: int              # qualifying requests observed
    max_k: int              # largest page size requested

    @property
    def kprime(self) -> int:
        """Stored candidates per day: at least the library default, and
        at least 4x the largest requested page — headroom that keeps
        deep pages guaranteed when days disagree on their heavy items."""
        return max(FREQ_K, 4 * self.max_k)

    def describe(self) -> str:
        return (f"freqidx {self.table}.{self.column}: {self.count} "
                f"top-N request(s), max k {self.max_k} "
                f"-> store k'={self.kprime}/day")


def recommend_freq_topk(engine, entries: Iterable[Any], *,
                        top_n: int = 3, min_count: int = 2,
                        max_page: int = 100,
                        today=None) -> list[FreqTopkRecommendation]:
    """Rank (table, dim column) pairs by TopN-by-count request frequency.

    A request qualifies when the partials would reproduce it exactly:

    * exactly one projected dim, a plain physical ``DimCol`` on the
      selected fact table (no derived/mapped/joined attributes);
    * the first sort is DESC on a ``CountRollup`` metric (pure row
      count — the quantity the partials store);
    * a bounded page (``0 < rowsPerPage <= max_page``);
    * no dim joins and no fact filters beyond the mandatory Day bounds
      (any other predicate changes the counts).

    Same ledger contract as the sibling advisors: entries are
    ``RequestLogEntry`` objects / dicts / raw JSON; requests that no
    longer model are skipped, never fatal."""
    from ..core.columns import DimCol
    from .advisor import ledger_models

    counts: dict[tuple[str, str, str], list] = {}
    for model in ledger_models(engine, entries, today):
        if model.chains or model.is_dim_only or model.request_distinct:
            continue
        if not (0 < model.max_rows <= max_page):
            continue
        table = model.cube.base_table
        if not table.day_column:
            continue
        # every fact filter must be on the Day alias
        day_alias = model.cube.day_alias
        if any(getattr(f, "field", None) != day_alias
               for f in model.fact_filters):
            continue
        dims = [p for p in model.projections if p.kind != "metric"
                and p.alias != day_alias]
        mets = [p for p in model.projections if p.kind == "metric"]
        if len(dims) != 1 or not mets:
            continue
        pub = model.cube.col_by_alias(dims[0].alias)
        col = table.columns.get(pub.name) if pub is not None else None
        if type(col) is not DimCol or col.is_day_column \
                or col.dtype.has_static_mapping or col.case_insensitive:
            continue
        if not model.fact_sorts:
            continue
        s = model.fact_sorts[0]
        if s.order.upper() != "DESC" or s.field not in {
                m.alias for m in mets}:
            continue
        mpub = model.cube.col_by_alias(s.field)
        mcol = table.columns.get(mpub.name) if mpub is not None else None
        if mcol is None or not isinstance(
                getattr(mcol, "rollup", None), CountRollup):
            continue
        rec = counts.setdefault(
            (table.name, pub.name, table.day_column), [0, 0])
        rec[0] += 1
        rec[1] = max(rec[1], model.max_rows)
    out = [FreqTopkRecommendation(t, c, d, n, mk)
           for (t, c, d), (n, mk) in counts.items() if n >= min_count]
    out.sort(key=lambda r: (-r.count, r.table, r.column))
    return out[:top_n]


def freq_partials_dir(base_dir: str, table: str, column: str) -> str:
    """Conventional partial-table location, mirroring
    ``skipping.table_index_dir``'s ``_skipidx`` convention."""
    return os.path.join(base_dir, "_freqidx", table, column)


def build_recommended_freq_partials(
        spark: SparkSession, base_dir: str,
        recs: Iterable[FreqTopkRecommendation]) -> list[str]:
    """Materialize each recommendation as a ``(dt, freq_items)`` parquet
    table under ``{base_dir}/_freqidx/{table}/{column}`` — one table
    read per recommendation (day-grain exact top-k' is one groupBy plus
    one window; see core/freqitems.py for the scale argument)."""
    from ..plans.binding import ParquetBinding
    binding = ParquetBinding(spark, base_dir)
    out: list[str] = []
    for rec in recs:
        src = binding.table(rec.table)
        parts = freq_items_partial(
            src.withColumn("dt", F.to_date(F.col(rec.day_col))),
            ["dt"], rec.column, k=rec.kprime)
        dst = freq_partials_dir(base_dir, rec.table, rec.column)
        parts.write.mode("overwrite").parquet(dst)
        out.append(dst)
    return out


def serve_freq_topn(spark: SparkSession, partials_dir: str, k: int,
                    date_from: Optional[str] = None,
                    date_to: Optional[str] = None) -> DataFrame:
    """Top-``k`` over the stored day partials restricted to
    ``[date_from, date_to]`` (inclusive ISO dates; open-ended when
    None) — the serve side of a logged TopN request, with the
    ``count_lb``/``count_ub``/``guaranteed`` columns a caller uses to
    decide whether the partials sufficed or a raw fallback is needed.
    Day pruning is a partition-grade filter on the small partial table;
    nothing here touches raw rows."""
    parts = spark.read.parquet(partials_dir)
    if date_from is not None:
        parts = parts.filter(F.col("dt") >= F.lit(date_from).cast("date"))
    if date_to is not None:
        parts = parts.filter(F.col("dt") <= F.lit(date_to).cast("date"))
    served = freq_topk_serve(parts.withColumn("_all", F.lit(1)),
                             ["_all"], k=k)
    return served.drop("_all")
