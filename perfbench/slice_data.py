"""Build ``perfbench/data/`` from the repository's test tables.

    python3 perfbench/slice_data.py TESTDATA_DIR

``TESTDATA_DIR`` holds the ``sf0.1`` and ``sf0.01`` test-table directories
(TPC-H-like star, ``events``, ``documents``, ``embeddings``; one parquet
file each). Tables are copied byte for byte, with one exception:

* ``data/sf0.1/`` holds the sf0.1 star schema and ``events`` the
  ``dashboard`` workload serves. Its ``lineitem`` keeps only the ship days
  ``FIRST_DAY`` .. ``LAST_DAY``: a day-partitioned rollup of the full
  2,499-day calendar has 2,499 partitions, and its materialization and
  first scan alone outlast a run. The window lies inside every contract
  shape's day filter (``q3_daily_revenue`` asks for 1996), so each shape's
  oracle answer has rows.
* ``data/sf0.01/`` holds the tables the pipeline ops read, at the scale
  their exact DuckDB oracles finish within a run (at sf0.1 the pairwise
  dedup oracles alone take minutes).

Re-running the script on the same input writes identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "data")
#: scale -> the tables copied from it (into a directory of that name)
SETS = {
    "sf0.1": ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"),
    "sf0.01": ("orders", "events", "documents", "embeddings"),
}
DASHBOARD_DATA = os.path.join(OUT, "sf0.1")
OPS_DATA = os.path.join(OUT, "sf0.01")
FIRST_DAY = dt.date(1996, 1, 1)
DAYS = 60
LAST_DAY = FIRST_DAY + dt.timedelta(DAYS - 1)


def slice_lineitem(src: str, dst: str) -> int:
    t = pq.read_table(src)
    day = pc.cast(t["l_shipdate"], pa.date32())
    keep = pc.and_(pc.greater_equal(day, pa.scalar(FIRST_DAY)),
                   pc.less_equal(day, pa.scalar(LAST_DAY)))
    t = t.filter(keep)
    pq.write_table(t, dst, compression="snappy")
    return t.num_rows


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    for scale, tables in SETS.items():
        os.makedirs(os.path.join(OUT, scale), exist_ok=True)
        for t in tables:
            s, d = (os.path.join(argv[0], scale, f"{t}.parquet"),
                    os.path.join(OUT, scale, f"{t}.parquet"))
            if t == "lineitem":
                print(f"{scale}/lineitem: {slice_lineitem(s, d)} rows "
                      f"{FIRST_DAY}..{LAST_DAY}")
            else:
                shutil.copyfile(s, d)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
