"""Run one benchmark workload and print its metrics.

  python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run copies the benchmark's tables
(``perfbench/data/``) under ``.bench_work/``, generates its request or op
mix from the seed, drives the engine through its public entry points,
checks every answer, prints a report with every metric and its unit, and
ends with one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans are written to ``.bench_work/traces/``). ``correct`` is false
when an answer differed from its oracle or replay or an operation raised;
``failed`` counts those operations. The exit code is 0 for a correct run, 1 when the
correctness gate found a mismatch, and 2 when the program under test is
not in the checkout.
"""

from __future__ import annotations

import time

#: set-up is timed from here: interpreter start-up is the same for every
#: version of the program, everything after it may not be
T0 = time.perf_counter()

import argparse  # noqa: E402
import faulthandler  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: a run that has not finished by then dumps its threads and exits
WATCHDOG_S = 170


def _program_missing() -> str | None:
    if not os.path.isfile(os.path.join(ROOT, "maha_spark", "engine.py")):
        return f"maha_spark/ not found under {ROOT}"
    for mod in ("pyspark", "duckdb", "numpy", "pyarrow"):
        try:
            __import__(mod)
        except ImportError as e:
            return f"cannot import {mod}: {e}"
    return None


def _environment(work: str) -> None:
    """Keep every file the run writes (Python and JVM temp files, Spark
    block-manager dirs) inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _program_missing()
    if missing:
        print(f"perfbench: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    _environment(work)
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work, T0,
                        os.path.join(traces, f"{args.workload}-s{args.seed}"
                                     ".jsonl") if args.trace else "")
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = workloads.e2e(run)
    print(f"workload {args.workload} seed {args.seed} "
          f"trace {args.trace} seconds {args.seconds:g}")
    print("mix " + json.dumps(run.mix, sort_keys=True))
    print("info " + json.dumps(run.info, sort_keys=True))
    for name, (value, unit) in e2e.items():
        print(f"{name:28s} {_fmt(value):>14s} {unit}")
    for name, value in run.layers.items():
        print(f"{name:28s} {_fmt(value):>14s} "
              f"{workloads.LAYER_UNITS[name]}")
    for p in run.problems:
        print(f"FAILED {p}")

    if args.trace:
        print(f"spans {run.spans_path}")
        metrics = {n: {"value": run.layers[n],
                       "unit": workloads.LAYER_UNITS[n]}
                   for n in workloads.LAYER_UNITS}
    else:
        metrics = {n: {"value": e2e[n][0], "unit": e2e[n][1]}
                   for n in workloads.E2E_METRICS}
    correct = run.mismatches == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
