#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_corpus --seed 1 --seconds 20 --trace 0

Runs one workload (see ``perfbench/workloads.py``) from the root of a
checkout on ``local[N]``, N = ``$SPARK_GRAFT_CPUS`` capped at the cores this
process may use.  Human-readable progress goes to stderr; the last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  The exit code is non-zero when any output
disagreed with its reference or the program is missing.

Everything the run writes stays under ``<checkout>/.perfbench``: the
cached inputs and goldens, Spark's scratch and event-log directories, the
temp directory of the JVM and of every Python process, and the traces.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def configure_env(work: str) -> int:
    """Point every scratch location of Spark, the JVM and Python inside
    ``work`` and fix the core count; returns the core count."""
    usable = len(os.sched_getaffinity(0))
    cores = min(int(os.environ.get("SPARK_GRAFT_CPUS", usable)), usable)
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the program and the benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
            "pyspark-shell",
        ]
    )
    return cores


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_corpus", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bsc_project_spark", "__init__.py")):
        log(f"error: the program (bsc_project_spark/) is not in {ROOT}")
        return 2

    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    cores = configure_env(work)
    sys.path.insert(0, ROOT)
    from perfbench.runner import run
    from perfbench.workloads import END_TO_END, PER_LAYER

    try:
        metrics, loop, info = run(args.workload, args.seed, args.seconds,
                                  bool(args.trace), ROOT, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    log(json.dumps(info))
    for note in loop.notes:
        log("FAILED:", note)
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if loop.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
