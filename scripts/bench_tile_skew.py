"""Giant-page skew demo: max-task-time with tiling ON vs OFF.

Builds a mixed corpus — one page at 100x the median AREA (10x linear, a
315M-px scan) plus 15 median pages — and runs the extraction stage twice
in fresh subprocesses with the Spark event log enabled: once with the
tile split (pipeline/tiling.py) and once with tile_threshold_px=None
(the atomic per-page path).  Reports, per mode:

  - end-to-end extraction wall
  - MAX single task duration (TaskEnd finish - launch, over all stages)
  - median task duration, task count
  - a value hash of the extracted spans (both modes must agree — the
    tile path is bit-exact, tests/test_tiling.py)

This is the evidence for the SURVEY §7 open risk ("one media span is
atomic"): with tiling OFF the giant page pins one task for the whole
native-resolution chain; with tiling ON the max task is bounded by the
constant-size stitch work.  Appends a summary to stdout as one JSON line.

Usage: python scripts/bench_tile_skew.py
  (cores: $SPARK_GRAFT_TILE_CPUS, else $SPARK_GRAFT_CPUS, else every core)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

from scaling_tasklog import event_log_env, task_end_events  # same dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import hashlib, json, os, sys, time
sys.path.insert(0, {repo!r})
import dataclasses
import numpy as np
from bsc_project_spark.fixtures import spark_io
from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG, build_corpus, page_spec
from bsc_project_spark.fixtures.render import render_page
from bsc_project_spark.io.png import encode_gray
from bsc_project_spark.pipeline.extract import run_extract_stage
from bsc_project_spark.pipeline.session import get_spark

cores = int(sys.argv[1]); tile_on = sys.argv[2] == "on"
spark = get_spark(f"tileskew-{{'on' if tile_on else 'off'}}",
                  master=f"local[{{cores}}]", shuffle_partitions=cores * 2)
spark.range(1000).selectExpr("sum(id)").collect()
def _warm(it):
    import numpy as _np  # noqa
    for pdf in it:
        yield pdf
spark.range(cores * 4).repartition(cores * 4).mapInPandas(_warm, "id long").count()

corpus = build_corpus(n_docs=8)
docs = spark_io.documents_df(spark, corpus)
media = spark_io.media_df(spark, corpus)
giant = np.kron(render_page(page_spec(3)), np.ones((10, 10), dtype=np.uint8))
g_h, g_w = giant.shape
docs = docs.unionByName(spark.createDataFrame(
    [("doc_giant", [("text", "before", None, 0), ("media", None, "giant0", 1)])],
    docs.schema))
media = media.unionByName(spark.createDataFrame(
    [("giant0", bytearray(encode_gray(giant)), g_w, g_h, -1)], media.schema))

cfg = FIXTURE_CONFIG if tile_on else dataclasses.replace(
    FIXTURE_CONFIG, tile_threshold_px=None)

t0 = time.monotonic()
res = run_extract_stage(docs, media, cfg, persist=True)
rows = sorted(
    (r.doc_id, r.order, r.kind, r.text or "", r.media_ref or "")
    for r in res.extracted.collect()
)
wall = time.monotonic() - t0
h = hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]
print("TILESKEW " + json.dumps({{"wall_sec": round(wall, 2),
    "n_spans": len(rows), "hash": h}}), flush=True)
spark.stop()
"""


def run_mode(mode: str, cores: int) -> dict:
    with tempfile.TemporaryDirectory() as log_dir:
        script = WORKER.format(repo=REPO)
        with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
            f.write(script)
            worker = f.name
        try:
            env = event_log_env(log_dir)
            # the 315M-px page needs more than get_spark's 8g default
            env.setdefault("SPARK_DRIVER_MEM", "16g")
            p = subprocess.run(
                [sys.executable, worker, str(cores), mode],
                capture_output=True, text=True, timeout=1800, env=env,
            )
            res = None
            for line in p.stdout.splitlines():
                if line.startswith("TILESKEW "):
                    res = json.loads(line[len("TILESKEW "):])
            if res is None:
                raise RuntimeError(f"worker failed:\n{p.stdout[-3000:]}\n{p.stderr[-3000:]}")
            durs = sorted(
                (ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"]) / 1000.0
                for ev in task_end_events(log_dir)
            )
            res["max_task_sec"] = round(durs[-1], 2) if durs else None
            res["p50_task_sec"] = round(durs[len(durs) // 2], 3) if durs else None
            res["n_tasks"] = len(durs)
            return res
        finally:
            os.unlink(worker)


def main() -> None:
    cores = int(
        os.environ.get("SPARK_GRAFT_TILE_CPUS")
        or os.environ.get("SPARK_GRAFT_CPUS")
        or os.cpu_count()
    )
    out = {"cores": cores}
    for mode in ("off", "on"):
        out[f"tile_{mode}"] = run_mode(mode, cores)
        print(f"tile_{mode}: {out[f'tile_{mode}']}", file=sys.stderr, flush=True)
    out["hash_match"] = out["tile_on"]["hash"] == out["tile_off"]["hash"]
    out["max_task_ratio"] = (
        round(out["tile_off"]["max_task_sec"] / out["tile_on"]["max_task_sec"], 2)
        if out["tile_on"]["max_task_sec"] else None
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
