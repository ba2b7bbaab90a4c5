"""One benchmark run: inputs, repeated session set-up, then the measured
loop.

A traced run uses two JVMs in turn, each with one fresh session that runs
one cycle.  The first runs untraced and is the reference for the tracing
overhead.  The second writes Spark's event log, enabled through the
launcher's arguments; layer spans are recorded around its cycle and the
probes run after it."""

from __future__ import annotations

import os
import time

from bsc_project_spark.pipeline.session import get_spark

from .trace import EventLog, RssSampler, Tracer, descendants
from .workloads import PER_LAYER, SETUP_SAMPLES, WORKLOADS, Loop, median


def _warm_workers(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    for pdf in batches:
        yield pdf


def start_session(samples: list[dict]):
    """``get_spark`` plus a Python-worker warm-up over the session's
    ``defaultParallelism`` partitions; appends the timings to ``samples``."""
    t0 = time.monotonic()
    spark = get_spark("perfbench")
    t1 = time.monotonic()
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(_warm_workers, "id long").collect()
    t2 = time.monotonic()
    samples.append({"start_s": t1 - t0, "warm_s": t2 - t1, "total_s": t2 - t0})
    return spark


def measure(workload, seconds: float, tracer: Tracer, min_cycles: int) -> Loop:
    """Whole cycles, at least ``min_cycles``, until ``seconds`` have
    elapsed."""
    loop = Loop(tracer)
    t_end = time.monotonic() + seconds
    while len(loop.walls) < min_cycles or time.monotonic() < t_end:
        workload.cycle(loop)
    return loop


def stop_jvm() -> None:
    """Stop the JVM the sessions ran in and wait for it and every process
    under it (the Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    under = descendants(proc.pid)
    proc.terminate()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in under):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes under the JVM did not exit: {under}")
        time.sleep(0.05)


def _enable_event_log(log_dir: str) -> None:
    """Pass the event-log settings to the next JVM the launcher starts, so
    no change to the session builder is needed."""
    os.makedirs(log_dir, exist_ok=True)
    confs = {"spark.eventLog.enabled": "true",
             "spark.eventLog.compress": "false",
             "spark.eventLog.rolling.enabled": "false",
             "spark.eventLog.dir": "file://" + log_dir}
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} {os.environ['PYSPARK_SUBMIT_ARGS']}"


def run(name: str, seed: int, seconds: float, trace: bool, root: str, work: str,
        cores: int) -> tuple[dict, Loop, dict]:
    """Run one workload; returns the metrics of the result line, the loop
    counts and a summary for the log."""
    workload = WORKLOADS[name]()
    workload.work, workload.seed = work, seed
    phases = {}
    t0 = time.monotonic()
    workload.prepare(os.path.join(root, ".perfbench", "cache"), seed, cores)
    phases["prepare_s"] = time.monotonic() - t0
    if trace:
        return run_traced(workload, seconds, root, work, cores, phases)

    samples: list[dict] = []
    spark = None
    try:
        for _ in range(SETUP_SAMPLES):
            if spark is not None:
                spark.stop()
            spark = start_session(samples)
        workload.bind(spark)
        workload.warm()
        t0 = time.monotonic()
        with RssSampler() as rss:
            loop = measure(workload, seconds, Tracer(False), workload.min_cycles)
        phases["measure_s"] = time.monotonic() - t0
    finally:
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        stop_jvm()
        phases["stop_s"] = time.monotonic() - t0
    summary = loop.summary(workload.first_measured)
    metrics = {
        "setup_s": median(s["total_s"] for s in samples),
        "cold_cycle_s": summary["cold_cycle_s"],
        "op_geomean_s": summary["op_geomean_s"],
    }
    info = {"workload": name, "seed": workload.seed, **summary, "setup_samples": samples,
            "phases": phases, "rss_p50_mb": median(rss.samples), "peak_rss_mb": rss.peak,
            "failures": loop.notes[:20]}
    return metrics, loop, info


def run_traced(workload, seconds: float, root: str, work: str, cores: int,
               phases: dict) -> tuple[dict, Loop, dict]:
    samples: list[dict] = []
    reference = Loop(Tracer(False))
    spark = None
    try:
        spark = start_session(samples)
        workload.bind(spark)
        workload.warm()
        workload.cycle(reference)
        spark.stop()
        stop_jvm()

        log_dir = os.path.join(work, "eventlog")
        _enable_event_log(log_dir)
        spark = start_session(samples)
        tracer = Tracer(True)
        tracer.sc = spark.sparkContext
        workload.bind(spark)
        workload.warm()
        t0 = time.monotonic()
        with RssSampler() as rss:
            loop = measure(workload, seconds, tracer, 1)
        phases["measure_s"] = time.monotonic() - t0
        probed = workload.probes(spark, tracer, loop)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None
    finally:
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        stop_jvm()
        phases["stop_s"] = time.monotonic() - t0

    metrics = {k: 0.0 for k in PER_LAYER}
    metrics["session.start_s"] = median(s["start_s"] for s in samples)
    metrics["session.warm_s"] = median(s["warm_s"] for s in samples)
    metrics["mem.rss_p50_mb"] = median(rss.samples)
    metrics["mem.peak_rss_mb"] = rss.peak
    log = EventLog(os.path.join(log_dir, app_id))
    metrics.update(workload.layers(tracer, log, cores, loop))
    update_spans = probed.pop("_update_spans", [])
    metrics.update(probed)
    if update_spans:
        metrics["ckpt.update_jobs"] = median(
            log.counters(tracer.subtree(i))["jobs"] for i in update_spans)
    untraced = reference.walls[0]
    metrics["trace.overhead_share"] = (loop.walls[0] - untraced) / untraced
    loop.attempted += reference.attempted
    loop.failed += reference.failed
    loop.notes += reference.notes
    tracer.write(os.path.join(root, ".perfbench", "traces",
                              f"{workload.name}-s{workload.seed}.json"))
    info = {"workload": workload.name, "seed": workload.seed, "traced_cycle_s": loop.walls[0],
            "untraced_cycle_s": untraced, "setup_samples": samples, "phases": phases,
            "failures": loop.notes[:20]}
    return metrics, loop, info
