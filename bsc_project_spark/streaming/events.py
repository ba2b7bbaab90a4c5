"""Structured Streaming operators over an events stream.

The reference is pure batch (SURVEY.md §2f), but a 100 TB training-data
engine ingests continuously; these are the streaming counterparts of the
batch aggregations, built on watermarked windows and
``applyInPandasWithState`` (the custom-stateful-operator path).

All transformations take a DataFrame (batch or streaming — same code, the
Structured Streaming contract) with columns
(event_id long, ts timestamp, user_id long, event_type string, value double).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data watermark.

    ``slide`` turns the window hopping (the streaming twin of the batch
    ``q_hopping_windows``): each event lands in window/slide overlapping
    windows, expanded MAP-side before the stateful aggregation — state is
    keyed per (window, event_type) exactly as in the tumbling case, just
    window/slide times as many keys, and the same watermark evicts each
    window once its end passes the event-time horizon."""
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> LTZ
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessionization per user via applyInPandasWithState.

    Emits a row per CLOSED session (a new event more than ``gap_seconds``
    after the previous one closes the running session); on processing-time
    timeout the open session is flushed.  This is the engine's custom
    stateful streaming operator (SURVEY.md §2f notes the reference has
    none; the north-star engine needs one for continuous ingest).

    Ordering: ALL pandas chunks Spark feeds for a key within one trigger
    are buffered and sorted ONCE before the gap scan — a later chunk may
    contain earlier timestamps, and a per-chunk sort would let such an
    out-of-order event spuriously close a session or fold an old event
    into the current one.  Events that arrive in a LATER trigger with
    earlier timestamps are folded per the usual processing-time contract
    (they extend/trigger sessions relative to the retained state).

    availableNow caveat: ProcessingTimeTimeout only fires on a SUBSEQUENT
    trigger, so under ``trigger(availableNow=True)`` the final open session
    per key is retained in state, not emitted (pinned by
    test_sessionize_available_now_keeps_open_session).  A continuous
    deployment gets the flush from the next trigger; a finite drain wanting
    open sessions should run a last empty trigger or compute the tail
    batch-side.
    """
    gap_us = gap_seconds * 1_000_000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, pd.Timestamp(start_us, unit="us"),
                  pd.Timestamp(last_us, unit="us"), n, sv)],
                columns=[f.name for f in SESSION_OUTPUT.fields],
            )
            return

        if state.exists:
            start_us, last_us, n, sv = state.get
        else:
            start_us = last_us = -1
            n, sv = 0, 0.0

        closed: list[tuple] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            buffered = (
                pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            ).sort_values("ts", kind="stable")
            for ts, value in zip(buffered["ts"], buffered["value"]):
                t_us = int(pd.Timestamp(ts).value // 1_000)
                if start_us < 0:
                    start_us = last_us = t_us
                    n, sv = 1, float(value)
                elif t_us - last_us > gap_us:
                    closed.append(
                        (user_id, pd.Timestamp(start_us, unit="us"),
                         pd.Timestamp(last_us, unit="us"), n, sv)
                    )
                    start_us = last_us = t_us
                    n, sv = 1, float(value)
                else:
                    last_us = max(last_us, t_us)
                    n += 1
                    sv += float(value)
        state.update((start_us, last_us, n, sv))
        state.setTimeoutDuration(gap_us // 1000)
        if closed:
            yield pd.DataFrame(
                closed, columns=[f.name for f in SESSION_OUTPUT.fields]
            )

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    window: str = "1 day",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Stream-static enrichment: join the event stream against a SLOWLY
    CHANGING static dimension (re-planned each trigger, so a refreshed dim
    table is picked up without restarting the query; Spark's broadcast
    threshold broadcasts a small one), then roll up per (window, dim
    attribute).

    This is the continuous form of q_segment_revenue's broadcast-dim shape:
    the stream side never shuffles for the join; only the windowed groupBy
    keeps (bounded, watermark-expired) state.  Left join keeps events whose
    key has no dim row (dim_value NULL bucket) — dropping them silently
    would make the rollup lie about traffic volume.
    """
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    joined = src.join(dim, on=on, how="left")
    dim_cols = [c for c in dim.columns if c != on]
    return (
        joined.groupBy(F.window("ts", window).alias("w"), *dim_cols)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            *dim_cols,
            "n_events",
            "sum_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    lag_seconds: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream event-time interval join: pair each left event with
    every right event of the same user that lands within
    ``[l_ts, l_ts + lag_seconds]`` (click -> purchase attribution).

    This is the both-sides-stateful streaming surface: each side buffers
    rows in state, and the event-time range condition in the join predicate
    is what lets Spark EVICT — a left row older than
    ``watermark + lag_seconds`` can never match a future right row, so its
    state is dropped instead of growing unboundedly.  Without the time
    bound the join would be rejected on streams (unbounded state).  On
    batch frames the same code is a plain equi+range join, so the batch
    run IS the oracle for the streamed run.
    """
    l = (
        left.withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            F.col("event_id").alias("l_event_id"),
            F.col("ts").alias("l_ts"),
            "user_id",
        )
    )
    r = (
        right.withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            F.col("event_id").alias("r_event_id"),
            F.col("ts").alias("r_ts"),
            F.col("user_id").alias("r_user_id"),
            F.col("value").alias("r_value"),
        )
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if r.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {lag_seconds} SECOND"))
    )
    return l.join(r, cond, "inner").select(
        "user_id",
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
        "r_value",
    )


def dedup_events(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup by event_id — the continuous-ingest
    counterpart of q_dedup_exact.  On a stream, state is bounded by the
    watermark horizon (``dropDuplicatesWithinWatermark``: a duplicate
    arriving later than the watermark allows is not guaranteed dropped —
    the documented at-least-once boundary); on a batch frame it degrades
    to plain dropDuplicates, so the same code serves both paths."""
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        return src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return src.dropDuplicates(["event_id"])


def run_stream_to_memory(
    spark,
    source_dir: str,
    transform,
    query_name: str,
    output_mode: str = "append",
    max_files_per_trigger: int | None = None,
):
    """Helper: file-source stream over parquet -> transform -> memory sink,
    processed with availableNow (drains everything, then stops).  A single
    parquet FILE is wrapped in a temp directory (the file stream source
    requires a directory).  ``max_files_per_trigger`` splits the drain
    into several micro-batches (tests use it to force cross-trigger
    out-of-order arrival through stateful operators)."""
    import os
    import tempfile

    if os.path.isfile(source_dir):
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(os.path.abspath(source_dir), os.path.join(d, os.path.basename(source_dir)))
        schema = spark.read.parquet(source_dir).schema
        source_dir = d
    else:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    out = transform(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q)
    return spark.table(query_name)


def _drain_and_stop(q, timeout_s: float = 120.0) -> None:
    """Wait until a finite (availableNow) query has processed everything,
    then stop it explicitly.

    Neither built-in wait works once stateful operators register
    ProcessingTimeTimeout state (the sessionizer): awaitTermination(t)
    burns the whole timeout because the query lingers to serve future
    timeouts, and processAllAvailable() never returns at all — the engine
    keeps scheduling timeout-evaluation batches, so its "nothing pending"
    latch never latches (observed: Python state workers spinning
    indefinitely).  Polling the query STATUS for the drained condition
    (at least one batch completed, no data available, trigger inactive)
    sidesteps both, and the explicit stop() is what a finite drain wants
    anyway — it also keeps session teardown from stalling on a live query.
    """
    import time as _time

    deadline = _time.monotonic() + timeout_s
    while _time.monotonic() < deadline and q.isActive:
        progs = q.recentProgress
        if progs:
            total_in = sum(p["numInputRows"] for p in progs)
            # a zero-input batch AFTER data flowed = the source is drained
            # (the engine moved on to timeout-evaluation batches); a query
            # that self-terminates instead exits via isActive above
            if total_in > 0 and progs[-1]["numInputRows"] == 0:
                break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
