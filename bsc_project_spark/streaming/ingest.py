"""Continuous document ingest: Structured Streaming -> the engine's
snapshot table.

A file-source stream of newly-arrived ``documents`` rows feeds
``foreachBatch``; each micro-batch runs the SAME ``run_incremental_update``
the batch path uses (page-level delta dedup, one atomic snapshot per
batch).  Exactly-once across failures comes from one store: each commit
writes its documents' ids to the table's doc-id ledger in the same atomic
snapshot as their data, and the sink anti-joins every batch against that
ledger before it commits.  A replayed batch — the same batch after a
crash, or the same documents re-batched after the stream checkpoint is
lost — finds its documents committed and no-ops.

This is the standard idempotent-``foreachBatch`` pattern, pointed at the
repo's Iceberg-style snapshot table instead of an external transactional
sink.
At fleet scale the identical topology runs continuously (no availableNow)
with the stream source being a queue or table changelog; nothing in the
sink depends on the trigger mode.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..config import ExtractConfig
from ..pipeline.checkpoint import run_incremental_update


def ingest_sink(media, cfg: ExtractConfig, out_dir: str):
    """Build the ``foreachBatch`` callback: batch -> one idempotent
    incremental-update commit.

    The replay guard: docs already in the committed table are anti-joined
    out of the batch before ingesting, and a batch left empty commits
    nothing.  It keys on the documents, not the batch id, so ANY
    re-batching is safe — losing the stream checkpoint and re-reading the
    whole source ingests only the genuinely-new documents, whatever batch
    ids and shapes the second run produces.  The committed side comes from
    the skinny ``doc_ids/`` ledger pruned to the batch's doc-id buckets
    (``committed_doc_ids``), so per-batch cost stays O(batch + touched
    buckets) no matter how many snapshots the table accumulates — a
    full-table scan here would grow with table history.
    """
    from pyspark.sql import functions as F

    from ..pipeline.checkpoint import committed_doc_ids, read_manifest

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        n_buckets = read_manifest(out_dir).get("n_buckets")
        touched = None
        if n_buckets:
            touched = sorted(
                r.b
                for r in batch_df.select(
                    F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).alias("b")
                )
                .distinct()
                .collect()
            )
        committed = committed_doc_ids(batch_df.sparkSession, out_dir, touched)
        # persisted: run_incremental_update evaluates its input several
        # times (refs delta, doc stage) and each lazy evaluation would
        # re-scan the ever-growing committed table through this anti-join
        fresh = batch_df.join(committed, "doc_id", "left_anti").persist()
        try:
            if fresh.count() == 0:
                return
            run_incremental_update(fresh, media, cfg, out_dir)
        finally:
            fresh.unpersist()

    return sink


def stream_ingest_documents(
    spark: SparkSession,
    source_dir: str,
    media,
    cfg: ExtractConfig,
    out_dir: str,
    checkpoint_dir: str,
    query_name: str = "doc_ingest",
    max_files_per_trigger: int | None = None,
    timeout_s: float = 300.0,
) -> None:
    """Drain ``source_dir`` (parquet files of documents rows) into the
    snapshot table at ``out_dir`` with availableNow, one snapshot commit
    per micro-batch.  ``max_files_per_trigger`` bounds batch size (memory
    ceiling per commit at scale; in tests it forces multi-batch runs)."""
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    q = (
        stream.writeStream.foreachBatch(ingest_sink(media, cfg, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    # foreachBatch holds no timeout state, so availableNow self-terminates
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream ingest did not drain within {timeout_s}s")
