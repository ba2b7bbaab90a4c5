"""Streaming ingest into the snapshot table: each micro-batch commits one
snapshot through run_incremental_update; a replayed batch — the same
batch id, or the same documents re-batched under new ids — is an
exactly-once no-op because the sink anti-joins it against the committed
doc-id ledger."""

import os

from pyspark.sql import functions as F

from bsc_project_spark.fixtures import spark_io
from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
from bsc_project_spark.fixtures.spark_io import DOCUMENTS_SCHEMA
from bsc_project_spark.pipeline.checkpoint import (
    compact,
    list_snapshots,
    read_extracted,
    read_manifest,
    run_extraction_job,
)
from bsc_project_spark.streaming.ingest import ingest_sink, stream_ingest_documents


def _setup_base(spark, corpus, tmp_path):
    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    base_ids = set(ids[: len(ids) // 2])
    delta_ids = [i for i in ids if i not in base_ids]
    out_dir = str(tmp_path / "stream_table")
    run_extraction_job(
        docs.filter(F.col("doc_id").isin(base_ids)), media, FIXTURE_CONFIG,
        out_dir, n_buckets=2,
    )
    return docs, media, delta_ids, out_dir


def test_stream_ingest_commits_per_batch_and_replays_are_noops(
    spark, corpus, tmp_path
):
    docs, media, delta_ids, out_dir = _setup_base(spark, corpus, tmp_path)
    src = str(tmp_path / "arrivals")
    # two arrival files -> with maxFilesPerTrigger=1, two micro-batches
    half = len(delta_ids) // 2
    for i, chunk in enumerate([delta_ids[:half], delta_ids[half:]]):
        docs.filter(F.col("doc_id").isin(set(chunk))).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    snaps_before = len(list_snapshots(out_dir))

    stream_ingest_documents(
        spark, src, media, FIXTURE_CONFIG, out_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )

    manifest = read_manifest(out_dir)
    assert len(manifest["committed_updates"]) >= 2  # one commit per batch
    assert len(list_snapshots(out_dir)) == snaps_before + len(
        manifest["committed_updates"]
    )
    # no document's spans were committed by two batches
    got = read_extracted(spark, out_dir)
    n_rows = got.count()
    assert got.select("doc_id", "order").distinct().count() == n_rows
    # every document (base + streamed) extracted exactly once
    got_ids = {
        r.doc_id
        for r in read_extracted(spark, out_dir).select("doc_id").distinct().collect()
    }
    assert got_ids == {r.doc_id for r in docs.select("doc_id").collect()}

    # crash-replay: re-deliver batch 0 (same id, same rows) straight into
    # the sink -- the ledger makes it a no-op (no new snapshot, no rows)
    sink = ingest_sink(media, FIXTURE_CONFIG, out_dir)
    replay = spark.read.parquet(src).filter(
        F.col("doc_id").isin(set(delta_ids[:half]))
    )
    sink(replay, 0)
    assert len(list_snapshots(out_dir)) == snaps_before + len(
        manifest["committed_updates"]
    )
    assert read_extracted(spark, out_dir).count() == n_rows

    # new documents under a new batch id commit one snapshot
    extra = docs.filter(F.col("doc_id").isin(set(delta_ids[:1]))).withColumn(
        "doc_id", F.concat(F.lit("re-"), F.col("doc_id"))
    )
    sink(extra, 99)
    assert len(list_snapshots(out_dir)) == snaps_before + len(
        manifest["committed_updates"]
    ) + 1
    assert read_extracted(spark, out_dir).count() > n_rows


def test_corpus_stream_source_feeds_ingest_sink(spark, corpus, tmp_path):
    """End-to-end continuous ingest: the custom streaming corpus source
    (format 'logbook_corpus') drives foreachBatch straight into the
    snapshot table — new docs land as per-batch snapshot commits."""
    import time

    from bsc_project_spark.sources.corpus_source import LogbookCorpusDataSource
    from bsc_project_spark.streaming.ingest import ingest_sink

    spark.dataSource.register(LogbookCorpusDataSource)
    docs, media, delta_ids, out_dir = _setup_base(spark, corpus, tmp_path)
    n_docs = docs.count()

    stream = (
        spark.readStream.format("logbook_corpus")
        .option("table", "documents")
        .option("n_docs", n_docs)
        .option("docs_per_batch", 2)
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(ingest_sink(media, FIXTURE_CONFIG, out_dir))
        .option("checkpointLocation", str(tmp_path / "src_ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    deadline = time.monotonic() + 180
    got_ids: set = set()
    while time.monotonic() < deadline:
        got_ids = {
            r.doc_id
            for r in read_extracted(spark, out_dir).select("doc_id").distinct().collect()
        }
        if got_ids == all_ids:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    assert got_ids == all_ids
    # base docs streamed again were deduped by the sink's anti-join: no
    # duplicated span rows anywhere
    dup = (
        read_extracted(spark, out_dir)
        .groupBy("doc_id", "order")
        .count()
        .where("count > 1")
        .count()
    )
    assert dup == 0


def test_fresh_checkpoint_rerun_is_fully_idempotent(spark, corpus, tmp_path):
    """Losing the STREAM checkpoint (worst case: every batch replays from
    scratch) commits nothing twice — and when NEW files arrived before
    the replay, so the renumbered batches have different shapes than the
    originals, the new documents still land exactly once.  (Keying on
    the batch ordinal alone fails this: the re-bucketed batch 0 would
    collide with committed batch 0 and silently drop the new docs.)"""
    docs, media, delta_ids, out_dir = _setup_base(spark, corpus, tmp_path)
    src = str(tmp_path / "arrivals")
    half = len(delta_ids) // 2
    first, second = set(delta_ids[:half]), set(delta_ids[half:])
    docs.filter(F.col("doc_id").isin(first)).coalesce(1).write.parquet(src)

    stream_ingest_documents(
        spark, src, media, FIXTURE_CONFIG, out_dir,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    snaps = len(list_snapshots(out_dir))
    n_rows = read_extracted(spark, out_dir).count()

    # identical replay: nothing commits
    stream_ingest_documents(
        spark, src, media, FIXTURE_CONFIG, out_dir,
        checkpoint_dir=str(tmp_path / "ckpt2"),  # fresh -> full replay
    )
    assert len(list_snapshots(out_dir)) == snaps
    assert read_extracted(spark, out_dir).count() == n_rows

    # new docs arrive, checkpoint lost again: the replayed run re-reads
    # EVERYTHING as renumbered batches mixing old+new files
    docs.filter(F.col("doc_id").isin(second)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_ingest_documents(
        spark, src, media, FIXTURE_CONFIG, out_dir,
        checkpoint_dir=str(tmp_path / "ckpt3"),
    )
    got = read_extracted(spark, out_dir)
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert {r.doc_id for r in got.select("doc_id").distinct().collect()} == all_ids
    # exactly once: no doc's spans duplicated
    dup = (
        got.groupBy("doc_id", "order").count().where("count > 1").count()
    )
    assert dup == 0


def test_ingest_anti_join_prunes_to_touched_buckets(spark, corpus, tmp_path):
    """Per-batch idempotency work stays O(batch + touched buckets) as
    snapshots accumulate: the committed-ids frame for a batch touching
    one doc-id bucket lists ONLY that bucket's ledger files (the
    ``dbucket=K`` leaf dirs of the base bucket and of each update),
    never the data table or the other buckets' ledgers."""
    from bsc_project_spark.pipeline.checkpoint import committed_doc_ids

    docs, media, delta_ids, out_dir = _setup_base(spark, corpus, tmp_path)
    sink = ingest_sink(media, FIXTURE_CONFIG, out_dir)
    for i, did in enumerate(delta_ids):  # one snapshot per delta doc
        sink(docs.filter(F.col("doc_id") == did), i)
    manifest = read_manifest(out_dir)
    assert len(manifest["committed_updates"]) == len(delta_ids)
    nb = manifest["n_buckets"]

    probe = (
        docs.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).alias("b")
        )
        .limit(1)
        .collect()[0]
    )
    pruned = committed_doc_ids(spark, out_dir, [probe.b])
    files = pruned.inputFiles()
    assert files, "ledger scan should list at least the base bucket file"
    # every listed file is a skinny ledger file — the data table is never
    # scanned — and lies under the touched bucket's dbucket dir: the
    # listing itself is pruned, base buckets and updates alike
    assert all("/doc_ids/" in f for f in files), files
    leak = [f for f in files if f"/dbucket={probe.b}/" not in f]
    assert leak == [], f"ledger listing leaked beyond bucket {probe.b}: {leak}"

    # pruned result == exactly the committed docs of that bucket
    expect = {
        r.doc_id
        for r in read_extracted(spark, out_dir)
        .select("doc_id")
        .distinct()
        .where(F.pmod(F.xxhash64("doc_id"), F.lit(nb)) == probe.b)
        .collect()
    }
    assert {r.doc_id for r in pruned.collect()} == expect

    # unpruned ledger == the full committed id set
    all_ids = {r.doc_id for r in committed_doc_ids(spark, out_dir).collect()}
    assert all_ids == {
        r.doc_id
        for r in read_extracted(spark, out_dir).select("doc_id").distinct().collect()
    }


def test_compaction_folds_the_ledger(spark, corpus, tmp_path):
    """After compact(), the committed-ids scan for covered snapshots reads
    the single compacted ledger dir (pruned by dbucket) instead of one
    dir per update — and stays correct for commits made after."""
    from bsc_project_spark.pipeline.checkpoint import committed_doc_ids

    docs, media, delta_ids, out_dir = _setup_base(spark, corpus, tmp_path)
    sink = ingest_sink(media, FIXTURE_CONFIG, out_dir)
    sink(docs.filter(F.col("doc_id") == delta_ids[0]), 0)
    compact(spark, out_dir)

    all_ids = {r.doc_id for r in committed_doc_ids(spark, out_dir).collect()}
    expect = {
        r.doc_id
        for r in read_extracted(spark, out_dir).select("doc_id").distinct().collect()
    }
    assert all_ids == expect

    nb = read_manifest(out_dir)["n_buckets"]
    probe_b = 0
    pruned = committed_doc_ids(spark, out_dir, [probe_b])
    files = pruned.inputFiles()
    assert files and all("/doc_ids/compacted=1/" in f for f in files), files

    # a post-compaction ingest appends a fresh update ledger alongside
    sink(docs.filter(F.col("doc_id") == delta_ids[1]), 1)
    all_ids2 = {r.doc_id for r in committed_doc_ids(spark, out_dir).collect()}
    expect2 = {
        r.doc_id
        for r in read_extracted(spark, out_dir).select("doc_id").distinct().collect()
    }
    assert all_ids2 == expect2
    assert delta_ids[1] in all_ids2


def test_rebatched_replay_after_compact_is_a_noop(spark, corpus, tmp_path):
    """After a compact, the committed documents replayed under new batch
    ids and in a different split commit no snapshot and add no rows.  One
    of them writes no span (its only media span cites a missing page), so
    only the folded doc-id ledger still knows it is committed."""
    docs, media, delta_ids, out_dir = _setup_base(spark, corpus, tmp_path)
    ghost = spark.createDataFrame(
        [("doc-ghost", [("media", None, "no-such-page", 0)])], DOCUMENTS_SCHEMA
    )
    sink = ingest_sink(media, FIXTURE_CONFIG, out_dir)
    sink(docs.filter(F.col("doc_id") == delta_ids[0]).unionByName(ghost), 0)
    sink(docs.filter(F.col("doc_id").isin(set(delta_ids[1:]))), 1)
    assert read_manifest(out_dir)["committed_updates"] == [1, 2]
    compact(spark, out_dir)
    snaps = len(list_snapshots(out_dir))
    n_rows = read_extracted(spark, out_dir).count()

    # re-batched: the same documents, new batch ids, a different split
    arrivals = docs.filter(F.col("doc_id").isin(set(delta_ids))).unionByName(ghost)
    first = set(delta_ids[:-1])
    sink(arrivals.filter(F.col("doc_id").isin(first)), 7)
    sink(arrivals.filter(~F.col("doc_id").isin(first)), 8)
    assert len(list_snapshots(out_dir)) == snaps
    assert read_extracted(spark, out_dir).count() == n_rows


def test_sink_leaves_no_persisted_rdd(spark, corpus, tmp_path):
    """The sink releases the anti-joined batch it persists, whether the
    batch commits or (a replay of committed docs) turns out empty: after
    several calls the session's persisted RDDs have not grown."""
    docs, media, delta_ids, out_dir = _setup_base(spark, corpus, tmp_path)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    sink = ingest_sink(media, FIXTURE_CONFIG, out_dir)
    for i, did in enumerate(delta_ids[:2]):
        sink(docs.filter(F.col("doc_id") == did), i)
    # a new batch id carrying only committed docs: anti-joined to nothing
    sink(docs.filter(F.col("doc_id") == delta_ids[0]), 7)
    assert len(read_manifest(out_dir)["committed_updates"]) == 2
    assert set(jsc.getPersistentRDDs()) - before == set()
