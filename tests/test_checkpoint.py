"""Checkpoint-resume: kill after bucket k, rerun, identical final table,
committed buckets not recomputed."""

import os

import pytest

from bsc_project_spark.fixtures import spark_io
from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
from bsc_project_spark.pipeline.checkpoint import (
    read_extracted,
    read_lineage,
    read_manifest,
    run_extraction_job,
)
from bsc_project_spark.pipeline.extract import extract_spans


def _mtimes(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_kill_and_resume(spark, corpus, tmp_path):
    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job")

    # run 1: crash injected after bucket 1 commits
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(
            docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4, fail_after_bucket=1
        )
    m1 = read_manifest(out_dir)
    assert m1["committed_buckets"] == [0, 1]
    committed_files = {
        b: _mtimes(os.path.join(out_dir, f"data/bucket={b}")) for b in (0, 1)
    }

    # run 2: resume completes the remaining buckets without touching 0/1
    m2 = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    assert m2["committed_buckets"] == [0, 1, 2, 3]
    assert m2["run_id"] == m1["run_id"]
    for b in (0, 1):
        assert _mtimes(os.path.join(out_dir, f"data/bucket={b}")) == committed_files[b], (
            f"bucket {b} was recomputed on resume"
        )

    # final table == one-shot extraction
    final = read_extracted(spark, out_dir)
    oneshot = extract_spans(docs, media, FIXTURE_CONFIG)
    assert final.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(final).count() == 0

    # lineage covers all buckets with consistent run_id
    lin = read_lineage(spark, out_dir)
    rows = lin.collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3}
    assert {r.run_id for r in rows} == {m2["run_id"]}


def test_bucket_count_mismatch_rejected(spark, corpus, tmp_path):
    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job2")
    with pytest.raises(RuntimeError):
        run_extraction_job(
            docs, media, FIXTURE_CONFIG, out_dir, n_buckets=2, fail_after_bucket=0
        )
    with pytest.raises(ValueError, match="bucket count mismatch"):
        run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=8)


def test_page_stage_resume_and_global_page_dedup(spark, skew_corpus, tmp_path):
    """Crash mid-PAGE-stage, resume; committed page buckets are not
    recomputed, and every unique page is extracted exactly once globally
    even though skew docs re-reference pages across doc buckets."""
    from bsc_project_spark.pipeline.checkpoint import read_doc_lineage

    docs = spark_io.documents_df(spark, skew_corpus)
    media = spark_io.media_df(spark, skew_corpus)
    out_dir = str(tmp_path / "job3")

    with pytest.raises(RuntimeError, match="injected failure after page bucket"):
        run_extraction_job(
            docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4,
            fail_after_page_bucket=1,
        )
    m1 = read_manifest(out_dir)
    assert m1["committed_page_buckets"] == [0, 1]
    assert m1["committed_buckets"] == []
    cell_files = {
        b: _mtimes(os.path.join(out_dir, f"cells/pbucket={b}")) for b in (0, 1)
    }

    m2 = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    assert m2["committed_page_buckets"] == [0, 1, 2, 3]
    assert m2["committed_buckets"] == [0, 1, 2, 3]
    for b in (0, 1):
        assert _mtimes(os.path.join(out_dir, f"cells/pbucket={b}")) == cell_files[b], (
            f"page bucket {b} was recomputed on resume"
        )

    # global page dedup: lineage page_count sums to the UNIQUE page count,
    # not to pages-per-doc-bucket (the single-stage design recomputed
    # shared pages in every doc bucket that referenced them)
    lin = read_lineage(spark, out_dir)
    total_pages = lin.groupBy().sum("page_count").collect()[0][0]
    assert total_pages == len(skew_corpus.media)

    # output equality with the one-shot pipeline
    final = read_extracted(spark, out_dir)
    oneshot = extract_spans(docs, media, FIXTURE_CONFIG)
    assert final.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(final).count() == 0

    # doc lineage covers all buckets and counts every document
    dl = read_doc_lineage(spark, out_dir)
    rows = dl.collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3}
    assert sum(r.doc_count for r in rows) == len(skew_corpus.documents)


def test_snapshot_time_travel_and_rollback(spark, corpus, tmp_path):
    """Every commit freezes an immutable snapshot; as_of reads past states;
    rollback re-points the table (append-only history) and a rerun
    recommits exactly the rolled-back buckets."""
    from bsc_project_spark.pipeline.checkpoint import list_snapshots, rollback

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job4")

    m = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    snaps = list_snapshots(out_dir)
    # one snapshot per commit: page buckets + doc buckets, ids 1..N
    assert [s["snapshot_id"] for s in snaps] == list(range(1, len(snaps) + 1))
    assert len(snaps) == len(m["committed_page_buckets"]) + len(m["committed_buckets"])
    assert snaps[-1]["snapshot_id"] == m["snapshot_id"]

    # time travel: at the first doc-stage commit only bucket 0 is visible
    first_doc_snap = next(s for s in snaps if s["committed_buckets"])
    old = read_extracted(spark, out_dir, as_of=first_doc_snap["snapshot_id"])
    full = read_extracted(spark, out_dir)
    assert old.count() < full.count()
    bucket0_docs = {r.doc_id for r in old.select("doc_id").distinct().collect()}
    assert bucket0_docs < {r.doc_id for r in full.select("doc_id").distinct().collect()}

    # rollback to that state: new snapshot, old data visible, history intact
    rb = rollback(out_dir, first_doc_snap["snapshot_id"])
    assert rb["snapshot_id"] == m["snapshot_id"] + 1
    assert rb["rolled_back_to"] == first_doc_snap["snapshot_id"]
    assert read_manifest(out_dir)["committed_buckets"] == [0]
    assert read_extracted(spark, out_dir).count() == old.count()
    # the pre-rollback snapshot stays readable (append-only history)
    assert read_extracted(spark, out_dir, as_of=m["snapshot_id"]).count() == full.count()

    # resume from the rolled-back state: only buckets 1..3 recommit, and the
    # final table equals the pre-rollback one.  Materialize the pre-rollback
    # rows first: the rerun OVERWRITES bucket files, so the lazy `full` plan
    # would read deleted files afterwards.
    full_rows = sorted(map(tuple, full.collect()))
    m2 = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    assert m2["committed_buckets"] == [0, 1, 2, 3]
    assert sorted(map(tuple, read_extracted(spark, out_dir).collect())) == full_rows


def test_incremental_update_reuses_committed_pages(spark, corpus, tmp_path):
    """New documents land via run_incremental_update: already-extracted
    pages are never re-run (kernel cost proportional to genuinely-new
    pages), the update commits atomically as one snapshot, and the final
    table equals one-shot extraction over the union."""
    from pyspark.sql import functions as F

    from bsc_project_spark.fixtures.spark_io import DOCUMENTS_SCHEMA
    from bsc_project_spark.pipeline.checkpoint import (
        list_snapshots,
        run_incremental_update,
    )

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    base_ids, delta_ids = set(ids[: len(ids) // 2]), set(ids[len(ids) // 2 :])
    base_docs = docs.filter(F.col("doc_id").isin(base_ids))
    out_dir = str(tmp_path / "job5")

    run_extraction_job(base_docs, media, FIXTURE_CONFIG, out_dir, n_buckets=2)
    base_cells = _mtimes(os.path.join(out_dir, "cells"))
    snaps_before = len(list_snapshots(out_dir))

    # delta: the remaining docs (new pages) + one doc citing an OLD page
    base_ref = (
        spark_io.documents_df(spark, corpus)
        .filter(F.col("doc_id").isin(base_ids))
        .select(F.explode("spans").alias("s"))
        .filter("s.kind = 'media'")
        .select("s.media_ref").first().media_ref
    )
    extra = spark.createDataFrame(
        [("doc-extra", [("text", "intro", None, 0), ("media", None, base_ref, 1)])],
        DOCUMENTS_SCHEMA,
    )
    delta_docs = docs.filter(F.col("doc_id").isin(delta_ids)).unionByName(extra)

    m = run_incremental_update(delta_docs, media, FIXTURE_CONFIG, out_dir)
    assert m["committed_updates"] == [1]
    assert len(list_snapshots(out_dir)) == snaps_before + 1
    # committed base cells untouched byte-for-byte
    assert {
        p: t for p, t in _mtimes(os.path.join(out_dir, "cells")).items()
        if "update=" not in p
    } == base_cells

    # the update's page lineage counts ONLY genuinely-new pages: the shared
    # page cited by doc-extra was reused, not re-extracted
    delta_refs = {
        r.media_ref
        for r in delta_docs.select(F.explode("spans").alias("s"))
        .filter("s.kind = 'media'").select("s.media_ref").distinct().collect()
    }
    base_refs = {
        r.media_ref
        for r in base_docs.select(F.explode("spans").alias("s"))
        .filter("s.kind = 'media'").select("s.media_ref").distinct().collect()
    }
    lin = read_lineage(spark, out_dir)
    update_pages = (
        lin.filter("bucket = -1").groupBy().sum("page_count").collect()[0][0]
    )
    assert update_pages == len(delta_refs - base_refs)

    # final table == one-shot extraction over base + delta documents
    final = read_extracted(spark, out_dir)
    oneshot = extract_spans(
        base_docs.unionByName(delta_docs), media, FIXTURE_CONFIG
    )
    assert final.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(final).count() == 0

    # a second update citing ONLY old pages: zero kernel work, doc assembled
    extra2 = spark.createDataFrame(
        [("doc-extra-2", [("media", None, base_ref, 0)])], DOCUMENTS_SCHEMA
    )
    m2 = run_incremental_update(extra2, media, FIXTURE_CONFIG, out_dir)
    assert m2["committed_updates"] == [1, 2]
    lin2 = read_lineage(spark, out_dir)
    assert lin2.filter("bucket = -2").groupBy().sum("page_count").collect()[0][0] == 0
    assert read_extracted(spark, out_dir).filter("doc_id = 'doc-extra-2'").count() > 0


def test_compaction_and_snapshot_expiry(spark, corpus, tmp_path):
    """compact() folds all committed doc dirs into one, later updates
    append alongside it, pre-compaction snapshots stay readable until
    expire_snapshots garbage-collects exactly the unreferenced dirs."""
    from pyspark.sql import functions as F

    from bsc_project_spark.fixtures.spark_io import DOCUMENTS_SCHEMA
    from bsc_project_spark.pipeline.checkpoint import (
        compact,
        expire_snapshots,
        list_snapshots,
        run_incremental_update,
    )

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "job6")
    run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=4)
    full_rows = sorted(map(tuple, read_extracted(spark, out_dir).collect()))
    pre_compaction_sid = read_manifest(out_dir)["snapshot_id"]

    mc = compact(spark, out_dir)
    assert mc["compaction"]["id"] == 1
    assert mc["compaction"]["buckets"] == [0, 1, 2, 3]
    # identical rows from the compacted layout
    assert sorted(map(tuple, read_extracted(spark, out_dir).collect())) == full_rows
    # ... and the pre-compaction snapshot still reads the original dirs
    assert sorted(
        map(tuple, read_extracted(spark, out_dir, as_of=pre_compaction_sid).collect())
    ) == full_rows

    # an update AFTER compaction appends alongside the compacted dir
    some_ref = (
        docs.select(F.explode("spans").alias("s")).filter("s.kind = 'media'")
        .select("s.media_ref").first().media_ref
    )
    extra = spark.createDataFrame(
        [("doc-post-compact", [("media", None, some_ref, 0)])], DOCUMENTS_SCHEMA
    )
    mu = run_incremental_update(extra, media, FIXTURE_CONFIG, out_dir)
    assert mu["compaction"]["id"] == 1  # survived the update commit
    now = read_extracted(spark, out_dir)
    new_spans = now.filter("doc_id = 'doc-post-compact'").count()
    assert new_spans > 0  # one row per extracted span of the new doc
    assert now.count() == len(full_rows) + new_spans

    # expire everything before the compaction snapshot: the four original
    # bucket dirs are orphaned and deleted; current reads are unaffected
    deleted = expire_snapshots(out_dir, keep_from=mc["snapshot_id"])
    assert {os.path.basename(p) for p in deleted if "data" in p} == {
        f"bucket={b}" for b in range(4)
    }
    assert min(s["snapshot_id"] for s in list_snapshots(out_dir)) == mc["snapshot_id"]
    assert read_extracted(spark, out_dir).count() == len(full_rows) + new_spans
    # time travel older than the horizon is now (correctly) impossible
    with pytest.raises(ValueError, match="no snapshot"):
        read_manifest(out_dir, as_of=1)


def _layout(root):
    """(directories, top-level files, snapshot files) under a table root,
    with the update ledger's ``dbucket=K`` partitions written as ``dbucket=*``."""
    import re

    dirs = set()
    for dirpath, dirnames, _ in os.walk(root):
        for d in dirnames:
            rel = os.path.relpath(os.path.join(dirpath, d), root)
            dirs.add(re.sub(r"dbucket=\d+", "dbucket=*", rel))
    top = {f for f in os.listdir(root) if os.path.isfile(os.path.join(root, f))}
    snaps = set(os.listdir(os.path.join(root, "snapshots")))
    return dirs, top, snaps


def test_table_layout_is_pinned(spark, corpus, tmp_path):
    """The on-disk layout, manifest keys and lineage bucket ids of a base
    run plus one update: the contract read_extracted, committed_doc_ids
    and the benchmark's checkpoint probe read."""
    from pyspark.sql import functions as F

    from bsc_project_spark.pipeline.checkpoint import (
        read_doc_lineage,
        run_incremental_update,
    )

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    base_ids = set(ids[: len(ids) // 2])
    out_dir = str(tmp_path / "layout")
    run_extraction_job(
        docs.filter(F.col("doc_id").isin(base_ids)), media, FIXTURE_CONFIG,
        out_dir, n_buckets=2, n_page_buckets=2,
    )
    m = run_incremental_update(
        docs.filter(~F.col("doc_id").isin(base_ids)), media, FIXTURE_CONFIG, out_dir
    )

    dirs, top, snaps = _layout(out_dir)
    parts = ["bucket=0", "bucket=1", "update=1"]
    page_parts = ["pbucket=0", "pbucket=1", "update=1"]
    expected = {"refs", "refs_updates", "refs_updates/update=1", "snapshots"}
    for sub, subparts in [
        ("cells", page_parts), ("lineage", page_parts), ("data", parts),
        ("errors", parts), ("doc_ids", parts), ("doc_lineage", parts),
    ]:
        expected |= {sub} | {f"{sub}/{p}" for p in subparts}
    expected.add("doc_ids/update=1/dbucket=*")
    # every ledger unit is partitioned by doc bucket; a base bucket that
    # holds no document writes no dbucket dir
    held = docs.filter(F.col("doc_id").isin(base_ids)).select(
        F.pmod(F.xxhash64("doc_id"), F.lit(2)).alias("b")
    ).distinct().collect()
    expected |= {f"doc_ids/bucket={r.b}/dbucket=*" for r in held}
    assert dirs == expected
    assert top == set()
    # 2 page-bucket + 2 doc-bucket + 1 update commits
    assert snaps == {f"v{i}.json" for i in range(1, 6)}

    assert set(m) == {
        "run_id", "committed_buckets", "committed_page_buckets", "n_buckets",
        "n_page_buckets", "committed_updates", "snapshot_id", "committed_at_ms",
    }
    assert m["committed_updates"] == [1]
    assert {r.bucket for r in read_lineage(spark, out_dir).collect()} == {0, 1, -1}
    assert {r.bucket for r in read_doc_lineage(spark, out_dir).collect()} == {0, 1, -1}


def _doc_citing(spark, doc_id, media_ref):
    from bsc_project_spark.fixtures.spark_io import DOCUMENTS_SCHEMA

    return spark.createDataFrame(
        [(doc_id, [("text", doc_id, None, 0), ("media", None, media_ref, 1)])],
        DOCUMENTS_SCHEMA,
    )


def test_rollback_keeps_idempotency_ledger(spark, corpus, tmp_path):
    """Rolling back to the snapshot after stream batch k1 restores that
    snapshot's doc-id ledger: through the ingest sink, a re-delivered k1
    stays a no-op, while k2 (rolled back) commits again, under a fresh
    update id: the abandoned snapshot still reads update 2."""
    from bsc_project_spark.pipeline.checkpoint import rollback
    from bsc_project_spark.streaming.ingest import ingest_sink

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "rollback_ledger")
    run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=2)
    old_ref = corpus.media.media_ref.iloc[0]
    k1 = _doc_citing(spark, "doc-k1", old_ref)
    k2 = _doc_citing(spark, "doc-k2", old_ref)
    sink = ingest_sink(media, FIXTURE_CONFIG, out_dir)

    sink(k1, 0)
    m1 = read_manifest(out_dir)
    sink(k2, 1)
    rb = rollback(out_dir, m1["snapshot_id"])
    assert rb["committed_updates"] == [1]
    rows = sorted(map(tuple, read_extracted(spark, out_dir).collect()))

    sink(k1, 0)
    assert read_manifest(out_dir)["snapshot_id"] == rb["snapshot_id"]
    assert sorted(map(tuple, read_extracted(spark, out_dir).collect())) == rows

    sink(k2, 1)
    m3 = read_manifest(out_dir)
    assert m3["snapshot_id"] == rb["snapshot_id"] + 1
    assert m3["committed_updates"] == [1, 3]
    assert read_extracted(spark, out_dir).filter("doc_id = 'doc-k2'").count() > 0


def test_failed_page_commit_leaves_no_cached_blocks(spark, corpus, tmp_path, monkeypatch):
    """A write that fails after the persisted page stage has been computed
    releases the stage's cached blocks and commits nothing."""
    from bsc_project_spark.pipeline import checkpoint

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "failed_commit")
    run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=1)
    before = read_manifest(out_dir)

    real_split = checkpoint.split_stage_output

    def failing_split(stage):
        out = real_split(stage)
        stage.count()  # the cached stage is materialized, as the cells write would
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(checkpoint, "split_stage_output", failing_split)
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs())
    with pytest.raises(RuntimeError, match="injected write failure"):
        checkpoint.run_incremental_update(
            _doc_citing(spark, "doc-fail", corpus.media.media_ref.iloc[0]),
            media, FIXTURE_CONFIG, out_dir,
        )
    assert set(jsc.getPersistentRDDs()) - persisted == set()
    assert read_manifest(out_dir) == before


def _file_texts(directory):
    texts = {}
    for name in os.listdir(directory):
        with open(os.path.join(directory, name)) as f:
            texts[name] = f.read()
    return texts


@pytest.mark.parametrize("first", ["update", "compact"])
def test_racing_commits_on_one_base_land_exactly_one(tmp_path, monkeypatch, first):
    """An update-shaped commit and a compaction-shaped commit both read
    the same base snapshot (a barrier in ``read_manifest`` holds each
    until both have read it), then claim in the order ``first`` names.
    The first claim lands and is the current state; the second raises
    the named conflict and leaves every snapshot file as it was."""
    import json
    import threading

    from bsc_project_spark.pipeline import checkpoint

    out_dir = str(tmp_path / "race")
    os.makedirs(out_dir)
    checkpoint._commit_manifest(
        out_dir, {"run_id": "r", "committed_buckets": [0, 1], "n_buckets": 2}
    )
    snaps_dir = os.path.join(out_dir, "snapshots")
    base_files = _file_texts(snaps_dir)

    changes = {
        "update": {"committed_updates": [1]},
        "compact": {"compaction": {"id": 1, "buckets": [0, 1], "updates": []}},
    }
    real_read = checkpoint.read_manifest
    both_read = threading.Barrier(2)
    turn = {name: threading.Event() for name in changes}
    racer = threading.local()

    def read_then_wait(path, as_of=None):
        m = real_read(path, as_of)
        if as_of is None and getattr(racer, "name", None):
            both_read.wait(timeout=30)
            turn[racer.name].wait(timeout=30)
        return m

    monkeypatch.setattr(checkpoint, "read_manifest", read_then_wait)
    result = {}

    def commit(name):
        racer.name = name
        try:
            result[name] = checkpoint._commit_manifest(out_dir, changes[name])
        except Exception as e:  # noqa: BLE001 - asserted below
            result[name] = e
        finally:
            for ev in turn.values():
                ev.set()

    threads = [threading.Thread(target=commit, args=(n,)) for n in changes]
    for t in threads:
        t.start()
    turn[first].set()
    for t in threads:
        t.join(timeout=60)
    monkeypatch.undo()
    assert not any(t.is_alive() for t in threads)

    second = next(n for n in changes if n != first)
    won, lost = result[first], result[second]
    assert isinstance(won, dict), won
    assert isinstance(lost, Exception), f"both commits returned, one was lost: {result}"
    assert isinstance(lost, checkpoint.CommitConflict), lost
    assert "v2" in str(lost) and out_dir in str(lost)

    current = checkpoint.read_manifest(out_dir)
    assert current["snapshot_id"] == won["snapshot_id"] == 2
    for key, value in changes[first].items():
        assert current[key] == value
    for key in changes[second]:
        assert current[key] == checkpoint._TABLE_STATE[key]

    # snapshots/ gained exactly the winner's file; nothing was overwritten
    after = _file_texts(snaps_dir)
    assert set(after) == set(base_files) | {"v2.json"}
    assert {n: after[n] for n in base_files} == base_files
    assert json.loads(after["v2.json"]) == won
    assert _layout(out_dir)[1] == set()



def test_concurrent_committers_lose_no_commit(tmp_path):
    """Stress: more committer threads than cores, a tiny switch interval,
    every thread committing repeatedly.  Each attempt either lands as the
    snapshot whose file equals what it returned, or raises the conflict;
    snapshots/ holds exactly one file per landed commit."""
    import json
    import sys
    import threading

    from bsc_project_spark.pipeline import checkpoint

    out_dir = str(tmp_path / "stress")
    os.makedirs(out_dir)
    checkpoint._commit_manifest(out_dir, {"run_id": "r"})
    n_threads, attempts = 2 * (os.cpu_count() or 2), 20
    start = threading.Barrier(n_threads)
    landed, errors = [], []

    def committer(i):
        start.wait(timeout=30)
        for k in range(attempts):
            try:
                landed.append(
                    checkpoint._commit_manifest(
                        out_dir, {"committed_updates": [i * attempts + k + 1]}
                    )
                )
            except checkpoint.CommitConflict:
                pass
            except Exception as e:  # noqa: BLE001 - asserted below
                errors.append(e)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=committer, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    ids = sorted(m["snapshot_id"] for m in landed)
    assert ids == list(range(2, len(landed) + 2))
    snaps_dir = os.path.join(out_dir, "snapshots")
    assert len(os.listdir(snaps_dir)) == 1 + len(landed)
    for m in landed:
        with open(os.path.join(snaps_dir, f"v{m['snapshot_id']}.json")) as f:
            assert json.load(f) == m
    assert _layout(out_dir)[1] == set()

def test_failed_claim_commits_nothing_and_rerun_resumes(spark, corpus, tmp_path, monkeypatch):
    """A claim that raises (the process dying at the snapshot link) leaves
    the snapshot history as it was and no temp file behind; re-running
    the job completes it, and it reads back what an uninterrupted run
    does."""
    from bsc_project_spark.pipeline.checkpoint import list_snapshots

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "claim_fails")
    real_link = os.link
    claims = []
    at_failure = []

    def link_failing_third_claim(src, dst):
        claims.append(dst)
        if len(claims) == 3:
            at_failure.append(list_snapshots(out_dir))
            raise OSError("injected failure at the snapshot claim")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", link_failing_third_claim)
    with pytest.raises(OSError, match="injected failure at the snapshot claim"):
        run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=2)
    assert list_snapshots(out_dir) == at_failure[0]
    assert [s["snapshot_id"] for s in at_failure[0]] == [1, 2]
    assert read_manifest(out_dir)["committed_buckets"] == []
    assert _layout(out_dir)[1] == set()

    m = run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=2)
    monkeypatch.undo()
    assert m["committed_buckets"] == [0, 1]
    clean_dir = str(tmp_path / "uninterrupted")
    run_extraction_job(docs, media, FIXTURE_CONFIG, clean_dir, n_buckets=2)
    assert sorted(map(tuple, read_extracted(spark, out_dir).collect())) == sorted(
        map(tuple, read_extracted(spark, clean_dir).collect())
    )


def test_expiry_leaves_a_unit_being_written_alone(tmp_path):
    """expire_snapshots collects the doc-output dirs only the dropped
    snapshots reference; an ``update=U`` dir no snapshot names yet (a unit
    writer's output before its commit) survives it."""
    from bsc_project_spark.pipeline import checkpoint

    out_dir = str(tmp_path / "expire_in_flight")
    for sub in ("bucket=0", "bucket=1", "compacted=1", "update=1"):
        os.makedirs(os.path.join(out_dir, "data", sub))
    checkpoint._commit_manifest(
        out_dir, {"run_id": "r", "committed_buckets": [0, 1], "n_buckets": 2}
    )
    checkpoint._commit_manifest(
        out_dir, {"compaction": {"id": 1, "buckets": [0, 1], "updates": []}}
    )
    deleted = checkpoint.expire_snapshots(out_dir, keep_from=2)
    assert {os.path.relpath(p, out_dir) for p in deleted} == {
        "data/bucket=0", "data/bucket=1", "snapshots/v1.json",
    }
    assert sorted(os.listdir(os.path.join(out_dir, "data"))) == ["compacted=1", "update=1"]


def test_rollback_during_an_update_write_stays_in_force(tmp_path, monkeypatch):
    """Spark-free replay of a rollback landing while an update is being
    written: update 2 reads the table (updates [1]), the unit writes are
    stubbed and roll the table back to v1 in the middle, then the update
    commits.  The commit adds update 2 to the rolled-back state instead of
    re-stating what it read at its start, so update 1 stays rolled back."""
    from unittest import mock

    from bsc_project_spark.pipeline import checkpoint

    out_dir = str(tmp_path / "rollback_mid_update")
    os.makedirs(out_dir)
    checkpoint._commit_manifest(
        out_dir, {"run_id": "r", "committed_buckets": [0, 1], "n_buckets": 2}
    )
    checkpoint._commit_manifest(out_dir, {"committed_updates": [1]})
    monkeypatch.setattr(checkpoint, "media_refs", mock.MagicMock())
    monkeypatch.setattr(checkpoint, "_commit_pages", lambda *a, **k: None)
    monkeypatch.setattr(
        checkpoint, "_commit_docs", lambda *a, **k: checkpoint.rollback(out_dir, 1)
    )
    m = checkpoint.run_incremental_update(mock.MagicMock(), None, FIXTURE_CONFIG, out_dir)
    assert m["committed_updates"] == [2]
    assert read_manifest(out_dir)["snapshot_id"] == m["snapshot_id"] == 4
    assert [s["committed_updates"] for s in checkpoint.list_snapshots(out_dir)] == [
        [], [1], [], [2],
    ]


def test_rollback_during_compact_stays_in_force(tmp_path, monkeypatch):
    """Spark-free replay of a rollback landing while ``compact`` writes:
    the table holds updates [1, 2], the folds are stubbed and the ledger
    fold rolls the table back to v2 (update 1 only).  The compaction
    covers update 2, which is no longer committed, so it raises
    ``CommitConflict`` and the rolled-back state stays the newest."""
    from unittest import mock

    from bsc_project_spark.pipeline import checkpoint

    out_dir = str(tmp_path / "rollback_mid_compact")
    os.makedirs(out_dir)
    checkpoint._commit_manifest(out_dir, {"run_id": "r", "n_buckets": 2})
    checkpoint._commit_manifest(out_dir, {"committed_updates": [1]})
    checkpoint._commit_manifest(out_dir, {"committed_updates": [2]})
    monkeypatch.setattr(checkpoint, "_read", mock.MagicMock())
    monkeypatch.setattr(checkpoint, "_ledger", mock.MagicMock())
    monkeypatch.setattr(
        checkpoint, "_write_doc_ids", lambda *a, **k: checkpoint.rollback(out_dir, 2)
    )
    with pytest.raises(checkpoint.CommitConflict, match="committed_updates"):
        checkpoint.compact(mock.MagicMock(), out_dir)
    m = read_manifest(out_dir)
    assert m["snapshot_id"] == 4
    assert m["committed_updates"] == [1]
    assert m["compaction"] is None


def test_update_after_rollback_takes_a_fresh_id(tmp_path, monkeypatch):
    """Spark-free replay with stubbed unit writers: v1 base, v2 update 1,
    v3 update 2, rollback to v2, then one more update.  That update takes
    id 3, not 2: the abandoned v3 still reads ``update=2`` through
    ``as_of``, so rewriting it would change what v3 returns."""
    from unittest import mock

    from bsc_project_spark.pipeline import checkpoint

    out_dir = str(tmp_path / "update_after_rollback")
    os.makedirs(out_dir)
    written = []
    monkeypatch.setattr(checkpoint, "media_refs", mock.MagicMock())
    monkeypatch.setattr(
        checkpoint, "_commit_pages",
        lambda media, refs, cfg, out, part, *a: written.append(part),
    )
    monkeypatch.setattr(checkpoint, "_commit_docs", lambda *a, **k: None)
    checkpoint._commit_manifest(
        out_dir, {"run_id": "r", "committed_buckets": [0, 1], "n_buckets": 2}
    )

    def update():
        return checkpoint.run_incremental_update(
            mock.MagicMock(), None, FIXTURE_CONFIG, out_dir
        )

    update()
    update()
    checkpoint.rollback(out_dir, 2)
    m = update()
    assert written == ["update=1", "update=2", "update=3"]
    assert m["committed_updates"] == [1, 3]
    assert [s["committed_updates"] for s in checkpoint.list_snapshots(out_dir)] == [
        [], [1], [1, 2], [1], [1, 3],
    ]
    assert read_manifest(out_dir, as_of=3)["committed_updates"] == [1, 2]


def test_compact_keeps_every_committed_doc_id(spark, corpus, tmp_path):
    """``compact`` folds the covered units' doc-id ledgers, so the
    committed id set is the same before and after it.  The update holds
    two documents that write no span — one with no spans at all, one
    whose only media span cites a missing page — and both stay
    committed."""
    from bsc_project_spark.fixtures.spark_io import DOCUMENTS_SCHEMA
    from bsc_project_spark.pipeline.checkpoint import (
        committed_doc_ids,
        compact,
        run_incremental_update,
    )

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    out_dir = str(tmp_path / "compact_ledger")
    run_extraction_job(docs, media, FIXTURE_CONFIG, out_dir, n_buckets=2)
    spanless = spark.createDataFrame(
        [("doc-no-spans", []), ("doc-missing-page", [("media", None, "no-such-page", 0)])],
        DOCUMENTS_SCHEMA,
    )
    run_incremental_update(spanless, media, FIXTURE_CONFIG, out_dir)

    def ids():
        return {r.doc_id for r in committed_doc_ids(spark, out_dir).collect()}

    before = ids()
    written = {r.doc_id for r in read_extracted(spark, out_dir).select("doc_id").collect()}
    assert before - written == {"doc-no-spans", "doc-missing-page"}
    assert compact(spark, out_dir)["compaction"]["updates"] == [1]
    assert ids() == before


def test_a_second_unit_writer_is_refused(tmp_path, monkeypatch):
    """Spark-free replay of two concurrent updates with stubbed unit
    writers: writer A holds the table and, in the middle of its page
    write, lets writer B start.  B raises the conflict before writing any
    file, ``update=1`` holds A's rows, A commits, and a later update
    still commits."""
    import threading
    from unittest import mock

    from bsc_project_spark.pipeline import checkpoint

    out_dir = str(tmp_path / "two_writers")
    os.makedirs(out_dir)
    checkpoint._commit_manifest(
        out_dir, {"run_id": "r", "committed_buckets": [0, 1], "n_buckets": 2}
    )
    a_writing = threading.Barrier(2)
    b_done = threading.Event()

    def write_pages(writer, refs, cfg, out, part, *a):
        unit = os.path.join(out, "cells", part)
        os.makedirs(unit, exist_ok=True)
        with open(os.path.join(unit, "rows"), "w") as f:
            f.write(writer)
        if writer == "A":
            a_writing.wait(timeout=30)
            b_done.wait(timeout=30)

    monkeypatch.setattr(checkpoint, "media_refs", mock.MagicMock())
    monkeypatch.setattr(checkpoint, "_commit_pages", write_pages)
    monkeypatch.setattr(checkpoint, "_commit_docs", lambda *a, **k: None)
    result, files_around_b = {}, []

    def update(writer):
        try:
            result[writer] = checkpoint.run_incremental_update(
                mock.MagicMock(), writer, FIXTURE_CONFIG, out_dir
            )
        except Exception as e:  # noqa: BLE001 - asserted below
            result[writer] = e

    def second_writer():
        files_around_b.append(_mtimes(out_dir))
        try:
            update("B")
        finally:
            files_around_b.append(_mtimes(out_dir))
            b_done.set()

    a = threading.Thread(target=update, args=("A",))
    a.start()
    a_writing.wait(timeout=30)
    b = threading.Thread(target=second_writer)
    b.start()
    for t in (a, b):
        t.join(timeout=60)
    assert not any(t.is_alive() for t in (a, b))

    assert isinstance(result["B"], checkpoint.CommitConflict), result
    assert files_around_b[0] == files_around_b[1]
    with open(os.path.join(out_dir, "cells", "update=1", "rows")) as f:
        assert f.read() == "A"
    assert result["A"]["committed_updates"] == [1]
    assert [s["snapshot_id"] for s in checkpoint.list_snapshots(out_dir)] == [1, 2]

    m = checkpoint.run_incremental_update(mock.MagicMock(), "C", FIXTURE_CONFIG, out_dir)
    assert m["committed_updates"] == [1, 2]


def test_pinned_schemas_equal_the_written_ones(spark, corpus, tmp_path):
    """Every sub-table the table reads back is read under a pinned
    schema.  Each pinned schema equals the one Spark infers from every
    dir of that sub-table a base run, an update and a compaction wrote
    (the ledger's ``dbucket=K`` leaf dirs are what its reader names), so
    no reader sees NULLs for a column a writer renamed or retyped."""
    import glob

    from pyspark.sql import functions as F

    from bsc_project_spark.pipeline import checkpoint

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    base_ids = set(ids[: len(ids) // 2])
    out_dir = str(tmp_path / "schemas")
    run_extraction_job(
        docs.filter(F.col("doc_id").isin(base_ids)), media, FIXTURE_CONFIG,
        out_dir, n_buckets=2,
    )
    checkpoint.run_incremental_update(
        docs.filter(~F.col("doc_id").isin(base_ids)), media, FIXTURE_CONFIG, out_dir
    )
    checkpoint.compact(spark, out_dir)

    unit_dirs = {
        "refs": [os.path.join(out_dir, "refs"), *glob.glob(f"{out_dir}/refs_updates/*")],
        "doc_ids": glob.glob(f"{out_dir}/doc_ids/*/dbucket=*"),
        **{
            sub: glob.glob(f"{out_dir}/{sub}/*")
            for sub in ("cells", "lineage", "data", "doc_lineage")
        },
    }
    assert set(unit_dirs) == set(checkpoint._SCHEMAS)
    assert any("compacted=1" in d for d in unit_dirs["data"] + unit_dirs["doc_ids"])
    for sub, dirs in unit_dirs.items():
        assert dirs, sub
        for d in dirs:
            assert checkpoint._read(spark, sub, [d]).schema == spark.read.parquet(d).schema, d


def test_doc_lineage_counts_match_the_written_units(spark, corpus, tmp_path):
    """A base bucket's and an update's doc lineage row (documents, spans,
    unresolved media refs) equals what ``read_extracted`` and the unit's
    ``errors/`` dir hold; each unit carries a document citing a page with
    no media row, so its unresolved count is at least 1."""
    from pyspark.sql import functions as F

    from bsc_project_spark.pipeline.checkpoint import (
        read_doc_lineage,
        run_incremental_update,
    )

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    half = len(ids) // 2
    units = {
        0: ids[:half] + ["doc-lost-base"],
        -1: ids[half:] + ["doc-lost-update"],
    }

    def batch(unit):
        lost = _doc_citing(spark, units[unit][-1], f"no-such-page{unit}")
        return docs.filter(F.col("doc_id").isin(units[unit])).unionByName(lost)

    out_dir = str(tmp_path / "doc_lineage")
    run_extraction_job(batch(0), media, FIXTURE_CONFIG, out_dir, n_buckets=1)
    run_incremental_update(batch(-1), media, FIXTURE_CONFIG, out_dir)

    rows = {r.bucket: r for r in read_doc_lineage(spark, out_dir).collect()}
    assert set(rows) == set(units)
    spans = read_extracted(spark, out_dir)
    for unit, part in [(0, "bucket=0"), (-1, "update=1")]:
        mine = spans.filter(F.col("doc_id").isin(units[unit]))
        unresolved = spark.read.parquet(os.path.join(out_dir, "errors", part)).count()
        assert rows[unit].doc_count == mine.select("doc_id").distinct().count()
        assert rows[unit].span_count == mine.count()
        assert rows[unit].unresolved_count == unresolved >= 1


def test_update_job_count(spark, corpus, tmp_path, spark_jobs):
    """One incremental update of the fixture corpus runs at most 20 Spark
    jobs: no read infers a schema, the unit row counts come from the
    parquet footers, and the doc count is observed on the data write.  It
    ran 20 in each of 3 fresh sessions."""
    from pyspark.sql import functions as F

    from bsc_project_spark.pipeline.checkpoint import run_incremental_update

    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    base_ids = set(ids[: len(ids) // 2])
    out_dir = str(tmp_path / "update_jobs")
    run_extraction_job(
        docs.filter(F.col("doc_id").isin(base_ids)), media, FIXTURE_CONFIG,
        out_dir, n_buckets=2,
    )
    delta = docs.filter(~F.col("doc_id").isin(base_ids))
    jobs = spark_jobs(lambda: run_incremental_update(delta, media, FIXTURE_CONFIG, out_dir))
    assert jobs <= 20, jobs
