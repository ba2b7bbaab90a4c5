"""Snapshot-commit extraction job with per-bucket lineage + resume.

The north rule requires the job to be resumable from the last committed
snapshot with per-partition lineage rows.  pyspark 4.1.2 ships no Iceberg
runtime, so commits are emulated with identical semantics (documented
fallback, SURVEY.md §7 step 5): a unit of output becomes *committed* only
when a snapshot naming it is claimed, and readers see only committed
units.

Two independently-resumable stages, because the unit of expensive work
(a unique page) and the unit of output (a document) have different keys:

1. **Page stage** — the distinct media_refs of the whole input are
   snapshotted once (``refs/``), hash-bucketed by media_ref, and each
   page bucket ``pbucket=K`` runs the image-kernel stage exactly once.  A
   page referenced by documents in ten different doc buckets is still
   extracted ONCE globally.
2. **Doc stage** — documents are hash-bucketed by doc_id
   (pmod(xxhash64(doc_id), n)); each bucket ``bucket=K`` joins the
   committed cells and restores span order with the per-doc window.

An incremental update ``update=U`` runs both stages once over its new
documents: the page stage over only the refs no earlier commit extracted,
the doc stage against every committed cell.  Every unit, base bucket or
update, is written by the same two commits: ``_commit_pages`` (cells +
lineage) and ``_commit_docs`` (data, errors, doc-id ledger, doc lineage).

On-disk layout under ``out_dir``::

    snapshots/vN.json               every snapshot, immutable; the newest
                                    is the current table state
    refs/                           distinct media_refs of the base input
    refs_updates/update=U           refs update U extracted (new pages only)
    cells/pbucket=K, cells/update=U         OCR cells of the unit's pages
    lineage/pbucket=K, lineage/update=U     page lineage rows, bucket K or -U
    data/bucket=K, data/update=U            extracted spans
    data/compacted=C                        ``compact``'s fold of the above
    errors/bucket=K, errors/update=U        quarantined unresolved media refs
    doc_ids/bucket=K/dbucket=K              committed doc ids by doc bucket
    doc_ids/update=U/dbucket=K              ... of an update
    doc_ids/compacted=C/dbucket=K           ... folded by ``compact``
    doc_lineage/bucket=K, doc_lineage/update=U   doc/span/unresolved counts
                                                 + wall time, bucket K or -U

A base run writes ``refs/`` and the ``pbucket=K`` / ``bucket=K`` units, one
snapshot per unit; an update writes ``refs_updates/update=U`` and the
``update=U`` dir of cells, lineage, data, errors, doc_ids and doc_lineage,
all made visible by one snapshot.

Resume = re-running the job: committed buckets of BOTH stages are skipped
(the anti-join-against-committed-lineage idea of SURVEY.md Q12; with hash
buckets the anti-join reduces to skipping bucket ids, zero recompute).
A crash mid-page-stage resumes page extraction; a crash mid-doc-stage
never re-runs any image kernel at all.

Commit rule: ``_commit_manifest`` is the only writer of table state.  It
reads the newest snapshot vM, applies its changes, writes the whole new
state to a temp file unique to the committer (``.commit-*.tmp`` beside
``snapshots/``) and claims ``snapshots/vN.json``, N = M + 1, with a hard
link — an exclusive create that fails if vN exists.  The loser of a race
for vN raises ``CommitConflict`` and changes no snapshot; it is not
retried (a resumed job or a replayed stream batch recommits it).  A
committer that dies before the claim leaves only its temp file, which no
reader lists; one that dies after the claim has committed.  Either way,
re-running the job resumes with no cleanup.  History is append-only, so
``read_extracted(..., as_of=N)`` time-travels to any past commit and
``rollback(out_dir, N)`` re-points the table at an older state as a NEW
snapshot (Iceberg snapshot/rollback semantics on plain parquet + JSON).

Concurrency contract: ONE writer of units — a base run, or the update
stream — plus maintenance commits from anywhere.  No commit is lost: of
two commits built on the same snapshot, one lands and the other raises.
``compact`` (one at a time: two would write the same ``compacted=C``
dir) and ``expire_snapshots`` are safe while units are being written.
``rollback`` is safe at any time: a unit writer's commit ADDS its unit
(its bucket or its update id) to the newest snapshot instead of
re-stating the unit lists it read at its start, so a rollback that lands
while a unit is being written stays in force and the unit commits on top
of it; a ``compact`` whose fold holds a unit that a rollback un-committed
meanwhile raises ``CommitConflict`` instead of committing it again.  A
second concurrent unit writer is refused: ``run_extraction_job`` and
``run_incremental_update`` hold an exclusive ``flock`` on ``out_dir``
for their whole run, and one that finds it held raises ``CommitConflict``
before writing any file (both would otherwise pick the same ``update=U`` /
``bucket=K`` directories).  The kernel drops the lock of a process that
dies, so a crashed writer never blocks its own resume.

The reference's analogue is ``ocr_generate_more_crops`` resuming crop
numbering from files already on disk (reference
scripts/ocr_generate_more_crops.py:11-18,69-76).
"""

from __future__ import annotations

import contextlib
import copy
import fcntl
import json
import os
import re
import time
import uuid

import pyarrow.dataset as pads
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import ExtractConfig
from .extract import (
    EXTRACT_STAGE_SCHEMA,
    LINEAGE_SCHEMA,
    PHASES,
    assemble_spans,
    media_refs,
    run_page_stage,
    split_stage_output,
)

# Each sub-table read back, with its schema as written.  Every read hands
# it to the reader, so none runs a schema-inference job.  refs_updates/
# holds refs rows; a doc_ids read names ``dbucket=K`` leaf dirs, so it
# discovers no partition column.  A doc_lineage row is written under its
# schema directly.
_SCHEMAS = {
    "refs": "media_ref string",
    "cells": EXTRACT_STAGE_SCHEMA,
    "lineage": f"{LINEAGE_SCHEMA}, run_id string, bucket int, committed_at_ms long",
    "data": "doc_id string, `order` int, kind string, text string, media_ref string",
    "doc_ids": "doc_id string",
    "doc_lineage": (
        "bucket int, doc_count long, span_count long, unresolved_count long, "
        "wall_time_ms long, run_id string, committed_at_ms long"
    ),
}

# The table state every snapshot records, each key with its empty-table
# value.  A commit copies all of it from a source manifest and applies only
# its own changes, so no commit can drop state it does not own.  The unit
# keys (_UNIT_KEYS) are only ever added to; rollback alone removes units,
# by committing an older snapshot's state.
_TABLE_STATE = {
    "run_id": None,
    "committed_buckets": [],
    "committed_page_buckets": [],
    "n_buckets": None,
    "n_page_buckets": None,
    "committed_updates": [],
    "compaction": None,
}


_UNIT_KEYS = ("committed_buckets", "committed_page_buckets", "committed_updates")


def _add_units(key: str, have, new):
    """``have`` with the units ``new`` added: bucket sets are unioned,
    update ids appended."""
    if key == "committed_updates":
        return [*have, *(u for u in new if u not in have)]
    return sorted(set(have) | set(new))


class CommitConflict(RuntimeError):
    """Another committer claimed the snapshot id this commit was about to
    claim; nothing of this commit became visible."""


def _snapshots_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "snapshots")


def _snapshot_path(out_dir: str, snapshot_id: int) -> str:
    return os.path.join(_snapshots_dir(out_dir), f"v{snapshot_id}.json")


def _snapshot_ids(out_dir: str) -> list[int]:
    """Ids of the committed snapshots, ascending."""
    snaps = _snapshots_dir(out_dir)
    if not os.path.isdir(snaps):
        return []
    return sorted(
        int(m.group(1)) for name in os.listdir(snaps)
        if (m := re.fullmatch(r"v(\d+)\.json", name))
    )


def read_manifest(out_dir: str, as_of: int | None = None) -> dict:
    """The current table state — the newest snapshot — or (time travel)
    the state at snapshot ``as_of``.  Table keys a snapshot does not store
    read as their empty-table value; a table with no snapshot reads as
    empty."""
    if as_of is None:
        ids = _snapshot_ids(out_dir)
        if not ids:
            return copy.deepcopy(_TABLE_STATE)
        as_of = ids[-1]
    path = _snapshot_path(out_dir, as_of)
    if not os.path.exists(path):
        raise ValueError(f"no snapshot v{as_of} under {out_dir}")
    with open(path) as f:
        stored = json.load(f)
    return {**copy.deepcopy(_TABLE_STATE), **stored}


def _commit_manifest(out_dir: str, changes: dict, source: dict | None = None) -> dict:
    """Commit one snapshot: the only writer of table state.

    The new state is ``source``'s table state (default: the newest
    snapshot's) with ``changes`` applied: a unit key's value is ADDED to
    the source's (``_add_units``), any other key's value replaces it; keys
    left at None are not written.  It is written whole to a temp file
    unique to this committer, outside ``snapshots/``, then hard-linked to
    ``snapshots/vN.json`` with N = newest + 1.  The link is an exclusive
    create: if another committer claimed vN first, this commit raises
    ``CommitConflict`` and no file under ``snapshots/`` changes.  So does
    a ``compaction`` covering a unit that the newest snapshot, the one it
    builds on, no longer commits (a rollback removed it)."""
    prev = read_manifest(out_dir)
    comp = changes.get("compaction") or {}
    gone = {
        key: sorted(set(comp.get(part, [])) - set(prev[key]))
        for part, key in (("buckets", "committed_buckets"), ("updates", "committed_updates"))
    }
    if any(gone.values()):
        raise CommitConflict(f"v{prev.get('snapshot_id')} of {out_dir} no longer commits {gone}")
    source = prev if source is None else source
    state = {k: source[k] for k in _TABLE_STATE}
    for key, value in changes.items():
        state[key] = _add_units(key, state[key], value) if key in _UNIT_KEYS else value
    manifest = {k: v for k, v in state.items() if v is not None}
    sid = manifest["snapshot_id"] = int(prev.get("snapshot_id") or 0) + 1
    manifest["committed_at_ms"] = int(time.time() * 1000)
    os.makedirs(_snapshots_dir(out_dir), exist_ok=True)
    tmp = os.path.join(out_dir, f".commit-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    try:
        os.link(tmp, _snapshot_path(out_dir, sid))
    except FileExistsError:
        raise CommitConflict(
            f"snapshot v{sid} of {out_dir} was committed by another writer"
        ) from None
    finally:
        os.remove(tmp)
    return manifest


def list_snapshots(out_dir: str) -> list[dict]:
    """Snapshot history, oldest first (id, commit time, bucket progress)."""
    out = []
    for sid in _snapshot_ids(out_dir):
        with open(_snapshot_path(out_dir, sid)) as f:
            out.append(json.load(f))
    return out


def rollback(out_dir: str, snapshot_id: int) -> dict:
    """Re-point the table at an older snapshot's state.  Like Iceberg's
    rollback this creates a NEW snapshot whose state equals the old one
    (history is append-only; the abandoned snapshots stay readable via
    ``as_of``).  A subsequent ``run_extraction_job`` recomputes exactly the
    buckets the rollback un-committed — their stale data files are
    invisible until then (readers go through the manifest) and are
    overwritten when recommitted.  It is safe at any time: a unit write
    or a ``compact`` in flight commits on top of it or raises
    ``CommitConflict``; neither undoes it."""
    return _commit_manifest(
        out_dir,
        {
            "rolled_back_from": read_manifest(out_dir).get("snapshot_id"),
            "rolled_back_to": snapshot_id,
        },
        source=read_manifest(out_dir, as_of=snapshot_id),
    )


def _doc_bucket(n_buckets: int) -> Column:
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))


def _unit_paths(
    out_dir: str, sub: str, key: str, buckets: list[int], updates: list[int]
) -> list[str]:
    """The ``sub/`` directories of the given units: base buckets
    (``key=K``), then updates (``update=U``)."""
    return [os.path.join(out_dir, sub, f"{key}={b}") for b in buckets] + [
        os.path.join(out_dir, sub, f"update={u}") for u in updates
    ]


def _read(spark: SparkSession, sub: str, paths: list[str]) -> DataFrame:
    """The parquet dirs ``paths`` of sub-table ``sub``, read under its
    written schema: the one reader of the table's files."""
    if not paths:
        raise ValueError(f"no committed {sub} units to read")
    return spark.read.schema(_SCHEMAS[sub]).parquet(*paths)


def _footer_rows(path: str) -> int:
    """Row count of a written parquet dir, from its footers (no job)."""
    return pads.dataset(path, format="parquet").count_rows()


@contextlib.contextmanager
def _sole_unit_writer(out_dir: str):
    """Hold an exclusive lock on ``out_dir`` itself for a unit writer's
    run; a second writer raises ``CommitConflict`` instead of waiting.
    Closing the fd (or the process dying) releases it."""
    os.makedirs(out_dir, exist_ok=True)
    fd = os.open(out_dir, os.O_RDONLY)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise CommitConflict(f"another unit writer holds {out_dir}") from None
        yield
    finally:
        os.close(fd)


def _commit_pages(
    media: DataFrame,
    refs: DataFrame,
    cfg: ExtractConfig,
    out_dir: str,
    part: str,
    bucket: int,
    run_id: str,
) -> None:
    """Extract the pages ``refs`` names and write unit ``part``'s
    ``cells/`` and ``lineage/`` (rows stamped with ``run_id``, ``bucket``
    and the commit time).  The caller's manifest commit makes them
    visible."""
    spark = refs.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # persist the raw stage so cells AND lineage consume one kernel run
    # (deriving lineage from a second pass would re-run kernels)
    stage = run_page_stage(media, refs, cfg, n_parts).persist()
    try:
        cells, lineage = split_stage_output(stage)
        cells.write.mode("overwrite").parquet(os.path.join(out_dir, "cells", part))
        lineage_dir = os.path.join(out_dir, "lineage", part)
        # an empty unit (no refs hashed here, or Spark skipped empty
        # partitions) rewrites its lineage as an explicit zero row, so the
        # lineage table covers every committed unit
        zero = spark.createDataFrame([(-1,) + (0,) * (4 + len(PHASES))], LINEAGE_SCHEMA)
        for rows in (lineage, zero):
            (
                rows.withColumn("run_id", F.lit(run_id))
                .withColumn("bucket", F.lit(bucket))
                .withColumn("committed_at_ms", F.lit(int(time.time() * 1000)))
                .write.mode("overwrite")
                .parquet(lineage_dir)
            )
            if _footer_rows(lineage_dir):
                break
    finally:
        stage.unpersist()


def _write_doc_ids(frame: DataFrame, path: str, n_buckets: int) -> None:
    """Committed-ids ledger: the distinct doc_ids of ``frame`` in one
    skinny file set partitioned by the base run's doc bucket, so the
    ingest replay anti-join reads only its touched ``dbucket=K``
    directories instead of scanning the data table (see
    committed_doc_ids)."""
    (
        frame.select("doc_id").distinct()
        .withColumn("dbucket", _doc_bucket(n_buckets))
        .write.mode("overwrite")
        .partitionBy("dbucket")
        .parquet(path)
    )


def _commit_docs(
    documents: DataFrame,
    cells: DataFrame,
    media: DataFrame,
    out_dir: str,
    part: str,
    bucket: int,
    run_id: str,
    n_buckets: int,
) -> None:
    """Assemble ``documents`` against the committed ``cells`` and write
    unit ``part``'s ``data/``, ``errors/``, ``doc_ids/`` ledger (in
    ``n_buckets`` doc buckets) and ``doc_lineage/`` row."""
    spark = documents.sparkSession
    t0 = time.monotonic()
    data_dir = os.path.join(out_dir, "data", part)
    errors_dir = os.path.join(out_dir, "errors", part)
    extracted, unresolved = assemble_spans(documents, cells, media)
    # the doc count rides on the data write: each document with a span
    # has exactly one order-0 row
    written = Observation()
    observed = extracted.observe(written, F.count_if(F.col("order") == 0).alias("docs"))
    observed.write.mode("overwrite").parquet(data_dir)
    unresolved.write.mode("overwrite").parquet(errors_dir)
    _write_doc_ids(documents, os.path.join(out_dir, "doc_ids", part), n_buckets)
    spark.createDataFrame(
        [(bucket, written.get["docs"], _footer_rows(data_dir), _footer_rows(errors_dir),
          int((time.monotonic() - t0) * 1000), run_id, int(time.time() * 1000))],
        _SCHEMAS["doc_lineage"],
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "doc_lineage", part))


def run_extraction_job(
    documents: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig,
    out_dir: str,
    n_buckets: int = 4,
    n_page_buckets: int | None = None,
    run_id: str | None = None,
    fail_after_bucket: int | None = None,
    fail_after_page_bucket: int | None = None,
) -> dict:
    """Run (or resume) the two-stage bucketed extraction job.  Returns the
    manifest.

    ``fail_after_bucket`` / ``fail_after_page_bucket`` inject a crash after
    that bucket commits — test hooks for the kill/rerun resume tests
    (SURVEY.md §5.5).
    """
    spark = documents.sparkSession
    with _sole_unit_writer(out_dir):
        n_page_buckets = n_page_buckets or n_buckets
        manifest = read_manifest(out_dir)
        if manifest["n_buckets"] not in (None, n_buckets):
            raise ValueError(
                f"bucket count mismatch: manifest has {manifest['n_buckets']},"
                f" got {n_buckets}"
            )
        if manifest["n_page_buckets"] not in (None, n_page_buckets):
            raise ValueError(
                f"page-bucket count mismatch: manifest has {manifest['n_page_buckets']},"
                f" got {n_page_buckets}"
            )
        run_id = manifest["run_id"] or run_id or uuid.uuid4().hex[:12]
        committed_pages = set(manifest["committed_page_buckets"])
        committed = set(manifest["committed_buckets"])

        def commit(key: str, bucket: int) -> dict:
            # adds the one bucket to the newest snapshot, whose other state
            # (updates, an active compaction, a rollback landed meanwhile)
            # this job does not own
            return _commit_manifest(
                out_dir,
                {
                    "run_id": run_id,
                    key: [bucket],
                    "n_buckets": n_buckets,
                    "n_page_buckets": n_page_buckets,
                },
            )

        # ---- stage 1: pages (skipped entirely on a doc-stage-only resume) ----
        refs_dir = os.path.join(out_dir, "refs")
        if len(committed_pages) < n_page_buckets:
            if not os.path.exists(os.path.join(refs_dir, "_SUCCESS")):
                # snapshot the distinct refs once: page buckets of a resumed run
                # see the same ref set even if `documents` changed underneath
                media_refs(documents).write.mode("overwrite").parquet(refs_dir)
            refs_all = _read(spark, "refs", [refs_dir])
            pbucket_col = F.pmod(F.xxhash64("media_ref"), F.lit(n_page_buckets))
            for pb in range(n_page_buckets):
                if pb in committed_pages:
                    continue
                _commit_pages(
                    media, refs_all.filter(pbucket_col == pb), cfg, out_dir,
                    f"pbucket={pb}", pb, run_id,
                )
                committed_pages.add(pb)
                manifest = commit("committed_page_buckets", pb)
                if fail_after_page_bucket is not None and pb >= fail_after_page_bucket:
                    raise RuntimeError(f"injected failure after page bucket {pb}")

        # ---- stage 2: documents (joins committed cells; no kernel ever reruns) ----
        cells_all = _read(spark, "cells", _unit_paths(
            out_dir, "cells", "pbucket", sorted(committed_pages), []
        ))
        bucket_col = _doc_bucket(n_buckets)
        for bucket in range(n_buckets):
            if bucket in committed:
                continue
            _commit_docs(
                documents.filter(bucket_col == bucket), cells_all, media, out_dir,
                f"bucket={bucket}", bucket, run_id, n_buckets,
            )
            manifest = commit("committed_buckets", bucket)
            if fail_after_bucket is not None and bucket >= fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {bucket}")
        return manifest


def run_incremental_update(
    new_documents: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig,
    out_dir: str,
) -> dict:
    """Extract a batch of NEWLY-ARRIVED documents into an already-committed
    table (the continuous-ingest path; the reference's analogue is
    ``ocr_generate_more_crops`` continuing over images added after the
    first run, reference scripts/ocr_generate_more_crops.py:11-18,69-76).

    Page-level incremental dedup: the delta's media refs are anti-joined
    against every ref already extracted (the base snapshot + prior
    updates), so a new document citing an ALREADY-EXTRACTED page reuses
    its committed cells — no image kernel reruns, at any corpus size the
    kernel cost of an update is proportional to its genuinely-new pages.

    One update = one snapshot commit: all delta files (refs, cells,
    lineage, data, errors, doc ids, doc lineage under ``*/update=U``) are
    written first and become visible only when the manifest commit appends
    U to ``committed_updates``.  A crash mid-update leaves the table at the
    previous snapshot; rerunning the same delta recomputes U's files
    idempotently (same id, overwrite mode) and commits once.

    Callers own doc-id disjointness (append-only ingest): re-submitting an
    already-committed document duplicates it, exactly like appending the
    same rows to any table twice.  The update's doc-id ledger
    (``doc_ids/update=U``) rides the same atomic commit as its data, so a
    caller that anti-joins its batch against ``committed_doc_ids`` — as
    the stream sink does — makes any replay a no-op.
    """
    spark = new_documents.sparkSession
    with _sole_unit_writer(out_dir):
        manifest = read_manifest(out_dir)
        if manifest["run_id"] is None or len(manifest["committed_buckets"]) < (
            manifest["n_buckets"] or 0
        ):
            raise ValueError(
                f"{out_dir} has no fully-committed base run; run run_extraction_job first"
            )
        committed_updates: list[int] = list(manifest["committed_updates"])
        # past the highest id ANY snapshot names, not just the current one: a
        # rollback un-commits updates whose files the abandoned snapshots
        # still read through ``as_of``, so their ids are never reused
        uid = 1 + max(
            (u for m in list_snapshots(out_dir) for u in m.get("committed_updates", [])),
            default=0,
        )
        part = f"update={uid}"

        # refs already extracted: base snapshot + prior update deltas
        known_refs = _read(spark, "refs", [
            os.path.join(out_dir, "refs"),
            *[os.path.join(out_dir, f"refs_updates/update={u}")
              for u in committed_updates],
        ])
        delta_dir = os.path.join(out_dir, "refs_updates", part)
        media_refs(new_documents).join(
            known_refs, on="media_ref", how="left_anti"
        ).write.mode("overwrite").parquet(delta_dir)

        # page stage over ONLY the genuinely-new pages; the negative lineage
        # bucket id marks update deltas
        _commit_pages(
            media, _read(spark, "refs", [delta_dir]), cfg, out_dir, part, -uid,
            manifest["run_id"],
        )

        # doc stage: join ALL committed cells (base + every update incl. this
        # one) so shared pages resolve without recompute
        cells_all = _read(spark, "cells", _unit_paths(
            out_dir, "cells", "pbucket", manifest["committed_page_buckets"],
            [*committed_updates, uid],
        ))
        _commit_docs(
            new_documents, cells_all, media, out_dir, part, -uid, manifest["run_id"],
            manifest["n_buckets"],
        )

        # single atomic commit makes the whole update visible; it adds U to
        # the newest snapshot, so a rollback landed meanwhile holds
        return _commit_manifest(out_dir, {"committed_updates": [uid]})


def _uncovered_units(manifest: dict) -> tuple[list[int], list[int]]:
    """Committed base buckets and updates the manifest's compaction (if
    any) does not cover."""
    comp = manifest.get("compaction") or {}
    return (
        [b for b in manifest["committed_buckets"] if b not in comp.get("buckets", [])],
        [
            u for u in manifest.get("committed_updates", [])
            if u not in comp.get("updates", [])
        ],
    )


def _data_paths(out_dir: str, manifest: dict, sub: str = "data") -> list[str]:
    """Dirs of doc output ``sub`` a manifest's state reads: the compacted
    dir (if the state has one) plus every bucket/update NOT covered by it."""
    comp = manifest.get("compaction")
    paths = [os.path.join(out_dir, sub, f"compacted={comp['id']}")] if comp else []
    return paths + _unit_paths(out_dir, sub, "bucket", *_uncovered_units(manifest))


def committed_doc_ids(
    spark: SparkSession, out_dir: str, buckets: list[int] | None = None
) -> DataFrame:
    """Distinct doc_ids of the committed table, read from the skinny
    ``doc_ids/`` ledger instead of the data files.

    ``buckets`` prunes the scan to those doc-id buckets
    (``pmod(xxhash64(doc_id), n_buckets)``): every ledger unit (base
    bucket, uncovered update, the compaction) is partitioned by doc
    bucket, and only the wanted ``dbucket=K`` leaf dirs are listed and
    read — so an ingest batch's replay anti-join costs O(batch +
    touched buckets) however many snapshots the table has accumulated,
    instead of rescanning the whole committed data set every micro-batch."""
    return _ledger(spark, out_dir, read_manifest(out_dir), buckets)


def _ledger(
    spark: SparkSession, out_dir: str, manifest: dict, buckets: list[int] | None = None
) -> DataFrame:
    """The distinct doc_ids ``manifest``'s ledger units hold in ``buckets``
    (default: every doc bucket)."""
    wanted = range(manifest["n_buckets"] or 0) if buckets is None else buckets
    paths = [
        leaf for unit in _data_paths(out_dir, manifest, "doc_ids") for b in wanted
        if os.path.isdir(leaf := os.path.join(unit, f"dbucket={b}"))
    ]
    if not paths:
        return spark.createDataFrame([], _SCHEMAS["doc_ids"])
    return _read(spark, "doc_ids", paths).distinct()


def read_extracted(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame:
    """Read back only COMMITTED doc buckets (uncommitted files are
    invisible, like reading an Iceberg snapshot).  ``as_of`` reads the
    table as it stood at that snapshot id (time travel)."""
    manifest = read_manifest(out_dir, as_of=as_of)
    return _read(spark, "data", _data_paths(out_dir, manifest))


def compact(spark: SparkSession, out_dir: str, target_partitions: int = 1) -> dict:
    """Rewrite the committed doc output into ``target_partitions`` coalesced
    files (Iceberg's rewrite_data_files analogue).  Small-file pressure is
    structural here: every bucket/update commit writes its own directory,
    so a long-lived table accretes one dir per commit; compaction folds
    them into one dir and commits a snapshot whose manifest records which
    buckets/updates the compacted dir COVERS.  Later commits (resumed
    buckets, new updates) simply append alongside it.  Old files are NOT
    deleted — older snapshots still reference them; reclaim space with
    ``expire_snapshots``.  A ``rollback`` that un-commits a covered unit
    while the fold is written makes it raise ``CommitConflict`` instead."""
    manifest = read_manifest(out_dir)
    cid = int((manifest["compaction"] or {}).get("id", 0)) + 1
    # both folds read the units of this one manifest: the ones the
    # compaction records as covered
    _read(spark, "data", _data_paths(out_dir, manifest)).repartition(
        target_partitions
    ).write.mode("overwrite").parquet(os.path.join(out_dir, f"data/compacted={cid}"))
    # fold the committed-ids ledger too: without this a long-lived
    # continuous-ingest table accretes one doc_ids/update=U dir per batch
    # forever.  It folds the covered ledgers, not the data: a document
    # with no written span is committed all the same, and a stream replay
    # of it must stay a no-op
    _write_doc_ids(
        _ledger(spark, out_dir, manifest),
        os.path.join(out_dir, f"doc_ids/compacted={cid}"),
        manifest["n_buckets"],
    )
    return _commit_manifest(
        out_dir,
        {
            "compaction": {
                "id": cid,
                "buckets": manifest["committed_buckets"],
                "updates": manifest["committed_updates"],
            }
        },
    )


def expire_snapshots(out_dir: str, keep_from: int) -> list[str]:
    """Drop snapshots older than ``keep_from`` and garbage-collect the
    doc-output dirs only the dropped snapshots reference (Iceberg
    expire_snapshots).  Returns the deleted paths.  A dir no snapshot has
    referenced yet — a unit still being written — is left alone.  Cells
    and lineage are never collected — incremental updates anti-join
    against them regardless of snapshot retention."""
    import shutil

    snaps = list_snapshots(out_dir)
    kept = [m for m in snaps if m["snapshot_id"] >= keep_from]
    if not kept:
        raise ValueError(f"keep_from={keep_from} would drop every snapshot")

    def referenced(manifests: list[dict]) -> set[str]:
        return {os.path.abspath(p) for m in manifests for p in _data_paths(out_dir, m)}

    deleted = []
    for p in sorted(referenced(snaps) - referenced(kept)):
        if os.path.isdir(p):
            shutil.rmtree(p)
            deleted.append(p)
    for m in snaps:
        if m["snapshot_id"] < keep_from:
            p = _snapshot_path(out_dir, m["snapshot_id"])
            os.remove(p)
            deleted.append(p)
    return deleted


def read_lineage(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame:
    """Page-stage lineage rows (per shuffle partition: page/cell/char
    counts + wall time) of committed page buckets and updates."""
    manifest = read_manifest(out_dir, as_of=as_of)
    return _read(spark, "lineage", _unit_paths(
        out_dir, "lineage", "pbucket",
        manifest["committed_page_buckets"], manifest["committed_updates"],
    ))


def read_doc_lineage(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame:
    """Doc-stage lineage rows (per doc bucket: doc/span/unresolved counts +
    wall time) of committed doc buckets; incremental updates appear with
    negative bucket ids (-update_id)."""
    manifest = read_manifest(out_dir, as_of=as_of)
    return _read(spark, "doc_lineage", _unit_paths(
        out_dir, "doc_lineage", "bucket",
        manifest["committed_buckets"], manifest["committed_updates"],
    ))
