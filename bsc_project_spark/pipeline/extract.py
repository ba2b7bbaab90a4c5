"""The distributed extraction pipeline (the engine's flagship job).

Spark lifecycle of the reference computation (SURVEY.md §3.1):

    documents --inline--> spans
    documents --array_distinct(media spans' refs) per doc, explode--> refs
      (one row per (document, page) citation; no global distinct)
    media --semi join broadcast refs--> (media_ref, sz) of the unique pages
      --collect (driver, build time)--> bins(media_ref, bin)
    media --join broadcast bins--> unique pages
      --repartitionById(bin): bin b -> shuffle partition b-->  # skew defuse
      --ONE mapInPandas stage (K1..K21 numpy kernels)-->       # zero per-row Python
        cells(media_ref, row, col, text) + per-partition lineage rows
    cells --join back to media spans (doc_id, offset)-->
    union text spans
      --window row_number() over (doc_id ORDER BY offset,row,col)--> order
    -> extracted(doc_id, order, kind, text, media_ref)

Replaces the reference's sequential page loop
(reference scripts/imgs2csv.py:294-313) with data parallelism; the
host->GPU tensor boundary (scripts/imgs2csv.py:140) becomes the JVM->Python
Arrow channel.

Scale design: the unit of expensive work is one UNIQUE page — a document
with 100x the median spans (heavy-doc skew) contributes only its distinct
media_refs to the image stage, and its fan-back-out happens in the cheap
cells-to-spans join (AQE skew-join splits hot media_refs there).  Pages
shared across documents dedup where media meets the refs (a semi-join
only tests membership) and in the bins join, so the kernel cost is
O(unique pages), not O(spans), without a global distinct and its
shuffle.  The final window restores global span order — the north rule's
"explode/salted repartition + window over (doc_id, offset)" design.

One planner (run_page_stage) sizes the refs' pages once and deals them
into bins on the driver (one build-time collect, broadcast bins).  The
action joins media to the bins alone and never re-derives the refs.  A
corpus too large for one driver-side plan is extracted per page bucket
(pipeline/checkpoint.py run_extraction_job), each bucket planned on its
own.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ExtractConfig
from ..io.png import decode_gray
from ..kernels.golden import extract_page

# Output schema of the extraction UDF stage.  Lineage rows ride along with
# kind='_lineage' (text = JSON payload) and are split off afterwards —
# one pass over the data, no accumulators.
EXTRACT_STAGE_SCHEMA = "media_ref string, row int, col int, text string, kind string"

# The *_ms columns split the kernel work of wall_time_ms by phase; the
# tiled route's rows leave them NULL.
PHASES = ("decode", "preprocess", "segment", "postprocess", "bbox", "ocr")
LINEAGE_SCHEMA = (
    "partition_id int, page_count long, cell_count long, "
    "ocr_char_count long, wall_time_ms long, "
    + ", ".join(f"{p}_ms long" for p in PHASES)
)


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) -> one row per span, (doc_id, kind,
    text, media_ref, offset): one ``inline`` (Generate, no shuffle)."""
    return documents.selectExpr("doc_id", "inline(spans)")


def doc_media_refs(documents: DataFrame) -> DataFrame:
    """documents -> one ``media_ref`` row per (document, cited page),
    deduplicated within each document but not across documents: enough
    for a membership test (run_page_stage's semi-join and sizes), without
    the shuffle a global distinct costs."""
    return documents.selectExpr(
        "explode(array_distinct(filter(spans, s -> s.kind = 'media').media_ref)) AS media_ref"
    )


def media_refs(documents: DataFrame) -> DataFrame:
    """documents -> the distinct media_refs their media spans cite (one
    ``media_ref`` column): the page set a checkpoint's ref ledger holds."""
    return doc_media_refs(documents).distinct()


def _make_extract_udf(
    cfg: ExtractConfig,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the mapInPandas function.  cfg is closure-captured (small,
    pickled once per task); pages arrive as Arrow record batches of
    (doc_id, offset, media_ref, content)."""

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        # the wall starts at the first batch: the JVM's time to send it is
        # not UDF work
        t_start = None
        page_count = 0
        cell_count = 0
        char_count = 0
        phase_ms = dict.fromkeys(PHASES, 0.0)

        for pdf in batches:
            if t_start is None:
                t_start = time.monotonic()
            out_rows: list[tuple] = []
            for media_ref, content in zip(pdf["media_ref"], pdf["content"]):
                t = time.perf_counter()
                gray = decode_gray(bytes(content))
                phase_ms["decode"] += (time.perf_counter() - t) * 1000.0
                cells = extract_page(gray, cfg, cfg.ocr_glyph_scale, phase_ms)
                page_count += 1
                for row, col, text in cells:
                    out_rows.append((media_ref, row, col, text, "ocr"))
                    cell_count += 1
                    char_count += len(text)
            yield pd.DataFrame(
                out_rows, columns=["media_ref", "row", "col", "text", "kind"]
            )

        ctx = TaskContext.get()
        lineage = {
            "partition_id": ctx.partitionId() if ctx else -1,
            "page_count": page_count,
            "cell_count": cell_count,
            "ocr_char_count": char_count,
            "wall_time_ms": 0 if t_start is None else int((time.monotonic() - t_start) * 1000),
            **{f"{p}_ms": round(ms) for p, ms in phase_ms.items()},
        }
        yield pd.DataFrame(
            [(None, None, None, json.dumps(lineage), "_lineage")],
            columns=["media_ref", "row", "col", "text", "kind"],
        )

    return extract_batches


def serpentine_bins(
    pairs: list[tuple[str, int]], n_bins: int
) -> list[tuple[str, int]]:
    """Driver-side serpentine: (media_ref, sz) pairs -> (media_ref, bin).

    Serpentine striping over the size-descending order (ties by
    media_ref): pass 0 deals bins 0..P-1, pass 1 deals P-1..0, ... — each
    bin gets one page per pass and the boustrophedon order cancels the
    within-pass size drift, so max(bin_bytes)/mean(bin_bytes) stays within
    a few percent of the LPT greedy optimum for realistic size
    distributions (and degenerates to exact round-robin when sizes are
    uniform)."""
    order = sorted(pairs, key=lambda p: (-p[1], p[0]))
    out = []
    for rn0, (ref, _sz) in enumerate(order):
        pos = rn0 % n_bins
        fwd = (rn0 // n_bins) % 2 == 0
        out.append((ref, pos if fwd else n_bins - 1 - pos))
    return out


def _bins_local_df(spark: SparkSession, data: list[tuple[str, int]]) -> DataFrame:
    """(media_ref, bin) rows as a LOCAL relation.  Small lists go through
    an inline VALUES literal, a LocalRelation with no Python workers; a
    Python-list createDataFrame would plan as a pickled-RDD scan
    (pickle-worker cold start inside the broadcast build).  It is not
    free: broadcasting it runs one LocalTableScan job of
    min(rows, defaultParallelism) tasks on every pass, and a pandas
    createDataFrame local relation measured the same 2 jobs for a
    broadcast join.  Big lists fall back to createDataFrame (the VALUES
    SQL text would outgrow the parser)."""
    if not data:
        return spark.createDataFrame([], "media_ref string, bin int")
    if len(data) <= 65536:
        # Spark's SQL parser processes backslash escapes inside string
        # literals by default, so backslashes must be doubled BEFORE the
        # quote-doubling — an unescaped '\' would corrupt the ref (and a
        # trailing one would swallow the closing quote), silently
        # dropping those pages from the inner/semi bins joins.
        vals = ", ".join(
            "('{}', {})".format(
                ref.replace("\\", "\\\\").replace("'", "''"), b
            )
            for ref, b in data
        )
        return spark.sql(f"SELECT * FROM VALUES {vals} AS t(media_ref, bin)")
    return spark.createDataFrame(data, "media_ref string, bin int")


def repartition_by_size(pages: DataFrame, bins: DataFrame, n_parts: int) -> DataFrame:
    """Route (media_ref, content) rows to the shuffle partition their
    (media_ref, bin) row names: an inner join with ``bins`` (pages without
    a bin drop out; the caller decides whether ``bins`` is broadcast),
    then one byte-shuffle that sends bin b to EXACTLY partition b
    (``repartitionById``: partition pmod(bin, n_parts), which AQE does
    not coalesce).  Hash-partitioning on the bin id would collide bins
    (balls-into-bins) and undo the balancing.  Balanced bins give
    byte-balanced partitions, so one giant page no longer drags a full
    round-robin share of other pages with it (SURVEY.md §7)."""
    routed = pages.join(bins, on="media_ref", how="inner")
    return routed.repartitionById(n_parts, "bin").drop("bin")


class ExtractResult(NamedTuple):
    extracted: DataFrame   # (doc_id, order, kind, text, media_ref)
    lineage: DataFrame     # per-partition metric rows from inside the UDF
    stage: DataFrame       # persisted raw stage output (unpersist when done)
    unresolved: DataFrame  # media spans whose media_ref has no media row


def run_page_stage(
    media: DataFrame, refs: DataFrame, cfg: ExtractConfig, n_parts: int
) -> DataFrame:
    """The expensive image stage over the UNIQUE pages named by ``refs``
    (a (media_ref) frame, which may repeat a ref: it is only tested for
    membership, so each page runs once): size the pages, deal them into
    ``n_parts`` byte-balanced bins, ONE mapInPandas running K1-K21 over
    the repartitioned pages.  Returns the raw stage output (cells + in-band
    lineage rows; split with ``split_stage_output``).

    One planner.  ``sizes`` is (media_ref, sz) for the refs' pages: sz is
    width*height when media carries that metadata — so the planning scan
    never re-reads image bytes — else length(content); NULL sizes count
    as 0.  The bins are dealt on the driver: ONE build-time collect of
    the sizes, serpentine_bins, a VALUES bins relation broadcast into the
    page join.  The bins hold exactly the refs' non-giant pages, so the
    plan the action runs never re-derives the refs (for
    run_extract_stage, an explode of the documents).

    Then route bin b to shuffle partition b (repartition_by_size, Spark's
    ``repartitionById``) — unconditionally: it pins the task count of the
    CPU-bound stage (AQE would otherwise coalesce byte-sized partitions)
    and balances bytes per task — and run the one UDF stage.  With
    metadata and deskew off, pages of at least ``cfg.tile_threshold_px``
    native pixels leave the per-page path for the banded one
    (pipeline/tiling.py), so one 100x page cannot pin a task for 100x the
    median task time; deskew is a global-rotation op that cannot band.

    Byte economics: the refs/bins side (strings) is broadcast, so the big
    image bytes are shuffled at most ONCE.  The driver holds one row per
    (document, page) citation of the call (the refs broadcast) and one
    per unique page (the sizes collect); run_extraction_job bounds both
    per page bucket, and at 10^12-doc scale media would be a bucketed
    table co-partitioned by media_ref.
    """
    spark = media.sparkSession
    metadata = {"width", "height"} <= set(media.columns)
    thr = cfg.tile_threshold_px
    tiling = metadata and thr is not None and not cfg.deskew_enabled
    sz = "CAST(width AS BIGINT) * height" if metadata else "length(content)"
    sizes = media.join(F.broadcast(refs), on="media_ref", how="left_semi").selectExpr(
        "media_ref", f"coalesce(CAST({sz} AS BIGINT), 0) AS sz"
    )
    pages = media.select("media_ref", "content")
    pairs = [(r["media_ref"], r["sz"]) for r in sizes.collect()]
    giants = [(ref, 0) for ref, s in pairs if tiling and s >= thr]
    bins = F.broadcast(
        _bins_local_df(
            spark,
            serpentine_bins([p for p in pairs if not (tiling and p[1] >= thr)], n_parts),
        )
    )
    out = repartition_by_size(pages, bins, n_parts).mapInPandas(
        _make_extract_udf(cfg), schema=EXTRACT_STAGE_SCHEMA
    )
    if not giants:
        return out
    from .tiling import run_tiled_page_stage

    giant_refs = _bins_local_df(spark, giants).select("media_ref")
    giant_pages = pages.join(giant_refs, on="media_ref", how="left_semi")
    return out.unionByName(run_tiled_page_stage(giant_pages, cfg, n_parts))


def split_stage_output(stage_out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Raw page-stage output -> (cells, lineage)."""
    lineage = stage_out.where("kind = '_lineage'").selectExpr(
        f"from_json(text, '{LINEAGE_SCHEMA}') AS l"
    ).selectExpr("l.*")
    return stage_out.where("kind = 'ocr'"), lineage


def assemble_spans(
    documents: DataFrame, cells: DataFrame, media: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fan per-page cells back out to documents and restore span order.

    Returns (extracted, unresolved).  Pure skinny-row relational work: the
    cells join is where AQE skew-join splits hot media_refs; the window is
    per-doc state only.  ``media`` is used (media_ref column alone, pruned
    scan) for the quarantine anti-join.  Built from SQL-expression
    operators: each Column object costs the driver tens of py4j calls.
    """
    spans = explode_spans(documents)
    text_spans = spans.where("kind = 'text'").selectExpr(
        "doc_id", "offset", "-1 AS row", "-1 AS col", "text",
        "CAST(NULL AS STRING) AS media_ref", "kind",
    )
    media_spans = spans.where("kind = 'media'").selectExpr("doc_id", "offset", "media_ref")
    # cells carry (media_ref, row, col, text, kind): the inner join adds
    # (doc_id, offset), and unionByName lines the columns up
    ocr_spans = media_spans.join(cells, on="media_ref", how="inner")

    # Quarantine channel: media spans whose ref has no media row are NOT
    # silently dropped — they surface here (and in the checkpoint job's
    # errors/ output) for reprocessing.
    unresolved = media_spans.join(
        media.select("media_ref"), on="media_ref", how="left_anti"
    ).select("doc_id", "offset", "media_ref")

    extracted = text_spans.unionByName(ocr_spans).selectExpr(
        "doc_id",
        "row_number() OVER (PARTITION BY doc_id ORDER BY offset, row, col) - 1 AS `order`",
        "kind",
        "text",
        "media_ref",
    )
    return extracted, unresolved


def run_extract_stage(
    documents: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig,
    persist: bool = False,
) -> ExtractResult:
    """Run the full extraction (page stage + assembly) in one plan.

    extracted: (doc_id, order, kind['text'|'ocr'], text, media_ref), order
    dense per doc over (offset, row, col) — the golden_spans contract.
    lineage: per-shuffle-partition metric rows from inside the UDF stage.
    ``persist=True`` caches the raw stage output (MEMORY_AND_DISK) so that
    consuming BOTH extracted and lineage runs the expensive image stage
    exactly once; the caller unpersists ``stage`` afterwards.  The page
    stage is the session's ``defaultParallelism`` wide, one Python task
    per core, because every Python task pays a fixed worker set-up cost
    (see pipeline/session.py).

    The expensive image work runs once per UNIQUE page: each document's
    distinct refs restrict media (through the driver-dealt bins join,
    see run_page_stage), and the pages are byte-balanced over partitions.
    Heavy documents (many spans) and popular pages (many docs) both
    collapse to one kernel invocation per page.
    """
    n_parts = documents.sparkSession.sparkContext.defaultParallelism
    stage_out = run_page_stage(media, doc_media_refs(documents), cfg, n_parts)
    if persist:
        stage_out = stage_out.persist(StorageLevel.MEMORY_AND_DISK)
    cells, lineage = split_stage_output(stage_out)
    extracted, unresolved = assemble_spans(documents, cells, media)
    return ExtractResult(extracted, lineage, stage_out, unresolved)


def extract_spans(
    documents: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig,
) -> DataFrame:
    """Convenience wrapper returning only the extracted spans."""
    return run_extract_stage(documents, media, cfg).extracted


def reassemble(extracted: DataFrame) -> DataFrame:
    """extracted spans -> documents-shaped output table
    (doc_id, spans: array<struct<kind,text,media_ref,offset>>), span order
    restored by sort_array on the leading ``order`` field."""
    return (
        extracted.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("order", "kind", "text", "media_ref"))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["order"].cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
