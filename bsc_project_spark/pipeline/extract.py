"""The distributed extraction pipeline (the engine's flagship job).

Spark lifecycle of the reference computation (SURVEY.md §3.1):

    documents --explode--> spans
    spans[kind=media].media_ref --distinct--> unique refs
      --sizes collect (driver, build time)--> bins(media_ref, bin)
    media --join broadcast bins--> unique pages
      --size-aware bin-packing repartition-->                  # skew defuse
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
with 100x the median spans (heavy-doc skew) contributes only distinct
media_refs to the image stage, and its fan-back-out happens in the cheap
cells-to-spans join (AQE skew-join splits hot media_refs there).  The
distinct + hash(media_ref) repartition also dedups shared pages across
documents, so the kernel cost is O(unique pages), not O(spans).  The final
window restores global span order — the north rule's "explode/salted
repartition + window over (doc_id, offset)" design.

The refs are derived once, at build time, for the bins collect; the
bounded route's action joins media to the bins alone.  Only the unbounded
and no-metadata routes (see run_page_stage) semi-join media against the
broadcast refs in the action's plan: on the no-metadata route that join
is what restricts the pages, on the unbounded one it filters page bytes
map-side before the bins join, which is not broadcast.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import ExtractConfig
from ..io.png import decode_gray
from ..kernels.golden import extract_page
from ..queries.prefix import global_row_number

# Output schema of the extraction UDF stage.  Lineage rows ride along with
# kind='_lineage' (text = JSON payload) and are split off afterwards —
# one pass over the data, no accumulators.
EXTRACT_STAGE_SCHEMA = "media_ref string, row int, col int, text string, kind string"

LINEAGE_SCHEMA = (
    "partition_id int, page_count long, cell_count long, "
    "ocr_char_count long, wall_time_ms long"
)

EXTRACTED_COLUMNS = ["doc_id", "order", "kind", "text", "media_ref"]


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) -> one row per span (Generate, no shuffle)."""
    return documents.select(
        "doc_id",
        F.explode("spans").alias("span"),
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def media_refs(documents: DataFrame) -> DataFrame:
    """documents -> the distinct media_refs their media spans cite (one
    ``media_ref`` column): the page set the image stage extracts."""
    return (
        explode_spans(documents)
        .filter(F.col("kind") == "media")
        .select("media_ref")
        .distinct()
    )


def _make_extract_udf(
    cfg: ExtractConfig,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the mapInPandas function.  cfg is closure-captured (small,
    pickled once per task); pages arrive as Arrow record batches of
    (doc_id, offset, media_ref, content)."""

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t_start = time.monotonic()
        page_count = 0
        cell_count = 0
        char_count = 0

        for pdf in batches:
            out_rows: list[tuple] = []
            for media_ref, content in zip(pdf["media_ref"], pdf["content"]):
                gray = decode_gray(bytes(content))
                cells = extract_page(gray, cfg, cfg.ocr_glyph_scale)
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
            "wall_time_ms": int((time.monotonic() - t_start) * 1000),
        }
        yield pd.DataFrame(
            [(None, None, None, json.dumps(lineage), "_lineage")],
            columns=["media_ref", "row", "col", "text", "kind"],
        )

    return extract_batches


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's ``F.hash`` on an INT column: Murmur3_x86_32 of the 4-byte
    value with seed 42 (bit-for-bit; pinned against the engine by
    tests/test_partitioning.py)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # input length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


def _partition_tokens(spark: SparkSession, n: int) -> list[int]:
    """token[b] is an int that repartition(n, col) routes to shuffle
    partition b.  Spark's HashPartitioning places a row at
    pmod(murmur3(col), n); we invert it DRIVER-SIDE with the same
    Murmur3 (``_murmur3_int32`` == ``F.hash`` on int, test-pinned), so a
    computed bin id routes to EXACTLY that partition — plain
    hash-partitioning on the bin id would collide bins (balls-into-bins)
    and undo the balancing.  Zero Spark jobs: this used to be a probe
    collect per stage build, a fixed serial cost that bit hardest at
    high parallelism where the kernel wall is short."""
    tokens: dict[int, int] = {}
    v, limit = 0, max(n, 1) * 1024
    while len(tokens) < n and v < limit:
        tokens.setdefault(_murmur3_int32(v) % n, v)
        v += 1
    return [tokens.get(b, b) for b in range(n)]


# Above this many refs the planner stops collecting to the driver and
# two-phases the rank instead.  The driver path is NOT a new bottleneck
# below the bound: the bins frame is broadcast into the page join (see
# repartition_by_size), so it already flows through the driver — the
# planner just does the serpentine while it is there, in ONE job, instead
# of spending three (range sampling + subtotal collect + offset join).
_DRIVER_PLAN_MAX = 2_000_000


def serpentine_bins(
    pairs: list[tuple[str, int]], n_bins: int
) -> list[tuple[str, int]]:
    """Driver-side serpentine: (media_ref, sz) pairs -> (media_ref, bin),
    size-descending boustrophedon deal (the semantics assign_size_bins
    documents), as a pure function so callers that already hold the
    collected sizes (run_page_stage's tile split) don't re-run the job."""
    # NULL metadata sizes arrive as None after a collect; treat them as 0
    # (smallest bin) rather than TypeError-ing the whole driver plan.
    order = sorted(pairs, key=lambda p: (-(p[1] or 0), p[0]))
    out = []
    for rn0, (ref, _sz) in enumerate(order):
        pos = rn0 % n_bins
        fwd = (rn0 // n_bins) % 2 == 0
        out.append((ref, pos if fwd else n_bins - 1 - pos))
    return out


def _bins_local_df(spark: SparkSession, data: list[tuple[str, int]]) -> DataFrame:
    """(media_ref, bin) rows as a LOCAL relation.  Small lists go through
    an inline VALUES literal — a LocalRelation Catalyst folds straight
    into the bins broadcast with ZERO tasks and no Python workers; a
    Python-list createDataFrame would plan as a pickled-RDD scan
    (defaultParallelism tasks + pickle-worker cold start inside the
    broadcast build).  Big lists fall back to createDataFrame (the VALUES
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


def assign_size_bins(
    sizes: DataFrame,
    n_bins: int,
    driver_max: int = _DRIVER_PLAN_MAX,
    assume_bounded: bool = False,
) -> DataFrame:
    """(media_ref, sz) -> (media_ref, bin) with near-LPT total-size balance.

    Serpentine striping over the size-descending order: pass 0 deals bins
    0..P-1, pass 1 deals P-1..0, ... — each bin gets one page per pass and
    the boustrophedon order cancels the within-pass size drift, so
    max(bin_bytes)/mean(bin_bytes) stays within a few percent of the LPT
    greedy optimum for realistic size distributions (and degenerates to
    exact round-robin when sizes are uniform).

    Never a single-task global window (the scale wall the round-3 review
    flagged).  Two paths, same serpentine semantics:

    - driver path (``assume_bounded=True`` — what repartition_by_size
      passes, because its bins join is a BROADCAST, so the bins rows are
      driver-sized by contract and flow through the driver regardless):
      collect the skinny (media_ref, sz) rows and serpentine locally.
      ONE Spark job, zero shuffles, zero-task VALUES relation out.
      Without ``assume_bounded`` a parallel count() gates the same path
      at ``driver_max`` rows — NOT limit(n).collect(), which plans as
      CollectLimit and scans partitions SERIALLY in scale-up batches
      (measured 2x the whole stage wall at bench scale).
    - larger: two-phase rank (queries/prefix.py) — range-partition on
      (-sz, media_ref), rank within ranges in parallel, broadcast
      per-partition offsets back.  Three skinny jobs, fully distributed;
      the path a non-broadcast consumer at 10^12 refs would need.
    """
    spark = sizes.sparkSession
    # NULL sizes (missing width/height metadata, NULL content) sort as 0:
    # both the driver serpentine and the two-phase rank need a total order.
    skinny = sizes.select(
        "media_ref", F.coalesce(F.col("sz").cast("long"), F.lit(0)).alias("sz")
    )
    head: list | None = None
    if assume_bounded:
        head = skinny.collect()
    elif driver_max > 0:
        cached = skinny.persist()
        if cached.count() <= driver_max:
            head = cached.collect()
        cached.unpersist()
    # driver_max <= 0 means the caller already proved the frame is over
    # the ceiling (run_page_stage's unbounded route): go straight to the
    # two-phase rank — no persist, no count job
    if head is not None:
        return _bins_local_df(
            spark, serpentine_bins([(r["media_ref"], r["sz"]) for r in head], n_bins)
        )
    ranked = global_row_number(
        skinny.withColumn("_neg_sz", -F.col("sz").cast("long")),
        ["_neg_sz", "media_ref"],
        "_rn",
    )
    rn = F.col("_rn") - F.lit(1)
    pos = rn % F.lit(n_bins)
    fwd = (rn / F.lit(n_bins)).cast("long") % 2 == 0
    return ranked.select(
        "media_ref",
        F.when(fwd, pos).otherwise(F.lit(n_bins - 1) - pos).cast("int").alias("bin"),
    )


def repartition_by_size(
    pages: DataFrame,
    n_parts: int,
    sizes: DataFrame | None = None,
    bins: DataFrame | None = None,
    broadcast_bins: bool = True,
    assume_bounded: bool = True,
) -> DataFrame:
    """Spread (media_ref, content) rows over n_parts shuffle partitions
    balancing total BYTES per partition, not row counts.  One byte-shuffle,
    same as a plain repartition; the planning side-channel (sizes window +
    bin join) touches only skinny columns.  Replaces round-robin for
    corpora with variable page sizes (open risk in SURVEY.md §7: one giant
    page can't be split, but it no longer drags a full round-robin share
    of other pages with it).

    ``sizes``: optional (media_ref, sz) frame.  Pass one derived from
    METADATA columns (e.g. width*height) so the sizing branch's scan is
    column-pruned to skinny columns — the default F.length(content) is
    convenient but re-reads the byte column in the planning branch, which
    a 100 TB media table cannot afford.  ``bins``: optional prebuilt
    (media_ref, bin) frame (callers that already collected the sizes,
    like run_page_stage's tile split, pass serpentine_bins output and no
    planning job runs here at all).  ``broadcast_bins=False`` drops the
    explicit broadcast hint for callers whose bins frame may exceed the
    driver contract (run_page_stage's unbounded route) — AQE still
    broadcasts small frames on its own; a genuinely huge bins frame joins
    by shuffle on media_ref.  ``assume_bounded=False`` forwards the
    count() gate to assign_size_bins when this function plans the bins
    itself."""
    spark = pages.sparkSession
    if bins is None:
        if sizes is None:
            sizes = pages.select("media_ref", F.length("content").alias("sz"))
        # assume_bounded (default): bins is broadcast into the page join
        # below, so the planner's input is driver-sized by the same
        # contract — take the one-job driver serpentine instead of
        # spending a count() gate.  The numeric ceiling that makes the
        # contract safe is extract._DRIVER_PLAN_MAX (see config.py's
        # assume_bounded_refs note).
        bins = assign_size_bins(sizes, n_parts, assume_bounded=assume_bounded)
        broadcast_bins = broadcast_bins and assume_bounded
    tokens = _partition_tokens(spark, n_parts)
    token_arr = F.array(*[F.lit(t) for t in tokens])
    bins_side = F.broadcast(bins) if broadcast_bins else bins
    routed = pages.join(bins_side, on="media_ref", how="inner").select(
        "media_ref",
        "content",
        F.element_at(token_arr, F.col("bin") + 1).alias("_route"),
    )
    return routed.repartition(n_parts, "_route").drop("_route")


class ExtractResult(NamedTuple):
    extracted: DataFrame   # (doc_id, order, kind, text, media_ref)
    lineage: DataFrame     # per-partition metric rows from inside the UDF
    stage: DataFrame       # persisted raw stage output (unpersist when done)
    unresolved: DataFrame  # media spans whose media_ref has no media row


def run_page_stage(
    media: DataFrame, refs: DataFrame, cfg: ExtractConfig, n_parts: int
) -> DataFrame:
    """The expensive image stage over the UNIQUE pages named by ``refs``
    (a (media_ref) frame): restrict media to the refs, size-aware
    repartition, ONE mapInPandas running K1-K21.  Returns the raw stage
    output (cells + in-band lineage rows; split with
    ``split_stage_output``).

    How media is restricted depends on the route.  On the bounded route
    (width/height metadata, ref count under the driver contract) the sizes
    are collected to the driver at build time and media joins the
    broadcast bins frame and the giant list directly: the bins hold
    exactly the refs' non-giant pages, so the plan the action runs never
    re-derives the refs (for run_extract_stage, an explode + distinct of
    the documents).  The other two routes semi-join media against the
    broadcast refs first.  On the no-metadata route the bins are planned
    from all of media, so that join is what restricts the pages.  On the
    unbounded route the bins already hold only the refs' pages, but they
    are not broadcast, so the semi-join keeps unreferenced page bytes out
    of the (possibly shuffled) bins join.

    Byte economics: the refs/bins side (strings) is broadcast, so the big
    image bytes are shuffled at most ONCE — by the explicit repartition
    that also fixes the task count for the CPU-bound stage (AQE would
    otherwise coalesce byte-sized partitions and starve the stage of
    parallelism).  At 10^12-doc scale the same shape holds per checkpoint
    bucket: the refs of one bucket are bounded, and media would be a
    bucketed table co-partitioned by media_ref.
    """
    pages = media.select("media_ref", "content")
    udf = _make_extract_udf(cfg)
    # ALWAYS shuffle the pages once, with SIZE-AWARE bin-packing
    # (serpentine over size order, exact bin->partition routing):
    # byte-balanced partitions, so one giant page doesn't drag a full
    # round-robin share of ordinary pages into its task, and the task count
    # of the CPU-bound kernel stage is pinned regardless of how the scan
    # happened to split.  Unconditional by design: the earlier "skip if the
    # scan is already wide" probe read unique_pages.rdd.getNumPartitions(),
    # and touching .rdd forces a full plan-to-RDD conversion of the media
    # scan on the driver per job — a planning cost (and a byte-column
    # deserialization hazard) a 100 TB table cannot afford, for a shuffle
    # the stage wants anyway (balance + fixed parallelism).  Page size
    # comes from metadata columns (width*height) when available so the
    # planning branch never re-reads image bytes; uniform sizes degrade to
    # exact round-robin striping.
    if not {"width", "height"} <= set(media.columns):
        unique_pages = pages.join(F.broadcast(refs), on="media_ref", how="left_semi")
        return repartition_by_size(unique_pages, n_parts).mapInPandas(
            udf, schema=EXTRACT_STAGE_SCHEMA
        )
    sizes = media.join(F.broadcast(refs), on="media_ref", how="left_semi").select(
        "media_ref",
        # NULL width/height -> sz 0 (smallest bin, never tiled) so the
        # driver-side giant filter and serpentine sort stay total
        F.coalesce(F.col("width").cast("long") * F.col("height"), F.lit(0)).alias("sz"),
    )
    # Driver contract gate (config.assume_bounded_refs): the default
    # asserts |unique refs| <= driver_plan_max (~2M rows ≈ 200 MB driver
    # heap — the numeric contract lives on config.py) so planning costs
    # ONE collect job, reused by both the serpentine and the giant-tile
    # routing.  Opting out spends one skinny count() per stage build,
    # uncached (a persist would outlive the lazily returned plan and pin
    # the cache for the session); ref sets over the ceiling then plan
    # fully distributed — two-phase bins, shuffle-joined (no broadcast
    # hint), giants filtered by semi/anti join — with zero driver-side ref
    # materialization.
    bounded = cfg.assume_bounded_refs
    if not bounded:
        cap = cfg.driver_plan_max if cfg.driver_plan_max is not None else _DRIVER_PLAN_MAX
        bounded = sizes.count() <= cap
    # Giant-page tile split (pipeline/tiling.py): pages at or above
    # tile_threshold_px native pixels leave the atomic per-page path for
    # the banded one, so one 100x page cannot pin a task for 100x the
    # median task time.  Deskew is a global-rotation op that cannot band —
    # deskewing corpora keep the single-task path for giants too.
    thr = cfg.tile_threshold_px
    tiling = thr is not None and not cfg.deskew_enabled
    if bounded:
        # The routing decision reuses the SAME driver-side sizes collect
        # the serpentine planner needs (bins is broadcast -> driver-sized
        # by contract), so no extra job.
        spark = media.sparkSession
        pairs = [(r["media_ref"], r["sz"]) for r in sizes.collect()]
        giant = [ref for ref, sz in pairs if tiling and sz >= thr]
        bins = _bins_local_df(
            spark,
            serpentine_bins(
                [p for p in pairs if not (tiling and p[1] >= thr)], n_parts
            ),
        )
        # the inner join with bins keeps exactly the non-giant refs' pages
        out = repartition_by_size(pages, n_parts, bins=bins).mapInPandas(
            udf, schema=EXTRACT_STAGE_SCHEMA
        )
        if not giant:
            return out
        from .tiling import run_tiled_page_stage

        giant_df = _bins_local_df(spark, [(ref, 0) for ref in giant]).select("media_ref")
        giant_pages = pages.join(F.broadcast(giant_df), on="media_ref", how="left_semi")
        return out.unionByName(run_tiled_page_stage(giant_pages, cfg, n_parts))
    unique_pages = pages.join(F.broadcast(refs), on="media_ref", how="left_semi")
    if not tiling:
        # driver_max=0: the count above already proved the frame is over
        # the ceiling — go straight to the two-phase rank.
        bins = assign_size_bins(sizes, n_parts, driver_max=0)
        return repartition_by_size(
            unique_pages, n_parts, bins=bins, broadcast_bins=False
        ).mapInPandas(udf, schema=EXTRACT_STAGE_SCHEMA)
    from .tiling import run_tiled_page_stage

    giant_refs = sizes.filter(F.col("sz") >= thr).select("media_ref")
    normal_pages = unique_pages.join(giant_refs, on="media_ref", how="left_anti")
    giant_pages = unique_pages.join(giant_refs, on="media_ref", how="left_semi")
    bins = assign_size_bins(sizes.filter(F.col("sz") < thr), n_parts, driver_max=0)
    normal_out = repartition_by_size(
        normal_pages, n_parts, bins=bins, broadcast_bins=False
    ).mapInPandas(udf, schema=EXTRACT_STAGE_SCHEMA)
    return normal_out.unionByName(run_tiled_page_stage(giant_pages, cfg, n_parts))


def split_stage_output(stage_out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Raw page-stage output -> (cells, lineage)."""
    lineage = (
        stage_out.filter(F.col("kind") == "_lineage")
        .select(F.from_json(F.col("text"), LINEAGE_SCHEMA).alias("l"))
        .select("l.*")
    )
    cells = stage_out.filter(F.col("kind") == "ocr").select(
        "media_ref", "row", "col", "text", "kind"
    )
    return cells, lineage


def assemble_spans(
    documents: DataFrame, cells: DataFrame, media: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fan per-page cells back out to documents and restore span order.

    Returns (extracted, unresolved).  Pure skinny-row relational work: the
    cells join is where AQE skew-join splits hot media_refs; the window is
    per-doc state only.  ``media`` is used (media_ref column alone, pruned
    scan) for the quarantine anti-join.
    """
    spans = explode_spans(documents)
    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        "offset",
        F.lit(-1).alias("row"),
        F.lit(-1).alias("col"),
        "text",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit("text").alias("kind"),
    )
    media_spans = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref"
    )
    ocr_spans = media_spans.join(
        cells.select("media_ref", "row", "col", "text", "kind"),
        on="media_ref",
        how="inner",
    ).select("doc_id", "offset", "row", "col", "text", "media_ref", "kind")

    # Quarantine channel: media spans whose ref has no media row are NOT
    # silently dropped — they surface here (and in the checkpoint job's
    # errors/ output) for reprocessing.
    unresolved = media_spans.join(
        media.select("media_ref"), on="media_ref", how="left_anti"
    ).select("doc_id", "offset", "media_ref")

    all_spans = text_spans.unionByName(ocr_spans)
    w = Window.partitionBy("doc_id").orderBy("offset", "row", "col")
    extracted = all_spans.select(
        "doc_id",
        (F.row_number().over(w) - F.lit(1)).alias("order"),
        "kind",
        "text",
        "media_ref",
    )
    return extracted, unresolved


def run_extract_stage(
    documents: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig,
    salt_partitions: int | None = None,
    persist: bool = False,
) -> ExtractResult:
    """Run the full extraction (page stage + assembly) in one plan.

    extracted: (doc_id, order, kind['text'|'ocr'], text, media_ref), order
    dense per doc over (offset, row, col) — the golden_spans contract.
    lineage: per-shuffle-partition metric rows from inside the UDF stage.
    ``persist=True`` caches the raw stage output (MEMORY_AND_DISK) so that
    consuming BOTH extracted and lineage runs the expensive image stage
    exactly once; the caller unpersists ``stage`` afterwards.
    ``salt_partitions`` sets the page stage's width, i.e. its Python task
    count; the default is the session's ``defaultParallelism``, one task
    per core, because every Python task pays a fixed worker set-up cost
    (see pipeline/session.py).

    The expensive image work runs once per UNIQUE page: distinct refs
    restrict media (through the bins join, see run_page_stage), and the
    pages are byte-balanced over partitions.  Heavy
    documents (many spans) and popular pages (many docs) both collapse to
    one kernel invocation per page.
    """
    spark = documents.sparkSession
    n_parts = salt_partitions or spark.sparkContext.defaultParallelism

    stage_out = run_page_stage(media, media_refs(documents), cfg, n_parts)
    if persist:
        stage_out = stage_out.persist(StorageLevel.MEMORY_AND_DISK)
    cells, lineage = split_stage_output(stage_out)
    extracted, unresolved = assemble_spans(documents, cells, media)
    return ExtractResult(extracted, lineage, stage_out, unresolved)


def extract_spans(
    documents: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Convenience wrapper returning only the extracted spans."""
    return run_extract_stage(documents, media, cfg, salt_partitions).extracted


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
