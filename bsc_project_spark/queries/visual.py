"""Driver-checkable visual near-dup query (pHash).

``q_phash_pairs`` exercises the REAL multimodal path end-to-end inside
the driver's correctness gate: synthesize a deterministic page image per
document (a pure function of ``doc_id % 64`` and a variant flag, so the
distinct-image set is finite), compute 64-bit pHashes through the actual
``image_phash`` mapInPandas kernel, and find near-dup pairs with
``phash_near_dup_pairs``: 4 x 16-bit bands through the shared
``banded_pairs`` self-join (each pair once, from its first matching
band), then a ``bit_count(xor)`` verify — the same operator behind
``q_simhash_pairs``.

The DuckDB oracle cannot run the numpy DCT, but it does not need to: the
distinct-image set is 128 patterns, so the oracle embeds a
``(pattern_id, variant) -> phash`` lookup table computed ONCE at
registration time by the SAME kernel code running locally (render ->
``_phash_of_image``), then replays the banded join (deduplicated with
DISTINCT) + Hamming verify in pure SQL.  What the gate therefore checks is exactly what can
go wrong distributed: that the Arrow-batched kernel over Spark produces
the same hashes as the local kernel, and that the banded join/verify
logic is correct — on every document of the sf dir.

Planted duplicates: documents sharing ``doc_id % 64`` and variant status
render bit-identical pages (Hamming 0); every 7th document flips one
block of its pattern, giving deterministic near-but-not-identical
images.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from . import QuerySpec, register_views

QUERIES: dict[str, QuerySpec] = {}

_N_PATTERNS = 64
_VARIANT_MOD = 7
_MAX_HAMMING = 3


def synth_page_image(pattern_id: int, variant: int) -> np.ndarray:
    """Deterministic 64x64 uint8 page: an 8x8 grid of flat blocks whose
    intensities are md5 bytes of the pattern id (seeded, engine-free).
    ``variant=1`` inverts one corner block — a small, deterministic visual
    perturbation whose pHash lands within a few bits of the base."""
    blocks = np.concatenate(
        [
            np.frombuffer(
                hashlib.md5(f"phash-page-{pattern_id}-{i}".encode()).digest(),
                dtype=np.uint8,
            )
            for i in range(4)
        ]
    )
    img = np.kron(blocks.reshape(8, 8), np.ones((8, 8), dtype=np.uint8))
    if variant:
        img = img.copy()
        img[:8, :8] = 255 - img[:8, :8]
    return img


def _phash_of_image(img: np.ndarray) -> int:
    """The exact pHash math of ``pipeline.media_ops.image_phash`` applied
    locally (same resize_area + DCT basis + median threshold + packbits)."""
    from ..kernels.imgproc import resize_area
    from ..pipeline.media_ops import _dct_mat

    n = 32
    h, w = img.shape
    sh, sw = max(1, h // n), max(1, w // n)
    small = resize_area(img[: sh * n, : sw * n], n, n).astype(np.float64)
    basis = _dct_mat(n)
    dct = basis @ small @ basis.T
    block = dct[:8, :8].ravel()
    bits = block > np.median(block)
    return int(np.packbits(bits).view(">u8")[0].astype(np.int64))


@functools.lru_cache(maxsize=1)
def _phash_lut() -> list[tuple[int, int, int]]:
    """(pattern_id, variant, phash) for every distinct synthetic page."""
    return [
        (p, v, _phash_of_image(synth_page_image(p, v)))
        for p in range(_N_PATTERNS)
        for v in (0, 1)
    ]


def synth_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, pattern_id, variant) -> (media_ref, content) of rendered
    PNG pages, as an Arrow-batched stage (the distributed half of the
    contract the oracle LUT pins)."""
    from ..io.png import encode_gray

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[tuple[int, int], bytes] = {}
        for pdf in batches:
            rows = []
            for doc_id, p, v in zip(pdf["doc_id"], pdf["pattern_id"], pdf["variant"]):
                key = (int(p), int(v))
                if key not in cache:
                    cache[key] = encode_gray(synth_page_image(*key))
                rows.append((str(doc_id), cache[key]))
            yield pd.DataFrame(rows, columns=["media_ref", "content"])

    return docs.mapInPandas(run, "media_ref string, content binary")


def _phash_pairs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..pipeline.media_ops import image_phash, phash_near_dup_pairs

    register_views(spark, sf_dir)
    docs = spark.sql(
        f"""
        SELECT doc_id,
               CAST(doc_id % {_N_PATTERNS} AS INT) AS pattern_id,
               CAST(CASE WHEN doc_id % {_VARIANT_MOD} = 0 THEN 1 ELSE 0 END AS INT)
                 AS variant
        FROM documents
        """
    )
    # kernel cost O(unique pages), the engine's own principle (same
    # distinct-refs shape as run_page_stage): render + pHash each
    # DISTINCT (pattern, variant) page once through the real kernel,
    # then join the skinny hash frame back onto the doc table.
    distinct_pages = docs.select("pattern_id", "variant").distinct().withColumn(
        "doc_id", F.concat_ws(":", "pattern_id", "variant")
    )
    page_hashes = image_phash(synth_pages(distinct_pages)).select(
        F.split("media_ref", ":")[0].cast("int").alias("pattern_id"),
        F.split("media_ref", ":")[1].cast("int").alias("variant"),
        "phash",
    )
    phashes = docs.join(page_hashes, ["pattern_id", "variant"]).select(
        F.col("doc_id").cast("string").alias("media_ref"), "phash"
    )
    return phash_near_dup_pairs(phashes, max_hamming=_MAX_HAMMING)


def _phash_oracle_sql() -> str:
    values = ", ".join(f"({p}, {v}, CAST({h} AS BIGINT))" for p, v, h in _phash_lut())
    return f"""
    WITH lut(pattern_id, variant, phash) AS (VALUES {values}),
    ph AS (
      SELECT CAST(d.doc_id AS VARCHAR) AS media_ref, lut.phash
      FROM documents d
      JOIN lut
        ON lut.pattern_id = d.doc_id % {_N_PATTERNS}
       AND lut.variant = CASE WHEN d.doc_id % {_VARIANT_MOD} = 0 THEN 1 ELSE 0 END
    ),
    bands AS (
      SELECT media_ref, phash, b.band,
             CASE b.band WHEN 0 THEN (phash >> 48) & 65535
                         WHEN 1 THEN (phash >> 32) & 65535
                         WHEN 2 THEN (phash >> 16) & 65535
                         ELSE phash & 65535 END AS bval
      FROM ph, (VALUES (0), (1), (2), (3)) b(band)
    ),
    cand AS (
      SELECT DISTINCT a.media_ref AS ref_a, b.media_ref AS ref_b,
                      a.phash AS ha, b.phash AS hb
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bval = b.bval
                   AND a.media_ref < b.media_ref
    )
    SELECT ref_a, ref_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {_MAX_HAMMING}
    """


QUERIES["q_phash_pairs"] = QuerySpec(
    spark=_phash_pairs_spark,
    oracle=_phash_oracle_sql(),
    description="visual near-dup pairs: deterministic synthetic pages -> "
    "real pHash kernel over mapInPandas -> native 4x16-bit banded Hamming "
    "join; oracle replays the join over a LUT of locally-computed hashes",
)
