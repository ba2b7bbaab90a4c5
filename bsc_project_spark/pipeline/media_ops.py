"""Multimodal media operators over binary columns (training-data pipeline).

Media are opaque ``binary`` columns with typed metadata; every operator is
an Arrow-batched ``mapInPandas`` stage (no per-row Python).  Image ops are
REAL (this repo ships its own PNG codec + resize kernels), and so is PCM
WAV audio (own RIFF codec, ``io/wav.py``).  Compressed audio raises
NotImplementedError: its codec libraries are not available, and there is
no video operator for the same reason.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..io.png import decode_gray, encode_gray
from ..kernels.imgproc import resize_area
from .banding import banded_pairs

IMAGE_DIMS_SCHEMA = "media_ref string, width int, height int, mean_intensity double"
THUMBNAIL_SCHEMA = "media_ref string, thumb binary, thumb_width int, thumb_height int"
IMAGE_FEATURES_SCHEMA = (
    "media_ref string, ink_fraction double, edge_density double, "
    "row_profile array<double>"
)
AUDIO_FEATURES_SCHEMA = (
    "media_ref string, n_samples long, sample_rate int, n_channels int, "
    "duration_s double, rms double, zcr double, spectral_centroid_hz double, "
    "mfcc array<double>"
)


def image_dims(media: DataFrame) -> DataFrame:
    """Decode page images -> (width, height, mean intensity)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                img = decode_gray(bytes(content))
                rows.append((ref, img.shape[1], img.shape[0], float(img.mean())))
            yield pd.DataFrame(
                rows, columns=["media_ref", "width", "height", "mean_intensity"]
            )

    return media.select("media_ref", "content").mapInPandas(run, IMAGE_DIMS_SCHEMA)


def thumbnails(media: DataFrame, max_side: int = 128) -> DataFrame:
    """Area-resampled thumbnails, re-encoded as PNG."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                img = decode_gray(bytes(content))
                h, w = img.shape
                scale = max(1, max(h, w) // max_side)
                tw, th = max(1, w // scale), max(1, h // scale)
                thumb = resize_area(img[: th * scale, : tw * scale], tw, th)
                rows.append((ref, encode_gray(thumb), tw, th))
            yield pd.DataFrame(
                rows, columns=["media_ref", "thumb", "thumb_width", "thumb_height"]
            )

    return media.select("media_ref", "content").mapInPandas(run, THUMBNAIL_SCHEMA)


def image_features(media: DataFrame, ink_threshold: int = 128) -> DataFrame:
    """Cheap visual features: ink fraction, edge density, 16-bin row profile."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                img = decode_gray(bytes(content))
                ink = img < ink_threshold
                edges = np.abs(np.diff(ink.astype(np.int8), axis=1)).sum()
                h = img.shape[0]
                bins = np.array_split(ink.sum(axis=1), 16)
                profile = [float(b.mean()) for b in bins]
                rows.append(
                    (ref, float(ink.mean()), float(edges / ink.size), profile)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_ref", "ink_fraction", "edge_density", "row_profile"],
            )

    return media.select("media_ref", "content").mapInPandas(run, IMAGE_FEATURES_SCHEMA)


WHITE_ROW_PROBE_SCHEMA = (
    "media_ref string, probe_row int, probe_clear boolean, is_train boolean"
)


def white_row_probe(
    media: DataFrame, probe_offset: int = 20, threshold: int = 25
) -> DataFrame:
    """Train/test routing by the reference's white-row probe
    (reference notebooks/select_for_training.ipynb cells 5-11): binarize at
    ``threshold`` (cv2.THRESH_BINARY, pixel > threshold -> white) and probe
    ONE pixel row for ink; a page whose probe row contains no dark pixel
    routes to training.  Top pages ('-t' refs) probe ``probe_offset`` rows
    from the top; bottom pages ('-b' refs) probe ``probe_offset`` rows from
    the bottom; anything else probes from the top.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                img = decode_gray(bytes(content))
                h = img.shape[0]
                r = h - probe_offset if str(ref).endswith("-b") else probe_offset
                r = min(max(r, 0), h - 1)
                clear = bool((img[r, :] > threshold).all())
                rows.append((ref, r, clear, clear))
            yield pd.DataFrame(
                rows, columns=["media_ref", "probe_row", "probe_clear", "is_train"]
            )

    return media.select("media_ref", "content").mapInPandas(run, WHITE_ROW_PROBE_SCHEMA)


PHASH_SCHEMA = "media_ref string, phash long"


def _dct_mat(n: int) -> np.ndarray:
    """Orthonormal-free DCT-II basis matrix (rows = frequencies); the
    perceptual hash only compares coefficients to their median, so the
    scale factors cancel and a plain cosine matrix suffices."""
    k = np.arange(n)
    return np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2.0 * n))


def image_phash(media: DataFrame, hash_size: int = 8, highfreq_factor: int = 4) -> DataFrame:
    """64-bit perceptual hash per image (pHash family): area-resize to
    32x32, 2D DCT via two matrix multiplies, keep the top-left
    ``hash_size``² low-frequency block, threshold each coefficient against
    the block median -> bit vector packed into one int64.

    Near-identical images (small noise, light recompression) agree on
    almost every bit, so visual dedup becomes integer Hamming distance —
    computed NATIVELY downstream (``phash_near_dup_pairs``), the
    multimodal twin of the SimHash text path.  The DCT is pure numpy
    (no scipy/cv2 in this container); one basis matrix per Arrow batch
    iterator, reused across rows.
    """
    if hash_size * hash_size != 64:
        # PHASH_SCHEMA packs into ONE int64 and the packbits+view('>u8')
        # below assumes exactly 64 bits
        raise ValueError("hash_size must be 8 (64-bit hash, PHASH_SCHEMA long)")
    n = hash_size * highfreq_factor

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        basis = _dct_mat(n)
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                img = decode_gray(bytes(content))
                h, w = img.shape
                sh, sw = max(1, h // n), max(1, w // n)
                small = resize_area(img[: sh * n, : sw * n], n, n).astype(np.float64)
                dct = basis @ small @ basis.T
                block = dct[:hash_size, :hash_size].ravel()
                bits = block > np.median(block)
                # first bit -> MSB; packbits+big-endian view packs all 64
                # in one vectorized call (a 64-step scalar loop per image
                # is needless Python dispatch inside the batch stage)
                packed = np.packbits(bits).view(">u8")[0]
                rows.append((ref, int(packed.astype(np.int64))))
            yield pd.DataFrame(rows, columns=["media_ref", "phash"])

    return media.select("media_ref", "content").mapInPandas(run, PHASH_SCHEMA)


def phash_near_dup_pairs(phashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Visual near-dup pairs from pHashes, all native SQL: band the 64-bit
    hash into 4 x 16-bit values, take candidates from ``banded_pairs``
    (a (band, bval) equi-join — never an all-pairs product), then verify
    them exactly with bit_count(xor).  The same banded shape as the text
    SimHash path, so the plan carries to any corpus size.

    ``max_hamming`` defaults to 3, the banding's GUARANTEED recall radius
    (pigeonhole: <=3 flipped bits cannot touch all 4 bands).  A larger
    radius still works but is best-effort — a distance-4+ pair whose
    flips hit every band never collides — so raising it should come with
    more/narrower bands (e.g. 8 x 8-bit for radius 7).

    Requires one row per media_ref in ``phashes`` (the contract callers
    already rely on)."""
    bands = [f"shiftright(phash, {48 - 16 * i}) & 65535" for i in range(4)]
    return banded_pairs(phashes, "media_ref", bands).selectExpr(
        "a.media_ref AS ref_a",
        "b.media_ref AS ref_b",
        "CAST(bit_count(a.phash ^ b.phash) AS INT) AS hamming",
    ).where(f"hamming <= {max_hamming}")


def audio_features(media: DataFrame) -> DataFrame:
    """Audio decode + signal features (duration, RMS, zero-crossing rate,
    spectral centroid, MFCC-ish log band energies).

    PCM WAV content (RIFF magic) is decoded for REAL by this repo's own
    stdlib/numpy codec (``io/wav.py`` — the PNG-codec precedent applied
    to the one audio container that needs no codec library).  Compressed
    formats (MP3/AAC/...) raise NotImplementedError.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..io.wav import decode_wav

        def _decode(content: bytes) -> tuple[np.ndarray, int]:
            # (n_frames, n_channels) float64 in [-1, 1], sample rate
            if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
                return decode_wav(content)
            raise NotImplementedError(
                "compressed audio decoding requires a codec library this "
                "package does not ship (PCM WAV decodes natively)"
            )

        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                frames, sr = _decode(bytes(content))
                n_frames, n_ch = frames.shape
                mono = frames.mean(axis=1) if n_ch > 1 else frames[:, 0]
                rms = float(np.sqrt(np.mean(mono**2))) if n_frames else 0.0
                # zero-crossing rate: sign changes per sample (zeros count
                # as positive so silence doesn't read as oscillation)
                signs = np.where(mono >= 0.0, 1, -1)
                zcr = (
                    float(np.count_nonzero(np.diff(signs)) / (n_frames - 1))
                    if n_frames > 1
                    else 0.0
                )
                seg = mono[:2048]
                # Hann window: rectangular-window leakage otherwise skews
                # the centroid of off-bin tones by ~100 Hz
                spec = np.abs(np.fft.rfft(seg * np.hanning(len(seg))))
                freqs = np.fft.rfftfreq(len(seg) or 1, d=1.0 / sr)
                denom = float(spec.sum())
                centroid = float((freqs * spec).sum() / denom) if denom > 0 else 0.0
                mfcc = [float(np.log1p(b.mean())) for b in np.array_split(spec, 8)]
                rows.append(
                    (ref, n_frames, sr, n_ch, n_frames / sr, rms, zcr,
                     centroid, mfcc)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "n_samples", "sample_rate", "n_channels",
                    "duration_s", "rms", "zcr", "spectral_centroid_hz", "mfcc",
                ],
            )

    return media.select("media_ref", "content").mapInPandas(run, AUDIO_FEATURES_SCHEMA)
