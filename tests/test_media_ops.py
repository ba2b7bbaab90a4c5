import numpy as np
import pytest

from bsc_project_spark.fixtures import spark_io
from bsc_project_spark.io.png import decode_gray
from bsc_project_spark.pipeline import media_ops
from bsc_project_spark.fixtures.render import ORIG_H, ORIG_W


@pytest.fixture(scope="module")
def media(spark, corpus):
    return spark_io.media_df(spark, corpus).cache()


def test_image_dims(spark, media):
    rows = media_ops.image_dims(media).collect()
    assert len(rows) == media.count()
    for r in rows:
        assert (r.width, r.height) == (ORIG_W, ORIG_H)
        assert 0 <= r.mean_intensity <= 255


def test_thumbnails_round_trip(spark, media):
    rows = media_ops.thumbnails(media, max_side=128).collect()
    for r in rows:
        thumb = decode_gray(bytes(r.thumb))
        assert thumb.shape == (r.thumb_height, r.thumb_width)
        assert max(r.thumb_width, r.thumb_height) <= 128


def test_image_features(spark, media):
    rows = media_ops.image_features(media).collect()
    for r in rows:
        assert 0.0 <= r.ink_fraction < 0.5
        assert len(r.row_profile) == 16


def test_white_row_probe_routes_on_probe_row(spark):
    from bsc_project_spark.io.png import encode_gray

    clear = np.full((64, 40), 255, np.uint8)
    clear[40, :] = 0  # ink, but away from the probe row
    faulty = np.full((64, 40), 255, np.uint8)
    faulty[20, 5] = 0  # one dark pixel ON the top probe row
    bottom = np.full((64, 40), 255, np.uint8)
    bottom[20, :] = 0  # dark at the TOP probe row; '-b' probes the bottom
    rows = [
        ("p1-t", bytearray(encode_gray(clear))),
        ("p2-t", bytearray(encode_gray(faulty))),
        ("p3-b", bytearray(encode_gray(bottom))),
    ]
    df = spark.createDataFrame(rows, "media_ref string, content binary")
    out = {r.media_ref: r for r in media_ops.white_row_probe(df).collect()}
    assert out["p1-t"].is_train and out["p1-t"].probe_row == 20
    assert not out["p2-t"].is_train
    assert out["p3-b"].is_train and out["p3-b"].probe_row == 44


def test_phash_near_dup_detects_noisy_clone(spark):
    """A lightly-noised copy of an image must pair with its original at
    small Hamming distance; structurally different images must not pair
    at the default threshold."""
    from bsc_project_spark.io.png import encode_gray

    rng = np.random.default_rng(7)
    base = np.full((128, 96), 255, np.uint8)
    base[20:40, 10:80] = 0
    base[70:75, :] = 30
    noisy = base.copy()
    flip = rng.random(base.shape) < 0.002  # sparse salt noise
    noisy[flip] = 255 - noisy[flip]
    other = np.full((128, 96), 255, np.uint8)
    other[:, 40:50] = 0
    other[100:110, :] = 0
    rows = [
        ("orig", bytearray(encode_gray(base))),
        ("noisy", bytearray(encode_gray(noisy))),
        ("other", bytearray(encode_gray(other))),
    ]
    df = spark.createDataFrame(rows, "media_ref string, content binary")
    hashes = media_ops.image_phash(df)
    pairs = {
        (r.ref_a, r.ref_b): r.hamming
        for r in media_ops.phash_near_dup_pairs(hashes).collect()
    }
    assert ("noisy", "orig") in pairs
    assert pairs[("noisy", "orig")] <= 3  # the banding's guaranteed radius
    assert all({"orig", "noisy"} >= set(k) for k in pairs), pairs


def test_phash_rejects_non_64_bit_hash_size(spark):
    # PHASH_SCHEMA packs into one int64; any other size must fail fast
    # instead of mis-packing inside the executor
    with pytest.raises(ValueError, match="hash_size"):
        media_ops.image_phash(None, hash_size=4)


def test_phash_deterministic_and_plan_banded(spark):
    """Same bytes -> same hash across invocations; the pair plan contains
    no cartesian/nested-loop join (banded equi-join only)."""
    from bsc_project_spark.io.png import encode_gray

    img = np.arange(64 * 48, dtype=np.uint64).reshape(64, 48)
    img = (img % 251).astype(np.uint8)
    df = spark.createDataFrame(
        [("x", bytearray(encode_gray(img)))], "media_ref string, content binary"
    )
    h1 = media_ops.image_phash(df).collect()[0].phash
    h2 = media_ops.image_phash(df).collect()[0].phash
    assert h1 == h2
    plan = media_ops.phash_near_dup_pairs(
        media_ops.image_phash(df)
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_compressed_raises(spark, media):
    one = media.limit(1)
    with pytest.raises(Exception, match="NotImplementedError|audio decoding"):
        media_ops.audio_features(one).collect()


def test_media_ops_plans_are_vectorized(spark, media):
    for df in (
        media_ops.image_dims(media),
        media_ops.thumbnails(media),
        media_ops.image_features(media),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" in plan


# ---------------------------------------------------------------------------
# Real PCM WAV decode (io/wav.py): synthesized fixtures with known
# spectra, checked through audio_features — the round-4 advice upgrade
# from "plumbing tested with a seeded fake" to a real kernel.
# ---------------------------------------------------------------------------


def _sine(freq, sr=8000, secs=0.5, amp=0.5):
    t = np.arange(int(sr * secs)) / sr
    return amp * np.sin(2 * np.pi * freq * t)


def test_wav_codec_roundtrip_and_depths():
    from bsc_project_spark.io import wav

    sig = _sine(440.0)
    out, sr = wav.decode_wav(wav.encode_wav(sig, 8000))
    assert sr == 8000 and out.shape == (len(sig), 1)
    # 16-bit quantization error bounded by one LSB step
    assert np.abs(out[:, 0] - sig).max() <= 1.0 / 32767

    # stereo interleave round-trips channel-exact
    st = np.stack([_sine(440.0), _sine(880.0)], axis=1)
    out2, _ = wav.decode_wav(wav.encode_wav(st, 8000))
    assert out2.shape == st.shape
    assert np.abs(out2 - st).max() <= 1.0 / 32767

    # hand-built 8-bit / float32 / extensible containers decode too
    import struct

    def riff(fmt_payload, data, tag_extra=b""):
        body = (
            b"WAVE"
            + tag_extra
            + b"fmt " + struct.pack("<I", len(fmt_payload)) + fmt_payload
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    pcm8 = np.clip(np.round(sig * 127 + 128), 0, 255).astype(np.uint8)
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    o8, _ = wav.decode_wav(riff(fmt8, pcm8.tobytes()))
    assert np.abs(o8[:, 0] - sig).max() < 2.0 / 127

    f32 = sig.astype("<f4")
    fmtf = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    of, _ = wav.decode_wav(riff(fmtf, f32.tobytes()))
    assert np.allclose(of[:, 0], sig, atol=1e-6)

    # extensible wrapper around integer PCM, plus an ignorable LIST chunk
    ext = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
    # cbSize=22, valid bits, channel mask, then the 16-byte SubFormat
    # GUID whose first 2 bytes carry the real format code (1 = PCM)
    ext += struct.pack("<HHI", 22, 16, 0) + struct.pack("<H", 1) + b"\x00" * 14
    pcm16 = np.clip(np.round(sig * 32767), -32768, 32767).astype("<i2")
    blob = riff(ext, pcm16.tobytes(), tag_extra=b"LIST" + struct.pack("<I", 4) + b"INFO")
    oe, _ = wav.decode_wav(blob)
    assert np.abs(oe[:, 0] - sig).max() <= 1.0 / 32767

    with pytest.raises(ValueError, match="not a RIFF"):
        wav.decode_wav(b"\x89PNG....")


def test_audio_features_real_wav_known_spectrum(spark):
    from bsc_project_spark.io import wav

    sr = 8000
    rows_in = [
        ("tone440", bytearray(wav.encode_wav(_sine(440.0, sr), sr))),
        ("tone1k", bytearray(wav.encode_wav(_sine(1000.0, sr, amp=0.9), sr))),
        ("stereo", bytearray(
            wav.encode_wav(np.stack([_sine(440.0, sr), _sine(440.0, sr)], axis=1), sr)
        )),
    ]
    df = spark.createDataFrame(rows_in, "media_ref string, content binary")
    got = {r.media_ref: r for r in media_ops.audio_features(df).collect()}

    for ref, f_hz, amp in (("tone440", 440.0, 0.5), ("tone1k", 1000.0, 0.9)):
        r = got[ref]
        assert r.sample_rate == sr and r.n_channels == 1
        assert abs(r.duration_s - 0.5) < 1e-9
        # sine RMS = amp / sqrt(2); 16-bit quantization ~1e-4 slack
        assert abs(r.rms - amp / np.sqrt(2)) < 1e-3
        # sine ZCR = 2 * f / sr
        assert abs(r.zcr - 2 * f_hz / sr) < 0.01
        # centroid of a pure tone sits on the tone (spectral leakage
        # from the rectangular 2048 window allows a few Hz)
        assert abs(r.spectral_centroid_hz - f_hz) < 25.0
        assert len(r.mfcc) == 8
    assert got["stereo"].n_channels == 2
    # identical L/R mixdown == the mono signal
    assert abs(got["stereo"].rms - got["tone440"].rms) < 1e-6
