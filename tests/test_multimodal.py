"""Multimodal tests: real image decode and its gated seam, perceptual
hashing and near-dup pairs, and audio metadata."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from xml_to_sqlite3_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        Row(
            media_id=1,
            kind="image",
            data=b"RIFF....WEBPfake-bytes-1",
            meta=Row(width=640, height=480, sample_rate=None, duration_ms=None, format="webp"),
        ),
        Row(
            media_id=2,
            kind="image",
            data=b"RIFF....WEBPfake-bytes-2",
            meta=Row(width=800, height=600, sample_rate=None, duration_ms=None, format="webp"),
        ),
        Row(
            media_id=3,
            kind="video",
            data=b"RIFF-fake-video",
            meta=Row(width=1920, height=1080, sample_rate=None, duration_ms=3500, format="mp4"),
        ),
        Row(
            media_id=4,
            kind="audio",
            data=b"fake-audio-pcm",
            meta=Row(width=None, height=None, sample_rate=16000, duration_ms=2000, format="wav"),
        ),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_compressed_decode_is_gated(media):
    # webp/mp4 rows have no pure-python codec; the decode raises at
    # execution time inside the UDF (without PIL: the documented
    # NotImplementedError; with PIL: these fake bytes aren't a real
    # webp, so PIL's identify error surfaces instead)
    with pytest.raises(Exception, match="PIL|pure-python codec|identify"):
        M.decode_image(media).collect()


@pytest.mark.skipif(not M._HAS_PIL, reason="PIL not installed")
def test_pil_fallback_decodes_webp(spark):
    # real webp fixture via PIL itself; the fallback routes any
    # format outside codecs.SUPPORTED_FORMATS through Image.open
    import io

    import numpy as np
    from PIL import Image

    arr = np.zeros((4, 6, 3), dtype=np.uint8)
    arr[:, :, 0] = 200  # red-ish
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="WEBP", lossless=True)
    rows = [
        Row(
            media_id=1,
            kind="image",
            data=buf.getvalue(),
            meta=Row(width=6, height=4, sample_rate=None, duration_ms=None, format="webp"),
        )
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.decode_image(df).collect()[0]
    assert (out["width"], out["height"]) == (6, 4)
    assert out["mean_r"] == pytest.approx(200.0, abs=1.0)
    assert out["mean_g"] == pytest.approx(0.0, abs=1.0)


def _ppm(pixels):
    """Encode a nested [[(r,g,b)...]...] list to P6 bytes."""
    import numpy as np

    from xml_to_sqlite3_spark.operators.codecs import encode_ppm

    return encode_ppm(np.array(pixels, dtype="uint8"))


@pytest.fixture(scope="module")
def real_images(spark):
    import numpy as np

    from xml_to_sqlite3_spark.operators.codecs import encode_bmp, encode_png
    from xml_to_sqlite3_spark.operators.jpeg import encode_jpeg

    red_blue = [[(255, 0, 0), (0, 0, 255)], [(255, 0, 0), (0, 0, 255)]]
    checker = [[(0, 0, 0), (255, 255, 255)], [(255, 255, 255), (0, 0, 0)]]
    rows = [
        Row(
            media_id=10, kind="image", data=_ppm(red_blue),
            meta=Row(width=2, height=2, sample_rate=None, duration_ms=None, format="ppm"),
        ),
        Row(
            media_id=11, kind="image", data=_ppm(checker),
            meta=Row(width=2, height=2, sample_rate=None, duration_ms=None, format="ppm"),
        ),
        Row(
            media_id=12, kind="image",
            data=encode_bmp(np.array(red_blue, dtype="uint8")),
            meta=Row(width=2, height=2, sample_rate=None, duration_ms=None, format="bmp"),
        ),
        Row(
            media_id=13, kind="image",
            data=encode_png(np.array(red_blue, dtype="uint8")),
            meta=Row(width=2, height=2, sample_rate=None, duration_ms=None, format="png"),
        ),
        Row(
            media_id=14, kind="image",
            data=encode_jpeg(np.full((16, 16, 3), (40, 180, 90), dtype="uint8"), quality=90),
            meta=Row(width=16, height=16, sample_rate=None, duration_ms=None, format="jpeg"),
        ),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_real_decode_pixel_means(real_images):
    out = {r["media_id"]: r.asDict() for r in M.decode_image(real_images).collect()}
    # red_blue: two red + two blue pixels -> mean_r = mean_b = 127.5
    assert out[10]["mean_r"] == pytest.approx(127.5)
    assert out[10]["mean_g"] == 0.0
    assert out[10]["mean_b"] == pytest.approx(127.5)
    assert out[10]["width"] == 2 and out[10]["height"] == 2
    # checker: every channel mean 127.5
    assert out[11]["mean_r"] == pytest.approx(127.5)
    # BMP and PNG of the same pixels decode identically to the PPM —
    # for PNG that is a REAL inflate + unfilter on compressed bytes
    for mid in (12, 13):
        assert (out[mid]["mean_r"], out[mid]["mean_g"], out[mid]["mean_b"]) == (
            out[10]["mean_r"], out[10]["mean_g"], out[10]["mean_b"],
        )
        assert out[mid]["width"] == 2 and out[mid]["height"] == 2
    # JPEG is lossy: the flat-color raster decodes through the real
    # Huffman+IDCT path to within quantization error
    assert out[14]["width"] == 16 and out[14]["height"] == 16
    assert out[14]["mean_r"] == pytest.approx(40, abs=3)
    assert out[14]["mean_g"] == pytest.approx(180, abs=3)
    assert out[14]["mean_b"] == pytest.approx(90, abs=3)


@pytest.fixture(scope="module")
def real_audio(spark):
    import numpy as np

    from xml_to_sqlite3_spark.operators.codecs import encode_wav

    t = np.linspace(0, 0.5, 4000, endpoint=False)
    tone = np.sin(2 * np.pi * 440 * t)  # 440 Hz, 0.5 s at 8 kHz
    silence = np.zeros(2000)  # 0.25 s
    rows = [
        Row(
            media_id=20, kind="audio", data=encode_wav(tone, 8000),
            meta=Row(width=None, height=None, sample_rate=8000, duration_ms=500, format="wav"),
        ),
        Row(
            media_id=21, kind="audio", data=encode_wav(silence, 8000),
            meta=Row(width=None, height=None, sample_rate=8000, duration_ms=250, format="wav"),
        ),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_image_dhash_and_near_dup_pairs(spark):
    """dHash is stable across lossless re-encoding and small noise;
    hamming_pairs over the signatures finds image near-dups."""
    import numpy as np

    from xml_to_sqlite3_spark.operators.codecs import encode_png, encode_ppm
    from xml_to_sqlite3_spark.operators.jpeg import encode_jpeg

    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    noisy = np.clip(
        base.astype(int) + rng.integers(-6, 7, base.shape), 0, 255
    ).astype(np.uint8)
    other = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)

    def row(mid, data, fmt):
        return Row(
            media_id=mid,
            kind="image",
            data=data,
            meta=Row(width=32, height=32, sample_rate=None, duration_ms=None, format=fmt),
        )

    rows = [
        row(1, encode_ppm(base), "ppm"),
        row(2, encode_png(base), "png"),            # same pixels, different codec
        row(3, encode_jpeg(base, quality=95), "jpeg"),  # lossy but close
        row(4, encode_ppm(noisy), "ppm"),           # mild noise
        row(5, encode_ppm(other), "ppm"),           # unrelated
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    sigs = {r["media_id"]: r["dhash"] for r in M.image_dhash(df).collect()}
    assert sigs[1] == sigs[2]  # lossless re-encode -> identical hash

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in M.image_near_dup_pairs(df, max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 10
    assert (1, 4) in pairs and pairs[(1, 4)] <= 10
    assert (1, 5) not in pairs and (2, 5) not in pairs


def test_audio_metadata_wav_mp3_and_unknown(spark, real_audio):
    # a synthetic mp3: ID3v2 header + 38 MPEG1 Layer-III 128kbps
    # 44.1kHz stereo frames (417 bytes each, headers only — the
    # parser never touches payload) + a trailing ID3v1-style tag
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(413)
    mp3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10]) + bytes(10) + frame * 38 + b"TAGjunk"
    rows = [
        Row(
            media_id=30, kind="audio", data=mp3,
            meta=Row(width=None, height=None, sample_rate=None, duration_ms=None, format="mp3"),
        ),
        Row(
            media_id=31, kind="audio", data=b"\x00\x01garbage",
            meta=Row(width=None, height=None, sample_rate=None, duration_ms=None, format="ogg"),
        ),
    ]
    df = real_audio.unionByName(spark.createDataFrame(rows, M.MEDIA_SCHEMA))
    out = {r["media_id"]: r.asDict() for r in M.audio_metadata(df).collect()}
    # wav rows: true header/waveform metadata, no bitrate concept
    assert out[20]["sample_rate_real"] == 8000
    assert out[20]["duration_ms_real"] == 500
    assert out[20]["n_channels"] == 1
    assert out[20]["bitrate_kbps"] is None
    # mp3 row: real frame-header metadata without any decode
    assert out[30]["sample_rate_real"] == 44100
    assert out[30]["duration_ms_real"] == round(38 * 1152 / 44100 * 1000)
    assert out[30]["n_channels"] == 2
    assert out[30]["bitrate_kbps"] == 128
    # unknown format: nulls, never a batch failure
    assert out[31]["sample_rate_real"] is None and out[31]["bitrate_kbps"] is None


def test_audio_metadata_truncated_wav_nulls_not_task_abort(spark):
    # a TRUNCATED RIFF header raises struct.error (not ValueError)
    # from unpack_from — the nulls-not-batch-failure contract must
    # hold for malformed rows of a KNOWN format too (ADVICE r8)
    rows = [
        Row(
            media_id=40, kind="audio", data=b"RIFF\x24\x00\x00\x00WAVEfmt ",
            meta=Row(width=None, height=None, sample_rate=None, duration_ms=None, format="wav"),
        ),
        Row(
            media_id=41, kind="audio", data=b"",
            meta=Row(width=None, height=None, sample_rate=None, duration_ms=None, format=None),
        ),
    ]
    # a STRUCTURALLY valid wav whose fmt chunk declares sample_rate=0:
    # the failure fires AFTER the rate is known (duration divides by
    # it) — the per-row appends must stay aligned so the good row
    # beside it still reports (r9 review finding)
    import struct

    zero_rate = (
        b"RIFF" + struct.pack("<I", 36 + 4) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 0, 0, 2, 16)
        + b"data" + struct.pack("<I", 4) + b"\x00\x01\x02\x03"
    )
    good = rows[0]  # truncated wav (nulls)
    rows = [
        Row(
            media_id=42, kind="audio", data=zero_rate,
            meta=Row(width=None, height=None, sample_rate=None, duration_ms=None, format="wav"),
        ),
        good,
        rows[1],
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r.asDict() for r in M.audio_metadata(df).collect()}
    assert len(out) == 3
    for mid in (40, 41, 42):
        assert out[mid]["sample_rate_real"] is None
        assert out[mid]["duration_ms_real"] is None
        assert out[mid]["n_channels"] is None
        assert out[mid]["bitrate_kbps"] is None
