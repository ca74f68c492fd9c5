"""Pure-python codec tests (no Spark session): PNG inflate/unfilter
against hand-filtered rasters covering every PNG filter type, plus
netpbm/BMP/PNG cross-format pixel identity."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from xml_to_sqlite3_spark.operators import codecs as C


def _rng():
    return np.random.RandomState(20260813)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip(channels):
    img = _rng().randint(0, 256, (13, 9, channels), dtype=np.uint8)
    out = C.decode_png(C.encode_png(img))
    assert out.shape == img.shape
    assert (out == img).all()


def _png_with_filter(arr: np.ndarray, f: int) -> bytes:
    """Hand-encode with a fixed per-row filter type so decode has to
    run the real unfilter recurrences (our encoder only emits None)."""
    h, w, ch = arr.shape
    bpp, stride = ch, w * ch
    flat = arr.reshape(h, stride).astype(np.int32)
    lines = []
    for y in range(h):
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, np.int32)
        filt = np.zeros(stride, np.int32)
        for x in range(stride):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        lines.append(bytes([f]) + bytes(filt.astype(np.uint8)))

    def chunk(t: bytes, p: bytes) -> bytes:
        return (
            struct.pack(">I", len(p)) + t + p
            + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 2: 4, 3: 2, 4: 6}[ch], 0, 0, 0)
    return (
        C._PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_all_filters(filter_type):
    img = _rng().randint(0, 256, (11, 7, 3), dtype=np.uint8)
    out = C.decode_png(_png_with_filter(img, filter_type))
    assert (out == img).all(), f"filter {filter_type}"


def test_png_palette():
    rng = _rng()
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, (6, 5), dtype=np.uint8)

    def chunk(t: bytes, p: bytes) -> bytes:
        return (
            struct.pack(">I", len(p)) + t + p
            + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 5, 6, 8, 3, 0, 0, 0)
    raster = b"".join(bytes([0]) + bytes(idx[y]) for y in range(6))
    png = (
        C._PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )
    out = C.decode_png(png)
    assert out.shape == (6, 5, 3)
    assert (out == pal[idx]).all()


def test_png_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError, match="not a PNG"):
        C.decode_png(b"\xff\xd8 definitely not png")
    img = _rng().randint(0, 256, (4, 4, 3), dtype=np.uint8)
    good = C.encode_png(img)
    # flip the interlace byte inside IHDR (offset: 8 sig + 8 hdr + 12)
    bad = bytearray(good)
    bad[8 + 8 + 12] = 1
    with pytest.raises(ValueError, match="interlaced"):
        C.decode_png(bytes(bad))


def test_cross_format_pixel_identity():
    img = _rng().randint(0, 256, (5, 8, 3), dtype=np.uint8)
    via_ppm = C.decode_pnm(C.encode_ppm(img))
    via_bmp = C.decode_bmp(C.encode_bmp(img))
    via_png = C.decode_png(C.encode_png(img))
    assert (via_ppm == img).all()
    assert (via_bmp == img).all()
    assert (via_png == img).all()


def test_dispatch_supports_png():
    img = _rng().randint(0, 256, (3, 3, 3), dtype=np.uint8)
    assert "png" in C.SUPPORTED_FORMATS
    assert (C.decode_image_bytes(C.encode_png(img), "PNG") == img).all()

# ------------------------------------------------------------- JPEG


def test_jpeg_flat_and_gradient_roundtrip():
    from xml_to_sqlite3_spark.operators import jpeg as J

    flat = np.full((24, 17, 3), (200, 64, 30), dtype=np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(flat, quality=90))
    assert out.shape == flat.shape
    assert np.abs(out.astype(int) - flat.astype(int)).max() <= 2

    x = np.linspace(0, 255, 40)
    grad = np.stack([np.tile(x, (32, 1))] * 3, axis=2).astype(np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(grad, quality=90))
    err = np.abs(out.astype(int) - grad.astype(int))
    assert err.mean() < 2.0 and err.max() <= 12


def test_jpeg_grayscale_and_nonmultiple_of_8():
    from xml_to_sqlite3_spark.operators import jpeg as J

    gray = np.tile(np.linspace(0, 255, 21).astype(np.uint8), (13, 1))
    out = J.decode_jpeg(J.encode_jpeg(gray, quality=90))
    assert out.shape == (13, 21, 1)
    assert np.abs(out[:, :, 0].astype(int) - gray.astype(int)).mean() < 2.0


def test_jpeg_noise_correlation_high_quality():
    from xml_to_sqlite3_spark.operators import jpeg as J

    noise = _rng().randint(0, 256, (16, 16, 3), dtype=np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(noise, quality=95))
    corr = np.corrcoef(noise.ravel().astype(float), out.ravel().astype(float))[0, 1]
    assert corr > 0.99


def test_jpeg_rejects_garbage_and_progressive():
    from xml_to_sqlite3_spark.operators import jpeg as J

    with pytest.raises(ValueError, match="not a JPEG"):
        J.decode_jpeg(b"\x89PNG not a jpeg")
    good = bytearray(J.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof = good.find(b"\xff\xc0")
    good[sof + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="SOF"):
        J.decode_jpeg(bytes(good))


def test_jpeg_malformed_streams_raise_valueerror():
    """The codec seam's error contract is ValueError everywhere —
    malformed streams must not leak TypeError/IndexError."""
    from xml_to_sqlite3_spark.operators import jpeg as J

    good = bytes(J.encode_jpeg(np.full((8, 8, 3), 128, dtype=np.uint8)))

    # SOS before SOF: excise the SOF0 segment entirely
    sof = good.find(b"\xff\xc0")
    seglen = int.from_bytes(good[sof + 2 : sof + 4], "big")
    no_sof = good[:sof] + good[sof + 2 + seglen :]
    with pytest.raises(ValueError, match="SOF"):
        J.decode_jpeg(no_sof)

    # truncated entropy data: noisy image cut to one entropy byte —
    # the bit reader runs off the end mid-MCU
    noisy = bytes(
        J.encode_jpeg(_rng().randint(0, 256, (32, 32, 3), dtype=np.uint8), quality=95)
    )
    sos = noisy.find(b"\xff\xda")
    sos_len = int.from_bytes(noisy[sos + 2 : sos + 4], "big")
    truncated = noisy[: sos + 2 + sos_len + 1]
    with pytest.raises(ValueError, match="truncated"):
        J.decode_jpeg(truncated)


def test_jpeg_rstn_without_dri_does_not_crash():
    """An RSTn in the entropy stream with no DRI segment previously
    divided by zero computing the resync count; now it resyncs (or
    reports a clean ValueError) without crashing."""
    from xml_to_sqlite3_spark.operators import jpeg as J

    good = bytearray(J.encode_jpeg(np.full((32, 32, 3), 90, dtype=np.uint8)))
    sos = bytes(good).find(b"\xff\xda")
    sos_len = int.from_bytes(good[sos + 2 : sos + 4], "big")
    entropy_at = sos + 2 + sos_len
    # splice an RST0 a few bytes into the entropy data
    spliced = bytes(good[: entropy_at + 6]) + b"\xff\xd0" + bytes(good[entropy_at + 6 :])
    try:
        J.decode_jpeg(spliced)
    except ValueError:
        pass  # clean rejection is acceptable; crashing is not


def test_dispatch_supports_jpeg():
    from xml_to_sqlite3_spark.operators import jpeg as J

    flat = np.full((9, 9, 3), (10, 200, 120), dtype=np.uint8)
    out = C.decode_image_bytes(J.encode_jpeg(flat, quality=90), "jpg")
    assert out.shape == (9, 9, 3)
    assert np.abs(out.astype(int) - flat.astype(int)).max() <= 2

# -------------------------------------------------------------- WAV


def test_wav_roundtrip_16bit_stereo():
    t = np.linspace(0, 1, 8000, endpoint=False)
    left = np.sin(2 * np.pi * 440 * t)
    right = np.sin(2 * np.pi * 220 * t)
    x = np.stack([left, right], axis=1)
    got, rate = C.decode_wav(C.encode_wav(x, 8000))
    assert rate == 8000 and got.shape == (8000, 2)
    assert np.abs(got - x).max() < 1e-3  # 16-bit quantization


def test_wav_float_and_8bit():
    import struct

    x = (_rng().rand(1000) * 2 - 1).astype(np.float32)
    fmt = struct.pack("<HHIIHH", 3, 1, 16000, 16000 * 4, 4, 32)
    raw = x.tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raw)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    got, rate = C.decode_wav(wav)
    assert rate == 16000
    assert np.abs(got[:, 0] - x).max() < 1e-6

    u8 = ((x * 127) + 128).clip(0, 255).astype(np.uint8)
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav8 = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt8) + 8 + len(u8)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
        + b"data" + struct.pack("<I", len(u8)) + u8.tobytes()
    )
    got8, rate8 = C.decode_wav(wav8)
    assert rate8 == 8000 and got8.shape == (1000, 1)
    assert np.abs(got8[:, 0] - x).max() < 0.02  # 8-bit quantization


def test_wav_rejects_non_riff_and_compressed():
    with pytest.raises(ValueError, match="RIFF"):
        C.decode_wav(b"OggS not a wav")
    import struct

    fmt = struct.pack("<HHIIHH", 85, 1, 44100, 0, 0, 0)  # tag 85 = MP3
    wav = (
        b"RIFF" + struct.pack("<I", 28) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="format tag"):
        C.decode_wav(wav)

# ------------------------------------------------- property tests


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(h, w, ch, seed):
    img = np.random.RandomState(seed).randint(0, 256, (h, w, ch), dtype=np.uint8)
    out = C.decode_png(C.encode_png(img))
    assert out.shape == img.shape and (out == img).all()


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 4000),
    n_ch=st.sampled_from([1, 2]),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_property(n, n_ch, rate, seed):
    x = np.random.RandomState(seed).rand(n, n_ch) * 2 - 1
    got, got_rate = C.decode_wav(C.encode_wav(x, rate))
    assert got_rate == rate and got.shape == (n, n_ch)
    assert np.abs(got - x).max() < 1e-3  # 16-bit quantization bound


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_ppm_png_pixel_identity_property(h, w, seed):
    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
    assert (C.decode_pnm(C.encode_ppm(img)) == img).all()
    assert (C.decode_bmp(C.encode_bmp(img)) == img).all()
    assert (C.decode_png(C.encode_png(img)) == img).all()


def test_g711_companding_exact_involution():
    """encode(decode(byte)) reproduces the byte's decoded value for
    every possible G.711 code — the quantization-cell exactness
    property of a correct companding pair (byte identity can fail
    only on the redundant negative-zero code)."""
    import numpy as np

    from xml_to_sqlite3_spark.operators import codecs as C

    all_bytes = np.arange(256, dtype=np.uint8)
    ulin = C._ulaw_to_linear(all_bytes)
    assert int(np.abs(ulin).max()) <= 32635
    re_u = C._linear_to_ulaw(ulin)
    assert np.array_equal(C._ulaw_to_linear(re_u), ulin)

    alin = C._alaw_to_linear(all_bytes)
    re_a = C._linear_to_alaw(alin)
    assert np.array_equal(C._alaw_to_linear(re_a), alin)


def test_compressed_wav_roundtrip_quality():
    """mu-law / A-law / IMA ADPCM WAVs decode back to the source
    waveform within each codec's quantization error (G.711 ~38 dB
    SNR; ADPCM is differential 4-bit, looser but still faithful for
    band-limited signals). Multi-block ADPCM exercises the per-block
    predictor/index headers."""
    import numpy as np

    from xml_to_sqlite3_spark.operators import codecs as C

    rate = 8000
    t = np.arange(3000) / rate
    x = 0.6 * np.sin(2 * np.pi * 440 * t) + 0.2 * np.sin(2 * np.pi * 97 * t)

    for codec, min_snr in (("ulaw", 30.0), ("alaw", 30.0), ("ima_adpcm", 18.0)):
        wav = C.encode_wav_compressed(x, rate, codec, block_samples=505)
        y, r = C.decode_wav(wav)
        assert r == rate
        y = y[: len(x), 0]
        assert len(y) >= len(x) - 1, (codec, len(y), len(x))
        err = x[: len(y)] - y
        snr = 10 * np.log10((x[: len(y)] ** 2).mean() / max((err**2).mean(), 1e-12))
        assert snr > min_snr, (codec, snr)
    # compression is real: G.711 halves the 16-bit payload, ADPCM ~4x
    pcm = C.encode_wav(x, rate)
    assert len(C.encode_wav_compressed(x, rate, "ulaw")) < 0.6 * len(pcm)
    assert len(C.encode_wav_compressed(x, rate, "ima_adpcm")) < 0.35 * len(pcm)


def test_compressed_wav_through_multimodal_decode(spark):
    """Compressed WAV rows decode through the same RIFF path as PCM —
    G.711 and IMA ADPCM reach the real decoders, audio_metadata
    reports their rate and duration, and the decoded signal stats
    match the PCM encoding of the same waveform."""
    import numpy as np
    from pyspark.sql import Row

    from xml_to_sqlite3_spark.operators import codecs as C
    from xml_to_sqlite3_spark.operators import multimodal as M

    rate = 8000
    t = np.arange(2000) / rate
    x = 0.5 * np.sin(2 * np.pi * 330 * t)
    blobs = [
        C.encode_wav(x, rate),
        C.encode_wav_compressed(x, rate, "ulaw"),
        C.encode_wav_compressed(x, rate, "alaw"),
        C.encode_wav_compressed(x, rate, "ima_adpcm"),
    ]
    rows = [
        Row(
            media_id=i,
            kind="audio",
            data=bytearray(blob),
            meta=Row(width=None, height=None, sample_rate=rate,
                     duration_ms=250, format="wav"),
        )
        for i, blob in enumerate(blobs)
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = {r.media_id: r for r in M.audio_metadata(df).collect()}

    def stats(blob):
        y, _ = C.decode_wav(blob)
        mono = y.mean(axis=1)
        rms = float(np.sqrt((mono**2).mean()))
        zcr = float((np.diff(np.signbit(mono)) != 0).mean())
        return rms, zcr

    ref = got[0]
    ref_rms, ref_zcr = stats(blobs[0])
    for i in (1, 2, 3):
        assert got[i].sample_rate_real == rate
        assert got[i].n_channels == 1
        # ADPCM pads its final block to the 505-sample boundary, so
        # its decoded duration may exceed the source by up to one
        # block (~63 ms at 8 kHz); G.711 is sample-exact
        tol = 64 if i == 3 else 1
        assert abs(got[i].duration_ms_real - ref.duration_ms_real) <= tol
        rms, zcr = stats(blobs[i])
        assert abs(rms - ref_rms) < 0.02
        assert abs(zcr - ref_zcr) < 0.02


def test_ima_adpcm_rejects_even_block_samples():
    import numpy as np
    import pytest as _pytest

    from xml_to_sqlite3_spark.operators import codecs as C

    with _pytest.raises(ValueError, match="odd"):
        C.ima_adpcm_encode(np.zeros(100, dtype=np.int16), block_samples=506)
