"""Multimodal column handling: images / audio / video as opaque
binary columns with typed metadata, decoded through Arrow-batched
Pandas UDFs.

The codec step is REAL for PPM/PGM/BMP, PNG (stdlib-zlib inflate +
numpy unfilter, codecs.py) and baseline JPEG (pure-python Huffman +
numpy IDCT, jpeg.py): ``decode_image`` and the ``image_dhash``
perceptual signature behind ``image_near_dup_pairs`` operate on
actual pixels. ``audio_metadata`` reports RIFF/WAVE rows from the
decoded waveform (PCM, float, G.711, IMA ADPCM) and mp3 rows from an
MPEG frame-header walk. Other image formats (webp/gif) go through an
optional-PIL seam and raise without it.

At scale: binaries stay in columnar storage (parquet binary columns
with metadata pushed to a sidecar struct so pruning works without
touching bytes); decode work is per-row independent (no shuffle).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from . import codecs

MEDIA_SCHEMA = (
    "media_id long, kind string, data binary, "
    "meta struct<width: int, height: int, sample_rate: int, duration_ms: int, format: string>"
)

try:  # pragma: no cover - not present in this environment
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except Exception:
    _HAS_PIL = False


def _decode_raster(data, fmt: str):
    """Decode to an HxWxC uint8 array via the pure-python codecs,
    falling back to PIL for formats outside the codec set — the ONE
    gating seam every raster consumer (decode_image, image_dhash)
    shares, so adding a format helps them all at once."""
    import numpy as np

    if fmt.lower() not in codecs.SUPPORTED_FORMATS:
        if not _HAS_PIL:
            raise NotImplementedError(
                f"no pure-python codec for format {fmt!r} and PIL "
                "is not installed"
            )
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(bytes(data)))
        if img.mode not in ("RGB", "RGBA", "L", "LA"):
            img = img.convert("RGB")
        arr = np.asarray(img)
        if arr.ndim == 2:
            arr = arr[:, :, None]
        return arr
    return codecs.decode_image_bytes(bytes(data), fmt)


def decode_image(df: DataFrame) -> DataFrame:
    """REAL image decode (PPM/PGM/BMP/PNG/JPEG via the pure-python
    codecs): emits true pixel dimensions and channel means from the
    raster. Rows in unsupported formats (webp/gif) raise unless PIL
    is importable."""
    schema = (
        MEDIA_SCHEMA
        + ", width int, height int, mean_r double, mean_g double, mean_b double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ws, hs, mr, mg, mb = [], [], [], [], []
            for data, meta in zip(pdf["data"], pdf["meta"]):
                fmt = (meta["format"] if meta is not None else "") or ""
                arr = _decode_raster(data, fmt)
                h, w = arr.shape[:2]
                chan = arr.astype(np.float64)
                if chan.shape[2] == 2:  # gray+alpha -> gray
                    chan = chan[:, :, :1]
                if chan.shape[2] == 1:
                    chan = np.repeat(chan, 3, axis=2)
                means = chan.reshape(-1, chan.shape[2])[:, :3].mean(axis=0)
                ws.append(w)
                hs.append(h)
                mr.append(float(means[0]))
                mg.append(float(means[1]))
                mb.append(float(means[2]))
            yield pdf.assign(width=ws, height=hs, mean_r=mr, mean_g=mg, mean_b=mb)

    return df.mapInPandas(run, schema=schema)


def audio_metadata(df: DataFrame) -> DataFrame:
    """REAL audio metadata WITHOUT requiring a decoder for perceptual
    formats: RIFF/WAVE rows report from the decoded waveform
    (codecs.decode_wav); mp3 rows report from an MPEG frame-header
    walk (codecs.parse_mp3_metadata — duration/bitrate/channels need
    no sample decode, the same how-far-pure-python-goes line the
    image codecs draw). Unknown formats yield nulls instead of
    failing the batch — metadata extraction over a mixed 100 TB
    media corpus must not abort on the exotic tail. Emits
    MEDIA_SCHEMA + (sample_rate_real, duration_ms_real, n_channels,
    bitrate_kbps)."""
    schema = (
        MEDIA_SCHEMA
        + ", sample_rate_real int, duration_ms_real int"
        + ", n_channels int, bitrate_kbps int"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, durs, chans, kbps = [], [], [], []
            for data, meta in zip(pdf["data"], pdf["meta"]):
                fmt = ((meta["format"] if meta is not None else "") or "").lower()
                # compute ALL four values inside the try and append
                # ONCE after: appending as we go would leave the lists
                # misaligned when a later expression raises (e.g. a
                # declared sample_rate of 0 divides by zero AFTER the
                # rate was already appended) — pdf.assign would then
                # abort the batch on a length mismatch, violating the
                # nulls-not-task-abort contract
                try:
                    if fmt in ("wav", "wave", ""):
                        x, rate = codecs.decode_wav(bytes(data))
                        # half-up for SQL round() parity (see
                        # parse_mp3_metadata's note)
                        row = (rate, int(len(x) / rate * 1000 + 0.5), x.shape[1], None)
                    elif fmt in ("mp3", "mpga", "mpeg"):
                        m = codecs.parse_mp3_metadata(bytes(data))
                        row = (
                            m["sample_rate"],
                            m["duration_ms"],
                            m["n_channels"],
                            m["bitrate_kbps"],
                        )
                    else:
                        raise ValueError(f"no metadata parser for {fmt!r}")
                # the CONCRETE malformed-input set, not a bare
                # Exception: a truncated RIFF chunk raises struct.error
                # from unpack_from, a zero declared rate divides by
                # zero, garbage headers surface as Value/Key/Index/
                # TypeError — those null out per the nulls-not-task-
                # abort contract. A programming error in the codecs
                # module (AttributeError, NameError) stays LOUD: a
                # decoder regression must fail tests, not silently
                # null an entire corpus (r9 ADVICE)
                except (
                    ValueError,
                    NotImplementedError,
                    struct.error,
                    ZeroDivisionError,
                    IndexError,
                    KeyError,
                    TypeError,
                    # absurd declared header fields (e.g. a fuzzed
                    # RIFF rate of 2^62) can overflow arithmetic
                    # before any range check rejects them — still
                    # malformed INPUT, not a programming error
                    # (r10 ADVICE)
                    OverflowError,
                ):
                    row = (None, None, None, None)
                rates.append(row[0])
                durs.append(row[1])
                chans.append(row[2])
                kbps.append(row[3])
            yield pdf.assign(
                sample_rate_real=pd.array(rates, dtype="Int32"),
                duration_ms_real=pd.array(durs, dtype="Int32"),
                n_channels=pd.array(chans, dtype="Int32"),
                bitrate_kbps=pd.array(kbps, dtype="Int32"),
            )

    return df.mapInPandas(run, schema=schema)


def image_dhash(df: DataFrame) -> DataFrame:
    """64-bit difference hash (dHash) per image: decode the real
    raster, grayscale, nearest-resize to 9x8, set bit (r*8+c) when
    pixel[r][c] > pixel[r][c+1]. The standard perceptual signature —
    stable under re-encoding, mild noise and scaling — feeding
    ``dedup.hamming_pairs`` for corpus-wide image near-dup pairs
    exactly the way SimHash feeds text near-dup.

    Arrow-batched mapInPandas over the binary column; per-row
    independent, scales with partitions. Unsupported formats raise
    (same gating as decode_image). Returns (media_id, dhash)."""
    schema = "media_id long, dhash long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes = [], []
            for mid, data, meta in zip(pdf["media_id"], pdf["data"], pdf["meta"]):
                fmt = (meta["format"] if meta is not None else "") or ""
                arr = _decode_raster(data, fmt)
                gray = arr.astype(np.float64)
                if gray.ndim == 3:
                    if gray.shape[2] >= 3:
                        gray = (
                            0.299 * gray[:, :, 0]
                            + 0.587 * gray[:, :, 1]
                            + 0.114 * gray[:, :, 2]
                        )
                    else:
                        gray = gray[:, :, 0]
                small = codecs.nearest_resize(
                    gray[:, :, None].astype(np.uint8), 9, 8
                )[:, :, 0].astype(np.int32)
                bits = (small[:, :-1] > small[:, 1:]).astype(np.uint64).ravel()
                h = np.uint64(0)
                for i, b in enumerate(bits):
                    h |= b << np.uint64(i)
                signed = int(h) - (1 << 64) if int(h) >= (1 << 63) else int(h)
                ids.append(int(mid))
                hashes.append(signed)
            yield pd.DataFrame({"media_id": ids, "dhash": hashes})

    return df.mapInPandas(run, schema=schema)


def image_near_dup_pairs(df: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Image near-duplicate pairs: dHash signatures through the
    threshold-complete Hamming banding (dedup.hamming_pairs). Returns
    (doc_a, doc_b, hamming) over media ids."""
    from .dedup import hamming_pairs

    return hamming_pairs(
        image_dhash(df), max_hamming=max_hamming, id_col="media_id", sig_col="dhash"
    )
