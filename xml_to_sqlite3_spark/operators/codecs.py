"""Pure-numpy media codecs.

The container has no media libraries, but netpbm (P5/P6) and
uncompressed 24-bit BMP are plain byte grids, PNG needs nothing
beyond stdlib zlib, RIFF/WAVE is struct parsing, and baseline JPEG
lives in the sibling jpeg.py (pure-python Huffman + numpy DCT) — so
decode and perceptual hashing run on ACTUAL pixels and samples for
ppm/pgm/bmp/png/jpeg/wav. Formats needing real external codecs
(webp/gif/video) stay behind the optional-PIL seam in multimodal.py;
mp3 gets a frame-header walk for metadata only.

All functions are plain bytes->ndarray transforms so they vectorize
naturally inside Arrow-batched mapInPandas workers: per-row
independent, no shuffle, no driver involvement.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_WS = b" \t\n\r\x0b\x0c"


def decode_pnm(data: bytes) -> np.ndarray:
    """Decode binary netpbm: P6 (RGB) -> (h, w, 3) uint8, P5 (gray)
    -> (h, w, 1) uint8. Handles comments and arbitrary header
    whitespace per the netpbm spec; maxval must be 255."""
    magic = data[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PGM/PPM: magic={magic!r}")
    channels = 3 if magic == b"P6" else 1

    vals: list[int] = []
    pos = 2
    while len(vals) < 3:
        if pos >= len(data):
            raise ValueError("truncated PNM header")
        c = data[pos]
        if c in b"#":
            while pos < len(data) and data[pos] not in b"\n":
                pos += 1
        elif c in _WS:
            pos += 1
        elif chr(c).isdigit():
            start = pos
            while pos < len(data) and chr(data[pos]).isdigit():
                pos += 1
            vals.append(int(data[start:pos]))
        else:
            raise ValueError(f"bad PNM header byte {c!r} at {pos}")
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pos += 1  # exactly one whitespace byte separates header and raster
    n = w * h * channels
    raster = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos)
    return raster.reshape(h, w, channels)


def encode_ppm(arr: np.ndarray) -> bytes:
    """Encode (h, w, 3) or (h, w, 1) uint8 to binary PPM/PGM."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    magic = b"P6" if ch == 3 else b"P5"
    header = magic + b"\n%d %d\n255\n" % (w, h)
    return header + arr.astype(np.uint8).tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB) ->
    (h, w, 3) uint8 RGB. Rows are 4-byte padded and stored bottom-up
    (top-down when height is negative)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    header_size = struct.unpack_from("<I", data, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    w = struct.unpack_from("<i", data, 18)[0]
    h = struct.unpack_from("<i", data, 22)[0]
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=pixel_offset
    ).reshape(h, stride)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """Encode (h, w, 3) uint8 RGB to an uncompressed 24-bit BMP."""
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    raster = padded.tobytes()
    file_header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(raster), 0, 0, 54)
    info_header = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return file_header + info_header + raster


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG (stdlib zlib inflate + numpy unfiltering) ->
    (h, w, c) uint8 with c = 1 (gray), 2 (gray+alpha), 3 (RGB/palette)
    or 4 (RGBA). Supports 8-bit depth, color types 0/2/3/4/6,
    non-interlaced (interlace Adam7 and sub-byte depths raise).

    Filters: None/Up are whole-row vectorized; Sub is a per-channel
    byte prefix-sum (mod 256, exactly the recurrence); Average/Paeth
    carry a left-neighbor dependency, so those rows walk pixels —
    acceptable because encoders emit them rarely and each Arrow batch
    decodes rows independently in parallel tasks anyway.
    """
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack_from(">I", data, pos), data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"PLTE":
            palette = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"only 8-bit PNG supported, got depth {depth}")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color_type}")

    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG raster size mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = rows[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(h):
        line = rows[y, 1:].copy()
        f = filters[y]
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if f == 0:  # None
            out[y] = line
        elif f == 1:  # Sub: prefix-sum per bpp lane
            lanes = line.reshape(-1, bpp) if stride % bpp == 0 else None
            if lanes is not None:
                out[y] = (
                    np.cumsum(lanes.astype(np.uint32), axis=0) % 256
                ).astype(np.uint8).reshape(stride)
            else:  # pragma: no cover - stride always divisible by bpp
                acc = line
                for x in range(bpp, stride):
                    acc[x] = (acc[x] + acc[x - bpp]) & 0xFF
                out[y] = acc
        elif f == 2:  # Up
            out[y] = line + prev  # uint8 wraps mod 256
        elif f == 3:  # Average
            cur = out[y]
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {f}")

    arr = out.reshape(h, w, channels)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        arr = palette[arr[:, :, 0]]
    return arr


def encode_png(arr: np.ndarray) -> bytes:
    """Encode (h, w, c) uint8 (c in 1/2/3/4) to a non-interlaced
    8-bit PNG, filter None per row."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raster = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), arr.astype(np.uint8).reshape(h, w * ch)],
        axis=1,
    ).tobytes()
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster, 6))
        + chunk(b"IEND", b"")
    )


def decode_image_bytes(data: bytes, fmt: str) -> np.ndarray:
    """Dispatch decode by declared format. Returns (h, w, c) uint8."""
    fmt = (fmt or "").lower()
    if fmt in ("ppm", "pgm", "pnm"):
        return decode_pnm(data)
    if fmt == "bmp":
        return decode_bmp(data)
    if fmt == "png":
        return decode_png(data)
    if fmt in ("jpg", "jpeg"):
        from .jpeg import decode_jpeg  # split out: entropy-coded codec

        return decode_jpeg(data)
    raise ValueError(f"no pure-python codec for format {fmt!r}")


SUPPORTED_FORMATS = ("ppm", "pgm", "pnm", "bmp", "png", "jpg", "jpeg")


# ---------------------------------------------------------------------------
# Compressed-audio codecs: G.711 mu-law / A-law companding and IMA
# ADPCM — the compressed WAV families, decoded for real from their
# public specs (ITU-T G.711; the IMA ADPCM step/index tables). These
# close the "compressed audio raises" gate for the formats a pure-
# python decoder can serve exactly; perceptual codecs (mp3/ogg)
# remain the documented stub.
# ---------------------------------------------------------------------------


def _ulaw_to_linear(u: np.ndarray) -> np.ndarray:
    """G.711 mu-law byte -> 16-bit linear (vectorized form of the
    classic public-domain reference implementation)."""
    u = (~u.astype(np.int32)) & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t = t << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int32)


def _linear_to_ulaw(x: np.ndarray) -> np.ndarray:
    """16-bit linear -> G.711 mu-law byte (fixture/round-trip side)."""
    x = x.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    exp = (np.floor(np.log2(mag)) - 7).astype(np.int32)
    exp = np.clip(exp, 0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


def _alaw_to_linear(a: np.ndarray) -> np.ndarray:
    """G.711 A-law byte -> 16-bit linear."""
    a = a.astype(np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int32)


_IMA_STEPS = np.array(
    [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
     41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
     190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
     724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
     2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
     6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
     16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767],
    dtype=np.int32,
)
_IMA_INDEX_ADJUST = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_decode_block(body: bytes, predictor: int, index: int) -> list[int]:
    """Decode one mono IMA ADPCM block's nibble payload (low nibble
    first) given the block header's seed predictor/step index."""
    out = []
    for byte in body:
        for nibble in (byte & 0x0F, byte >> 4):
            step = int(_IMA_STEPS[index])
            diff = step >> 3
            if nibble & 1:
                diff += step >> 2
            if nibble & 2:
                diff += step >> 1
            if nibble & 4:
                diff += step
            predictor = predictor - diff if nibble & 8 else predictor + diff
            predictor = max(-32768, min(32767, predictor))
            index = max(0, min(88, index + int(_IMA_INDEX_ADJUST[nibble & 7])))
            out.append(predictor)
    return out


def ima_adpcm_encode(samples16: np.ndarray, block_samples: int = 505) -> tuple[bytes, int]:
    """Encode mono int16 samples as IMA ADPCM blocks; returns
    (payload, block_align). Fixture/round-trip counterpart of the
    decoder (standard quantize-against-step loop).

    ``block_samples`` must be ODD: a block stores 1 header sample +
    (block_samples - 1) nibbles packed two per byte, so an even
    count would force a pad nibble that the decoder necessarily
    reads back as a real sample, shifting the waveform by one sample
    per block — raise instead of silently corrupting."""
    if block_samples % 2 == 0 or block_samples < 3:
        raise ValueError(
            f"block_samples must be odd and >= 3 (got {block_samples}): even "
            "counts leave a half-byte pad the decoder reads as a sample"
        )
    samples16 = samples16.astype(np.int32)
    block_align = 4 + (block_samples - 1 + 1) // 2
    out = bytearray()
    index = 0
    pos = 0
    n = len(samples16)
    while pos < n:
        block = samples16[pos : pos + block_samples]
        pos += block_samples
        predictor = int(block[0])
        out += struct.pack("<hBB", predictor, index, 0)
        nibbles = []
        for s in block[1:]:
            step = int(_IMA_STEPS[index])
            delta = int(s) - predictor
            nib = 8 if delta < 0 else 0
            delta = abs(delta)
            diff = step >> 3
            if delta >= step:
                nib |= 4
                delta -= step
                diff += step
            if delta >= step >> 1:
                nib |= 2
                delta -= step >> 1
                diff += step >> 1
            if delta >= step >> 2:
                nib |= 1
                diff += step >> 2
            predictor = predictor - diff if nib & 8 else predictor + diff
            predictor = max(-32768, min(32767, predictor))
            index = max(0, min(88, index + int(_IMA_INDEX_ADJUST[nib & 7])))
            nibbles.append(nib)
        if len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
        pad = block_align - 4 - len(nibbles) // 2
        out += b"\x00" * pad
    return bytes(out), block_align


_ALAW_SEG_END = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], dtype=np.int32
)


def _linear_to_alaw(x: np.ndarray) -> np.ndarray:
    """16-bit linear -> G.711 A-law byte (fixture/round-trip side)."""
    x = x.astype(np.int32) >> 3  # 16 -> 13 bit
    mask = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x >= 0, x, -x - 1)
    seg = np.searchsorted(_ALAW_SEG_END, mag, side="left")
    low = np.where(seg < 2, (mag >> 1) & 0x0F, (mag >> np.minimum(seg, 7)) & 0x0F)
    aval = np.where(seg >= 8, 0x7F, (seg << 4) | low)
    return ((aval ^ mask) & 0xFF).astype(np.uint8)


def encode_wav_compressed(
    samples: np.ndarray, sample_rate: int, codec: str, block_samples: int = 505
) -> bytes:
    """Encode float samples in [-1, 1] as a COMPRESSED WAV —
    'ulaw' / 'alaw' (G.711, any channel count) or 'ima_adpcm'
    (mono) — the fixture counterpart of decode_wav's compressed
    paths."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n_ch = samples.shape[1]
    pcm16 = np.clip(np.round(samples * 32767.0), -32768, 32767).astype(np.int32)
    flat = pcm16.reshape(-1)
    if codec == "ulaw":
        tag, bits, payload = 7, 8, _linear_to_ulaw(flat).tobytes()
        block_align = n_ch
        fmt = struct.pack(
            "<HHIIHH", tag, n_ch, sample_rate, sample_rate * n_ch, block_align, bits
        )
    elif codec == "alaw":
        tag, bits, payload = 6, 8, _linear_to_alaw(flat).tobytes()
        block_align = n_ch
        fmt = struct.pack(
            "<HHIIHH", tag, n_ch, sample_rate, sample_rate * n_ch, block_align, bits
        )
    elif codec == "ima_adpcm":
        if n_ch != 1:
            raise ValueError("IMA ADPCM fixture encoder: mono only")
        payload, block_align = ima_adpcm_encode(flat.astype(np.int16), block_samples)
        byte_rate = (sample_rate * block_align + block_samples - 1) // block_samples
        fmt = struct.pack(
            "<HHIIHH", 0x11, 1, sample_rate, byte_rate, block_align, 4
        ) + struct.pack("<HH", 2, block_samples)
    else:
        raise ValueError(f"unknown codec {codec!r}")
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(payload))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE file -> (samples float64 in [-1, 1] shaped
    (n_frames, n_channels), sample_rate). Supports PCM 8/16/32-bit,
    IEEE float32/64 (format tags 1 and 3), and the compressed
    families: G.711 mu-law (7) / A-law (6) and mono IMA ADPCM (17).
    Perceptual codecs (mp3/ogg) raise — the documented stub. Walks
    chunks properly, so extra chunks (LIST, fact) are fine."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    samples = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            tag, n_ch, rate, _, block_align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt = (tag, n_ch, rate, bits, block_align)
        elif cid == b"data":
            samples = body
    if fmt is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, n_ch, rate, bits, block_align = fmt
    if tag == 1:  # integer PCM
        if bits == 8:  # unsigned
            x = np.frombuffer(samples, np.uint8).astype(np.float64)
            x = (x - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(samples, "<i2").astype(np.float64) / 32768.0
        elif bits == 32:
            x = np.frombuffer(samples, "<i4").astype(np.float64) / 2147483648.0
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        x = np.frombuffer(samples, "<f4" if bits == 32 else "<f8").astype(np.float64)
    elif tag == 7:  # G.711 mu-law
        x = _ulaw_to_linear(np.frombuffer(samples, np.uint8)).astype(np.float64) / 32768.0
    elif tag == 6:  # G.711 A-law
        x = _alaw_to_linear(np.frombuffer(samples, np.uint8)).astype(np.float64) / 32768.0
    elif tag == 0x11:  # IMA ADPCM
        if n_ch != 1:
            raise ValueError("IMA ADPCM: only mono supported")
        if block_align < 5:
            raise ValueError(f"IMA ADPCM: bad block_align {block_align}")
        decoded: list[int] = []
        for bpos in range(0, len(samples) - 4, block_align):
            block = samples[bpos : bpos + block_align]
            predictor, index, _ = struct.unpack_from("<hBB", block, 0)
            decoded.append(predictor)
            decoded.extend(
                _ima_decode_block(block[4:], predictor, max(0, min(88, index)))
            )
        x = np.array(decoded, dtype=np.float64) / 32768.0
    else:
        raise ValueError(f"unsupported WAV format tag {tag}")
    n_frames = len(x) // n_ch
    return x[: n_frames * n_ch].reshape(n_frames, n_ch), rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode (n_frames, n_channels) float in [-1, 1] (or 1-D mono)
    to 16-bit PCM WAV."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n_frames, n_ch = samples.shape
    pcm = np.clip(np.round(samples * 32767.0), -32768, 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, sample_rate * n_ch * 2, n_ch * 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def nearest_resize(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample to (height, width) — pixel-center
    mapping (the standard half-pixel convention)."""
    h, w = arr.shape[:2]
    rows = np.minimum(((np.arange(height) + 0.5) * h / height).astype(int), h - 1)
    cols = np.minimum(((np.arange(width) + 0.5) * w / width).astype(int), w - 1)
    return arr[rows][:, cols]


# MPEG-1/2/2.5 audio (mp3) frame-header tables: bitrate kbps by
# (version-group, layer, index) and sample rate by (version, index).
# Metadata-only parsing — decoding the bitstream genuinely needs a
# native codec (the soundfile seam); duration/bitrate/channels do NOT.
_MP3_BITRATE = {
    # (is_v1, layer): index -> kbps (index 0 = free, 15 = bad)
    (True, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (True, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (True, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (False, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (False, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (False, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATE = {
    3: [44100, 48000, 32000],  # MPEG1
    2: [22050, 24000, 16000],  # MPEG2
    0: [11025, 12000, 8000],  # MPEG2.5
}


def parse_mp3_metadata(data: bytes) -> dict:
    """Parse MPEG audio (mp3) FRAME HEADERS for real metadata —
    sample_rate, duration_ms, n_channels, avg bitrate_kbps, n_frames,
    vbr — without decoding a single sample (how far the pure-python
    image codecs go for their formats). Skips a leading ID3v2 tag
    (syncsafe size), walks frame to frame by each header's computed
    frame length, stops cleanly at trailing garbage. Raises
    ValueError when no valid frame exists (not an MPEG stream)."""
    buf = bytes(data)
    pos = 0
    # ID3v2: 'ID3' + version(2) + flags(1) + syncsafe size(4)
    if buf[:3] == b"ID3" and len(buf) >= 10:
        size = (
            (buf[6] & 0x7F) << 21
            | (buf[7] & 0x7F) << 14
            | (buf[8] & 0x7F) << 7
            | (buf[9] & 0x7F)
        )
        pos = 10 + size
    n_frames = 0
    total_samples = 0
    rate = None
    channels = None
    bitrates = []
    while pos + 4 <= len(buf):
        h = int.from_bytes(buf[pos : pos + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            break  # lost sync: trailing tag/garbage ends the walk
        ver = (h >> 19) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
        layer_bits = (h >> 17) & 3  # 3=I, 2=II, 1=III, 0=reserved
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 3
        padding = (h >> 9) & 1
        mode = (h >> 6) & 3  # 3 = mono
        if ver == 1 or layer_bits == 0 or br_idx in (0, 15) or sr_idx == 3:
            break
        layer = 4 - layer_bits  # 1/2/3
        is_v1 = ver == 3
        kbps = _MP3_BITRATE[(is_v1, layer)][br_idx]
        sr = _MP3_RATE[ver][sr_idx]
        if layer == 1:
            frame_len = (12 * kbps * 1000 // sr + padding) * 4
            samples = 384
        else:
            # Layer III in MPEG2/2.5 halves both samples and length
            per = 144 if (layer == 2 or is_v1) else 72
            frame_len = per * kbps * 1000 // sr + padding
            samples = 1152 if (layer == 2 or is_v1) else 576
        if frame_len <= 4:
            break
        n_frames += 1
        total_samples += samples
        rate = rate or sr
        channels = channels if channels is not None else (1 if mode == 3 else 2)
        bitrates.append(kbps)
        pos += frame_len
    if n_frames == 0 or rate is None:
        raise ValueError("no MPEG audio frame found")
    return {
        "sample_rate": rate,
        # half-UP, not python round()'s banker's rounding: the
        # audio_metadata gate replays this arithmetic in SQL, where
        # round() is half-away-from-zero
        "duration_ms": int(total_samples / rate * 1000 + 0.5),
        "n_channels": channels,
        "bitrate_kbps": int(round(sum(bitrates) / len(bitrates))),
        "n_frames": n_frames,
        "vbr": len(set(bitrates)) > 1,
    }
