"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed via Arrow-batched mapInPandas.

Decoding is REAL for PNG (zlib inflate + scanline unfiltering), BMP
(24-bit uncompressed), PNM (P5/P6), WAV (stdlib wave), baseline AND
progressive JPEG (full Huffman + IDCT decoder built from the public
ITU-T T.81 spec in fossil_spark.operators.jpeg), and lossless WEBP
(full VP8L bitstream — prefix codes, LZ77, color cache, all four
transforms — from RFC 9649 in fossil_spark.operators.webp), and GIF
87a/89a (variable-width LZW, interlace, animation composition with
disposal/transparency, in fossil_spark.operators.gif) —
implemented from the public format specs with numpy only. Formats
that still require codec libraries (lossy VP8/AVIF, ...) fall back
to a clearly-labeled deterministic fake header so pipelines stay
end-to-end testable in codec-less environments; swap `_fake_decode`
for PIL/ffmpeg in such deployments (same signature, same schema).
Video frame PIXELS are real for motion-JPEG: JPEG-in-MP4 samples are
addressed via the stsz/stsc/stco tables and raw MJPEG streams via
SOI/EOI scanning, then decoded with the T.81 baseline decoder
(extract_video_frames). Only inter-frame codecs (h264, vp9, ...)
keep labeled stub rows — real frame indices, null pixel stats.

Scale shape: every decoder is one mapInPandas pass through the shared
row harness (operators.per_row: Arrow batches, no per-row UDFs). The
output is the input's id column, under its own name and type,
followed by the operator's fixed fields (the *_SCHEMA constants), so
downstream plans stay columnar. The five image decoders share one
decode-or-fake step (_image_op): bytes that fail to decode, or whose
decoded pixels an operator cannot use, get the _fake_decode row.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from fossil_spark.operators import per_row

IMAGE_META_SCHEMA = StructType([
    StructField("n_bytes", LongType()),
    StructField("content_md5", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mode", StringType()),
])

_PNG_MODES = {0: ("L", 1), 2: ("RGB", 3), 4: ("LA", 2), 6: ("RGBA", 4)}


# --- PNG (spec: https://www.w3.org/TR/png-3/) ------------------------------

def _png_chunks(data: bytes) -> Iterator[tuple[bytes, bytes]]:
    off = 8
    while off + 8 <= len(data):
        (length,), ctype = struct.unpack_from(">I", data, off), data[off + 4:off + 8]
        yield ctype, data[off + 8:off + 8 + length]
        off += 12 + length
        if ctype == b"IEND":
            return


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 pass geometry (spec §"Interlaced data order"):
# (x_start, y_start, x_step, y_step) per pass — the spec's 8x8 tile is
#   1 6 4 6 2 6 4 6 / 7... / 5 6 5 6... / 7... / 3 6 4 6... / 7... /
#   5 6 5 6... / 7...
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter(raw: bytes, w: int, h: int, bpp: int, off: int = 0
              ) -> tuple[np.ndarray, int]:
    """Reverse per-scanline filtering for one (sub-)image starting at
    byte `off` of the decompressed stream; `bpp` = bytes per pixel
    (filters operate on bytes, spec §Filtering — for 16-bit samples
    bpp doubles). Returns the (h, w*bpp) bytes and the offset past
    the image."""
    stride = w * bpp
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        base = off + y * (stride + 1)
        f = raw[base]
        line = bytearray(raw[base + 1:base + 1 + stride])
        if f == 1:  # sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif f == 2:  # up
            line = bytearray((np.frombuffer(bytes(line), np.uint8) + prev).astype(np.uint8).tobytes())
        elif f == 3:  # average
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # paeth
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                line[x] = (line[x] + _paeth(left, int(prev[x]), ul)) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        prev = np.frombuffer(bytes(line), np.uint8)
        out[y] = prev
    return out, off + h * (stride + 1)


def _decode_png(data: bytes) -> tuple[int, int, str, np.ndarray]:
    w = h = None
    mode, ch = "L", 1
    interlace = 0
    idat = bytearray()
    for ctype, payload in _png_chunks(data):
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if (depth not in (8, 16) or interlace not in (0, 1)
                    or color not in _PNG_MODES):
                raise ValueError(f"unsupported PNG (depth={depth} color={color})")
            mode, ch = _PNG_MODES[color]
        elif ctype == b"IDAT":
            idat.extend(payload)
    if w is None or not idat:
        raise ValueError("truncated PNG")
    raw = zlib.decompress(bytes(idat))
    bpp = ch * (depth // 8)

    def to_pixels(block: np.ndarray, ph: int, pw: int) -> np.ndarray:
        if depth == 8:
            return block.reshape(ph, pw, ch)
        # 16-bit samples are big-endian; keep the high byte (the
        # standard 16->8 view for stats/resize/thumbnail pipelines)
        u16 = block.reshape(ph, pw * ch, 2)
        return u16[:, :, 0].reshape(ph, pw, ch)

    if interlace == 0:
        out, _ = _unfilter(raw, w, h, bpp)
        return w, h, mode, to_pixels(out, h, w)
    # Adam7: seven independently-filtered sub-images, scattered back
    # onto the full raster by pass geometry (empty passes send no bytes)
    img = np.zeros((h, w, ch), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw == 0 or ph == 0:
            continue
        sub, off = _unfilter(raw, pw, ph, bpp, off)
        img[y0::dy, x0::dx] = to_pixels(sub, ph, pw)
    return w, h, mode, img


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal PNG encoder (filter 0, 8-bit) — enough to round-trip
    decoded/resized pixels without any codec library."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        body = ctype + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_png_interlaced(pixels: np.ndarray) -> bytes:
    """Adam7-interlaced PNG encoder (filter 0 rows per pass) — the
    test companion that proves the interlaced decode path by exact
    round-trip, like the other in-repo codec encoders."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    parts = []
    for x0, y0, dx, dy in _ADAM7:
        sub = pixels[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for y in range(sub.shape[0]):
            parts.append(b"\x00" + sub[y].tobytes())
    raw = b"".join(parts)

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        body = ctype + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# --- BMP / PNM -------------------------------------------------------------

def _decode_bmp(data: bytes) -> tuple[int, int, str, np.ndarray]:
    (offbits,) = struct.unpack_from("<I", data, 10)
    w, h = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (comp,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp} comp={comp})")
    flip = h > 0
    h = abs(h)
    row_sz = (w * 3 + 3) & ~3
    out = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        row = np.frombuffer(data, np.uint8, w * 3, offbits + y * row_sz)
        out[h - 1 - y if flip else y] = row.reshape(w, 3)[:, ::-1]  # BGR->RGB
    return w, h, "RGB", out


def _decode_pnm(data: bytes) -> tuple[int, int, str, np.ndarray]:
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":
            pos = data.index(b"\n", pos) + 1
            continue
        end = pos
        while end < len(data) and not data[end:end + 1].isspace():
            end += 1
        fields.append(int(data[pos:end]))
        pos = end
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PNM unsupported")
    ch = 3 if data[:2] == b"P6" else 1
    px = np.frombuffer(data, np.uint8, w * h * ch, pos).reshape(h, w, ch)
    return w, h, ("RGB" if ch == 3 else "L"), px


def decode_image(data: bytes) -> tuple[int, int, str, np.ndarray]:
    """Dispatch on magic bytes. Raises ValueError for formats that
    need a codec library (lossy-WEBP, AVIF, ...)."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(data)
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:2] in (b"P5", b"P6"):
        return _decode_pnm(data)
    if data[:2] == b"\xFF\xD8":
        from fossil_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        # lossless (VP8L) decodes for real; lossy VP8 raises and
        # falls back to the labeled fake
        from fossil_spark.operators.webp import decode_webp

        w, h, _alpha, rgba = decode_webp(data)
        return w, h, "RGBA", rgba
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from fossil_spark.operators.gif import decode_gif

        w, h, frames = decode_gif(data)
        return w, h, "RGB", frames[0][1]
    raise ValueError("unknown or codec-required image format")


def _header_dims(data: bytes) -> tuple[int, int, str] | None:
    """REAL dimensions for codec-required formats whose container
    header carries them uncompressed: lossy/extended WEBP (VP8
    keyframe tag / VP8X canvas) and AVIF (the ispe property box).
    Pixels still need a codec; the metadata does not."""
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        try:
            from fossil_spark.operators.webp import webp_meta

            w, h, _kind = webp_meta(data)
            return w, h, "RGB"
        except (ValueError, IndexError, struct.error):
            return None
    if len(data) > 12 and data[4:8] == b"ftyp" and b"avif" in data[8:16]:
        i = data.find(b"ispe")
        if i >= 0 and i + 16 <= len(data):
            w, h = struct.unpack_from(">II", data, i + 8)
            if 0 < w <= 0xFFFF and 0 < h <= 0xFFFF:
                return int(w), int(h), "RGB"
    return None


def _fake_decode(data: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for codec-required formats. Dimensions
    come from the real container header when it carries them
    (lossy WEBP, AVIF); only fully opaque bytes get fabricated
    metadata. Replace with PIL.Image.open in a deployment that ships
    codecs."""
    real = _header_dims(data)
    if real is not None:
        return real
    h = hashlib.md5(data).hexdigest()
    width = int(h[:2], 16) + 1
    height = int(h[2:4], 16) + 1
    mode = "RGB" if int(h[4], 16) % 2 == 0 else "L"
    return width, height, mode


# --- Spark operators -------------------------------------------------------

_DECODE_ERRORS = (ValueError, IndexError, struct.error, zlib.error)


def _per_blob(df: DataFrame, binary_col: str, id_col: str,
              fields: StructType, fn) -> DataFrame:
    """Every decoder's boundary: `fn(data)` gets each row's blob as
    bytes (null -> b"") and returns that blob's output rows; each row
    leaves behind the input's id, so the output schema is the id field
    as given (name and type) followed by `fields`."""
    def rows(rid, raw):
        return [(rid, *out) for out in fn(b"" if raw is None else bytes(raw))]

    schema = StructType([df.schema[id_col], *fields.fields])
    return per_row(df, [id_col, binary_col], rows, schema)


def _image_op(df: DataFrame, binary_col: str, id_col: str,
              fields: StructType, row) -> DataFrame:
    """The image decoders' shared decode-or-fake step: `row(data, w, h,
    mode, px)` builds one output row from decode_image's result. Bytes
    that do not decode, or whose pixels `row` rejects with a decode
    error (an image smaller than the dHash grid), get `row` on
    _fake_decode's dimensions with px None."""
    def decode(data: bytes) -> list[tuple]:
        try:
            return [row(data, *decode_image(data))]
        except _DECODE_ERRORS:
            return [row(data, *_fake_decode(data), None)]

    return _per_blob(df, binary_col, id_col, fields, decode)


def decode_image_meta(
    df: DataFrame, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Extract typed metadata from an opaque image binary column.
    Real decode for PNG/BMP/PNM; deterministic fake for codec-required
    bytes. Returns (id, n_bytes, content_md5, width, height, mode)."""
    def meta(data, w, h, mode, _px):
        return len(data), hashlib.md5(data).hexdigest(), w, h, mode

    return _image_op(df, binary_col, id_col, IMAGE_META_SCHEMA, meta)


IMAGE_FEATURES_SCHEMA = StructType([
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mode", StringType()),
    StructField("mean", DoubleType()),
    StructField("std", DoubleType()),
    StructField("decoded", StringType()),  # 'real' | 'fake'
])


def image_features(
    df: DataFrame, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Pixel statistics per image (decodable formats); codec-required
    bytes get null stats and decoded='fake'."""
    def stats(_data, w, h, mode, px):
        if px is None:
            return w, h, mode, None, None, "fake"
        return w, h, mode, float(px.mean()), float(px.std()), "real"

    return _image_op(df, binary_col, id_col, IMAGE_FEATURES_SCHEMA, stats)


RESIZE_SCHEMA = StructType([
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("target_width", IntegerType()),
    StructField("target_height", IntegerType()),
    StructField("resized", BinaryType()),  # PNG bytes, null if not decodable
])


def resize_images(
    df: DataFrame, max_side: int, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Downscale decodable images so max(w, h) <= max_side (area mean
    pooling — the standard training-data thumbnail path) and re-encode
    as PNG. Codec-required bytes pass through with computed target
    dims and a null payload."""
    def _pool(px: np.ndarray, tw: int, th: int) -> np.ndarray:
        h, w, ch = px.shape
        ys = (np.arange(th + 1) * h // th).astype(int)
        xs = (np.arange(tw + 1) * w // tw).astype(int)
        out = np.empty((th, tw, ch), dtype=np.uint8)
        for y in range(th):
            for x in range(tw):
                out[y, x] = px[ys[y]:ys[y + 1], xs[x]:xs[x + 1]].mean(axis=(0, 1))
        return out

    def thumb(_data, w, h, _mode, px):
        scale = min(1.0, max_side / max(w, h))
        tw, th = max(1, int(w * scale)), max(1, int(h * scale))
        resized = None
        if px is not None:
            resized = encode_png(px if (tw, th) == (w, h) else _pool(px, tw, th))
        return w, h, tw, th, resized

    return _image_op(df, binary_col, id_col, RESIZE_SCHEMA, thumb)


AUDIO_META_SCHEMA = StructType([
    StructField("n_bytes", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("n_frames", LongType()),
    StructField("duration_sec", DoubleType()),
    StructField("rms", DoubleType()),
])


def _pcm_frames(data: bytes) -> tuple[int, int, np.ndarray]:
    """16-bit PCM WAV (stdlib wave) or FLAC (operators/flac.py, real
    decode from the RFC 9639 layout) → (rate, channels, int samples
    shaped (n, channels)). Raises on anything else."""
    import io
    import wave

    if data[:4] == b"fLaC":
        from fossil_spark.operators.flac import decode_flac

        rate, nch, bps, arr = decode_flac(data)
        if bps != 16:
            # normalize to the 16-bit range the stats expect
            arr = (arr.astype(np.int64) * 32768 // (1 << (bps - 1)))
        return rate, nch, arr.astype(np.int64).reshape(-1, nch)
    with wave.open(io.BytesIO(data)) as wv:
        if wv.getsampwidth() != 2:
            raise ValueError("non-16-bit WAV")
        rate, nch = wv.getframerate(), wv.getnchannels()
        raw = np.frombuffer(wv.readframes(wv.getnframes()), np.int16)
    return rate, nch, raw.astype(np.int64).reshape(-1, nch)


def decode_audio_meta(
    df: DataFrame, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Audio metadata + RMS loudness for 16-bit PCM WAV (stdlib wave)
    and FLAC (in-repo decoder). Other bytes yield null audio fields."""
    def meta(data: bytes) -> list[tuple]:
        try:
            rate, nch, frames = _pcm_frames(data)
            nf = frames.shape[0]
            samples = frames.reshape(-1)
            rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))) if len(samples) else 0.0
            return [(len(data), rate, nch, nf, nf / rate, rms)]
        except Exception:  # wave.Error and EOFError are not ValueErrors
            return [(len(data), None, None, None, None, None)]

    return _per_blob(df, binary_col, id_col, AUDIO_META_SCHEMA, meta)


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_sec", DoubleType()),
    StructField("rms", DoubleType()),
    StructField("peak", DoubleType()),
    StructField("zero_crossing_rate", DoubleType()),
    StructField("spectral_centroid_hz", DoubleType()),
    StructField("spectral_rolloff_hz", DoubleType()),
])


def _audio_feature_row(samples: np.ndarray, rate: int,
                       frame: int = 1024, hop: int = 512) -> tuple:
    """Classic frame-level DSP features over a mono float signal in
    [-1, 1]: RMS energy, peak, zero-crossing rate, and Hann-windowed
    spectral centroid / 85% rolloff averaged over frames (the standard
    definitions used by audio-analysis toolkits, computed here with
    plain numpy FFT — no codec or DSP library)."""
    n = len(samples)
    if n == 0:
        return (rate, 0, 0.0, 0.0, 0.0, 0.0, None, None)
    rms = float(np.sqrt(np.mean(samples**2)))
    peak = float(np.max(np.abs(samples)))
    zcr = float(np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1])))
    cents, rolls = [], []
    if n >= frame:
        win = np.hanning(frame)
        freqs = np.fft.rfftfreq(frame, d=1.0 / rate)
        for off in range(0, n - frame + 1, hop):
            mag = np.abs(np.fft.rfft(samples[off:off + frame] * win))
            total = mag.sum()
            if total <= 0:
                continue
            cents.append(float((freqs * mag).sum() / total))
            cum = np.cumsum(mag)
            rolls.append(float(freqs[int(np.searchsorted(cum, 0.85 * total))]))
    centroid = float(np.mean(cents)) if cents else None
    rolloff = float(np.mean(rolls)) if rolls else None
    return (rate, n, n / rate, rms, peak, zcr, centroid, rolloff)


def audio_features(
    df: DataFrame, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Audio FEATURE EXTRACTION (the training-pipeline step after
    decode): 16-bit PCM WAV → mono float signal → RMS / peak / ZCR /
    spectral centroid / spectral rolloff, Arrow-batched through the
    row harness. Completes the multimodal quartet (decode /
    feature-extract / resize / frame-sample) for audio the way
    image_features does for images. Decodes 16-bit PCM WAV and FLAC
    (in-repo decoder); other bytes yield null features. Scale shape:
    embarrassingly parallel per row; batch size bounds memory (one
    decoded clip at a time per row)."""
    def features(data: bytes) -> list[tuple]:
        try:
            rate, _nch, frames = _pcm_frames(data)
            mono = frames.astype(np.float64).mean(axis=1) / 32768.0
            return [_audio_feature_row(mono, rate)]
        except Exception:  # wave.Error and EOFError are not ValueErrors
            return [(None,) * 8]

    return _per_blob(df, binary_col, id_col, AUDIO_FEATURES_SCHEMA, features)


# --- MP4 / ISO BMFF container metadata (public spec: ISO 14496-12) ---------
# Box structure parse only — REAL duration/dimensions/frame counts
# without any codec. Frame PIXEL decode still needs a codec library.

def _iter_boxes(data: bytes, start: int, end: int) -> Iterator[tuple[str, int, int]]:
    """Yield (type, payload_start, payload_end) for each box in range."""
    off = start
    while off + 8 <= end:
        (size,) = struct.unpack_from(">I", data, off)
        btype = data[off + 4:off + 8].decode("latin-1")
        body = off + 8
        if size == 1:  # 64-bit largesize
            (size,) = struct.unpack_from(">Q", data, off + 8)
            body = off + 16
        elif size == 0:  # to end of enclosing box
            size = end - off
        if size < 8 or off + size > end:
            return
        yield btype, body, off + size
        off += size


_MP4_CONTAINERS = {"moov", "trak", "mdia", "minf", "stbl"}


def parse_mp4_meta(data: bytes) -> dict:
    """ISO BMFF box walk: brand, movie duration, per-track handler /
    codec / sample count, video dimensions. Raises ValueError for
    non-BMFF bytes."""
    if len(data) < 12 or data[4:8] not in (
        b"ftyp", b"moov", b"mdat", b"free", b"wide", b"skip", b"styp"
    ):
        raise ValueError("not an ISO BMFF container")
    out = {
        "brand": None, "duration_sec": None, "width": None, "height": None,
        "n_tracks": 0, "video_codec": None, "n_video_frames": None,
    }

    def walk(start: int, end: int, track: dict | None) -> None:
        for btype, body, bend in _iter_boxes(data, start, end):
            if btype == "ftyp":
                out["brand"] = data[body:body + 4].decode("latin-1").strip()
            elif btype == "mvhd":
                ver = data[body]
                if ver == 1:
                    scale, dur = struct.unpack_from(">IQ", data, body + 20)
                else:
                    scale, dur = struct.unpack_from(">II", data, body + 12)
                if scale:
                    out["duration_sec"] = dur / scale
            elif btype == "trak":
                out["n_tracks"] += 1
                walk(body, bend, {"handler": None})
                continue
            elif btype == "tkhd" and track is not None:
                ver = data[body]
                # width/height: 16.16 fixed point, last 8 bytes
                w, h = struct.unpack_from(">II", data, bend - 8)
                track["width"], track["height"] = w >> 16, h >> 16
            elif btype == "hdlr" and track is not None:
                track["handler"] = data[body + 8:body + 12].decode("latin-1")
            elif btype == "stsd" and track is not None:
                (n_entries,) = struct.unpack_from(">I", data, body + 4)
                if n_entries:
                    track["codec"] = data[body + 12:body + 16].decode("latin-1")
            elif btype == "stsz" and track is not None:
                (count,) = struct.unpack_from(">I", data, body + 8)
                track["n_samples"] = count
            if btype in _MP4_CONTAINERS:
                walk(body, bend, track)
            if btype == "mdia" and track is not None and \
                    track.get("handler") == "vide":
                out["video_codec"] = track.get("codec") or out["video_codec"]
                out["n_video_frames"] = track.get("n_samples")
                if track.get("width"):
                    out["width"] = track["width"]
                    out["height"] = track["height"]

    walk(0, len(data), None)
    # tkhd dims live on trak (sibling of mdia): second pass via tracks
    # is folded into walk above — if a video track had dims, they're set
    return out


VIDEO_META_SCHEMA = StructType([
    StructField("n_bytes", LongType()),
    StructField("brand", StringType()),
    StructField("duration_sec", DoubleType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_video_frames", LongType()),
    StructField("video_codec", StringType()),
    StructField("n_tracks", IntegerType()),
    StructField("parsed", StringType()),  # 'real' | 'fake'
])


def video_meta(
    df: DataFrame, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """REAL container metadata for MP4/MOV (ISO BMFF box parse — no
    codec needed): brand, duration, video dims, frame count, codec
    fourcc. Non-BMFF bytes get parsed='fake' with null fields."""
    def meta(data: bytes) -> list[tuple]:
        try:
            m = parse_mp4_meta(data)
        except (ValueError, IndexError, struct.error):
            return [(len(data), None, None, None, None, None, None, None,
                     "fake")]
        return [(len(data), m["brand"], m["duration_sec"], m["width"],
                 m["height"], m["n_video_frames"], m["video_codec"],
                 m["n_tracks"], "real")]

    return _per_blob(df, binary_col, id_col, VIDEO_META_SCHEMA, meta)


def parse_mp4_samples(data: bytes) -> tuple[str | None, list[tuple[int, int]]]:
    """Per-sample (absolute_offset, size) for the first video track:
    stsz sizes + stsc sample-to-chunk runs + stco/co64 chunk offsets
    (ISO 14496-12 §8.7). Codec-free — pure box arithmetic, so frame
    BYTES are addressable without any decoder. Raises ValueError when
    the bytes aren't BMFF or carry no video sample table."""
    if len(data) < 12 or data[4:8] not in (
        b"ftyp", b"moov", b"mdat", b"free", b"wide", b"skip", b"styp"
    ):
        raise ValueError("not an ISO BMFF container")
    found: dict = {}

    def walk(start: int, end: int, track: dict | None) -> None:
        for btype, body, bend in _iter_boxes(data, start, end):
            if btype == "trak":
                t: dict = {}
                walk(body, bend, t)
                if t.get("handler") == "vide" and t.get("sizes") and not found:
                    found.update(t)
                continue
            if track is not None:
                if btype == "hdlr":
                    track["handler"] = data[body + 8:body + 12].decode("latin-1")
                elif btype == "stsd":
                    (n,) = struct.unpack_from(">I", data, body + 4)
                    if n:
                        track["codec"] = data[body + 12:body + 16].decode("latin-1")
                elif btype == "stsz":
                    fixed, count = struct.unpack_from(">II", data, body + 4)
                    if fixed:
                        track["sizes"] = [fixed] * count
                    else:
                        track["sizes"] = list(
                            struct.unpack_from(f">{count}I", data, body + 12)
                        )
                elif btype == "stsc":
                    (n,) = struct.unpack_from(">I", data, body + 4)
                    track["stsc"] = [
                        struct.unpack_from(">III", data, body + 8 + 12 * i)
                        for i in range(n)
                    ]
                elif btype == "stco":
                    (n,) = struct.unpack_from(">I", data, body + 4)
                    track["chunks"] = list(
                        struct.unpack_from(f">{n}I", data, body + 8)
                    )
                elif btype == "co64":
                    (n,) = struct.unpack_from(">I", data, body + 4)
                    track["chunks"] = list(
                        struct.unpack_from(f">{n}Q", data, body + 8)
                    )
            if btype in _MP4_CONTAINERS:
                walk(body, bend, track)

    walk(0, len(data), None)
    sizes, chunks = found.get("sizes"), found.get("chunks")
    if not sizes or not chunks:
        raise ValueError("no addressable video sample table")
    stsc = found.get("stsc") or [(1, len(sizes), 1)]
    samples: list[tuple[int, int]] = []
    si = 0
    for ci, coff in enumerate(chunks, start=1):
        spc = next((e[1] for e in reversed(stsc) if e[0] <= ci), 0)
        off = coff
        for _ in range(spc):
            if si >= len(sizes):
                break
            samples.append((off, sizes[si]))
            off += sizes[si]
            si += 1
    return found.get("codec"), samples


def iter_mjpeg_frames(data: bytes) -> Iterator[tuple[int, int]]:
    """(offset, size) of each JPEG in a raw concatenated MJPEG stream.
    Safe on baseline JPEG: 0xFFD9 can't occur inside entropy data
    (byte stuffing), so SOI..EOI scanning finds true frame bounds."""
    off = 0
    while True:
        start = data.find(b"\xFF\xD8\xFF", off)
        if start < 0:
            return
        end = data.find(b"\xFF\xD9", start + 3)
        if end < 0:
            return
        yield start, end + 2 - start
        off = end + 2


def encode_mjpeg_mp4(frames: list[np.ndarray], fps: int = 25,
                     quality: int = 90, codec: str = "jpeg") -> bytes:
    """Minimal ISO BMFF writer: JPEG-compressed frames in one mdat
    chunk, moov after mdat so chunk offsets are known up front. Used
    for fixtures and as the sink-side counterpart of
    extract_video_frames (ISO 14496-12 box layout)."""
    from fossil_spark.operators.jpeg import encode_jpeg

    if not frames:
        raise ValueError("need at least one frame")
    payloads = [encode_jpeg(f, quality=quality) for f in frames]
    h, w = frames[0].shape[:2]
    n = len(payloads)

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + btype + payload

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat = box(b"mdat", b"".join(payloads))
    chunk_off = len(ftyp) + 8  # first sample starts after mdat header

    timescale, dur = 1000, int(round(n * 1000 / fps))
    mvhd = box(b"mvhd", struct.pack(
        ">B3xIIII", 0, 0, 0, timescale, dur
    ) + b"\x00\x01\x00\x00\x01\x00" + b"\x00" * 10 + _UNITY_MATRIX
        + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = box(b"tkhd", struct.pack(
        ">B3BIIII", 0, 0, 0, 7, 0, 0, 1, 0
    ) + struct.pack(">I", dur) + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0) + _UNITY_MATRIX
        + struct.pack(">II", w << 16, h << 16))
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"mjpeg\x00")
    entry = struct.pack(">I", 86) + codec.encode("latin-1")[:4].ljust(4) \
        + b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16 \
        + struct.pack(">HH", w, h) \
        + struct.pack(">II", 0x00480000, 0x00480000) + b"\x00" * 4 \
        + struct.pack(">H", 1) + b"\x00" * 32 \
        + struct.pack(">HH", 24, 0xFFFF)
    stsd = box(b"stsd", struct.pack(">B3xI", 0, 1) + entry)
    stts = box(b"stts", struct.pack(">B3xIII", 0, 1, n, timescale // fps))
    stsc = box(b"stsc", struct.pack(">B3xIIII", 0, 1, 1, n, 1))
    stsz = box(b"stsz", struct.pack(">B3xII", 0, 0, n)
               + b"".join(struct.pack(">I", len(p)) for p in payloads))
    stco = box(b"stco", struct.pack(">B3xII", 0, 1, chunk_off))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    mdhd = box(b"mdhd", struct.pack(">B3xIIII", 0, 0, 0, timescale, dur)
               + struct.pack(">HH", 0x55C4, 0))
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


_UNITY_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)

VIDEO_FRAMES_SCHEMA = StructType([
    StructField("frame_idx", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mode", StringType()),
    StructField("mean", DoubleType()),
    StructField("std", DoubleType()),
    StructField("decoded", StringType()),  # 'real' | 'stub'
])

_JPEG_FOURCC = {"jpeg", "mjpa", "mjpb", "MJPG", "mjpg", "AVDJ"}


def extract_video_frames(
    df: DataFrame,
    every_n: int = 1,
    binary_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL frame pixels for codec-free video: JPEG-in-MP4
    (stsd fourcc 'jpeg'/'mjpa'/..., samples addressed via the stsz/
    stsc/stco tables) and raw concatenated MJPEG streams, decoded with
    the pure-numpy baseline decoder (fossil_spark.operators.jpeg), and
    animated GIF (composed canvas frames via fossil_spark.operators.gif).
    Every every_n-th frame yields one row with true width/height and
    pixel mean/std. Containers whose codec genuinely needs an external
    library (h264, vp9, ...) keep the labeled 'stub' rows: real frame
    indices from the sample table, null pixel stats. One Arrow-batched
    mapInPandas pass (many rows per blob); the per-row work is bounded
    by the blob, so partitioning by doc keeps executors balanced at
    scale."""
    from fossil_spark.operators.jpeg import decode_jpeg

    def frame_rows(data: bytes):
        if data[:6] in (b"GIF87a", b"GIF89a"):
            # animated GIF: a codec-free video container — every
            # composed frame decodes to real pixels
            from fossil_spark.operators.gif import decode_gif

            try:
                w, h, frames = decode_gif(data)
                for idx in range(0, len(frames), every_n):
                    a = frames[idx][1].astype(np.float64)
                    yield (idx, w, h, "RGB",
                           float(a.mean()), float(a.std()), "real")
                return
            except (ValueError, IndexError, struct.error):
                pass
        spans, codec_ok = None, False
        try:
            codec, samples = parse_mp4_samples(data)
            spans = samples
            codec_ok = (codec or "") in _JPEG_FOURCC
        except (ValueError, IndexError, struct.error):
            if data[:3] == b"\xFF\xD8\xFF":
                spans = list(iter_mjpeg_frames(data))
                codec_ok = True
        if spans is None:
            # not even a parseable container: byte-length heuristic
            # keeps the explode shape testable (labeled stub)
            n = len(data) // 1024 + 1
            for idx in range(0, n, every_n):
                yield (idx, None, None, None, None, None, "stub")
            return
        for idx in range(0, len(spans), every_n):
            off, size = spans[idx]
            if codec_ok:
                try:
                    w, h, mode, px = decode_jpeg(bytes(data[off:off + size]))
                    a = px.astype(np.float64)
                    yield (idx, w, h, mode,
                           float(a.mean()), float(a.std()), "real")
                    continue
                except (ValueError, IndexError, struct.error):
                    pass
            yield (idx, None, None, None, None, None, "stub")

    return _per_blob(df, binary_col, id_col, VIDEO_FRAMES_SCHEMA, frame_rows)


def frame_sample_stub(
    df: DataFrame,
    every_n: int,
    binary_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame index.
    The frame COUNT is real when the bytes parse as ISO BMFF (stsz
    sample count via video_meta); otherwise a byte-length heuristic
    keeps the pipeline testable. Extracting frame PIXELS needs codecs
    the stdlib lacks; a real deployment swaps in ffmpeg probing and
    attaches frame bytes — the explode shape and partitioning are what
    matter at scale."""
    meta = video_meta(df, binary_col, id_col)
    heuristic = (F.col("n_bytes") / F.lit(1024)).cast("long") + 1
    n_frames = F.coalesce(F.col("n_video_frames"), heuristic)
    return meta.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


def resize_stub(
    df: DataFrame, max_side: int, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Back-compat wrapper: dimension planning only (no pixel I/O)."""
    meta = decode_image_meta(df, binary_col, id_col)
    scale = F.when(
        F.greatest("width", "height") > max_side,
        F.lit(max_side) / F.greatest("width", "height").cast("double"),
    ).otherwise(F.lit(1.0))
    return meta.select(
        id_col,
        "width",
        "height",
        F.floor(F.col("width") * scale).cast("int").alias("target_width"),
        F.floor(F.col("height") * scale).cast("int").alias("target_height"),
    )


PHASH_SCHEMA = StructType([
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("dhash", StringType()),
    StructField("decoded", StringType()),
])


def dhash_bits(px: np.ndarray, hash_size: int = 8) -> str:
    """Difference hash of a decoded pixel block (the public dHash
    algorithm: grayscale, area-mean downscale to (hash_size+1) x
    hash_size, horizontal-gradient sign bits, MSB-first hex). Exact
    when the input is already (hash_size, hash_size+1) — the pooling
    is the identity and comparisons run on integer channel values."""
    g = px.astype(np.float64).mean(axis=2)
    h, w = g.shape
    th, tw = hash_size, hash_size + 1
    if h < th or w < tw:
        raise ValueError("image smaller than hash grid")
    ys = (np.arange(th + 1) * h // th).astype(int)
    xs = (np.arange(tw + 1) * w // tw).astype(int)
    cells = np.empty((th, tw))
    for y in range(th):
        for x in range(tw):
            cells[y, x] = g[ys[y]:ys[y + 1], xs[x]:xs[x + 1]].mean()
    bits = (cells[:, 1:] > cells[:, :-1]).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return format(v, f"0{hash_size * hash_size // 4}x")


def image_phash(
    df: DataFrame,
    binary_col: str = "content",
    id_col: str = "doc_id",
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual difference-hash (dHash — Krawetz's public kernel;
    the HashingTools family) per decodable image: near-duplicate
    images (re-encodes, resizes, brightness shifts) land on equal or
    few-bit-distant hashes, so a groupBy/Hamming-join on `dhash` is
    image near-dup detection — the multimodal counterpart of
    dedup_minhash. Arrow-batched mapInPandas like every decode path;
    codec-required or sub-grid bytes report decoded='fake' with a
    null hash. Returns (id, width, height, dhash, decoded)."""
    def dhash(_data, w, h, _mode, px):
        if px is None:
            return w, h, None, "fake"
        return w, h, dhash_bits(px, hash_size), "real"

    return _image_op(df, binary_col, id_col, PHASH_SCHEMA, dhash)


def phash_pairs(
    ph: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    bands: int = 4,
) -> DataFrame:
    """Image near-duplicate PAIRS from dHash fingerprints: LSH-banded
    Hamming join — split the 64-bit hash into `bands` bands; any pair
    agreeing on a full band becomes a candidate (a pair within
    Hamming distance d < bands must agree on some band, pigeonhole),
    then the exact Hamming distance filters candidates to
    `max_hamming`. The image analogue of dedup_minhash's band-bucket
    join: candidate work is bounded by band-bucket sizes, never
    corpus²; everything is JVM Column expressions (hex-band equi-join
    + bit_count(xor) — no Python).

    Input is image_phash output (or any (id, 16-hex-char) table).
    Returns (doc_a, doc_b, hamming), doc_a < doc_b, deduplicated
    across bands."""
    n_hex = 16 // bands
    b = (
        ph.filter(F.col(hash_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(hash_col).alias("h"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            F.substring(
                                hash_col, j * n_hex + 1, n_hex
                            ).alias("val"),
                        )
                        for j in range(bands)
                    ]
                )
            ).alias("bv"),
        )
        .select("id", "h", F.col("bv.band").alias("band"),
                F.col("bv.val").alias("val"))
    )
    cand = (
        b.alias("x")
        .join(b.alias("y"), ["band", "val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("doc_a"),
            F.col("y.id").alias("doc_b"),
            F.col("x.h").alias("__ha"),
            F.col("y.h").alias("__hb"),
        )
        .distinct()
    )
    ham = None
    for j in range(bands):
        xa = F.conv(
            F.substring("__ha", j * n_hex + 1, n_hex), 16, 10
        ).cast("long")
        xb = F.conv(
            F.substring("__hb", j * n_hex + 1, n_hex), 16, 10
        ).cast("long")
        piece = F.bit_count(xa.bitwiseXOR(xb))
        ham = piece if ham is None else ham + piece
    return (
        cand.select(
            "doc_a", "doc_b", ham.cast("long").alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )


IMAGE_ENTROPY_SCHEMA = StructType([
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_pixels", LongType()),
    StructField("n_distinct_values", LongType()),
    StructField("entropy_bits", DoubleType()),
    StructField("decoded", StringType()),
])


def image_entropy(
    df: DataFrame, binary_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Pixel-value Shannon entropy (bits) per decodable image over
    the 8-bit grayscale histogram — the image-quality screen that
    separates photographs (~7 bits) from flat color fills / corrupt
    renders (~0) and synthetic noise (8); the image analogue of
    [[text_entropy]] and the cheapest "is this image worth keeping"
    signal in a multimodal curation pass.

    Decode runs the REAL in-repo codecs (PNG/BMP/PNM/JPEG/WEBP/GIF);
    grayscale uses the integer (r+g+b)//3 mean so the histogram is
    integer-exact and engine-reproducible; entropy = -sum(p log2 p)
    with float division only at the end. Arrow-batched mapInPandas
    like every decode path; codec-bound bytes report decoded='fake'
    with null entropy. Returns (id, width, height, n_pixels,
    n_distinct_values, entropy_bits, decoded)."""
    def entropy(_data, w, h, _mode, px):
        if px is None:
            return w, h, None, None, None, "fake"
        if px.ndim == 3:
            gray = (
                px[:, :, 0].astype(np.int64)
                + px[:, :, 1].astype(np.int64)
                + px[:, :, 2].astype(np.int64)
            ) // 3
        else:
            gray = px.astype(np.int64)
        counts = np.bincount(gray.ravel(), minlength=256)
        n = int(counts.sum())
        # sequential fold in bin order (not numpy's pairwise
        # reduction) + floor-half-up: the oracle replays the same
        # fold via an ORDERED list_reduce
        ent = 0.0
        for c in counts:
            if c > 0:
                pv = c / n
                ent = ent - pv * math.log2(pv)
        ent6 = math.floor(ent * 1e6 + 0.5) / 1e6
        return w, h, n, int((counts > 0).sum()), ent6, "real"

    return _image_op(df, binary_col, id_col, IMAGE_ENTROPY_SCHEMA, entropy)
