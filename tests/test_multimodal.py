"""Real media decoding: PNG/BMP/PNM/WAV built byte-by-byte in-test
(no media libraries), decoded by the distributed operators."""

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from fossil_spark.operators import multimodal as mm


def _gradient(h, w, ch):
    px = np.zeros((h, w, ch), dtype=np.uint8)
    for c in range(ch):
        px[:, :, c] = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) + 40 * c) % 256
    return px


def _bmp_bytes(px):
    h, w, _ = px.shape
    row_sz = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y][:, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (row_sz - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header + info + body)


def _wav_bytes(rate=8000, freq=440.0, seconds=0.25):
    t = np.arange(int(rate * seconds)) / rate
    samples = (np.sin(2 * np.pi * freq * t) * 12000).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(samples.tobytes())
    return buf.getvalue(), samples


def test_png_roundtrip_pure():
    px = _gradient(13, 17, 3)
    data = mm.encode_png(px)
    w, h, mode, out = mm.decode_image(data)
    assert (w, h, mode) == (17, 13, "RGB")
    assert np.array_equal(out, px)
    # grayscale + alpha variants
    for ch, want_mode in ((1, "L"), (2, "LA"), (4, "RGBA")):
        px2 = _gradient(5, 7, ch)
        w, h, mode, out = mm.decode_image(mm.encode_png(px2))
        assert (w, h, mode) == (7, 5, want_mode)
        assert np.array_equal(out, px2)


def test_png_all_filter_types():
    # exercise sub/up/average/paeth unfiltering: re-filter a known
    # image manually per row and check reconstruction
    px = _gradient(8, 6, 3)
    stride, ch = 6 * 3, 3
    raws = px.reshape(8, stride).astype(int)
    out_rows = []
    for y, ftype in enumerate([0, 1, 2, 3, 4, 1, 2, 4]):
        cur = raws[y]
        prev = raws[y - 1] if y else np.zeros(stride, dtype=int)
        enc = np.zeros(stride, dtype=int)
        for x in range(stride):
            left = cur[x - ch] if x >= ch else 0
            ul = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                enc[x] = cur[x]
            elif ftype == 1:
                enc[x] = cur[x] - left
            elif ftype == 2:
                enc[x] = cur[x] - prev[x]
            elif ftype == 3:
                enc[x] = cur[x] - ((left + prev[x]) >> 1)
            else:
                enc[x] = cur[x] - mm._paeth(left, prev[x], ul)
        out_rows.append(bytes([ftype]) + bytes((enc % 256).astype(np.uint8)))
    raw = b"".join(out_rows)

    def chunk(ctype, payload):
        body = ctype + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF)

    data = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 8, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))
    w, h, mode, out = mm.decode_image(data)
    assert (w, h, mode) == (6, 8, "RGB")
    assert np.array_equal(out, px)


def test_bmp_and_pnm_decode():
    px = _gradient(9, 11, 3)
    w, h, mode, out = mm.decode_image(_bmp_bytes(px))
    assert (w, h, mode) == (11, 9, "RGB")
    assert np.array_equal(out, px)

    ppm = b"P6\n# comment\n11 9\n255\n" + px.tobytes()
    w, h, mode, out = mm.decode_image(ppm)
    assert (w, h, mode) == (11, 9, "RGB")
    assert np.array_equal(out, px)

    gray = _gradient(4, 5, 1)
    pgm = b"P5 5 4 255\n" + gray.tobytes()
    w, h, mode, out = mm.decode_image(pgm)
    assert (w, h, mode) == (5, 4, "L")
    assert np.array_equal(out, gray.reshape(4, 5, 1))


def test_decode_image_meta_mixed(spark):
    px = _gradient(10, 20, 3)
    rows = [
        (1, bytearray(mm.encode_png(px))),
        (2, bytearray(_bmp_bytes(px))),
        (3, bytearray(b"\xff\xd8\xff\xe0 fake jpeg bytes")),  # codec-required
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r["doc_id"]: r for r in mm.decode_image_meta(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["mode"]) == (20, 10, "RGB")
    assert (got[2]["width"], got[2]["height"], got[2]["mode"]) == (20, 10, "RGB")
    # fake path still deterministic for codec formats
    fake = mm._fake_decode(bytes(rows[2][1]))
    assert (got[3]["width"], got[3]["height"], got[3]["mode"]) == fake


def test_image_features_and_resize(spark):
    px = _gradient(40, 60, 3)
    df = spark.createDataFrame(
        [(1, bytearray(mm.encode_png(px))), (2, bytearray(b"not an image"))],
        "doc_id long, content binary",
    )
    feats = {r["doc_id"]: r for r in mm.image_features(df).collect()}
    assert feats[1]["decoded"] == "real"
    assert feats[1]["mean"] == pytest.approx(float(px.mean()), abs=1e-9)
    assert feats[1]["std"] == pytest.approx(float(px.std()), abs=1e-9)
    assert feats[2]["decoded"] == "fake" and feats[2]["mean"] is None

    res = {r["doc_id"]: r for r in mm.resize_images(df, max_side=30).collect()}
    assert (res[1]["target_width"], res[1]["target_height"]) == (30, 20)
    w, h, mode, out = mm.decode_image(bytes(res[1]["resized"]))
    assert (w, h, mode) == (30, 20, "RGB")
    # mean pooling keeps global statistics close
    assert abs(float(out.mean()) - float(px.mean())) < 3.0
    assert res[2]["resized"] is None


def test_audio_meta(spark):
    data, samples = _wav_bytes()
    df = spark.createDataFrame(
        [(1, bytearray(data)), (2, bytearray(b"not audio"))],
        "doc_id long, content binary",
    )
    got = {r["doc_id"]: r for r in mm.decode_audio_meta(df).collect()}
    a = got[1]
    assert (a["sample_rate"], a["n_channels"], a["n_frames"]) == (8000, 1, len(samples))
    assert a["duration_sec"] == pytest.approx(0.25, abs=1e-6)
    want_rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
    assert a["rms"] == pytest.approx(want_rms, rel=1e-9)
    assert got[2]["sample_rate"] is None


def _minimal_mp4() -> bytes:
    """Hand-built ISO BMFF: ftyp + moov(mvhd + trak(tkhd + mdia(hdlr +
    minf(stbl(stsd + stsz))))) — 5 s, 640x360, avc1, 300 frames."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(b"mvhd", bytes(4) + bytes(8) + struct.pack(">II", 1000, 5000) + bytes(80))
    tkhd = box(b"tkhd", bytes(4) + bytes(20) + bytes(8) + bytes(8) + bytes(36)
               + struct.pack(">II", 640 << 16, 360 << 16))
    hdlr = box(b"hdlr", bytes(4) + bytes(4) + b"vide" + bytes(12) + b"\x00")
    entry = struct.pack(">I", 16) + b"avc1" + bytes(8)
    stsd = box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
    stsz = box(b"stsz", bytes(4) + struct.pack(">II", 0, 300))
    stbl = box(b"stbl", stsd + stsz)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov


def test_mp4_box_parse_pure():
    m = mm.parse_mp4_meta(_minimal_mp4())
    assert m["brand"] == "isom"
    assert m["duration_sec"] == 5.0
    assert (m["width"], m["height"]) == (640, 360)
    assert m["n_video_frames"] == 300
    assert m["video_codec"] == "avc1"
    assert m["n_tracks"] == 1
    with pytest.raises(ValueError):
        mm.parse_mp4_meta(b"\x89PNG not a container")


def test_video_meta_and_frame_sample(spark):
    df = spark.createDataFrame(
        [(1, _minimal_mp4()), (2, b"garbage bytes here")],
        "doc_id long, content binary",
    )
    rows = {r["doc_id"]: r for r in mm.video_meta(df).collect()}
    assert rows[1]["parsed"] == "real"
    assert rows[1]["duration_sec"] == 5.0
    assert (rows[1]["width"], rows[1]["height"]) == (640, 360)
    assert rows[1]["n_video_frames"] == 300
    assert rows[2]["parsed"] == "fake"

    # frame sampling uses the REAL stsz count for BMFF bytes
    samples = mm.frame_sample_stub(df, every_n=100).collect()
    idx1 = sorted(r["frame_idx"] for r in samples if r["doc_id"] == 1)
    assert idx1 == [0, 100, 200]  # 300 frames, every 100th


def test_mp4_sample_table_pure():
    """stsz/stsc/stco arithmetic: every sample addressable, sizes sum
    into the mdat payload, codec fourcc surfaced."""
    frames = [np.full((16, 24, 3), v, np.uint8) for v in (30, 90, 150, 210)]
    blob = mm.encode_mjpeg_mp4(frames, fps=5, quality=92)
    codec, samples = mm.parse_mp4_samples(blob)
    assert codec == "jpeg" and len(samples) == 4
    for off, size in samples:
        assert blob[off:off + 3] == b"\xFF\xD8\xFF"
        assert blob[off + size - 2:off + size] == b"\xFF\xD9"
    # the writer's metadata agrees with the generic box walk
    meta = mm.parse_mp4_meta(blob)
    assert (meta["video_codec"], meta["n_video_frames"]) == ("jpeg", 4)
    assert (meta["width"], meta["height"]) == (24, 16)


def test_extract_video_frames_real_pixels(spark):
    """The last E11 stub upgraded: JPEG-in-MP4 frames decode to REAL
    width/height/mean through the pure-numpy T.81 decoder."""
    vals = [(1, (20, 100, 240)), (2, (55, 200))]
    rows = [
        (did, bytearray(mm.encode_mjpeg_mp4(
            [np.full((16, 16, 3), v, np.uint8) for v in vs], quality=95)))
        for did, vs in vals
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = mm.extract_video_frames(df, every_n=1).collect()
    got = {(r.doc_id, r.frame_idx): r for r in out}
    assert len(got) == 5
    for did, vs in vals:
        for i, v in enumerate(vs):
            r = got[(did, i)]
            assert r.decoded == "real"
            assert (r.width, r.height, r.mode) == (16, 16, "RGB")
            assert abs(r.mean - v) <= 2.0  # constant frame at q95
            assert r.std <= 6.0


def test_extract_video_frames_every_n_and_raw_mjpeg(spark):
    from fossil_spark.operators.jpeg import encode_jpeg

    frames = [np.full((8, 8), v, np.uint8) for v in (10, 60, 110, 160, 210)]
    mp4 = mm.encode_mjpeg_mp4(frames, quality=95)
    raw = b"".join(encode_jpeg(f, quality=95) for f in frames)
    df = spark.createDataFrame(
        [(1, bytearray(mp4)), (2, bytearray(raw))],
        "doc_id long, content binary",
    )
    out = mm.extract_video_frames(df, every_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did in (1, 2):
        rs = sorted(by_doc[did], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in rs] == [0, 2, 4]
        assert all(r.decoded == "real" and r.mode == "L" for r in rs)
        means = [r.mean for r in rs]
        assert [round(m / 10) for m in means] == [1, 11, 21]


def test_extract_video_frames_non_jpeg_codec_stays_stub(spark):
    """A real sample table with a codec we can't decode codec-free
    (e.g. avc1) keeps honest stub rows: true frame indices, null
    pixel stats."""
    frames = [np.full((8, 8, 3), 128, np.uint8)] * 3
    blob = mm.encode_mjpeg_mp4(frames, codec="avc1")
    df = spark.createDataFrame([(9, bytearray(blob))], "doc_id long, content binary")
    out = mm.extract_video_frames(df, every_n=1).collect()
    assert [r.frame_idx for r in out] == [0, 1, 2]
    assert all(r.decoded == "stub" and r.width is None and r.mean is None
               for r in out)


def test_audio_features_pure_tone(spark):
    # 440 Hz tone: centroid near 440, ZCR = 2*f/rate, rolloff >= centroid
    data, samples = _wav_bytes(rate=8000, freq=440.0, seconds=0.5)
    df = spark.createDataFrame(
        [(1, bytearray(data)), (2, bytearray(b"junk"))],
        "doc_id long, content binary",
    )
    got = {r["doc_id"]: r for r in mm.audio_features(df).collect()}
    a = got[1]
    assert a["sample_rate"] == 8000 and a["n_samples"] == len(samples)
    mono = samples.astype(np.float64) / 32768.0
    assert a["rms"] == pytest.approx(float(np.sqrt(np.mean(mono**2))), rel=1e-9)
    assert a["peak"] == pytest.approx(float(np.abs(mono).max()), rel=1e-9)
    # a 440 Hz sine crosses zero 880 times/sec -> zcr = 880/8000 = 0.11
    assert a["zero_crossing_rate"] == pytest.approx(2 * 440 / 8000, rel=0.02)
    # Hann leakage keeps the centroid within a few bins of the tone
    assert a["spectral_centroid_hz"] == pytest.approx(440.0, abs=30.0)
    assert a["spectral_rolloff_hz"] >= 400.0
    assert got[2]["sample_rate"] is None


def test_audio_features_stereo_and_silence(spark):
    import io as _io
    import wave as _wave

    # stereo: L = tone, R = -tone  -> mono mean is silence (rms ~ 0)
    t = np.arange(4000) / 8000.0
    tone = (np.sin(2 * np.pi * 200 * t) * 10000).astype(np.int16)
    inter = np.empty(2 * len(tone), np.int16)
    inter[0::2], inter[1::2] = tone, -tone
    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as wv:
        wv.setnchannels(2)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(inter.tobytes())
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, content binary"
    )
    [r] = mm.audio_features(df).collect()
    assert r["n_samples"] == len(tone)
    assert r["rms"] == pytest.approx(0.0, abs=1e-4)


def test_png_adam7_interlaced_roundtrip():
    """Adam7 decode: seven independently-filtered sub-images scatter
    back exactly (round-trip vs the in-repo interlaced encoder),
    including sizes where late passes are empty."""
    import numpy as np

    from fossil_spark.operators.multimodal import (
        _decode_png, encode_png_interlaced,
    )

    rng = np.random.RandomState(7)
    for (h, w, ch) in [(1, 1, 1), (3, 3, 3), (9, 5, 1), (16, 16, 3),
                       (7, 13, 4), (8, 2, 2)]:
        pixels = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
        data = encode_png_interlaced(pixels)
        dw, dh, _mode, out = _decode_png(data)
        assert (dw, dh) == (w, h)
        assert np.array_equal(out, pixels), (h, w, ch)


def test_png_16bit_depth():
    """16-bit PNGs decode (filters act on 2-byte pixels; the high
    byte is kept — the standard 16->8 view). Hand-built file with
    sub + up filters over big-endian u16 samples."""
    import struct
    import zlib

    import numpy as np

    from fossil_spark.operators.multimodal import _decode_png

    w, h = 3, 2
    vals = np.array([
        [[0x1234], [0x5678], [0x9ABC]],
        [[0x1111], [0x2222], [0x3333]],
    ], dtype=np.uint16)
    raw = b"".join(
        b"\x00" + vals[y].astype(">u2").tobytes() for y in range(h)
    )

    def chunk(ctype, payload):
        body = ctype + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF)

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    dw, dh, mode, out = _decode_png(data)
    assert (dw, dh, mode) == (w, h, "L")
    assert out.tolist() == [[[0x12], [0x56], [0x9A]],
                            [[0x11], [0x22], [0x33]]]


def test_dhash_perceptual_invariances():
    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, (32, 36, 3)).astype(np.uint8)
    h0 = mm.dhash_bits(base)
    assert len(h0) == 16 and int(h0, 16) >= 0
    # 2x nearest-neighbor upscale: identical pooled cells -> same hash
    up = base.repeat(2, axis=0).repeat(2, axis=1)
    assert mm.dhash_bits(up) == h0
    # uniform brightness shift preserves every gradient sign
    brighter = np.clip(base.astype(np.int16) + 10, 0, 245).astype(np.uint8)
    assert mm.dhash_bits(np.clip(base, 0, 235) + 10) == mm.dhash_bits(
        np.clip(base, 0, 235)
    )
    del brighter
    # a different random image hashes differently
    other = rng.randint(0, 256, (32, 36, 3)).astype(np.uint8)
    assert mm.dhash_bits(other) != h0


def test_image_phash_groups_near_dups(spark):
    rng = np.random.RandomState(11)
    base = rng.randint(0, 256, (16, 18, 3)).astype(np.uint8)
    up = base.repeat(2, axis=0).repeat(2, axis=1)
    other = rng.randint(0, 256, (16, 18, 3)).astype(np.uint8)
    tiny = np.zeros((4, 4, 3), np.uint8)  # below the hash grid
    df = spark.createDataFrame(
        [
            (0, bytearray(mm.encode_png(base))),
            (1, bytearray(mm.encode_png(up))),
            (2, bytearray(mm.encode_png(other))),
            (3, bytearray(mm.encode_png(tiny))),
        ],
        "doc_id long, content binary",
    )
    rows = {r["doc_id"]: r for r in mm.image_phash(df).collect()}
    assert rows[0]["decoded"] == "real" and rows[0]["dhash"] == rows[1]["dhash"]
    assert rows[2]["dhash"] != rows[0]["dhash"]
    assert rows[3]["decoded"] == "fake" and rows[3]["dhash"] is None


def test_phash_pairs_banded_hamming_join(spark):
    # hashes: a == b (planted dup), c differs from a by exactly one
    # nibble bit in band 0 (hamming 1), d shares no band with anyone
    df = spark.createDataFrame(
        [
            (1, "00ff00ff00ff00ff"),
            (2, "00ff00ff00ff00ff"),
            (3, "01ff00ff00ff00ff"),
            (4, "123456789abcdef0"),
            (5, None),  # undecodable images never pair
        ],
        "doc_id long, dhash string",
    )
    out = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in mm.phash_pairs(df, max_hamming=6).collect()}
    # (1,2) identical; (1,3) and (2,3) agree on bands 1-3, hamming 1
    assert out == {(1, 2): 0, (1, 3): 1, (2, 3): 1}
    # a tight threshold drops the hamming-1 pairs
    strict = {(r["doc_a"], r["doc_b"])
              for r in mm.phash_pairs(df, max_hamming=0).collect()}
    assert strict == {(1, 2)}


def test_image_entropy_flat_vs_noise(spark):
    import numpy as np

    from fossil_spark.operators import multimodal as mm

    flat = np.full((16, 16, 3), 42, np.uint8)
    # 256 distinct gray values exactly once -> 8 bits
    grad = np.repeat(np.arange(256, dtype=np.uint8).reshape(16, 16), 3).reshape(16, 16, 3)
    df = spark.createDataFrame(
        [(0, mm.encode_png(flat)), (1, mm.encode_png(grad)), (2, b"junk")],
        "doc_id long, content binary",
    )
    out = {r["doc_id"]: r for r in mm.image_entropy(df).collect()}
    assert out[0]["entropy_bits"] == 0.0
    assert out[0]["n_distinct_values"] == 1
    assert out[1]["entropy_bits"] == 8.0
    assert out[2]["decoded"] == "fake" and out[2]["entropy_bits"] is None


# --------------------------------------------------------------------------
# every operator on the row harness keeps the input's id column
# --------------------------------------------------------------------------

_PNG = mm.encode_png(_gradient(16, 20, 3))
_WAV = _wav_bytes()[0]
_MP4 = mm.encode_mjpeg_mp4(
    [np.full((16, 16, 3), v, np.uint8) for v in (40, 200)], quality=92
)


def _compression_ratio(df, id_col="doc_id"):
    from fossil_spark.operators import text

    return text.compression_ratio(df, text_col="content", id_col=id_col)


PORTED = {
    "decode_image_meta": (mm.decode_image_meta, _PNG),
    "image_features": (mm.image_features, _PNG),
    "resize_images": (lambda df, **kw: mm.resize_images(df, 8, **kw), _PNG),
    "image_phash": (mm.image_phash, _PNG),
    "image_entropy": (mm.image_entropy, _PNG),
    "decode_audio_meta": (mm.decode_audio_meta, _WAV),
    "audio_features": (mm.audio_features, _WAV),
    "video_meta": (mm.video_meta, _MP4),
    "extract_video_frames": (mm.extract_video_frames, _MP4),
    "compression_ratio": (_compression_ratio, "natural prose, " * 20),
}


@pytest.mark.parametrize("name", sorted(PORTED))
def test_ported_operator_keeps_id_column(spark, name):
    """A null, an empty, a garbage and a real blob under `id int`: the
    output leads with `id int` and otherwise matches the `doc_id long`
    run row for row; an empty input gives an empty output of the same
    schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    op, real = PORTED[name]
    garbage = "garbage" if isinstance(real, str) else b"\x00garbage\xff"
    kind = "string" if isinstance(real, str) else "binary"
    df = spark.createDataFrame(
        list(enumerate([None, real[:0], garbage, real], 1)),
        f"id int, content {kind}",
    )
    got = op(df, id_col="id")
    want = op(df.select(F.col("id").cast("long").alias("doc_id"), "content"))
    first = got.schema.fields[0]
    assert (first.name, first.dataType) == ("id", IntegerType())
    assert got.schema.fields[1:] == want.schema.fields[1:]
    rows = sorted(map(tuple, got.collect()))
    assert {r[0] for r in rows} == {1, 2, 3, 4}
    assert rows == sorted(map(tuple, want.collect()))
    empty = op(df.filter("id < 0"), id_col="id")
    assert empty.schema == got.schema and empty.collect() == []


def test_stub_wrappers_take_any_id_column(spark):
    df = spark.createDataFrame(
        [(1, _minimal_mp4()), (2, _PNG)], "id int, content binary"
    )
    frames = mm.frame_sample_stub(df, every_n=100, id_col="id")
    assert frames.columns[0] == "id"
    assert sorted(r.frame_idx for r in frames.collect() if r.id == 1) == \
        [0, 100, 200]
    sizes = {r.id: r for r in mm.resize_stub(df, 8, id_col="id").collect()}
    assert (sizes[2].width, sizes[2].height) == (20, 16)
    assert (sizes[2].target_width, sizes[2].target_height) == (8, 6)
