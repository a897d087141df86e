"""Multimodal binary-column plumbing: schemas, determinism, 1->N frames."""

import pytest

from crabspark import multimodal as M
from crabspark.shipping import ship_package
from tests.sparkutil import get_spark


@pytest.fixture(scope="module")
def media(request):
    spark = get_spark()
    ship_package(spark)
    rows = [
        (1, "image", b"\x89PNG fake bytes 1", "https://a.com/1.png", "image/png"),
        (2, "image", b"\x89PNG fake bytes 2", "https://a.com/2.png", "image/png"),
        (3, "video", b"\x00\x00ftyp fake mp4", "https://a.com/v.mp4", "video/mp4"),
        (4, "audio", b"RIFF fake wav", "https://a.com/a.wav", "audio/wav"),
        (5, "image", None, "https://a.com/missing.png", "image/png"),
    ]
    return spark, spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_decode_meta(media):
    spark, df = media
    out = {r["media_id"]: r for r in M.decode_meta(df).collect()}
    assert len(out) == 5
    assert out[3]["n_frames"] > 1           # video has frames
    assert out[1]["n_frames"] == 1          # image: single frame
    assert out[4]["duration_ms"] > 0        # audio has duration
    assert out[1]["n_bytes"] == 17
    # deterministic across runs
    again = {r["media_id"]: r for r in M.decode_meta(df).collect()}
    assert out[1]["width"] == again[1]["width"]


def test_image_features_shape(media):
    spark, df = media
    rows = M.image_features(df).collect()
    assert all(len(r["embedding"]) == M.FEATURE_DIM for r in rows)
    by_id = {r["media_id"]: r["embedding"] for r in rows}
    assert by_id[1] != by_id[2]           # content-dependent
    rows2 = {r["media_id"]: r["embedding"] for r in M.image_features(df).collect()}
    assert by_id == rows2                  # deterministic


def test_resize_stub_tags(media):
    spark, df = media
    rows = M.resize_images(df, 64, 64).collect()
    assert all(bytes(r["media"]).startswith(b"RSZ64x64:") for r in rows)
    assert all(r["width"] == 64 for r in rows)


def test_sample_frames_explodes_videos_only(media):
    spark, df = media
    rows = M.sample_frames(df, every_n=10).collect()
    assert rows
    assert {r["media_id"] for r in rows} == {3}
    idxs = sorted(r["frame_idx"] for r in rows)
    assert idxs[0] == 0 and all(i % 10 == 0 for i in idxs)
    assert all(len(bytes(r["frame"])) == 20 for r in rows)  # sha1 stub


def _gradient_bmp(w, h):
    import numpy as np
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(x * 255 // max(1, w - 1)), (y * 255 // max(1, h - 1)),
         ((x + y) % 256)], axis=-1
    ).astype("uint8")
    return img, M.encode_bmp(img)


def test_bmp_roundtrip_and_real_meta(media):
    import numpy as np
    spark, _ = media
    img, b = _gradient_bmp(37, 23)  # odd width exercises row padding
    back = M.decode_bmp(b)
    assert back is not None and np.array_equal(back, img)
    df = spark.createDataFrame(
        [(10, "image", b, "https://a.com/r.bmp", "image/bmp")], M.MEDIA_SCHEMA
    )
    row = M.decode_meta(df).collect()[0]
    assert (row["width"], row["height"], row["n_frames"]) == (37, 23, 1)


def test_bmp_real_resize_and_features(media):
    import numpy as np
    spark, _ = media
    img, b = _gradient_bmp(64, 32)
    df = spark.createDataFrame(
        [(11, "image", b, "u", "image/bmp"),
         (12, "image", b"\x89PNG not bmp", "u2", "image/png")],
        M.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in M.resize_images(df, 16, 8).collect()}
    assert out[11]["decoded"] and not out[12]["decoded"]
    small = M.decode_bmp(bytes(out[11]["media"]))
    assert small.shape == (8, 16, 3)
    # nearest-neighbor: resampled pixel equals the source pixel it maps to
    ys = (np.arange(8) * 32 // 8); xs = (np.arange(16) * 64 // 16)
    assert np.array_equal(small, img[ys][:, xs])
    feats = {r["media_id"]: r for r in M.image_features(df).collect()}
    assert feats[11]["decoded"] and not feats[12]["decoded"]
    e = feats[11]["embedding"]
    assert len(e) == M.FEATURE_DIM
    assert abs(e[0] - img[..., 0].mean() / 255.0) < 1e-3  # real mean R
    assert abs(e[14] - 64 / 32) < 1e-6                    # aspect ratio


def test_wav_roundtrip_and_audio_features(media):
    import numpy as np
    spark, _ = media
    t = np.arange(8000)
    x = (10000 * np.sin(2 * np.pi * 440 * t / 8000)).astype("int16")
    b = M.encode_wav(x, rate=8000)
    samples, rate = M.decode_wav(b)
    assert rate == 8000 and np.array_equal(samples, x)
    df = spark.createDataFrame(
        [(20, "audio", b, "u", "audio/wav"),
         (21, "audio", b"RIFF junk", "u2", "audio/wav")],
        M.MEDIA_SCHEMA,
    )
    rows = M.audio_features(df).collect()
    assert len(rows) == 1  # undecodable dropped
    r = rows[0]
    assert r["duration_ms"] == 1000
    assert abs(r["rms"] - (10000 / 32768) / 2**0.5) < 1e-3  # sine rms = A/sqrt2
    assert abs(r["zero_cross_rate"] - 2 * 440 / 8000) < 0.01
    assert abs(sum(r["band_energies"]) - 1.0) < 1e-5
    # a 440 Hz tone at 8 kHz lives in the lowest quarter band
    assert r["band_energies"][0] > 0.95
    meta = {m["media_id"]: m for m in M.decode_meta(df).collect()}
    assert meta[20]["duration_ms"] == 1000  # REAL duration, not fake


# ---------------------------------------------------------------------------
# PNG codec (stdlib zlib, real)
# ---------------------------------------------------------------------------

def _ref_filter_row(cur, prev, ftype, bpp):
    """Reference RFC-2083 row FILTERER (the inverse of the decoder's
    unfiltering) so every filter type is tested against an independently
    constructed stream, not just our own encoder's filter-0 output."""
    import numpy as np

    out = np.zeros_like(cur)
    for x in range(len(cur)):
        a = int(cur[x - bpp]) if x >= bpp else 0
        b = int(prev[x])
        c = int(prev[x - bpp]) if x >= bpp else 0
        raw = int(cur[x])
        if ftype == 0:
            out[x] = raw
        elif ftype == 1:
            out[x] = (raw - a) & 0xFF
        elif ftype == 2:
            out[x] = (raw - b) & 0xFF
        elif ftype == 3:
            out[x] = (raw - ((a + b) >> 1)) & 0xFF
        elif ftype == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (raw - pred) & 0xFF
    return out


def test_png_roundtrip_rgb_and_rgba():
    import numpy as np

    rng = np.random.default_rng(5)
    for ch in (3, 4):
        px = rng.integers(0, 256, size=(13, 9, ch), dtype=np.uint8)
        blob = M.encode_png(px)
        assert blob.startswith(b"\x89PNG\r\n\x1a\n")
        back = M.decode_png(blob)
        assert back is not None and back.shape == (13, 9, ch)
        assert (back == px).all()


def test_png_decode_all_filter_types():
    """Hand-build a PNG whose rows use filters 0..4 (via the reference
    filterer above) and check the decoder recovers the exact pixels."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(9)
    w, h, ch = 7, 5, 3
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    stride = w * ch
    flat = px.reshape(h, stride)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = y % 5
        raw.append(ftype)
        raw.extend(_ref_filter_row(flat[y], prev, ftype, ch).tobytes())
        prev = flat[y]

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    back = M.decode_png(blob)
    assert back is not None
    assert (back == px).all()


def test_png_rejects_unsupported():
    import struct
    import zlib

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    # palette color type (3) -> None, not an exception
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 20))
        + chunk(b"IEND", b"")
    )
    assert M.decode_png(blob) is None
    assert M.decode_png(b"") is None
    assert M.decode_png(b"\x89PNG\r\n\x1a\ngarbage") is None
    assert M.decode_png(b"not a png at all") is None


def test_png_real_meta_features_resize(media):
    """decode_meta / image_features / resize_images treat a real PNG as a
    decoded image: true dimensions, closed-form features, pixel-exact
    nearest-neighbor resize re-encoded as PNG (alpha preserved)."""
    import numpy as np

    spark, _ = media
    grad = np.zeros((12, 8, 4), dtype=np.uint8)
    grad[:, :, 0] = np.arange(12)[:, None] * 20       # R ramp
    grad[:, :, 3] = 255                               # opaque alpha
    solid = np.full((6, 6, 3), 128, dtype=np.uint8)   # mid-gray RGB
    rows = [
        (10, "image", M.encode_png(grad), "https://a.com/g.png", "image/png"),
        (11, "image", M.encode_png(solid), "https://a.com/s.png", "image/png"),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    meta = {r["media_id"]: r for r in M.decode_meta(df).collect()}
    assert (meta[10]["width"], meta[10]["height"]) == (8, 12)
    assert (meta[11]["width"], meta[11]["height"]) == (6, 6)

    feats = {r["media_id"]: r for r in M.image_features(df).collect()}
    assert feats[10]["decoded"] and feats[11]["decoded"]
    # closed form for the solid image: channel means 128/255, std 0
    emb = feats[11]["embedding"]
    assert all(abs(v - 128 / 255) < 1e-6 for v in emb[0:3])
    assert all(abs(v) < 1e-6 for v in emb[3:6])

    rsz = {r["media_id"]: r for r in M.resize_images(df, 4, 6).collect()}
    assert rsz[10]["decoded"]
    back = M.decode_png(bytes(rsz[10]["media"]))
    assert back is not None and back.shape == (6, 4, 4)  # alpha preserved
    ys = np.arange(6) * 12 // 6
    xs = np.arange(4) * 8 // 4
    assert (back == grad[ys][:, xs]).all()


# ---------------------------------------------------------------------------
# GIF codec (pure-python LZW, real)
# ---------------------------------------------------------------------------

def test_gif_roundtrip_including_lzw_resets():
    import numpy as np

    rng = np.random.default_rng(3)
    # the 211x193 case overflows the 4096-entry LZW table -> exercises the
    # mid-stream CLEAR/reset path in both encoder and decoder
    for shape, ncol in (((13, 9), 2), ((31, 17), 200), ((211, 193), 256)):
        pal = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
        px = pal[rng.integers(0, ncol, shape)]
        back = M.decode_gif(M.encode_gif(px))
        assert back is not None and (back == px).all(), (shape, ncol)


def test_gif_interlaced_decode():
    """Hand-build an interlaced GIF (pass-ordered rows + interlace flag)
    and check the decoder restores natural row order."""
    import struct

    import numpy as np

    rng = np.random.default_rng(4)
    px_idx = rng.integers(0, 5, (16, 8)).astype(np.uint8)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    order = (
        list(range(0, 16, 8)) + list(range(4, 16, 8))
        + list(range(2, 16, 4)) + list(range(1, 16, 2))
    )
    lzw = M._lzw_encode(px_idx[order].tobytes(), 3)
    gif = bytearray(b"GIF87a")
    gif += struct.pack("<HHBBB", 8, 16, 0x80 | 2, 0, 0) + pal.tobytes()
    gif += struct.pack("<BHHHHB", 0x2C, 0, 0, 8, 16, 0x40)
    gif.append(3)
    for i in range(0, len(lzw), 255):
        blk = lzw[i: i + 255]
        gif.append(len(blk))
        gif += blk
    gif += b"\x00\x3b"
    back = M.decode_gif(bytes(gif))
    assert back is not None and (back == pal[px_idx]).all()


def test_gif_animation_frame_count_and_meta(media):
    """A 2-frame GIF reports n_frames=2 through decode_meta (real
    animation metadata, not the sha1 fake)."""
    import struct

    import numpy as np

    spark, _ = media
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    px = pal[rng.integers(0, 4, (6, 5))]
    one = bytearray(M.encode_gif(px)[:-1])  # strip trailer
    idx2 = rng.integers(0, 4, (6, 5)).astype(np.uint8)
    lzw = M._lzw_encode(idx2.tobytes(), 2)
    one += struct.pack("<BHHHHB", 0x2C, 0, 0, 5, 6, 0x80 | 1)
    one += pal.tobytes()
    one.append(2)
    for i in range(0, len(lzw), 255):
        blk = lzw[i: i + 255]
        one.append(len(blk))
        one += blk
    one += b"\x00\x3b"
    two_frame = bytes(one)
    assert M.gif_frame_count(two_frame) == 2

    df = spark.createDataFrame(
        [(20, "image", two_frame, "https://a.com/anim.gif", "image/gif"),
         (21, "image", M.encode_gif(px), "https://a.com/still.gif", "image/gif")],
        M.MEDIA_SCHEMA,
    )
    meta = {r["media_id"]: r for r in M.decode_meta(df).collect()}
    assert (meta[20]["width"], meta[20]["height"]) == (5, 6)
    assert meta[20]["n_frames"] == 2
    assert meta[21]["n_frames"] == 1

    rsz = {r["media_id"]: r for r in M.resize_images(df, 10, 3).collect()}
    assert rsz[21]["decoded"]
    back = M.decode_gif(bytes(rsz[21]["media"]))
    assert back is not None and back.shape == (3, 10, 3)


def test_gif_rejects():
    assert M.decode_gif(b"") is None
    assert M.decode_gif(b"GIF87a\x01") is None
    assert M.decode_gif(b"not a gif") is None
    assert M.gif_frame_count(b"nope") is None


def test_jpeg_dimensions_marker_walk(media):
    """Real JPEG width/height from the SOF marker (no pixel decode): a
    hand-built minimal JPEG (SOI + APP0 + DQT + SOF0) reports its true
    dimensions through decode_meta; progressive (SOF2) works too."""
    import struct

    def mk_jpeg(w, h, sof=0xC0):
        app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        dqt = bytes(65)
        sof0 = struct.pack(">BHHB", 8, h, w, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
        out = b"\xff\xd8"
        out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        out += b"\xff\xdb" + struct.pack(">H", len(dqt) + 2) + dqt
        out += bytes([0xFF, sof]) + struct.pack(">H", len(sof0) + 2) + sof0
        out += b"\xff\xd9"
        return out

    assert M.jpeg_dimensions(mk_jpeg(640, 480)) == (640, 480)
    assert M.jpeg_dimensions(mk_jpeg(31, 7, sof=0xC2)) == (31, 7)  # progressive
    assert M.jpeg_dimensions(b"") is None
    assert M.jpeg_dimensions(b"\xff\xd8\xff") is None
    assert M.jpeg_dimensions(b"GIF87a") is None

    spark, _ = media
    df = spark.createDataFrame(
        [(30, "image", mk_jpeg(1920, 1080), "https://a.com/x.jpg", "image/jpeg")],
        M.MEDIA_SCHEMA,
    )
    m = M.decode_meta(df).collect()[0]
    assert (m["width"], m["height"], m["n_frames"]) == (1920, 1080, 1)


def test_codec_roundtrip_properties():
    """Property-based round-trips (hypothesis): every real codec must
    reproduce arbitrary valid pixel/sample arrays byte-exactly."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 24), st.integers(1, 24),
        st.sampled_from([3, 4]), st.integers(0, 2**32 - 1),
    )
    def png_rt(h, w, c, seed):
        px = np.random.default_rng(seed).integers(0, 256, (h, w, c), dtype=np.uint8)
        back = M.decode_png(M.encode_png(px))
        assert back is not None and (back == px).all()

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 24), st.integers(1, 24), st.integers(0, 2**32 - 1))
    def bmp_rt(h, w, seed):
        px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
        back = M.decode_bmp(M.encode_bmp(px))
        assert back is not None and (back == px).all()

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 24), st.integers(1, 24),
        st.integers(1, 256), st.integers(0, 2**32 - 1),
    )
    def gif_rt(h, w, ncol, seed):
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
        px = pal[rng.integers(0, ncol, (h, w))]
        back = M.decode_gif(M.encode_gif(px))
        assert back is not None and (back == px).all()

    @settings(max_examples=25, deadline=None)
    @given(st.integers(0, 4096), st.integers(0, 2**32 - 1))
    def wav_rt(n, seed):
        x = np.random.default_rng(seed).integers(-32768, 32767, n).astype(np.int16)
        dec = M.decode_wav(M.encode_wav(x))
        assert dec is not None and (dec[0] == x).all()

    png_rt()
    bmp_rt()
    gif_rt()
    wav_rt()


def test_codec_decoders_never_raise_on_garbage():
    """Fuzz: arbitrary bytes must come back None from every decoder, never
    an exception (a crawl feeds them raw web bytes)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=80, deadline=None)
    @given(st.binary(max_size=512))
    def fuzz(b):
        for prefix in (b"", b"BM", b"\x89PNG\r\n\x1a\n", b"GIF87a",
                       b"GIF89a", b"RIFF", b"\xff\xd8"):
            blob = prefix + b
            M.decode_bmp(blob)
            M.decode_png(blob)
            M.decode_gif(blob)
            M.gif_frame_count(blob)
            M.decode_wav(blob)
            M.jpeg_dimensions(blob)

    fuzz()


# --- MP4 / ISO-BMFF metadata (real moov atom walk, no ffmpeg) ---

def _box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def _build_mp4(w, h, frames, dur, timescale=1000, v1=False, video=True):
    """Minimal spec-shaped MP4: ftyp + moov(mvhd, trak(tkhd, mdia/minf/
    stbl/stsz)) + mdat. Layouts per ISO/IEC 14496-12 (v0 and v1 headers)."""
    if v1:
        mvhd = bytes([1, 0, 0, 0]) + b"\x00" * 16 + timescale.to_bytes(
            4, "big") + dur.to_bytes(8, "big") + b"\x00" * 80
    else:
        mvhd = bytes(4) + b"\x00" * 8 + timescale.to_bytes(
            4, "big") + dur.to_bytes(4, "big") + b"\x00" * 80
    wh = ((w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
          if video else bytes(8))
    tkhd = bytes(4) + b"\x00" * 20 + b"\x00" * 52 + wh
    stsz = bytes(4) + (0).to_bytes(4, "big") + frames.to_bytes(4, "big")
    mdia = _box(b"minf", _box(b"stbl", _box(b"stsz", stsz)))
    trak = _box(b"trak", _box(b"tkhd", tkhd) + _box(b"mdia", mdia))
    moov = _box(b"moov", _box(b"mvhd", mvhd) + trak)
    return _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov + _box(
        b"mdat", b"\x00" * 32)


def test_mp4_metadata_atom_walk():
    got = M.mp4_metadata(_build_mp4(640, 360, 240, 9500))
    assert got == (640, 360, 240, 9500, 1)
    # version-1 (64-bit) headers, non-1000 timescale
    got = M.mp4_metadata(_build_mp4(1920, 1080, 50, 90000, timescale=600, v1=True))
    assert got == (1920, 1080, 50, 90000 * 1000 // 600, 1)
    # audio-only track: no dimensions, still counted
    got = M.mp4_metadata(_build_mp4(0, 0, 0, 2000, video=False))
    assert got == (0, 0, 1, 2000, 1)
    assert M.mp4_metadata(b"") is None
    assert M.mp4_metadata(b"\x00" * 64) is None
    assert M.mp4_metadata(None) is None


def test_mp4_decode_meta_and_sample_frames(media):
    spark, _ = media
    mp4 = _build_mp4(320, 240, 25, 12_000)
    df = spark.createDataFrame(
        [(7, "video", mp4, "https://a.com/r.mp4", "video/mp4")],
        M.MEDIA_SCHEMA,
    )
    meta = M.decode_meta(df).collect()[0]
    assert (meta["width"], meta["height"]) == (320, 240)
    assert meta["n_frames"] == 25
    assert meta["duration_ms"] == 12_000
    frames = M.sample_frames(df, every_n=10).collect()
    assert sorted(r["frame_idx"] for r in frames) == [0, 10, 20]


def test_mp4_metadata_never_raises_on_garbage():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=80, deadline=None)
    @given(st.binary(max_size=256))
    def fuzz(b):
        for prefix in (b"", b"\x00\x00\x00\x14ftyp", b"\x00\x00\x00\x08moov"):
            M.mp4_metadata(prefix + b)

    fuzz()


def test_png_wavefront_unfilter_parity_large_random_filters():
    """The vectorized anti-diagonal wavefront unfilter must be
    bit-identical to the reference per-byte semantics on larger images
    with adversarial per-row filter mixes, for both RGB and RGBA — plus
    the uniform-filter closed forms (none/sub/up) and uniform avg/paeth."""
    import struct
    import zlib

    import numpy as np

    def build_png(px, ftypes, ch):
        h, w, _ = px.shape
        stride = w * ch
        flat = px.reshape(h, stride)
        raw = bytearray()
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(h):
            raw.append(ftypes[y])
            raw.extend(
                _ref_filter_row(flat[y], prev, ftypes[y], ch).tobytes()
            )
            prev = flat[y]

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(
                b"IHDR",
                struct.pack(
                    ">IIBBBBB", w, h, 8, 2 if ch == 3 else 6, 0, 0, 0
                ),
            )
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(17)
    for ch in (3, 4):
        h, w = 48, 37
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        cases = [
            rng.integers(0, 5, h).tolist(),      # random mix
            [0] * h, [1] * h, [2] * h,           # closed-form paths
            [3] * h, [4] * h,                    # uniform wavefront paths
            [4] * (h // 2) + [1] * (h - h // 2), # run transition
        ]
        for ftypes in cases:
            back = M.decode_png(build_png(px, ftypes, ch))
            assert back is not None
            assert (back == px).all(), (ch, ftypes[:6])


def test_png_unfilter_512_is_fast():
    """Regression tripwire for the round-5 directive (>=10x on 512x512:
    measured paeth 16x / average 30x / mixed 11x vs the per-byte loop,
    ~0.52s -> 17-50ms). Generous absolute bound so CI noise can't flake
    it while a reversion to per-byte Python (~0.5s) still trips."""
    import time

    import numpy as np

    h = w = 512
    rng = np.random.default_rng(3)
    rows = rng.integers(0, 256, (h, w * 3), dtype=np.uint8)
    for fts in ([4] * h, [3] * h, rng.integers(0, 5, h).tolist()):
        t0 = time.perf_counter()
        out = M._png_unfilter(rows, np.asarray(fts), w, 3)
        assert out.shape == (h, w * 3)
        assert time.perf_counter() - t0 < 0.3


def test_avi_roundtrip_and_truncation():
    import numpy as np

    rng = np.random.default_rng(11)
    for n, h, w in [(6, 9, 7), (3, 4, 8), (1, 2, 2)]:
        fr = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        blob = M.encode_avi(fr, fps=10)
        out = M.decode_avi(blob)
        assert out is not None
        back, fps = out
        assert fps == 10 and back.shape == fr.shape and (back == fr).all()
    # truncated movi yields the intact frame prefix, never raises
    fr = rng.integers(0, 256, (6, 9, 7, 3), dtype=np.uint8)
    blob = M.encode_avi(fr)
    tr = M.decode_avi(blob[: len(blob) // 2])
    assert tr is not None and 0 < tr[0].shape[0] < 6
    assert (tr[0] == fr[: tr[0].shape[0]]).all()
    assert M.decode_avi(b"") is None
    assert M.decode_avi(b"RIFFxxxxAVI junk") is None


def test_avi_decode_never_raises_on_garbage():
    from hypothesis import given, settings, strategies as st

    import numpy as np

    fr = np.zeros((2, 3, 3, 3), dtype=np.uint8)
    base = M.encode_avi(fr)

    @given(st.binary(max_size=512))
    @settings(max_examples=200, deadline=None)
    def run(blob):
        M.decode_avi(blob)
        M.decode_avi(b"RIFF" + blob)
        mutated = bytearray(base)
        for i, b in enumerate(blob[:32]):
            mutated[(b * 37 + i) % len(mutated)] ^= b or 1
        M.decode_avi(bytes(mutated))

    run()


def test_sample_frames_real_pixels_for_avi(media, spark=None):
    """sample_frames on an uncompressed AVI emits REAL frames as BMP
    bytes — decodable downstream, pixel-exact against the source —
    while compressed/mp4 rows keep the documented stub path."""
    import numpy as np
    import pandas as pd
    from tests.sparkutil import get_spark

    spark = get_spark()
    rng = np.random.default_rng(5)
    fr = rng.integers(0, 256, (25, 6, 5, 3), dtype=np.uint8)
    avi = M.encode_avi(fr, fps=5)
    pdf = pd.DataFrame(
        {
            "media_id": pd.Series([1], dtype="int64"),
            "kind": ["video"],
            "media": [avi],
            "source_url": ["http://v.example/a.avi"],
            "content_type": ["video/x-msvideo"],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = M.sample_frames(df, every_n=10).collect()
    assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [0, 10, 20]
    for r in rows:
        img = M.decode_bmp(bytes(r["frame"]))
        assert img is not None
        assert (img == fr[r["frame_idx"]]).all()
    # decode_meta reports the real dims/frames/duration for AVI
    meta = M.decode_meta(df).collect()[0]
    assert (meta["width"], meta["height"], meta["n_frames"]) == (5, 6, 25)
    assert meta["duration_ms"] == 5000


def test_jpeg_roundtrip_psnr_and_subsampling():
    """From-scratch baseline JPEG: encode->decode must reconstruct
    within lossy-codec tolerance (PSNR > 30 dB on smooth content at
    q90), for 4:4:4 and 4:2:0, including non-multiple-of-16 dims."""
    import numpy as np

    from crabspark.jpeg import decode_jpeg, encode_jpeg

    h, w = 37, 53
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(yy * 3 + xx * 2) % 256, (xx * 4) % 256, (yy * 5) % 256], axis=-1
    ).astype(np.uint8)
    for sub in (False, True):
        blob = encode_jpeg(img, quality=90, subsample=sub)
        assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
        back = decode_jpeg(blob)
        assert back is not None and back.shape == img.shape
        mse = float(np.mean((back.astype(float) - img.astype(float)) ** 2))
        psnr = 10 * np.log10(255.0**2 / max(mse, 1e-9))
        assert psnr > 30.0, (sub, psnr)
    # quality ladder: lower quality -> smaller file, roughly worse psnr
    sizes = [len(encode_jpeg(img, quality=q)) for q in (95, 75, 40, 10)]
    assert sizes == sorted(sizes, reverse=True), sizes
    # dimensions via the marker walk agree with the decoder
    blob = encode_jpeg(img)
    assert M.jpeg_dimensions(blob) == (w, h)


def test_jpeg_decode_never_raises_and_rejects_nonbaseline():
    import numpy as np

    from hypothesis import given, settings, strategies as st

    from crabspark.jpeg import decode_jpeg, encode_jpeg

    img = np.zeros((9, 9, 3), np.uint8)
    base = encode_jpeg(img)
    # progressive SOF2 marker must be rejected, not mis-decoded
    prog = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_jpeg(prog) is None
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"\xff\xd8\xff\xd9") is None

    @given(st.binary(max_size=256))
    @settings(max_examples=200, deadline=None)
    def run(blob):
        decode_jpeg(blob)
        decode_jpeg(b"\xff\xd8" + blob)
        mutated = bytearray(base)
        for i, bb in enumerate(blob[:24]):
            mutated[(bb * 41 + i) % len(mutated)] ^= bb or 1
        decode_jpeg(bytes(mutated))

    run()


def test_jpeg_partial_scan_returns_none():
    """Only the first scan is decoded, so a scan that lists fewer
    components than the frame (non-interleaved or multi-scan baseline)
    must give None, not wrong pixels."""
    import struct

    import numpy as np

    from crabspark.jpeg import decode_jpeg, encode_jpeg

    blob = encode_jpeg(np.full((16, 16, 3), 90, np.uint8))
    sos = b"\xff\xda" + struct.pack(">HB", 12, 3) + b"\x01\x00\x02\x11\x03\x11"
    assert blob.count(sos) == 1
    # same scan header, listing only component 1 (Y, tables 0/0)
    luma = b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00"
    luma_only = blob.replace(sos, luma)
    assert decode_jpeg(blob) is not None
    assert decode_jpeg(luma_only) is None


def test_encoders_reject_u16_overflow_and_resize_passes_through(media):
    """JPEG and GIF store each side as u16: a 1x70000 image raises
    ValueError, and resize_images to that size takes its tagged
    pass-through instead of failing the task with struct.error."""
    import numpy as np
    import pandas as pd

    from crabspark.jpeg import encode_jpeg

    wide = np.zeros((1, 70000, 3), np.uint8)
    for enc in (encode_jpeg, M.encode_gif):
        with pytest.raises(ValueError, match="65535"):
            enc(wide)
        with pytest.raises(ValueError, match="65535"):
            enc(np.zeros((0, 4, 3), np.uint8))

    spark, _ = media
    blobs = [encode_jpeg(np.full((8, 8, 3), 40, np.uint8)),
             M.encode_gif(np.full((8, 8, 3), 40, np.uint8))]
    pdf = pd.DataFrame(
        {
            "media_id": pd.Series([1, 2], dtype="int64"),
            "kind": ["image", "image"],
            "media": blobs,
            "source_url": ["http://i.example/x.jpg", "http://i.example/x.gif"],
            "content_type": ["image/jpeg", "image/gif"],
        }
    )
    rows = M.resize_images(spark.createDataFrame(pdf), 70000, 1).collect()
    for r, blob in zip(sorted(rows, key=lambda r: r["media_id"]), blobs):
        assert r["decoded"] is False
        assert bytes(r["media"]) == b"RSZ70000x1:" + blob


def test_jpeg_flows_through_image_operators(media):
    """decode_image/image_features/resize_images treat baseline JPEG as
    a REAL format now: features come from pixels (not the fake), resize
    re-encodes as JPEG and the result decodes at the target size."""
    import numpy as np
    import pandas as pd
    from tests.sparkutil import get_spark

    from crabspark.jpeg import encode_jpeg

    spark = get_spark()
    h, w = 24, 32
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(yy * 7) % 256, (xx * 3) % 256, (yy + xx) % 256], axis=-1
    ).astype(np.uint8)
    blob = encode_jpeg(img, quality=92)
    dec = M.decode_image(blob)
    assert dec is not None and dec[1] == "jpeg" and dec[0].shape == img.shape

    pdf = pd.DataFrame(
        {
            "media_id": pd.Series([7], dtype="int64"),
            "kind": ["image"],
            "media": [blob],
            "source_url": ["http://i.example/x.jpg"],
            "content_type": ["image/jpeg"],
        }
    )
    df = spark.createDataFrame(pdf)
    feats = M.image_features(df).collect()[0]
    assert feats["decoded"] is True
    rs = M.resize_images(df, 16, 12).collect()[0]
    assert rs["decoded"] is True
    out = M.decode_image(bytes(rs["media"]))
    assert out is not None and out[1] == "jpeg"
    assert out[0].shape == (12, 16, 3)
