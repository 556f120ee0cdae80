"""Multimodal plumbing tests: RAWM round-trip, decode/resize/frame-sample
via mapInPandas, and the binaryFile source."""

from __future__ import annotations

import numpy as np
import pytest

from data_engineering_assignment_spark import sources
from data_engineering_assignment_spark.functions.multimodal import (
    decode_media,
    decode_rawm,
    encode_rawm,
    resize_media,
    sample_frames,
)


def frames(n, h, w, c=4, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(n, h, w, c), dtype=np.uint8)


def media_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "path string, media_type string, width int, height int, channels int,"
        " n_frames int, content binary",
    )


def test_rawm_roundtrip():
    f = frames(3, 4, 5)
    decoded, meta = decode_rawm(encode_rawm(f))
    assert np.array_equal(decoded, f)
    assert meta == {"width": 5, "height": 4, "channels": 4, "n_frames": 3}


def test_decode_media_flags_bad_content(spark):
    good = encode_rawm(frames(1, 2, 2))
    df = media_df(
        spark,
        [
            ("a.rawm", "image", 2, 2, 4, 1, bytearray(good)),
            ("b.png", "image", 0, 0, 0, 0, bytearray(b"\x89PNG not supported")),
        ],
    )
    out = {r["path"]: r for r in decode_media(df).collect()}
    assert out["a.rawm"]["decoded_ok"] and out["a.rawm"]["width"] == 2
    assert not out["b.png"]["decoded_ok"]


def test_resize_nearest_neighbor(spark):
    f = frames(2, 8, 8)
    df = media_df(spark, [("v", "video", 8, 8, 4, 2, bytearray(encode_rawm(f)))])
    out = resize_media(df, 4).collect()[0]
    decoded, meta = decode_rawm(bytes(out["content"]))
    assert meta["width"] == 4 and meta["height"] == 4 and meta["n_frames"] == 2
    # nearest-neighbor with integer stride 2 → every other pixel
    assert np.array_equal(decoded, f[:, ::2, ::2, :])


def test_sample_frames(spark):
    f = frames(10, 2, 2)
    df = media_df(spark, [("v", "video", 2, 2, 4, 10, bytearray(encode_rawm(f)))])
    out = sample_frames(df, every_k=3).collect()[0]
    decoded, meta = decode_rawm(bytes(out["content"]))
    assert meta["n_frames"] == 4  # frames 0,3,6,9
    assert np.array_equal(decoded, f[::3])


def test_binary_file_source_roundtrip(spark, tmp_path):
    f = frames(1, 3, 3)
    p = tmp_path / "x.rawm"
    p.write_bytes(encode_rawm(f))
    (tmp_path / "ignore.txt").write_text("not media")
    df = sources.read_binary_files(spark, str(tmp_path), glob="*.rawm")
    rows = df.collect()
    assert len(rows) == 1
    decoded, meta = decode_rawm(bytes(rows[0]["content"]))
    assert meta["width"] == 3 and np.array_equal(decoded, f)


def tiny_png(pixels: np.ndarray) -> bytes:
    """Minimal in-test PNG encoder (RGBA, 8-bit, no filters) — lets the PIL
    decode hook be exercised without shipping binary fixtures."""
    import struct
    import zlib

    h, w, _ = pixels.shape

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)  # 8-bit RGBA
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_jpeg_malformed_without_pil_raises_clear_error():
    """Baseline JPEG (gray AND interleaved color) decodes natively now
    (functions/jpeg.py); a MALFORMED file (SOF but no scan data) still
    falls through to the guarded PIL hook — the error must say so."""
    import struct

    from data_engineering_assignment_spark.functions.multimodal import (
        _pil_image_module,
        decode_any,
    )

    if _pil_image_module() is not None:
        pytest.skip("PIL present — PIL raises its own error")
    # SOI + SOF0 declaring three components, but no SOS/entropy data
    sof_payload = struct.pack(">BHHB", 8, 8, 8, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    truncated = (
        b"\xff\xd8"
        + b"\xff\xc0"
        + (len(sof_payload) + 2).to_bytes(2, "big")
        + sof_payload
    )
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_any(truncated)


def test_png_decode_native():
    """PNG decodes dependency-free: bytes → one BGRA frame matching Spark's
    image-source byte order (reference decodes OpenMoji PNGs the same way)."""
    from data_engineering_assignment_spark.functions.multimodal import decode_any

    rgba = frames(1, 3, 2)[0]  # (h=3, w=2, 4) RGBA
    decoded, meta = decode_any(tiny_png(rgba))
    assert meta == {"width": 2, "height": 3, "channels": 4, "n_frames": 1}
    assert np.array_equal(decoded[0], rgba[:, :, [2, 1, 0, 3]])


def test_png_encode_decode_roundtrip():
    from data_engineering_assignment_spark.functions.multimodal import (
        decode_png,
        encode_png,
    )

    bgra = frames(1, 5, 7)[0]  # treat as BGRA, encode_png's input order
    decoded, meta = decode_png(encode_png(bgra))
    assert meta == {"width": 7, "height": 5, "channels": 4, "n_frames": 1}
    assert np.array_equal(decoded[0], bgra)


def _png_with_filters(pixels: np.ndarray, filters: list[int]) -> bytes:
    """Forward-filter each scanline per the PNG spec (one filter type per
    row) so the decoder's unfiltering of every type is exercised."""
    import struct
    import zlib

    h, w, c = pixels.shape
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        cur = pixels[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        line = cur.copy()
        for x in range(w * c):
            a = cur[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            if f == 1:
                line[x] = (cur[x] - a) & 0xFF
            elif f == 2:
                line[x] = (cur[x] - b) & 0xFF
            elif f == 3:
                line[x] = (cur[x] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                line[x] = (cur[x] - pred) & 0xFF
        raw += bytes([f]) + bytes(line.astype(np.uint8))
        prev = cur

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_all_filter_types():
    """Rows filtered with Sub/Up/Average/Paeth (and None) must all
    reconstruct to the original pixels."""
    from data_engineering_assignment_spark.functions.multimodal import decode_png

    rgba = frames(1, 10, 6, seed=3)[0]
    decoded, _ = decode_png(_png_with_filters(rgba, [0, 1, 2, 3, 4]))
    assert np.array_equal(decoded[0], rgba[:, :, [2, 1, 0, 3]])


def _png_chunks(w, h, depth, color_type, raw, extra=b""):
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + extra
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_palette_with_transparency():
    import struct
    import zlib

    from data_engineering_assignment_spark.functions.multimodal import decode_png

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    # palette: red, green, blue; tRNS: red fully transparent, green 128
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = b"\x00" + bytes([0, 1, 2])  # one row, indices 0 1 2
    png = _png_chunks(
        3, 1, 8, 3, raw, extra=chunk(b"PLTE", pal) + chunk(b"tRNS", bytes([0, 128]))
    )
    decoded, meta = decode_png(png)
    assert meta["width"] == 3 and meta["height"] == 1
    # BGRA order
    assert decoded[0, 0, 0].tolist() == [0, 0, 255, 0]      # red, alpha 0
    assert decoded[0, 0, 1].tolist() == [0, 255, 0, 128]    # green, alpha 128
    assert decoded[0, 0, 2].tolist() == [255, 0, 0, 255]    # blue, opaque


def test_png_grayscale_and_gray_alpha():
    from data_engineering_assignment_spark.functions.multimodal import decode_png

    gray = _png_chunks(2, 1, 8, 0, b"\x00" + bytes([7, 200]))
    decoded, _ = decode_png(gray)
    assert decoded[0, 0, 0].tolist() == [7, 7, 7, 255]
    assert decoded[0, 0, 1].tolist() == [200, 200, 200, 255]

    ga = _png_chunks(1, 1, 8, 4, b"\x00" + bytes([9, 42]))
    decoded, _ = decode_png(ga)
    assert decoded[0, 0, 0].tolist() == [9, 9, 9, 42]


def test_png_rgb_opaque():
    from data_engineering_assignment_spark.functions.multimodal import decode_png

    rgb = _png_chunks(1, 1, 8, 2, b"\x00" + bytes([10, 20, 30]))
    decoded, _ = decode_png(rgb)
    assert decoded[0, 0, 0].tolist() == [30, 20, 10, 255]  # BGR + opaque


def test_png_16bit_high_byte_take():
    """16-bit samples map to 8-bit output via the high byte (OpenCV imread
    convention), for every 16-bit-legal color type, with low bytes chosen
    to catch any rounding/averaging alternative."""
    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import (
        decode_png,
        encode_png16,
    )

    rng = np.random.default_rng(3)
    x16 = rng.integers(0, 65536, (6, 11, 4)).astype(np.uint16)
    d, meta = decode_png(encode_png16(x16))
    exp = (x16 >> 8).astype(np.uint8)[:, :, [2, 1, 0, 3]]
    assert np.array_equal(d[0], exp)
    assert meta == {"width": 11, "height": 6, "channels": 4, "n_frames": 1}
    # manual 16-bit gray via the raw-chunk helper: 0x0102 -> high byte 1
    png = _png_chunks(1, 1, 16, 0, b"\x00" + bytes([1, 2]))
    d, _ = decode_png(png)
    assert d[0, 0, 0].tolist() == [1, 1, 1, 255]


def test_png_16bit_sub_filter_bpp():
    """Filter type 1 (Sub) on 16-bit RGBA references the byte 8 positions
    back (bpp = nch * depth/8 = 8), not 4 — a bpp regression decodes the
    second pixel wrong."""
    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import decode_png

    first = bytes([10, 0, 20, 0, 30, 0, 40, 0])  # RGBA16 pixel 1
    delta = bytes([5, 0, 5, 0, 5, 0, 5, 0])  # pixel 2 = pixel 1 + 0x0500
    png = _png_chunks(2, 1, 16, 6, b"\x01" + first + delta)
    d, _ = decode_png(png)
    assert d[0, 0, 0].tolist() == [30, 20, 10, 40]  # BGRA of high bytes
    assert d[0, 0, 1].tolist() == [35, 25, 15, 45]


def test_png_adam7_matches_sequential():
    """Adam7 interlaced files decode to exactly the sequential pixels, at
    sizes covering empty passes (w or h < pass offsets), single pixels and
    multi-block images; the encoder's Up-filtered rows pin the per-pass
    prev-row reset."""
    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import (
        decode_png,
        encode_png,
        encode_png16,
    )

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (1, 9), (2, 3), (5, 7), (8, 8), (9, 10), (16, 17), (3, 33)]:
        f = rng.integers(0, 256, (h, w, 4), np.uint8)
        seq, _ = decode_png(encode_png(f))
        inter, _ = decode_png(encode_png(f, interlace=1))
        assert np.array_equal(seq, inter), (h, w)
        assert np.array_equal(seq[0], f), (h, w)
    x16 = rng.integers(0, 65536, (9, 12, 4)).astype(np.uint16)
    seq, _ = decode_png(encode_png16(x16))
    inter, _ = decode_png(encode_png16(x16, interlace=1))
    assert np.array_equal(seq, inter)


def test_png_sub_byte_gray_depths():
    """1/2/4-bit grayscale unpacks MSB-first and rescales exactly by
    255/(2^d - 1); 16-bit gray takes the high byte; each also decodes
    identically through the Adam7 path (sub-byte row packing is per
    pass)."""
    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import (
        decode_png,
        encode_png_gray,
    )

    rng = np.random.default_rng(5)
    for depth, scale in [(1, 255), (2, 85), (4, 17)]:
        g = rng.integers(0, 1 << depth, (5, 13)).astype(np.uint16)
        d, _ = decode_png(encode_png_gray(g, depth))
        assert np.array_equal(d[0, :, :, 0], (g * scale).astype(np.uint8)), depth
        assert (d[0, :, :, 3] == 255).all()
        di, _ = decode_png(encode_png_gray(g, depth, interlace=1))
        assert np.array_equal(di, d), depth
    g16 = rng.integers(0, 65536, (4, 9)).astype(np.uint16)
    d, _ = decode_png(encode_png_gray(g16, 16))
    assert np.array_equal(d[0, :, :, 0], (g16 >> 8).astype(np.uint8))


def test_png_palette_sub_byte_and_trns():
    """2/4-bit palette indices unpack to PLTE colors with tRNS alpha, and
    the interlaced variant matches."""
    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import (
        decode_png,
        encode_png_palette,
    )

    rng = np.random.default_rng(9)
    pal = np.stack(
        [np.arange(16) * 16, 255 - np.arange(16) * 16, np.arange(16) * 8],
        axis=1,
    ).astype(np.uint8)
    atab = (255 - np.arange(16) * 8).astype(np.uint8)
    idx = rng.integers(0, 16, (7, 10)).astype(np.uint16)
    for depth in (4, 8):
        d, _ = decode_png(encode_png_palette(idx, pal, atab.tobytes(), depth))
        assert np.array_equal(d[0, :, :, :3], pal[idx][:, :, [2, 1, 0]])
        assert np.array_equal(d[0, :, :, 3], atab[idx])
        di, _ = decode_png(
            encode_png_palette(idx, pal, atab.tobytes(), depth, interlace=1)
        )
        assert np.array_equal(di, d), depth
    idx2 = rng.integers(0, 4, (5, 9)).astype(np.uint16)
    d, _ = decode_png(encode_png_palette(idx2, pal[:4], None, 2))
    assert np.array_equal(d[0, :, :, :3], pal[:4][idx2][:, :, [2, 1, 0]])
    assert (d[0, :, :, 3] == 255).all()


def test_png_trns_single_transparent_color():
    """The gray/RGB tRNS form (spec §11.3.2): pixels matching the 16-bit
    sample value(s) at SOURCE depth become fully transparent — including a
    16-bit RGB case where only an exact 16-bit match (not the 8-bit
    rendering) is transparent."""
    import struct
    import zlib

    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import (
        _png_encode_raw,
        decode_png,
        encode_png_gray,
    )

    def add_trns(png: bytes, payload: bytes) -> bytes:
        i = png.index(b"IDAT") - 4
        chunk = (
            struct.pack(">I", len(payload))
            + b"tRNS"
            + payload
            + struct.pack(">I", zlib.crc32(b"tRNS" + payload))
        )
        return png[:i] + chunk + png[i:]

    g = np.array([[7, 8], [9, 7]], np.uint16)
    d, _ = decode_png(add_trns(encode_png_gray(g, 8), struct.pack(">H", 7)))
    assert d[0, :, :, 3].tolist() == [[0, 255], [255, 0]]

    x = np.zeros((1, 2, 3), np.uint16)
    x[0, 0] = [256, 512, 768]
    x[0, 1] = [256, 512, 769]  # same high bytes, different 16-bit value
    png = add_trns(
        _png_encode_raw(x, 2, 16), struct.pack(">HHH", 256, 512, 768)
    )
    d, _ = decode_png(png)
    assert d[0, 0, 0, 3] == 0 and d[0, 0, 1, 3] == 255
    assert np.array_equal(d[0, 0, 0, :3], d[0, 0, 1, :3])  # 8-bit render equal


def test_png_illegal_depth_combo_raises():
    from data_engineering_assignment_spark.functions.multimodal import decode_png

    # depth 2 is illegal for RGB (color type 2)
    png = _png_chunks(1, 1, 2, 2, b"\x00\x00")
    with pytest.raises(ValueError, match="illegal"):
        decode_png(png)


def test_decode_media_real_png_end_to_end(spark):
    """decode_media over a DataFrame of real PNG bytes: the mapInPandas
    plumbing + native decoder refresh metadata and flag decoded_ok."""
    png = tiny_png(frames(1, 4, 6)[0])  # h=4, w=6
    df = media_df(
        spark,
        [
            ("x.png", "image", 0, 0, 0, 0, bytearray(png)),
            ("bad.png", "image", 0, 0, 0, 0, bytearray(b"\x89PNG\r\n\x1a\njunk")),
        ],
    )
    out = {r["path"]: r for r in decode_media(df).collect()}
    ok = out["x.png"]
    assert ok["decoded_ok"] and (ok["width"], ok["height"], ok["channels"], ok["n_frames"]) == (6, 4, 4, 1)
    assert out["bad.png"]["decoded_ok"] is False


def test_wav_roundtrip_and_meta():
    from data_engineering_assignment_spark.functions.multimodal import (
        decode_wav,
        encode_wav,
    )

    t = np.linspace(0, 1, 1600, endpoint=False)
    stereo = np.stack([np.sin(2 * np.pi * 440 * t), np.cos(2 * np.pi * 220 * t)], axis=1)
    wav = encode_wav(stereo, sample_rate=1600)
    samples, meta = decode_wav(wav)
    assert meta == {"sample_rate": 1600, "n_channels": 2, "n_samples": 1600, "bit_depth": 16}
    # 16-bit quantization: encode scales by 32767, decode by 2^15, so the
    # worst case is (0.5 + |x|) / 32768 ≈ 1.5 LSB
    assert np.abs(samples - stereo).max() < 2.0 / 32768


def test_wav_8bit_and_float32():
    import struct
    from data_engineering_assignment_spark.functions.multimodal import decode_wav

    def wav(tag, bits, data):
        fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, bits)
        return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    s8, _ = decode_wav(wav(1, 8, bytes([128, 255, 0])))  # mid, max, min
    assert np.allclose(s8[:, 0], [0.0, 127 / 128, -1.0])
    sf, meta = decode_wav(wav(3, 32, np.array([0.5, -0.25], np.float32).tobytes()))
    assert np.allclose(sf[:, 0], [0.5, -0.25]) and meta["bit_depth"] == 32

    import pytest as _pytest
    # MS-ADPCM (tag 2) decodes natively since round 10; MP3-in-WAV stays
    # the guarded unsupported profile
    with _pytest.raises(NotImplementedError, match="format tag"):
        decode_wav(wav(85, 4, b"\x00\x00"))  # MP3-in-WAV


def test_extract_audio_features(spark):
    from data_engineering_assignment_spark.functions.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    t = np.linspace(0, 1, 800, endpoint=False)
    rows = [
        ("sine.wav", "audio", 0, 0, 0, 0, bytearray(encode_wav(np.sin(2 * np.pi * 4 * t), 800))),
        ("silence.wav", "audio", 0, 0, 0, 0, bytearray(encode_wav(np.zeros(400), 800))),
    ]
    df = media_df(spark, rows)
    out = {r["path"]: r for r in extract_audio_features(df).collect()}
    sine, silence = out["sine.wav"], out["silence.wav"]
    assert sine["sample_rate"] == 800 and sine["n_channels"] == 1
    assert abs(sine["duration_s"] - 1.0) < 1e-9
    assert abs(sine["rms"] - 1 / np.sqrt(2)) < 0.01  # sine RMS = 1/sqrt(2)
    assert 0.95 < sine["peak"] <= 1.0
    assert abs(sine["zero_cross_rate"] - 8 / 799) < 0.01  # 4 Hz → 8 crossings
    assert silence["rms"] == 0.0 and silence["duration_s"] == 0.5


def test_extract_audio_features_dead_letters_malformed_wav(spark):
    """A junk WAV row becomes ONE parse_ok = false row with NULL features
    instead of failing the task; the good rows are unchanged."""
    from data_engineering_assignment_spark.functions.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    good = bytearray(encode_wav(np.tile([0.25, -0.25], 20), 8000))
    rows = [
        ("good.wav", "audio", 0, 0, 0, 0, good),
        ("junk.wav", "audio", 0, 0, 0, 0, bytearray(b"RIFX not a wav")),
    ]
    out = {r["path"]: r for r in extract_audio_features(media_df(spark, rows)).collect()}
    assert set(out) == {"good.wav", "junk.wav"}
    ok = out["good.wav"]
    assert ok["parse_ok"] and (ok["sample_rate"], ok["n_channels"]) == (8000, 1)
    assert (ok["duration_s"], ok["rms"], ok["peak"], ok["zero_cross_rate"]) == (
        40 / 8000, 0.25, 0.25, 1.0,
    )
    junk = out["junk.wav"]
    assert junk["parse_ok"] is False
    assert all(
        junk[c] is None
        for c in ("sample_rate", "n_channels", "duration_s", "rms", "peak",
                  "zero_cross_rate")
    )


def test_decode_media_wav(spark):
    """decode_any dispatches RIFF/WAVE: decode_media reports
    (n_samples, 1, n_channels) via the frame metadata fields."""
    from data_engineering_assignment_spark.functions.multimodal import encode_wav

    wav = encode_wav(np.zeros((100, 2)), 8000)
    df = media_df(spark, [("a.wav", "audio", 0, 0, 0, 0, bytearray(wav))])
    row = decode_media(df).collect()[0]
    assert row["decoded_ok"]
    assert (row["width"], row["height"], row["channels"], row["n_frames"]) == (100, 1, 2, 1)


def test_decode_any_wav_frame_axis_convention():
    """decode_any's WAV frames must follow the (n_frames, height, width,
    channels) convention of decode_rawm/decode_png — frames[..., ch] is
    channel ch, frames.shape[2] == width == n_samples."""
    from data_engineering_assignment_spark.functions.multimodal import (
        decode_any,
        encode_wav,
    )

    left = np.linspace(-1, 1, 50)
    right = np.linspace(1, -1, 50)
    frames, meta = decode_any(encode_wav(np.stack([left, right], axis=1), 8000))
    assert frames.shape == (1, 1, meta["width"], meta["channels"]) == (1, 1, 50, 2)
    assert np.abs(frames[0, 0, :, 0] - left).max() < 2.0 / 32768
    assert np.abs(frames[0, 0, :, 1] - right).max() < 2.0 / 32768


# ---------------------------------------------------------------- JPEG


def test_jpeg_flat_even_offset_roundtrip_exact():
    """Flat blocks with even level-shift offsets survive the Annex-K
    quantizer bit-exactly (the jpeg_decode_stats oracle's premise)."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    for v in (68, 128, 130, 186, 246):
        img = np.full((8, 16), v, np.uint8)
        dec = decode_jpeg(encode_jpeg_gray(img))
        assert dec.shape == (8, 16)
        assert np.array_equal(dec, img), f"flat value {v} drifted"


def test_jpeg_roundtrip_ac_and_padding():
    """AC-rich and non-multiple-of-8 images: dims exact, pixel error
    bounded by quantization loss (smooth content)."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    x, y = np.meshgrid(np.arange(21), np.arange(13))
    img = (128 + 70 * np.sin(x / 5.0) + 40 * np.cos(y / 4.0)).clip(0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg_gray(img))
    assert dec.shape == img.shape
    assert int(np.max(np.abs(dec.astype(int) - img.astype(int)))) <= 8


def test_jpeg_committed_fixtures_decode_to_named_goldens():
    """The committed jg_WxH_mM.jpg fixtures pin dims AND decoded mean in
    their filenames — a decoder regression breaks this without touching
    any fixture bytes."""
    import re
    from pathlib import Path

    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import decode_jpeg

    fdir = Path(__file__).parent / "fixtures" / "media"
    names = sorted(p.name for p in fdir.glob("jg_*.jpg"))
    assert len(names) >= 2
    for name in names:
        m = re.fullmatch(r"jg_(\d+)x(\d+)_m(\d+)\.jpg", name)
        assert m, name
        w, h, mean = int(m.group(1)), int(m.group(2)), int(m.group(3))
        dec = decode_jpeg((fdir / name).read_bytes())
        assert dec.shape == (h, w)
        assert int(round(float(dec.mean()))) == mean


def test_jpeg_decode_any_dispatch_and_unknown_segments():
    """decode_any routes JPEG magic to the native decoder (BGRA frames,
    gray replicated, alpha 255), and the marker parser skips unknown
    segments (APP0 / COM) like a real-world file carries."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import encode_jpeg_gray
    from data_engineering_assignment_spark.functions.multimodal import decode_any

    img = np.full((8, 8), 130, np.uint8)
    enc = encode_jpeg_gray(img)
    # splice an APP0 (JFIF) and a COM segment right after SOI
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    com = b"\xff\xfe" + (7).to_bytes(2, "big") + b"hello"
    spliced = enc[:2] + app0 + com + enc[2:]
    frames, meta = decode_any(spliced)
    assert (meta["width"], meta["height"], meta["channels"], meta["n_frames"]) == (8, 8, 4, 1)
    assert frames.shape == (1, 8, 8, 4)
    assert np.all(frames[0, :, :, 0] == 130)  # B == gray
    assert np.all(frames[0, :, :, 2] == 130)  # R == gray
    assert np.all(frames[0, :, :, 3] == 255)


def test_jpeg_rejects_out_of_scope_profiles():
    """Out-of-scope profiles must raise NotImplementedError (PIL hook
    territory), never decode wrong — and a baseline entropy stream
    mislabeled as SOF2 is CORRUPT progressive data: the multi-scan
    decoder must fail loudly, not emit pixels from semantics that don't
    match the marker."""
    import numpy as np
    import pytest

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    enc = bytearray(encode_jpeg_gray(np.full((8, 8), 99, np.uint8)))
    sof_at = bytes(enc).find(b"\xff\xc0")
    # baseline scan relabeled progressive: the SOS tail bytes (0, 63, 0)
    # declare a full-band DC+AC scan, invalid for SOF2 (DC scan, Se != 0)
    mislabeled = bytes(enc[:sof_at + 1]) + b"\xc2" + bytes(enc[sof_at + 2:])
    with pytest.raises(ValueError):
        decode_jpeg(mislabeled)
    # SOF0 claiming 12 bits is nonconformant (baseline is 8-bit only);
    # bogus precisions are guarded on both frame types. (SOF1/SOF2 at
    # 12 bits decode natively since round 10 — tested elsewhere.)
    twelve = bytearray(enc)
    twelve[sof_at + 4] = 12
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(twelve))
    for marker in (b"\xc0", b"\xc2"):
        ten = bytearray(enc)
        ten[sof_at + 1 : sof_at + 2] = marker
        ten[sof_at + 4] = 10
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(ten))


def test_wav_mulaw_decode():
    """G.711 mu-law expansion: the published full-scale/silence anchors,
    plus round-trip through an independent linear2ulaw reference encoder
    (the Sun g711.c segment search) — every decoded value must land within
    its segment's quantization step of the original."""
    import struct
    from data_engineering_assignment_spark.functions.multimodal import decode_wav

    def wav(data):
        fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
        return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    # table anchors: 0xFF and 0x7F are both zero (mu-law's double zero);
    # 0x80 is +32124 full scale, 0x00 is -32124
    s, meta = decode_wav(wav(bytes([0xFF, 0x7F, 0x80, 0x00])))
    got = (s[:, 0] * 32768.0).round().astype(int).tolist()
    assert got == [0, 0, 32124, -32124]
    assert meta["bit_depth"] == 8 and meta["sample_rate"] == 8000

    # independent encoder: Sun g711.c linear2ulaw
    seg_end = [0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF, 0x7FFF]

    def linear2ulaw(pcm):
        if pcm < 0:
            pcm = 0x84 - pcm
            mask = 0x7F
        else:
            pcm += 0x84
            mask = 0xFF
        seg = next((i for i, e in enumerate(seg_end) if pcm <= e), 8)
        if seg >= 8:
            return 0x7F ^ mask
        return ((seg << 4) | ((pcm >> (seg + 3)) & 0xF)) ^ mask

    pcms = list(range(-32000, 32001, 977)) + [-1, 0, 1, 8158, -8159]
    data = bytes(linear2ulaw(p) for p in pcms)
    s, _ = decode_wav(wav(data))
    decoded = (s[:, 0] * 32768.0).round().astype(int)
    for p, d in zip(pcms, decoded):
        # quantization step of p's segment bounds the round-trip error
        seg = next((i for i, e in enumerate(seg_end) if abs(p) + 0x84 <= e), 7)
        assert abs(d - p) <= (1 << (seg + 3)), (p, d, seg)


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2 fill bytes (0xFF padding before a marker id) must be
    skipped, not dispatched on — hardware encoders emit them (r7 review:
    previously raised 'no SOS marker' on conformant files)."""
    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3 + 10).astype(np.uint8)
    wav = encode_jpeg_gray(img)
    base = decode_jpeg(wav)
    assert base.ndim == 2
    # inject fill-byte runs after SOI (before the first marker's 0xFF)
    padded = wav[:2] + b"\xff\xff\xff" + wav[2:]
    assert np.array_equal(decode_jpeg(padded), base)


def test_jpeg_color_roundtrip_all_subsamplings():
    """Interleaved color decode: smooth gradients survive each subsampling
    with small bounded error; dims exact; output is (h, w, 3) RGB."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    h, w = 24, 33
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 7) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], axis=-1
    ).astype(np.uint8)
    img = (img // 16 * 16).astype(np.uint8)  # low-pass, JPEG-friendly
    for ss in ("444", "422", "420"):
        dec = decode_jpeg(encode_jpeg_color(img, ss))
        assert dec.shape == (h, w, 3), ss
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 24, ss


def test_jpeg_color_flat_neutral_chroma_exact():
    """Flat gray-valued color images with even level-shift offsets decode
    EXACTLY through the full color path (the jpeg_decode_stats oracle's
    premise): Cb=Cr=128 quantizes to all-zero chroma under any table, and
    the YCbCr->RGB transform is then the identity on Y."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    for v in (78, 130, 176):
        flat = np.full((16, 24, 3), v, np.uint8)
        for ss in ("444", "422", "420"):
            assert np.array_equal(decode_jpeg(encode_jpeg_color(flat, ss)), flat)


def test_jpeg_color_primaries_roundtrip():
    """Saturated primaries stress the chroma channels (Cb/Cr far from
    128): each 8x8-aligned primary block must come back close, proving Cb
    and Cr aren't swapped or mis-scaled (a swap flips red and blue by
    ~180 values)."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    img = np.zeros((8, 24, 3), np.uint8)
    img[:, 0:8, 0] = 255   # red block
    img[:, 8:16, 1] = 255  # green block
    img[:, 16:24, 2] = 255  # blue block
    for ss in ("444", "420"):
        dec = decode_jpeg(encode_jpeg_color(img, ss)).astype(int)
        for sl, ch in (((slice(None), slice(0, 8)), 0),
                       ((slice(None), slice(8, 16)), 1),
                       ((slice(None), slice(16, 24)), 2)):
            blk = dec[sl]
            on = blk[2:-2, 2:-2, ch]     # interior: avoid block-edge ringing
            off = [blk[2:-2, 2:-2, c] for c in range(3) if c != ch]
            assert on.mean() > 180, (ss, ch)
            assert max(o.mean() for o in off) < 80, (ss, ch)


def test_jpeg_color_via_decode_any_bgra():
    """decode_any dispatches color JPEG to the native decoder: one BGRA
    frame with R/B in Spark's image-source (CV) byte order."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import encode_jpeg_color
    from data_engineering_assignment_spark.functions.multimodal import decode_any

    img = np.zeros((8, 8, 3), np.uint8)
    img[:, :, 0] = 200  # pure-ish red
    frames_, meta = decode_any(encode_jpeg_color(img, "444"))
    assert meta == {"width": 8, "height": 8, "channels": 4, "n_frames": 1}
    assert frames_.shape == (1, 8, 8, 4)
    b, g, r = (frames_[0, :, :, i].astype(int) for i in range(3))
    assert r.mean() > 150 and b.mean() < 60  # BGRA order, not RGBA
    assert np.all(frames_[0, :, :, 3] == 255)


def test_jpeg_standalone_markers_skipped():
    """TEM (0x01) and RSTn (0xD0-D7) are standalone markers — no length
    field. A conformant parser must skip them without misreading data
    bytes as a segment length (r7 advice)."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    enc = encode_jpeg_gray(np.full((8, 8), 98, np.uint8))
    # splice standalone markers right after SOI
    spliced = enc[:2] + b"\xff\x01\xff\xd0" + enc[2:]
    assert np.array_equal(decode_jpeg(spliced), np.full((8, 8), 98, np.uint8))


def test_jpeg_truncated_tables_raise_value_error():
    """Truncated DQT/DHT payloads raise a descriptive ValueError, not a
    bare IndexError (r7 advice)."""
    import numpy as np
    import pytest

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    enc = encode_jpeg_gray(np.full((8, 8), 98, np.uint8))
    dqt_at = enc.find(b"\xff\xdb")
    # shrink the DQT segment length so the 64 table values overrun it
    bad = bytearray(enc)
    bad[dqt_at + 2 : dqt_at + 4] = (10).to_bytes(2, "big")
    with pytest.raises(ValueError, match="truncated DQT"):
        decode_jpeg(bytes(bad))
    dht_at = enc.find(b"\xff\xc4")
    bad = bytearray(enc)
    bad[dht_at + 2 : dht_at + 4] = (12).to_bytes(2, "big")
    with pytest.raises(ValueError, match="truncated DHT"):
        decode_jpeg(bytes(bad))


def test_jpeg_color_committed_fixtures_decode_to_named_goldens():
    """The committed jc_WxH_mM.jpg COLOR fixtures pin dims AND decoded
    all-channel mean in their filenames — a color-path regression breaks
    this without touching any fixture bytes."""
    import re
    from pathlib import Path

    from data_engineering_assignment_spark.functions.jpeg import decode_jpeg

    fdir = Path(__file__).parent / "fixtures" / "media"
    names = sorted(p.name for p in fdir.glob("jc_*.jpg"))
    assert len(names) >= 2
    for name in names:
        m = re.fullmatch(r"jc_(\d+)x(\d+)_m(\d+)\.jpg", name)
        assert m, name
        w, h, mean = int(m.group(1)), int(m.group(2)), int(m.group(3))
        dec = decode_jpeg((fdir / name).read_bytes())
        assert dec.shape == (h, w, 3)
        assert int(round(float(dec.mean()))) == mean


def test_jpeg_restart_intervals_bit_identical():
    """A restart-interval stream decodes to EXACTLY the same pixels as the
    plain stream (markers + DC resets are lossless framing), gray and
    color, for intervals that land mid-row, per-row and off-boundary."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(17)
    gray = (rng.integers(0, 256, (24, 40), dtype=np.uint8) // 16 * 16).astype(
        np.uint8
    )
    base = decode_jpeg(encode_jpeg_gray(gray))
    for ri in (1, 2, 5, 7):
        enc = encode_jpeg_gray(gray, restart_interval=ri)
        assert np.array_equal(decode_jpeg(enc), base), f"gray ri={ri}"
    # ri=1 over 15 MCUs = 14 restarts: the RST index wraps modulo 8
    many = encode_jpeg_gray(gray, restart_interval=1)
    assert np.array_equal(decode_jpeg(many), base)
    # and an interval > 8 that itself wraps: 16x400 = 100 MCUs at ri=9
    # emits 11 restarts, so RST0..RST7 cycle past a full period even
    # though the interval exceeds the marker alphabet
    wide = np.tile(gray, (1, 10))[:16, :400]
    base_w = decode_jpeg(encode_jpeg_gray(wide))
    enc_w = encode_jpeg_gray(wide, restart_interval=9)
    assert np.array_equal(decode_jpeg(enc_w), base_w)

    h, w = 24, 33
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 7) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], axis=-1
    ).astype(np.uint8)
    img = (img // 16 * 16).astype(np.uint8)
    for ss in ("444", "420"):
        base_c = decode_jpeg(encode_jpeg_color(img, ss))
        for ri in (1, 3):
            enc = encode_jpeg_color(img, ss, restart_interval=ri)
            assert np.array_equal(decode_jpeg(enc), base_c), (ss, ri)


def test_jpeg_restart_marker_sequence_enforced():
    """A wrong RST index at a boundary is a hard ValueError, not silent
    corruption."""
    import numpy as np
    import pytest as _pytest

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    img = np.full((8, 24), 90, np.uint8)
    enc = bytearray(encode_jpeg_gray(img, restart_interval=1))
    # find the first RST0 (FF D0) in the entropy stream and break its index
    i = bytes(enc).find(b"\xff\xd0")
    assert i > 0
    enc[i + 1] = 0xD3
    with _pytest.raises(ValueError, match="expected RST"):
        decode_jpeg(bytes(enc))


def test_jpeg_progressive_bit_identical_to_sequential():
    """Progressive is a lossless reorganization of the entropy layer: for
    the SAME image the SOF2 multi-scan stream (spectral selection bands +
    successive approximation, T.81 Annex G) must decode to EXACTLY the
    sequential stream's pixels — gray and color, every subsampling, odd
    sizes, multi-MCU sizes, random and gradient content."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_gray,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(29)
    for h, w in ((8, 8), (1, 1), (5, 39), (24, 24), (33, 50)):
        g = rng.integers(0, 256, (h, w), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg_gray(g))
        prog = decode_jpeg(encode_jpeg_progressive(g))
        assert np.array_equal(base, prog), ("gray", h, w)

    for h, w in ((16, 16), (19, 30), (37, 23)):
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [(xx * 9) % 256, (yy * 7) % 256, ((xx + yy) * 5) % 256], axis=-1
        ).astype(np.uint8)
        for ss in ("444", "422", "420"):
            base = decode_jpeg(encode_jpeg_color(img, ss))
            prog = decode_jpeg(encode_jpeg_progressive(img, ss))
            assert np.array_equal(base, prog), ("color", ss, h, w)
        noisy = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for ss in ("444", "420"):
            base = decode_jpeg(encode_jpeg_color(noisy, ss))
            prog = decode_jpeg(encode_jpeg_progressive(noisy, ss))
            assert np.array_equal(base, prog), ("noisy", ss, h, w)


def test_jpeg_progressive_stream_structure():
    """The progressive stream is structurally progressive: SOF2 frame
    marker and multiple SOS scans (DC first/refine + per-component band
    first/refine)."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    enc = encode_jpeg_progressive(np.full((16, 16), 77, np.uint8))
    assert b"\xff\xc2" in enc and b"\xff\xc0" not in enc
    assert enc.count(b"\xff\xda") == 6  # DC + 2 AC bands, first + refine
    enc3 = encode_jpeg_progressive(
        np.zeros((8, 8, 3), np.uint8), subsampling="444"
    )
    assert enc3.count(b"\xff\xda") == 2 + 2 * 3 * 2  # DC x2 + 3 comps x 2 bands x 2


def test_jpeg_progressive_eob_runs_longer_than_one():
    """EOBRUN > 1 decode (the EOBn path this module's encoder never emits,
    capped at EOB0): a handcrafted 3-block scan covered by one EOB-run of
    3 — first-scan AND refinement-scan variants — decodes to the flat
    image."""
    import struct

    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        _DC_BITS,
        _DC_SYMBOLS,
        _BitWriter,
        _seg,
        decode_jpeg,
    )

    # custom AC table: symbol 0x10 (EOB-run category 1) as the single
    # 1-bit code '0'
    dht = (
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_SYMBOLS)
        + bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x10])
    )
    # flat 128 image, 8x24 = 3 blocks: all quantized coefficients 0
    qt = bytes([0]) + bytes([16] + [99] * 63)
    sof = struct.pack(">BHHB", 8, 8, 24, 1) + bytes([1, 0x11, 0])

    def dc_scan():
        w = _BitWriter()
        for _ in range(3):  # three zero diffs: DC category 0 (4-bit code)
            code, ln = (0, 4), None
            w.write(0, 4)
        w.flush()
        return _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0])) + bytes(w.out)

    def ac_first_eobrun3():
        w = _BitWriter()
        w.write(0, 1)  # symbol 0x10: EOBRUN = (1 << 1) + ext
        w.write(1, 1)  # ext bit -> run = 3
        w.flush()
        return _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0])) + bytes(w.out)

    def ac_refine_eobrun3():
        w = _BitWriter()
        w.write(0, 1)
        w.write(1, 1)
        w.flush()
        return _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10])) + bytes(w.out)

    stream = (
        b"\xff\xd8"
        + _seg(0xDB, qt)
        + _seg(0xC2, sof)
        + _seg(0xC4, dht)
        + dc_scan()
        + ac_first_eobrun3()
        + ac_refine_eobrun3()
        + b"\xff\xd9"
    )
    out = decode_jpeg(stream)
    assert out.shape == (8, 24)
    assert (out == 128).all()


def test_jpeg_progressive_ac_scan_coefficient_roundtrip_property():
    """Coefficient-level property: for random sparse AC patterns —
    including >16 zero-history gaps interleaved with history coefficients
    (the ZRL-span correction-bit ordering that is easy to get wrong) —
    the Al=1 first scan + Al=0 refinement reconstruct every coefficient
    exactly through the real bit-stream."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        _AC_BITS,
        _AC_SYMBOLS,
        _BitReader,
        _BitWriter,
        _canonical_codes,
        _dec_ac_first,
        _dec_ac_refine,
        _enc_ac_first_scan,
        _enc_ac_refine_scan,
    )

    # decoder-side table for the fixed-length encoder codes
    dec_tab = {
        (ln, code): sym
        for sym, (code, ln) in _canonical_codes(_AC_BITS, _AC_SYMBOLS).items()
    }

    rng = np.random.default_rng(41)
    blocks = np.zeros((40, 1, 64), dtype=np.int64)
    for b in range(40):
        nnz = rng.integers(0, 12)
        ks = rng.choice(np.arange(1, 64), size=nnz, replace=False)
        blocks[b, 0, ks] = rng.choice(
            [-33, -9, -3, -2, -1, 1, 2, 3, 9, 33], size=nnz
        )
    # hand-plant the adversarial shape: history at k=2, 20-zero gap, then
    # a newly-significant (|v|=1) coefficient — ZRL with an interleaved
    # correction bit
    blocks[0, 0, :] = 0
    blocks[0, 0, 2] = 7
    blocks[0, 0, 40] = -1
    blocks[1, 0, :] = 0
    blocks[1, 0, 30] = -5
    blocks[1, 0, 63] = 1

    for ss, se in ((1, 63), (1, 5), (6, 63)):
        target = np.zeros_like(blocks)
        target[:, :, ss : se + 1] = blocks[:, :, ss : se + 1]

        def blk_iter():
            for b in range(blocks.shape[0]):
                yield target[b, 0]

        w1 = _BitWriter()
        _enc_ac_first_scan(w1, blk_iter(), ss, se)
        w1.flush()
        w2 = _BitWriter()
        _enc_ac_refine_scan(w2, blk_iter(), ss, se)
        w2.flush()

        got = np.zeros_like(blocks)
        _dec_ac_first(
            _BitReader(bytes(w1.out), 0), got, (40, 1), dec_tab, ss, se, 1, 0
        )
        _dec_ac_refine(
            _BitReader(bytes(w2.out), 0), got, (40, 1), dec_tab, ss, se, 0, 0
        )
        assert np.array_equal(got, target), (ss, se)


def test_jpeg_progressive_committed_fixtures_decode_to_named_goldens():
    """The committed jgp_/jcp_ PROGRESSIVE fixtures pin dims and decoded
    mean in their filenames — a regression in the multi-scan decoder
    breaks this without touching fixture bytes. Every fixture must carry
    the SOF2 frame marker (it really is progressive), and decode
    identically through decode_any's magic-byte dispatch."""
    import re
    from pathlib import Path

    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import decode_jpeg
    from data_engineering_assignment_spark.functions.multimodal import (
        decode_any,
    )

    fdir = Path(__file__).parent / "fixtures" / "media"
    names = sorted(
        p.name for p in list(fdir.glob("jgp_*.jpg")) + list(fdir.glob("jcp_*.jpg"))
    )
    assert len(names) >= 3
    for name in names:
        m = re.fullmatch(r"j([gc])p_(\d+)x(\d+)_m(\d+)\.jpg", name)
        assert m, name
        kind, w, h, mean = m.group(1), *map(int, m.group(2, 3, 4))
        data = (fdir / name).read_bytes()
        assert b"\xff\xc2" in data and b"\xff\xc0" not in data
        dec = decode_jpeg(data)
        assert dec.shape == ((h, w) if kind == "g" else (h, w, 3))
        assert int(round(float(dec.mean()))) == mean
        frames, meta = decode_any(data)
        assert (meta["width"], meta["height"]) == (w, h)
        if kind == "g":
            assert np.array_equal(frames[0, :, :, 0], dec)
        else:
            assert np.array_equal(frames[0, :, :, :3], dec[:, :, ::-1])


def test_gif_roundtrip_palettes_sizes_interlace():
    """GIF LZW round-trips exactly across palette sizes, image sizes and
    the 4-pass interlace, through decode_any's magic dispatch."""
    import numpy as np

    from data_engineering_assignment_spark.functions.gif import encode_gif
    from data_engineering_assignment_spark.functions.multimodal import decode_any

    rng = np.random.default_rng(21)
    for n_colors in (2, 4, 16, 256):
        pal = rng.integers(0, 256, (n_colors, 3), np.uint8)
        for h, w in [(1, 1), (3, 5), (17, 23), (40, 40)]:
            idx = rng.integers(0, n_colors, (h, w)).astype(np.uint8)
            for inter in (False, True):
                frames, meta = decode_any(encode_gif(idx, pal, interlace=inter))
                exp = np.dstack(
                    [pal[idx][:, :, [2, 1, 0]], np.full((h, w), 255, np.uint8)]
                )
                assert np.array_equal(frames[0], exp), (n_colors, h, w, inter)
                assert meta["n_frames"] == 1 and meta["width"] == w


def test_gif_lzw_width_growth_and_clears():
    """Streams long enough to grow the code width to 12 bits and overflow
    the 4096-entry table (CLEAR emission mid-stream) decode exactly."""
    import numpy as np

    from data_engineering_assignment_spark.functions.gif import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(0)
    for n, ncol in [(5000, 256), (30000, 8), (50000, 2)]:
        idx = rng.integers(0, ncol, n).astype(np.uint8)
        mcs = max(2, (ncol - 1).bit_length())
        out = _lzw_decode(mcs, _lzw_encode(mcs, idx), n)
        assert np.array_equal(out, idx), (n, ncol)
    idx = rng.integers(0, 256, (200, 200)).astype(np.uint8)
    pal = rng.integers(0, 256, (256, 3), np.uint8)
    frames, _ = decode_gif(encode_gif(idx, pal))
    assert np.array_equal(frames[0, :, :, :3], pal[idx][:, :, [2, 1, 0]])


def test_gif_animation_composition():
    """Multi-frame GIFs compose per the viewer model: sub-rectangle
    placement, transparent indices showing the prior canvas, disposal 2
    restoring its rectangle to transparent, NETSCAPE loop metadata."""
    import numpy as np

    from data_engineering_assignment_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]], np.uint8)
    f0 = np.zeros((6, 8), np.uint8)  # all red
    f1 = np.full((2, 3), 1, np.uint8)  # green patch
    f1[0, 0] = 3  # transparent index
    gif = encode_gif([f0, f1], pal, transparent=3, offsets=[(0, 0), (2, 1)])
    frames, meta = decode_gif(gif)
    assert meta["n_frames"] == 2
    assert (frames[0][:, :, :3] == [0, 0, 255]).all()  # BGR red
    assert (frames[1][1, 2, :3] == [0, 0, 255]).all()  # transparent keeps red
    assert (frames[1][1, 3, :3] == [0, 255, 0]).all()  # green patch
    assert (frames[1][0, 0, :3] == [0, 0, 255]).all()  # outside patch

    gif = encode_gif(
        [f0, f1, np.zeros((1, 1), np.uint8)],
        pal,
        disposals=[0, 2, 0],
        offsets=[(0, 0), (2, 1), (7, 5)],
    )
    frames, _ = decode_gif(gif)
    assert (frames[2][1, 3] == [0, 0, 0, 0]).all()  # disposal-2 restored
    assert (frames[2][0, 0, :3] == [0, 0, 255]).all()

    _, meta = decode_gif(encode_gif([f0, f1], pal, loop=3))
    assert meta.get("n_loops") == 3


def test_gif_error_paths():
    import numpy as np
    import pytest as _pytest

    from data_engineering_assignment_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )

    with _pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF" + b"\x00" * 20)
    pal = np.zeros((4, 3), np.uint8)
    with _pytest.raises(ValueError, match="power of two"):
        encode_gif(np.zeros((2, 2), np.uint8), np.zeros((5, 3), np.uint8))
    with _pytest.raises(ValueError, match="out of palette"):
        encode_gif(np.full((2, 2), 7, np.uint8), pal)
    # truncated LZW data: chop the stream mid-image
    good = encode_gif(np.zeros((8, 8), np.uint8), pal)
    with _pytest.raises(ValueError):
        decode_gif(good[: len(good) - 6])


def test_bmp_roundtrip_profiles():
    """BMP decodes 24/32-bit (both row orders), 1/4/8-bit paletted and
    RLE8 exactly, through decode_any's magic dispatch."""
    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import (
        decode_any,
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(4)
    for bpp in (24, 32):
        for td in (False, True):
            for h, w in [(1, 1), (3, 5), (16, 33)]:
                f = rng.integers(0, 256, (h, w, 4), np.uint8)
                if bpp == 32:
                    f[..., 3] = rng.integers(1, 256, (h, w))
                d, meta = decode_any(encode_bmp(f, bpp, top_down=td))
                exp = f.copy()
                if bpp == 24:
                    exp[..., 3] = 255
                assert np.array_equal(d[0], exp), (bpp, td, h, w)
                assert meta["width"] == w and meta["n_frames"] == 1
    for bpp in (1, 4, 8):
        n = 1 << bpp
        pal = rng.integers(0, 256, (n, 3), np.uint8)
        idx = rng.integers(0, n, (6, 11)).astype(np.uint8)
        d, _ = decode_bmp(encode_bmp(None, bpp, palette=pal, indices=idx))
        assert np.array_equal(d[0, :, :, :3], pal[idx]), bpp
    # RLE8 with genuine runs; all-zero 32-bit alpha renders opaque
    idx = np.repeat(rng.integers(0, 8, (5, 8)), 3, axis=1).astype(np.uint8)
    pal = rng.integers(0, 256, (256, 3), np.uint8)
    d, _ = decode_bmp(encode_bmp(None, 8, palette=pal, indices=idx, rle8=True))
    assert np.array_equal(d[0, :, :, :3], pal[idx])
    f = rng.integers(0, 256, (4, 4, 4), np.uint8)
    f[..., 3] = 0
    d, _ = decode_bmp(encode_bmp(f, 32))
    assert (d[0, :, :, 3] == 255).all()


def test_bmp_error_paths():
    import numpy as np
    import pytest as _pytest

    from data_engineering_assignment_spark.functions.multimodal import decode_bmp

    with _pytest.raises(ValueError, match="signature"):
        decode_bmp(b"XX" + b"\x00" * 60)
    # 16-bit pixels are out of profile
    import struct

    info = struct.pack("<IiihHIIiiII", 40, 2, 2, 1, 16, 0, 0, 0, 0, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + 16, 0, 0, 54)
    with _pytest.raises(NotImplementedError, match="16-bit"):
        decode_bmp(hdr + info + b"\x00" * 16)


def test_gif_disposal_restore_previous():
    """Disposal 3: the frame AFTER a restore-to-previous frame composes on
    the canvas as it was BEFORE that frame drew — here, back to the
    transparent initial canvas, so frame 2's untouched pixels are
    transparent, not frame 1's colors."""
    import numpy as np

    from data_engineering_assignment_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )

    pal = np.array([[10, 20, 30], [200, 100, 50]], np.uint8)
    full = np.ones((4, 4), np.uint8)  # frame 0: all palette color 1
    patch = np.zeros((2, 2), np.uint8)  # frame 1: small color-0 patch
    gif = encode_gif(
        [full, patch], pal, offsets=[(0, 0), (1, 1)], disposals=[3, 0]
    )
    frames, meta = decode_gif(gif)
    assert meta["n_frames"] == 2
    # frame 0 rendered normally
    assert (frames[0, :, :, 2] == 200).all() and (frames[0, :, :, 3] == 255).all()
    # frame 1: only the patch is visible; the rest restored to TRANSPARENT
    assert (frames[1, 1:3, 1:3, 2] == 10).all()
    assert (frames[1, 0, :, 3] == 0).all() and (frames[1, 3, :, 3] == 0).all()


def test_ico_decode_profiles():
    """ICO: 32-bit DIB entries (alpha channel vs AND-mask transparency),
    largest-entry selection, and PNG-compressed entries, through
    decode_any's magic dispatch."""
    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import (
        _ico_dib,
        decode_any,
        decode_ico,
        encode_ico,
        encode_png,
    )

    rng = np.random.default_rng(9)
    # legacy zero-alpha 32-bit frame -> the AND mask drives transparency
    f = rng.integers(0, 256, (8, 8, 4), np.uint8)
    f[..., 3] = 0
    mask = np.zeros((8, 8), np.uint8)
    mask[0, :] = 1  # top row transparent
    ico = encode_ico([(_ico_dib(f, mask), (8, 8))])
    d, meta = decode_any(ico)
    assert meta == {"width": 8, "height": 8, "channels": 4, "n_frames": 1}
    assert np.array_equal(d[0, :, :, :3], f[:, :, :3])
    assert (d[0, 0, :, 3] == 0).all() and (d[0, 1:, :, 3] == 255).all()
    # ANY nonzero raw alpha (even an explicit all-255 plane) wins over the
    # AND mask — the renderer convention
    fo = f.copy()
    fo[..., 3] = 255
    d, _ = decode_ico(encode_ico([(_ico_dib(fo, mask), (8, 8))]))
    assert (d[0, :, :, 3] == 255).all()  # mask ignored
    fa = f.copy()
    fa[..., 3] = rng.integers(1, 255, (8, 8))
    d, _ = decode_ico(encode_ico([(_ico_dib(fa, mask), (8, 8))]))
    assert np.array_equal(d[0], fa)
    # multi-entry: the larger (PNG) entry is chosen
    small = _ico_dib(f[:4, :4], None)
    big = rng.integers(0, 256, (16, 16, 4), np.uint8)
    png = encode_png(big)
    d, meta = decode_ico(encode_ico([(small, (4, 4)), (png, (16, 16))]))
    assert meta["width"] == 16
    assert np.array_equal(d[0], big)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ICONDIR"):
        decode_ico(b"\x01\x00\x01\x00" + b"\x00" * 30)


def test_bmp_rle_out_of_bounds_is_value_error():
    """Malformed RLE8 streams (runs past the row, writes past the last
    row) must fail with the codec's ValueError contract — numpy slice
    assignment would silently CLIP an x-overflow and IndexError a
    y-overflow."""
    import struct

    import numpy as np
    import pytest as _pytest

    from data_engineering_assignment_spark.functions.multimodal import decode_bmp

    def rle_bmp(rle: bytes) -> bytes:
        pal = bytes([0, 0, 0, 0, 255, 255, 255, 0])  # 2 BGRX entries
        info = struct.pack("<IiihHIIiiII", 40, 2, 2, 1, 8, 1, len(rle), 0, 0, 2, 0)
        off = 14 + 40 + len(pal)
        hdr = struct.pack("<2sIHHI", b"BM", off + len(rle), 0, 0, off)
        return hdr + info + pal + rle

    # run of 5 on a 2-wide row: x-overflow
    with _pytest.raises(ValueError, match="out of bounds"):
        decode_bmp(rle_bmp(bytes([5, 1, 0, 1])))
    # excess end-of-line opcodes then a write: y-overflow
    with _pytest.raises(ValueError, match="out of bounds"):
        decode_bmp(rle_bmp(bytes([0, 0, 0, 0, 0, 0, 2, 1, 0, 1])))
    # absolute-mode run past the row end: x-overflow
    with _pytest.raises(ValueError, match="out of bounds"):
        decode_bmp(rle_bmp(bytes([0, 3, 1, 1, 1, 0, 0, 1])))
    # a well-formed stream still decodes
    d, _ = decode_bmp(rle_bmp(bytes([2, 1, 0, 0, 2, 0, 0, 1])))
    assert d.shape == (1, 2, 2, 4)


def test_jpeg_16bit_quant_tables_decode_natively():
    """DQT Pq=1 (16-bit big-endian entries): (1) with entries <= 255 the
    decode is bit-identical to the 8-bit-precision twin of the SAME
    table; (2) an entry above 255 (all-256 table) is actually USED by the
    dequantizer — a flat image with level-shifted DC divisible by 32
    survives q_dc=256 exactly, which a low-byte misparse (256 & 0xFF = 0
    or 1) could not reproduce."""
    import numpy as np

    from data_engineering_assignment_spark.functions.jpeg import (
        _QTABLE,
        decode_jpeg,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    # same table values, both element precisions -> same entropy data and
    # identical decode (the 0x10 Pq nibble is the only byte-level change)
    q8 = np.asarray(_QTABLE)
    enc8 = encode_jpeg_gray(img, qtable=q8)
    # hand-build the 16-bit twin: same values, Pq=1 encoding
    import struct as _struct

    from data_engineering_assignment_spark.functions.jpeg import _ZIGZAG

    zz8 = bytes([0]) + bytes(int(q8[i, j]) for (i, j) in _ZIGZAG)
    zz16 = bytes([0x10]) + b"".join(
        _struct.pack(">H", int(q8[i, j])) for (i, j) in _ZIGZAG
    )
    seg8 = b"\xff\xdb" + _struct.pack(">H", len(zz8) + 2) + zz8
    seg16 = b"\xff\xdb" + _struct.pack(">H", len(zz16) + 2) + zz16
    assert seg8 in enc8
    enc16b = enc8.replace(seg8, seg16)
    assert np.array_equal(decode_jpeg(enc8), decode_jpeg(enc16b))

    # >255 entries: flat v with (v-128) % 32 == 0 survives q=256 exactly
    q256 = np.full((8, 8), 256, np.int64)
    for v in (32, 96, 128, 160, 224):
        enc = encode_jpeg_gray(np.full((8, 16), v, np.uint8), qtable=q256)
        assert enc[enc.find(b"\xff\xdb") + 4] == 0x10  # Pq=1 on the wire
        assert (decode_jpeg(enc) == v).all(), v


def test_jpeg_qtable_validation():
    import numpy as np
    import pytest as _pytest

    from data_engineering_assignment_spark.functions.jpeg import (
        encode_jpeg_gray,
    )

    img = np.zeros((8, 8), np.uint8)
    with _pytest.raises(ValueError, match="qtable"):
        encode_jpeg_gray(img, qtable=np.zeros((8, 8), np.int64))  # 0 entry
    with _pytest.raises(ValueError, match="qtable"):
        encode_jpeg_gray(img, qtable=np.full((4, 4), 16, np.int64))
    with _pytest.raises(ValueError, match="truncated DQT"):
        from data_engineering_assignment_spark.functions.jpeg import (
            decode_jpeg,
        )

        good = encode_jpeg_gray(img, qtable=np.full((8, 8), 256, np.int64))
        at = good.find(b"\xff\xdb")
        # shrink the 16-bit DQT segment so the 128 value bytes overrun it
        bad = good[: at + 2] + b"\x00\x43" + good[at + 4 :]
        decode_jpeg(bad)


def test_bmp_os2_core_header_roundtrip():
    """OS/2 BITMAPCOREHEADER (12-byte header, 16-bit dims, 3-byte palette
    entries): 24-bit and paletted forms decode identically to their
    BITMAPINFOHEADER twins."""
    import numpy as np

    from data_engineering_assignment_spark.functions.multimodal import (
        decode_any,
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(9)
    f = np.empty((5, 7, 4), np.uint8)
    f[:, :, :3] = rng.integers(0, 255, (5, 7, 3), dtype=np.uint8)
    f[:, :, 3] = 255
    core = encode_bmp(f, 24, os2=True)
    assert core[14:18] == b"\x0c\x00\x00\x00"  # 12-byte header on the wire
    d_core, meta = decode_bmp(core)
    d_info, _ = decode_bmp(encode_bmp(f, 24))
    assert np.array_equal(d_core, d_info) and meta["width"] == 7
    # decode_any dispatches it too (same BM magic)
    d_any, _ = decode_any(core)
    assert np.array_equal(d_any, d_core)
    # paletted forms, all core depths
    for bpp in (1, 4, 8):
        n = 1 << bpp
        pal = rng.integers(0, 255, (n, 3), dtype=np.uint8)
        idx = rng.integers(0, n, (6, 5), dtype=np.uint8)
        got, _ = decode_bmp(encode_bmp(None, bpp, palette=pal, indices=idx, os2=True))
        want, _ = decode_bmp(encode_bmp(None, bpp, palette=pal, indices=idx))
        assert np.array_equal(got, want), bpp
    # invalid os2 knob combinations
    import pytest as _pytest

    with _pytest.raises(ValueError, match="OS/2"):
        encode_bmp(f, 32, os2=True)
    with _pytest.raises(ValueError, match="OS/2"):
        encode_bmp(f, 24, os2=True, top_down=True)


def test_jpeg_12bit_extended_sequential():
    """SOF1 12-bit precision decodes natively: flat even level-shift
    offsets survive Annex-K q_dc=16 exactly and floor to uint8 via >>4;
    restart intervals share the path; guards hold for out-of-range
    samples, bad precisions, and SOF0 files claiming 12 bits."""
    import struct

    import numpy as np
    import pytest as _pytest

    from data_engineering_assignment_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    for v in (32, 1048, 2048, 3046, 4094):
        img = np.full((16, 24), v, np.uint16)
        enc = encode_jpeg_gray(img, precision=12)
        assert enc[enc.find(b"\xff\xc1")] == 0xFF  # SOF1 on the wire
        out = decode_jpeg(enc)
        assert out.dtype == np.uint8 and (out == (v >> 4)).all(), v
    # gradient roundtrip: blockwise content decodes close to >>4 truth
    rng = np.random.default_rng(5)
    img = (rng.integers(0, 64, (24, 16)).astype(np.uint16)) * 64 + 32
    out = decode_jpeg(encode_jpeg_gray(img, precision=12))
    assert np.abs(out.astype(int) - (img >> 4).astype(int)).max() <= 6
    # restart intervals reset the wider DC predictors identically
    enc = encode_jpeg_gray(img, precision=12, restart_interval=1)
    assert np.array_equal(
        decode_jpeg(enc), decode_jpeg(encode_jpeg_gray(img, precision=12))
    )
    with _pytest.raises(ValueError, match="0..4095"):
        encode_jpeg_gray(np.full((8, 8), 5000, np.uint16), precision=12)
    with _pytest.raises(ValueError, match="precision"):
        encode_jpeg_gray(np.zeros((8, 8), np.uint8), precision=9)
    # a SOF0 file claiming 12-bit precision is nonconformant -> guarded
    enc8 = bytearray(encode_jpeg_gray(np.full((8, 8), 100, np.uint8)))
    at = enc8.find(b"\xff\xc0")
    enc8[at + 4] = 12
    with _pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(enc8))
    # 12-bit PROGRESSIVE decodes natively too: the entropy layer is
    # precision-independent, so an 8-bit progressive stream whose SOF2
    # claims 12 bits decodes with the 2048 level shift — for a flat
    # even-offset image (coefficients exact under Annex-K q_dc=16) the
    # result is exactly (v8 - 128 + 2048) >> 4
    from data_engineering_assignment_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    for v8 in (32, 100, 128, 200, 254):
        prog = bytearray(
            encode_jpeg_progressive(np.full((8, 16), v8, np.uint8))
        )
        at = prog.find(b"\xff\xc2")
        prog[at + 4] = 12
        out = decode_jpeg(bytes(prog))
        assert (out == ((v8 - 128 + 2048) >> 4)).all(), v8
    # a bogus precision still raises
    prog[at + 4] = 10
    with _pytest.raises(NotImplementedError, match="precision"):
        decode_jpeg(bytes(prog))
