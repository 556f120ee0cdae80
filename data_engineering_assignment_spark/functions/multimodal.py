"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed with ``mapInPandas`` (north-star operator set; no
counterpart in the reference beyond the PNG task).

Design for 100 TB: media bytes stay in executor-side Arrow batches end to
end — the driver never sees pixel data; each transform is a narrow
``mapInPandas`` over whatever partitioning the source had, so scans
parallelize by file and no shuffle is introduced.

PNG and WAV decode natively: :func:`decode_png` is a dependency-free
decoder (stdlib ``zlib`` inflate + numpy scanline unfiltering) covering the
spec's FULL legal profile — every depth/color-type combination of table
11.1 (1/2/4/8/16-bit gray, 8/16-bit RGB / gray+alpha / RGBA, 1/2/4/8-bit
palette), all five filter types, Adam7 interlacing, tRNS transparency in
both forms — a superset of the profile the reference's OpenMoji corpus
uses (Assignment-python.py:654-661, :710); :func:`decode_wav` covers RIFF/WAVE
integer PCM (8/16/32-bit), float32 and G.711 mu-law (r7), with
:func:`extract_audio_features` as the audio feature stage. JPEG now has a
dependency-free baseline decoder (r7); remaining compressed-audio/video
codecs are NOT in this container, so those decode steps stay behind a
guarded PIL hook / ``NotImplementedError``; the deterministic ``RAWM`` container —
``b"RAWM" + u16 width + u16 height + u8 channels + u8 n_frames + payload``
(little-endian, frame-major BGRA payload) — exercises the video paths
hermetically.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..sources import map_batches

MEDIA_SCHEMA = (
    "path string, media_type string, width int, height int, channels int,"
    " n_frames int, content binary"
)

_HEADER = struct.Struct("<4sHHBB")


def encode_rawm(
    frames: np.ndarray,  # (n_frames, height, width, channels) uint8
) -> bytes:
    """Serialize a frame stack into the RAWM test container."""
    n, h, w, c = frames.shape
    return _HEADER.pack(b"RAWM", w, h, c, n) + frames.tobytes()


def decode_rawm(content: bytes) -> tuple[np.ndarray, dict]:
    """Parse a RAWM container → (frames array, metadata dict)."""
    magic, w, h, c, n = _HEADER.unpack_from(content)
    if magic != b"RAWM":
        raise NotImplementedError(
            "only the RAWM test container is decodable in this environment; "
            "standard codecs (PNG/JPEG/WAV/MP4) need PIL/ffmpeg on executors"
        )
    frames = np.frombuffer(content, dtype=np.uint8, offset=_HEADER.size)
    return frames.reshape(n, h, w, c), {"width": w, "height": h, "channels": c, "n_frames": n}


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"

# PNG color type → samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# PNG color type → legal bit depths (spec §11.2.2, table 11.1)
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 interlace passes (spec §8.2): (x_start, y_start, x_step, y_step).
# Each pass is an independently filtered sub-image (its own scanlines, its
# own prev-row state) stored sequentially in the decompressed stream.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)
# exact 8-bit scale factors for sub-byte grayscale: 255 / (2^d - 1)
_PNG_GRAY_SCALE = {1: 255, 2: 85, 4: 17}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Invert PNG scanline filtering (spec §9, filter types 0-4). Rows are
    sequential by construction (each references the previous reconstructed
    row); types 0/2 vectorize, 1/3/4 walk the row because each byte needs
    the already-reconstructed left neighbor. Fine for icon/thumbnail-sized
    media; megapixel-scale corpora should ship a compiled codec to the
    executors instead."""
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int32)
        pos += 1 + stride
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ftype} on row {y}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _png_samples(un: np.ndarray, pw: int, nch: int, depth: int) -> np.ndarray:
    """Unfiltered scanline bytes (ph, stride) → samples (ph, pw, nch) as
    uint16 SOURCE-DEPTH values (16-bit stays 16-bit; sub-byte fields are
    unpacked MSB-first per spec §7.2, trailing pad bits dropped)."""
    ph = un.shape[0]
    if depth == 8:
        return un[:, : pw * nch].reshape(ph, pw, nch).astype(np.uint16)
    if depth == 16:
        u = un[:, : pw * nch * 2].astype(np.uint16).reshape(ph, pw, nch, 2)
        return (u[..., 0] << 8) | u[..., 1]
    bits = np.unpackbits(un, axis=1)
    ns = bits.shape[1] // depth
    fields = bits[:, : ns * depth].reshape(ph, ns, depth).astype(np.uint16)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    return (fields * weights).sum(axis=2, dtype=np.uint16)[:, :pw].reshape(
        ph, pw, 1
    )


def _png_stride_bpp(pw: int, nch: int, depth: int) -> tuple[int, int]:
    """(scanline bytes, filter bytes-per-pixel) for a pass of width pw."""
    stride = (pw * nch * depth + 7) // 8
    bpp = max(1, nch * depth // 8)
    return stride, bpp


def decode_png(content: bytes) -> tuple[np.ndarray, dict]:
    """Dependency-free PNG decode → one uint8 BGRA frame in the same
    (frames, meta) shape as :func:`decode_rawm`.

    Covers the full legal profile (spec table 11.1): every depth/color-type
    combination — 1/2/4/8/16-bit grayscale, 8/16-bit RGB / gray+alpha /
    RGBA, 1/2/4/8-bit palette — all five filter types, Adam7 interlacing
    (each pass an independently filtered sub-image), PLTE + tRNS (palette
    alpha table AND the single-transparent-color form for gray/RGB).
    16-bit samples map to 8-bit output by taking the high byte (OpenCV's
    imread convention, matching the reference's image scan,
    Assignment-python.py:710); sub-byte grayscale scales exactly by
    255/(2^d-1). Byte order matches Spark's ``image`` source (CV BGRA), so
    ``functions/colors.py`` analytics apply unchanged."""
    import struct as _struct
    import zlib

    if content[: len(_PNG_MAGIC)] != _PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, plte, trns, idat = len(_PNG_MAGIC), None, None, None, []
    while pos + 8 <= len(content):
        (length,) = _struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("PNG: truncated chunk")
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = _struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG: missing IHDR or IDAT")
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"PNG: invalid color type {color_type}")
    if depth not in _PNG_DEPTHS[color_type]:
        raise ValueError(
            f"PNG: depth {depth} is illegal for color type {color_type}"
        )
    if interlace not in (0, 1):
        raise ValueError(f"PNG: unknown interlace method {interlace}")
    nch = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(b"".join(idat))

    if interlace == 0:
        passes = [((0, 0, 1, 1), w, h)]
    else:
        passes = []
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            passes.append(((x0, y0, dx, dy), pw, ph))
    expected = sum(
        ph * (1 + _png_stride_bpp(pw, nch, depth)[0])
        for _geom, pw, ph in passes
        if pw and ph
    )
    if len(raw) != expected:
        raise ValueError("PNG: decompressed size mismatch")

    px = np.zeros((h, w, nch), dtype=np.uint16)
    off = 0
    for (x0, y0, dx, dy), pw, ph in passes:
        if not pw or not ph:
            continue
        stride, bpp = _png_stride_bpp(pw, nch, depth)
        n = ph * (1 + stride)
        un = _png_unfilter(raw[off : off + n], ph, stride, bpp)
        off += n
        px[y0::dy, x0::dx] = _png_samples(un, pw, nch, depth)

    opaque = np.full((h, w), 255, dtype=np.uint8)
    if color_type == 3:  # palette
        if plte is None:
            raise ValueError("PNG: palette image without PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if idx.max(initial=0) >= len(pal):
            raise ValueError("PNG: palette index out of range")
        rgb = pal[idx]
        alpha = opaque
        if trns is not None:
            atab = np.full(len(pal), 255, dtype=np.uint8)
            t = np.frombuffer(trns, np.uint8)
            atab[: len(t)] = t
            alpha = atab[idx]
        rgba = np.dstack([rgb, alpha])
    else:
        if depth == 16:
            vals = (px >> 8).astype(np.uint8)
        elif depth == 8:
            vals = px.astype(np.uint8)
        else:  # sub-byte grayscale: exact 0..255 rescale
            vals = (px * _PNG_GRAY_SCALE[depth]).astype(np.uint8)
        # single-transparent-color tRNS (spec §11.3.2): a 16-bit sample
        # value per channel, compared against the SOURCE-depth samples
        alpha = opaque
        if trns is not None and color_type in (0, 2):
            tvals = np.frombuffer(trns, ">u2").astype(np.uint16)
            if len(tvals) != nch:
                raise ValueError("PNG: bad tRNS length for color type")
            alpha = np.where(
                (px == tvals.reshape(1, 1, nch)).all(axis=2), 0, 255
            ).astype(np.uint8)
        if color_type == 0:  # grayscale
            g = vals[:, :, 0]
            rgba = np.dstack([g, g, g, alpha])
        elif color_type == 4:  # gray + alpha
            g = vals[:, :, 0]
            rgba = np.dstack([g, g, g, vals[:, :, 1]])
        elif color_type == 2:  # RGB
            rgba = np.dstack([vals, alpha])
        else:  # 6: RGBA
            rgba = vals
    bgra = np.ascontiguousarray(rgba[:, :, [2, 1, 0, 3]])
    return bgra.reshape(1, h, w, 4), {
        "width": w,
        "height": h,
        "channels": 4,
        "n_frames": 1,
    }


def _png_pack_rows(samples: np.ndarray, depth: int) -> np.ndarray:
    """Samples (ph, pw, nch) uint16 source-depth values → scanline bytes
    (ph, stride) uint8 (big-endian 16-bit; MSB-first sub-byte packing with
    zero pad bits, spec §7.2)."""
    ph, pw, nch = samples.shape
    if depth == 8:
        return samples.astype(np.uint8).reshape(ph, pw * nch)
    if depth == 16:
        out = np.empty((ph, pw * nch, 2), np.uint8)
        flat = samples.reshape(ph, pw * nch)
        out[..., 0] = flat >> 8
        out[..., 1] = flat & 0xFF
        return out.reshape(ph, pw * nch * 2)
    # sub-byte: emit each sample as `depth` bits, pad rows to a byte
    weights = np.arange(depth - 1, -1, -1)
    bits = (samples.reshape(ph, pw)[:, :, None] >> weights) & 1
    bits = bits.reshape(ph, pw * depth)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.pad(bits, ((0, 0), (0, pad)))
    return np.packbits(bits.astype(np.uint8), axis=1)


def _png_filter_pass(rows: np.ndarray) -> bytes:
    """Serialize one (interlace) pass's scanline bytes with real filters:
    row 0 type 0 (None), later rows type 2 (Up) — so decoders must keep
    per-pass prev-row state, which pins the Adam7 filter-reset semantics."""
    out = bytearray()
    prev = None
    for y in range(rows.shape[0]):
        if prev is None:
            out.append(0)
            out += rows[y].tobytes()
        else:
            out.append(2)
            out += ((rows[y].astype(np.int16) - prev) & 0xFF).astype(
                np.uint8
            ).tobytes()
        prev = rows[y].astype(np.int16)
    return bytes(out)


def _png_encode_raw(
    samples: np.ndarray,
    color_type: int,
    depth: int,
    interlace: int = 0,
    plte: bytes | None = None,
    trns: bytes | None = None,
) -> bytes:
    """Serialize source-depth samples (h, w, nch) uint16 as a PNG with the
    given color type / depth / interlace method — the shared back end of
    every encode_png* fixture generator."""
    import struct as _struct
    import zlib

    h, w, nch = samples.shape
    if depth not in _PNG_DEPTHS[color_type] or nch != _PNG_CHANNELS[color_type]:
        raise ValueError("PNG encode: illegal depth/color-type/channels combo")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + typ
            + data
            + _struct.pack(">I", zlib.crc32(typ + data))
        )

    if interlace == 0:
        raw = _png_filter_pass(_png_pack_rows(samples, depth))
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                parts.append(_png_filter_pass(_png_pack_rows(sub, depth)))
        raw = b"".join(parts)
    ihdr = _struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = _PNG_MAGIC + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte)
    if trns is not None:
        out += chunk(b"tRNS", trns)
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def encode_png(frame: np.ndarray, interlace: int = 0) -> bytes:
    """Serialize one uint8 BGRA frame (h, w, 4) — :func:`decode_png`'s
    output shape — as an 8-bit RGBA PNG (optionally Adam7 interlaced)."""
    h, w, c = frame.shape
    if c != 4 or frame.dtype != np.uint8:
        raise ValueError("encode_png expects a (h, w, 4) uint8 BGRA frame")
    rgba = frame[:, :, [2, 1, 0, 3]].astype(np.uint16)
    return _png_encode_raw(rgba, 6, 8, interlace)


def encode_png16(rgba16: np.ndarray, interlace: int = 0) -> bytes:
    """Serialize (h, w, 4) uint16 RGBA samples as a 16-bit PNG —
    fixture generator for the high-byte-take decode path."""
    if rgba16.ndim != 3 or rgba16.shape[2] != 4:
        raise ValueError("encode_png16 expects a (h, w, 4) uint16 RGBA array")
    return _png_encode_raw(rgba16.astype(np.uint16), 6, 16, interlace)


def encode_png_gray(
    gray: np.ndarray, depth: int = 8, interlace: int = 0
) -> bytes:
    """Serialize (h, w) SOURCE-DEPTH grayscale samples (values < 2^depth)
    as a color-type-0 PNG at any legal depth (1/2/4/8/16) — fixture
    generator for the sub-byte unpack and 16-bit gray paths."""
    if gray.max(initial=0) >= (1 << depth):
        raise ValueError(f"gray sample out of range for depth {depth}")
    return _png_encode_raw(
        gray.astype(np.uint16)[:, :, None], 0, depth, interlace
    )


def encode_png_palette(
    idx: np.ndarray,
    palette: np.ndarray,
    trns: bytes | None = None,
    depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Serialize (h, w) palette indices + (n, 3) RGB palette (optional tRNS
    alpha table) as a color-type-3 PNG at depth 1/2/4/8."""
    if idx.max(initial=0) >= min(len(palette), 1 << depth):
        raise ValueError("palette index out of range for depth/palette")
    return _png_encode_raw(
        idx.astype(np.uint16)[:, :, None],
        3,
        depth,
        interlace,
        plte=np.asarray(palette, np.uint8).tobytes(),
        trns=trns,
    )


def decode_bmp(content: bytes) -> tuple[np.ndarray, dict]:
    """Dependency-free Windows BMP decode → one uint8 BGRA frame.

    Covers the DIB profiles a crawl actually contains: BITMAPINFOHEADER
    (or later headers with the same leading fields), the OS/2
    BITMAPCOREHEADER (12-byte header, 16-bit dims, 3-byte palette
    entries, always bottom-up/uncompressed), 1/4/8-bit paletted, 24-bit
    BGR and 32-bit BGRA, BI_RGB (uncompressed) and RLE8, bottom-up AND
    top-down row order, 4-byte row padding. Palette entries are BGRX
    (BGR for core headers); sub-byte indices unpack MSB-first. 32-bit
    alpha is honored only when any pixel sets it (the historical 'alpha
    byte is garbage zero' convention renders opaque, matching
    viewers)."""
    import struct as _struct

    if content[:2] != b"BM" or len(content) < 26:
        raise ValueError("not a BMP: bad signature or truncated header")
    (data_off,) = _struct.unpack_from("<I", content, 10)
    (hdr_size,) = _struct.unpack_from("<I", content, 14)
    if hdr_size >= 40 and len(content) < 54:
        raise ValueError("not a BMP: bad signature or truncated header")
    if hdr_size == 12:
        # OS/2 BITMAPCOREHEADER: 16-bit dims, always bottom-up and
        # uncompressed, 3-byte RGBTRIPLE palette entries
        w, h_raw, _planes, bpp = _struct.unpack_from("<hhHH", content, 18)
        comp, core = 0, True
    elif hdr_size < 40:
        raise NotImplementedError(f"BMP: header size {hdr_size} not supported")
    else:
        w, h_raw, _planes, bpp, comp = _struct.unpack_from("<iihHI", content, 18)
        core = False
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise ValueError("BMP: bad dimensions")
    if bpp not in (1, 4, 8, 24) and not (bpp == 32 and not core):
        raise NotImplementedError(f"BMP: {bpp}-bit pixels not supported")
    if comp not in (0, 1) or (comp == 1 and bpp != 8):
        raise NotImplementedError(f"BMP: compression {comp} not supported")
    pal = None
    if bpp <= 8:
        pal_off = 14 + hdr_size
        if core:
            n = 1 << bpp
            p3 = np.frombuffer(content, np.uint8, 3 * n, pal_off).reshape(n, 3)
            pal = np.concatenate([p3, np.zeros((n, 1), np.uint8)], axis=1)
        else:
            (n_colors,) = _struct.unpack_from("<I", content, 46)
            n = n_colors or (1 << bpp)
            pal = np.frombuffer(content, np.uint8, 4 * n, pal_off).reshape(n, 4)

    if comp == 1:  # RLE8
        idx = np.zeros((h, w), np.uint8)
        pos, x, y = data_off, 0, 0
        while pos + 1 < len(content):
            cnt, val = content[pos], content[pos + 1]
            pos += 2
            if cnt:  # encoded run
                if y >= h or x + cnt > w:  # numpy would clip x silently
                    raise ValueError("BMP: RLE run out of bounds")
                idx[y, x : x + cnt] = val
                x += cnt
            elif val == 0:  # end of line
                x, y = 0, y + 1
            elif val == 1:  # end of bitmap
                break
            elif val == 2:  # delta
                x += content[pos]
                y += content[pos + 1]
                pos += 2
            else:  # absolute run of `val` literal bytes, word-aligned
                if y >= h or x + val > w:
                    raise ValueError("BMP: RLE run out of bounds")
                idx[y, x : x + val] = np.frombuffer(content, np.uint8, val, pos)
                x += val
                pos += val + (val & 1)
        rows = idx
    else:
        stride = (w * bpp + 31) // 32 * 4
        raw = np.frombuffer(content, np.uint8, stride * h, data_off).reshape(
            h, stride
        )
        if bpp == 24:
            rows = raw[:, : w * 3].reshape(h, w, 3)
        elif bpp == 32:
            rows = raw[:, : w * 4].reshape(h, w, 4)
        elif bpp == 8:
            rows = raw[:, :w]
        else:  # 1/4-bit: MSB-first fields
            bits = np.unpackbits(raw, axis=1)
            ns = bits.shape[1] // bpp
            fields = bits[:, : ns * bpp].reshape(h, ns, bpp)
            weights = 1 << np.arange(bpp - 1, -1, -1)
            rows = (fields * weights).sum(axis=2).astype(np.uint8)[:, :w]

    if not top_down:  # bottom-up storage (the BMP default), RLE included
        rows = rows[::-1]

    opaque = np.full((h, w), 255, np.uint8)
    if bpp <= 8:
        if rows.max(initial=0) >= len(pal):
            raise ValueError("BMP: palette index out of range")
        bgr = pal[rows][:, :, :3]  # palette is BGRX already
        bgra = np.dstack([bgr, opaque])
    elif bpp == 24:
        bgra = np.dstack([rows, opaque])
    else:  # 32-bit BGRA; all-zero alpha plane means opaque by convention
        alpha = rows[:, :, 3]
        if not alpha.any():
            alpha = opaque
        bgra = np.dstack([rows[:, :, :3], alpha])
    bgra = np.ascontiguousarray(bgra)
    return bgra.reshape(1, h, w, 4), {
        "width": w,
        "height": h,
        "channels": 4,
        "n_frames": 1,
    }


def encode_bmp(
    frame: np.ndarray,
    bpp: int = 32,
    palette: np.ndarray | None = None,
    indices: np.ndarray | None = None,
    top_down: bool = False,
    rle8: bool = False,
    os2: bool = False,
) -> bytes:
    """Fixture generator: serialize either a (h, w, 4) uint8 BGRA frame
    (bpp 24/32) or (indices, palette) (bpp 1/4/8, palette (n, 3) BGR) as a
    BITMAPINFOHEADER BMP; ``rle8`` run-length-encodes the 8-bit form.
    ``os2`` emits the 12-byte BITMAPCOREHEADER form instead (bpp 1/4/8/24,
    FULL 2^bpp 3-byte palette, bottom-up, uncompressed only)."""
    import struct as _struct

    if os2 and (bpp == 32 or rle8 or top_down):
        raise ValueError("BMP: OS/2 core headers are 1/4/8/24-bit, bottom-up, uncompressed")
    if bpp in (24, 32):
        h, w = frame.shape[:2]
        stride = (w * bpp + 31) // 32 * 4
        rows = frame[:, :, :3] if bpp == 24 else frame
        body = bytearray()
        order = range(h) if top_down else range(h - 1, -1, -1)
        for y in order:
            line = rows[y].tobytes()
            body += line + b"\x00" * (stride - len(line))
        pal_bytes = b""
        n_pal = 0
    else:
        if palette is None or indices is None:
            raise ValueError("paletted BMP needs indices + palette")
        h, w = indices.shape
        n_pal = len(palette)
        if os2:
            # core headers carry no n_colors field: always 2^bpp 3-byte rows
            full = np.zeros((1 << bpp, 3), np.uint8)
            full[:n_pal] = np.asarray(palette, np.uint8)
            n_pal = len(full)
            pal_bytes = b"".join(bytes([b, g, r]) for b, g, r in full)
        else:
            pal_bytes = b"".join(
                bytes([b, g, r, 0]) for b, g, r in np.asarray(palette, np.uint8)
            )
        order = range(h) if top_down else range(h - 1, -1, -1)
        if rle8:
            if bpp != 8:
                raise ValueError("RLE is only defined for 8-bit BMPs")
            body = bytearray()
            for y in order:
                row = indices[y]
                x = 0
                while x < w:
                    run = 1
                    while (
                        x + run < w and run < 255 and row[x + run] == row[x]
                    ):
                        run += 1
                    body += bytes([run, int(row[x])])
                    x += run
                body += b"\x00\x00"  # end of line
            body += b"\x00\x01"  # end of bitmap
        else:
            stride = (w * bpp + 31) // 32 * 4
            body = bytearray()
            for y in order:
                if bpp == 8:
                    line = indices[y].astype(np.uint8).tobytes()
                else:
                    weights = 1 << np.arange(bpp - 1, -1, -1)
                    bits = (
                        (indices[y][:, None] >> (bpp - 1 - np.arange(bpp))) & 1
                    ).reshape(-1)
                    pad = (-len(bits)) % 8
                    bits = np.pad(bits, (0, pad))
                    line = np.packbits(bits.astype(np.uint8)).tobytes()
                body += line + b"\x00" * (stride - len(line))
    if os2:
        data_off = 14 + 12 + len(pal_bytes)
        info = _struct.pack("<IhhHH", 12, w, h, 1, bpp)
    else:
        data_off = 14 + 40 + len(pal_bytes)
        info = _struct.pack(
            "<IiihHIIiiII",
            40,
            w,
            -h if top_down else h,
            1,
            bpp,
            1 if rle8 else 0,
            len(body),
            2835,
            2835,
            n_pal,
            0,
        )
    header = _struct.pack(
        "<2sIHHI", b"BM", data_off + len(body), 0, 0, data_off
    )
    return header + info + pal_bytes + bytes(body)


def decode_ico(content: bytes) -> tuple[np.ndarray, dict]:
    """Dependency-free Windows ICO (favicon) decode → one uint8 BGRA frame.

    Parses the ICONDIR, picks the best image entry (largest area, then
    highest directory bit depth — the renderer tie-break for multi-depth
    icons), and decodes it: PNG-compressed entries (the modern favicon
    form) go through :func:`decode_png`; classic uncompressed DIB entries
    reuse :func:`decode_bmp` by synthesizing a BMP file header around the
    embedded BITMAPINFOHEADER (whose biHeight counts XOR+AND sections, so
    it is halved), then apply the trailing 1-bit AND mask as
    transparency. 32-bit entries whose RAW alpha plane carries any
    nonzero byte use that alpha and ignore the mask (the renderer
    convention; checked on the raw XOR bytes, not decode_bmp's
    normalized output, so an explicit all-255 plane also wins over the
    mask)."""
    import struct as _struct

    if len(content) < 6 or content[:4] != b"\x00\x00\x01\x00":
        raise ValueError("not an ICO: bad ICONDIR header")
    (n_entries,) = _struct.unpack_from("<H", content, 4)
    if not n_entries:
        raise ValueError("ICO: no image entries")
    if 6 + 16 * n_entries > len(content):
        raise ValueError("ICO: ICONDIR truncated")
    best = None
    for i in range(n_entries):
        off = 6 + 16 * i
        bw, bh = content[off], content[off + 1]
        w, h = bw or 256, bh or 256  # 0 means 256 per spec
        (bitcount,) = _struct.unpack_from("<H", content, off + 6)
        size, data_off = _struct.unpack_from("<II", content, off + 8)
        rank = (w * h, bitcount)
        if best is None or rank > best[0]:
            best = (rank, w, h, data_off, size)
    _, w, h, data_off, size = best
    sub = content[data_off : data_off + size]
    if sub[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        return decode_png(sub)
    if len(sub) < 40:
        raise ValueError("ICO: DIB entry truncated")
    (hdr_size,) = _struct.unpack_from("<I", sub, 0)
    if hdr_size < 40:
        raise NotImplementedError("ICO: non-BITMAPINFOHEADER DIB")
    _w, h2, _planes, bpp, comp = _struct.unpack_from("<iihHI", sub, 4)
    if comp != 0:
        # RLE inside an icon would shift the AND-mask offset; real icons
        # are BI_RGB, so refuse rather than read the mask from garbage
        raise NotImplementedError(f"ICO: compressed DIB (comp={comp})")
    real_h = h2 // 2  # biHeight spans the XOR and AND sections
    patched = bytearray(sub)
    _struct.pack_into("<i", patched, 8, real_h)
    (n_colors,) = _struct.unpack_from("<I", sub, 32)
    pal_n = (n_colors or (1 << bpp)) if bpp <= 8 else 0
    bmp_off = 14 + hdr_size + 4 * pal_n
    bmp = (
        b"BM"
        + _struct.pack("<IHHI", 14 + len(patched), 0, 0, bmp_off)
        + bytes(patched)
    )
    frames, meta = decode_bmp(bmp)
    bgra = frames[0].copy()
    # AND mask: 1-bit rows padded to 32 bits, bottom-up like the XOR part
    xor_off = hdr_size + 4 * pal_n
    xor_stride = (w * bpp + 31) // 32 * 4
    and_stride = (w + 31) // 32 * 4
    mask_off = xor_off + xor_stride * real_h
    mask_bytes = sub[mask_off : mask_off + and_stride * real_h]
    if len(mask_bytes) < and_stride * real_h:
        raise ValueError("ICO: AND mask truncated")
    raw_alpha_nonzero = False
    if bpp == 32:
        xor = np.frombuffer(
            sub, np.uint8, xor_stride * real_h, xor_off
        ).reshape(real_h, xor_stride)
        raw_alpha = xor[:, : w * 4].reshape(real_h, w, 4)[:, :, 3][::-1]
        if raw_alpha.any():
            raw_alpha_nonzero = True
            bgra[:, :, 3] = raw_alpha  # raw plane, pre-normalization
    if real_h and not raw_alpha_nonzero:
        rows = np.frombuffer(mask_bytes, np.uint8).reshape(real_h, and_stride)
        bits = np.unpackbits(rows, axis=1)[:, :w][::-1]  # bottom-up flip
        bgra[:, :, 3] = np.where(bits == 1, 0, 255).astype(np.uint8)
    return bgra.reshape(1, real_h, w, 4), {
        "width": w,
        "height": real_h,
        "channels": 4,
        "n_frames": 1,
    }


def encode_ico(entries: list[tuple[bytes, tuple[int, int]]]) -> bytes:
    """Fixture generator: wrap pre-encoded (payload, (w, h)) entries —
    each payload either a PNG file or an ICO-style DIB (:func:`_ico_dib`)
    — in an ICONDIR."""
    import struct as _struct

    out = bytearray(b"\x00\x00\x01\x00" + _struct.pack("<H", len(entries)))
    data_off = 6 + 16 * len(entries)
    blobs = bytearray()
    for payload, (w, h) in entries:
        out += bytes(
            [w if w < 256 else 0, h if h < 256 else 0, 0, 0]
        ) + _struct.pack("<HHII", 1, 32, len(payload), data_off + len(blobs))
        blobs += payload
    return bytes(out) + bytes(blobs)


def _ico_dib(frame: np.ndarray, mask: np.ndarray | None = None) -> bytes:
    """Serialize a (h, w, 4) uint8 BGRA frame as an ICO 32-bit DIB
    (doubled biHeight, bottom-up XOR section + 1-bit AND ``mask``)."""
    import struct as _struct

    h, w = frame.shape[:2]
    if mask is None:
        mask = np.zeros((h, w), np.uint8)
    info = _struct.pack(
        "<IiihHIIiiII", 40, w, 2 * h, 1, 32, 0,
        w * h * 4, 2835, 2835, 0, 0,
    )
    xor = frame[::-1].tobytes()  # bottom-up
    and_stride = (w + 31) // 32 * 4
    bits = np.zeros((h, and_stride * 8), np.uint8)
    bits[:, :w] = mask[::-1]
    and_sec = np.packbits(bits, axis=1).tobytes()
    return info + xor + and_sec


def _pil_image_module():
    """Optional-dependency hook for formats beyond PNG (JPEG, WebP, …): PIL
    is not in this container, but the path must exist. Returns PIL.Image or
    None."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def decode_image_pil(content: bytes) -> tuple[np.ndarray, dict]:
    """Decode a JPEG (or any PIL-supported format) into the same
    (frames, meta) shape as :func:`decode_png`: one frame of uint8 BGRA —
    byte order matching Spark's ``image`` source (CV BGR(A)), so the color
    analytics in ``functions/colors.py`` apply unchanged (reference parity
    with Assignment-python.py:654-661's image.data handling)."""
    Image = _pil_image_module()
    if Image is None:
        raise NotImplementedError(
            "JPEG decode needs PIL (pillow) on the executors; this "
            "container does not ship it. PNG decodes natively via "
            "decode_png; the RAWM container covers the video paths."
        )
    import io

    rgba = np.asarray(Image.open(io.BytesIO(content)).convert("RGBA"))
    bgra = rgba[:, :, [2, 1, 0, 3]]  # RGBA → BGRA, Spark image-source order
    h, w, c = bgra.shape
    frames = np.ascontiguousarray(bgra).reshape(1, h, w, c)
    return frames, {"width": w, "height": h, "channels": c, "n_frames": 1}


def decode_image_jpeg(content: bytes) -> tuple[np.ndarray, dict]:
    """JPEG → (frames, meta) in :func:`decode_png`'s BGRA shape. Baseline
    AND progressive JPEGs — grayscale and interleaved YCbCr color (4:4:4 /
    4:2:2 / 4:2:0), restart intervals included — decode via the
    dependency-free T.81 decoder in :mod:`.jpeg`: gray replicated to
    B=G=R (the decode_png color-type-0 convention), RGB reordered to
    BGRA, alpha 255. 16-bit quant tables and 12-bit precision (SOF1
    sequential AND SOF2 progressive) decode natively too (12-bit
    samples floor to uint8 via >>4). Malformed-stream errors
    from the native parser (ValueError/IndexError/struct.error on
    truncated or exotic files) fall through to PIL as well: the hook is
    the decoder of last resort for anything the baseline parser can't
    PROVE it handles — a file PIL could decode must never be failed by our
    narrower parser (r7 review)."""
    import struct as _struct

    from .jpeg import decode_jpeg

    try:
        img = decode_jpeg(content)
    except (NotImplementedError, ValueError, IndexError, _struct.error):
        return decode_image_pil(content)
    h, w = img.shape[:2]
    bgra = np.empty((h, w, 4), dtype=np.uint8)
    if img.ndim == 2:
        bgra[:, :, 0] = bgra[:, :, 1] = bgra[:, :, 2] = img
    else:
        bgra[:, :, :3] = img[:, :, ::-1]  # RGB → BGR
    bgra[:, :, 3] = 255
    return bgra.reshape(1, h, w, 4), {
        "width": w,
        "height": h,
        "channels": 4,
        "n_frames": 1,
    }


def decode_any(content: bytes) -> tuple[np.ndarray, dict]:
    """Magic-byte dispatch: RAWM container, PNG, GIF (multi-frame), WAV and
    JPEG natively (all dependency-free). Other formats raise
    ``NotImplementedError``. WAV rows report (n_samples, n_channels) via
    the frame fields: width=n_samples, height=1, channels=n_channels."""
    if content[:4] == b"RAWM":
        return decode_rawm(content)
    if content[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        return decode_png(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        return decode_gif(content)
    if content[:2] == b"BM" and len(content) >= 26:
        # 26 = file header + OS/2 BITMAPCOREHEADER, the smallest valid DIB
        return decode_bmp(content)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        return decode_tiff(content)
    if content[:4] == b"\x00\x00\x01\x00" and len(content) >= 22:
        return decode_ico(content)
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        from .avi import decode_avi

        return decode_avi(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        samples, meta = decode_wav(content)
        # (n_frames, height, width, channels) = (1, 1, n_samples, n_channels)
        # — same axis convention as decode_rawm/decode_png, matching the
        # width/height/channels meta below
        frames = samples.reshape(1, 1, meta["n_samples"], meta["n_channels"])
        return frames, {
            "width": meta["n_samples"],
            "height": 1,
            "channels": meta["n_channels"],
            "n_frames": 1,
        }
    if content[:3] == _JPEG_MAGIC:
        return decode_image_jpeg(content)
    return decode_rawm(content)  # raises the canonical NotImplementedError


def decode_media(df: DataFrame) -> DataFrame:
    """Decode + verify metadata for each media row (mapInPandas; bytes never
    leave the executor). Output adds ``decoded_ok`` and refreshed metadata."""
    schema = MEDIA_SCHEMA + ", decoded_ok boolean"

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = []
            for content in pdf["content"]:
                try:
                    _, m = decode_any(bytes(content))
                    meta.append((m["width"], m["height"], m["channels"], m["n_frames"], True))
                except Exception:
                    meta.append((None, None, None, None, False))
            out = pdf.copy()
            out[["width", "height", "channels", "n_frames", "decoded_ok"]] = pd.DataFrame(
                meta, index=pdf.index
            )
            yield out

    return map_batches(df, mapper, schema)


def resize_media(df: DataFrame, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of every frame to 4 pixels wide and
    ``out_h`` high (numpy index sampling)."""
    out_w = 4

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = []
            for content in pdf["content"]:
                frames, _ = decode_rawm(bytes(content))
                n, h, w, c = frames.shape
                ys = (np.arange(out_h) * h // out_h).astype(np.int64)
                xs = (np.arange(out_w) * w // out_w).astype(np.int64)
                resized = frames[:, ys[:, None], xs[None, :], :]
                contents.append(encode_rawm(np.ascontiguousarray(resized)))
            out = pdf.copy()
            out["content"] = contents
            out["width"] = out_w
            out["height"] = out_h
            yield out

    return map_batches(df, mapper, MEDIA_SCHEMA)


def sample_frames(df: DataFrame, every_k: int) -> DataFrame:
    """Keep every k-th frame of video media (temporal downsample)."""

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, n_frames = [], []
            for content in pdf["content"]:
                frames, _ = decode_rawm(bytes(content))
                kept = np.ascontiguousarray(frames[::every_k])
                contents.append(encode_rawm(kept))
                n_frames.append(kept.shape[0])
            out = pdf.copy()
            out["content"] = contents
            out["n_frames"] = n_frames
            yield out

    return map_batches(df, mapper, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: RIFF/WAVE PCM codec (dependency-free, like decode_png) + features
# ---------------------------------------------------------------------------

# IMA/DVI ADPCM tables (IMA Digital Audio Pack recommendation; same
# constants as every interoperable implementation)
_IMA_STEP = np.array(
    [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
     41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
     190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
     724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
     2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
     6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
     16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767],
    np.int32,
)
_IMA_INDEX = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8], np.int32
)


def _ima_step_nibble(pred, index, n):
    """One IMA ADPCM decode step (vectorized over any shape): returns the
    new (pred, index). The diff reconstruction is the spec's shift-add
    form — bit-exact to the reference integer implementation."""
    step = _IMA_STEP[index]
    diff = (
        (step >> 3)
        + np.where(n & 4, step, 0)
        + np.where(n & 2, step >> 1, 0)
        + np.where(n & 1, step >> 2, 0)
    )
    pred = np.clip(np.where(n & 8, pred - diff, pred + diff), -32768, 32767)
    index = np.clip(index + _IMA_INDEX[n], 0, 88)
    return pred, index


def _decode_ima_adpcm_blocks(
    arr: np.ndarray, n_ch: int, samples_per_block: int | None = None
) -> np.ndarray:
    """Decode (n_blocks, block_len) uint8 IMA ADPCM blocks → int32 samples
    interleaved as (n_blocks * samples_per_block * n_ch,). Vectorized
    across blocks and channels; only the within-block nibble scan is
    sequential (it is a genuine recurrence)."""
    nblk, blen = arr.shape
    hdr = arr[:, : 4 * n_ch].reshape(nblk, n_ch, 4).astype(np.uint16)
    pred = (hdr[:, :, 0] | (hdr[:, :, 1] << 8)).astype(np.int16).astype(np.int32)
    index = np.clip(hdr[:, :, 2].astype(np.int32), 0, 88)
    body = arr[:, 4 * n_ch :]
    nwords = body.shape[1] // (4 * n_ch)
    body = body[:, : nwords * 4 * n_ch].reshape(nblk, nwords, n_ch, 4)
    nib = np.empty((nblk, nwords, n_ch, 8), np.uint8)
    nib[..., 0::2] = body & 0x0F  # low nibble first per spec
    nib[..., 1::2] = body >> 4
    nib = nib.transpose(0, 2, 1, 3).reshape(nblk, n_ch, nwords * 8)
    out = np.empty((nblk, n_ch, 1 + nwords * 8), np.int32)
    out[:, :, 0] = pred
    for t in range(nwords * 8):
        pred, index = _ima_step_nibble(pred, index, nib[:, :, t].astype(np.int32))
        out[:, :, t + 1] = pred
    frames = out.transpose(0, 2, 1)  # (nblk, frames, n_ch)
    if samples_per_block is not None:
        # conformant blocks may carry spare nibble capacity; decoding it
        # would inject phantom frames after every interior block
        frames = frames[:, :samples_per_block]
    return frames.reshape(-1)


def _fmt_samples_per_block(fmt_body: bytes) -> int | None:
    """wSamplesPerBlock from an ADPCM fmt chunk's extension (offset 18,
    after the 16-byte common fields + 2-byte cbSize), or None when the
    extension is absent/short. Blocks can have SPARE nibble capacity
    (capacity > wSamplesPerBlock); decoding every nibble would insert
    phantom frames after each interior block and desynchronize all later
    sample positions — the fact-chunk trim only fixes the tail."""
    import struct as _struct

    if len(fmt_body) < 20:
        return None
    (cb,) = _struct.unpack_from("<H", fmt_body, 16)
    if cb < 2:
        return None
    (spb,) = _struct.unpack_from("<H", fmt_body, 18)
    return spb if spb >= 1 else None


def _decode_ima_adpcm(
    data: bytes,
    n_ch: int,
    block_align: int,
    samples_per_block: int | None = None,
) -> np.ndarray:
    if block_align < 4 * n_ch + 4 * n_ch:
        raise ValueError("WAV: IMA ADPCM block_align too small")
    nblk, rem = divmod(len(data), block_align)
    arr = np.frombuffer(data, np.uint8, nblk * block_align).reshape(
        nblk, block_align
    )
    spb = samples_per_block
    parts = [_decode_ima_adpcm_blocks(arr, n_ch, spb)] if nblk else []
    if rem >= 8 * n_ch:  # trailing short block (last block of a stream)
        tail = np.frombuffer(data, np.uint8, rem - rem % (4 * n_ch), nblk * block_align)
        parts.append(_decode_ima_adpcm_blocks(tail.reshape(1, -1), n_ch, spb))
    if not parts:
        return np.empty(0, np.int32)
    return np.concatenate(parts)


# MS-ADPCM tables (the Microsoft WAVE spec's seven predictor pairs and
# the 16-entry delta adaptation table; same constants as libsndfile/ffmpeg)
_MS_COEF1 = np.array([256, 512, 0, 192, 240, 460, 392], np.int64)
_MS_COEF2 = np.array([0, -256, 0, 64, 0, -208, -232], np.int64)
_MS_ADAPT = np.array(
    [230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307,
     230, 230, 230],
    np.int64,
)


def _decode_ms_adpcm_blocks(
    arr: np.ndarray, n_ch: int, samples_per_block: int | None = None
) -> np.ndarray:
    """Decode (n_blocks, block_len) uint8 MS-ADPCM blocks → int32 samples
    interleaved as (n_blocks * samples_per_block * n_ch,). The two header
    samples per channel are emitted verbatim (sample2 first — they ARE
    the first two frames), then the nibble recurrence: predict =
    (s1*c1 + s2*c2) >> 8, new = predict + signed_nibble * delta, delta =
    max((adapt[n] * delta) >> 8, 16). Vectorized across blocks and
    channels; the within-block scan is a genuine recurrence."""
    nblk, blen = arr.shape
    a = arr.astype(np.int64)
    pred_idx = np.clip(a[:, :n_ch], 0, 6)
    c1 = _MS_COEF1[pred_idx]
    c2 = _MS_COEF2[pred_idx]

    def i16(lo, hi):
        return ((lo | (hi << 8)).astype(np.uint16)).astype(np.int16).astype(np.int64)

    base = n_ch
    delta = i16(a[:, base : base + 2 * n_ch : 2], a[:, base + 1 : base + 2 * n_ch : 2])
    base += 2 * n_ch
    s1 = i16(a[:, base : base + 2 * n_ch : 2], a[:, base + 1 : base + 2 * n_ch : 2])
    base += 2 * n_ch
    s2 = i16(a[:, base : base + 2 * n_ch : 2], a[:, base + 1 : base + 2 * n_ch : 2])
    body = arr[:, 7 * n_ch :]
    n_nib = body.shape[1] * 2
    nib = np.empty((nblk, n_nib), np.uint8)
    nib[:, 0::2] = body >> 4  # HIGH nibble first (unlike IMA)
    nib[:, 1::2] = body & 0x0F
    n_frames_nib = n_nib // n_ch
    nib = nib[:, : n_frames_nib * n_ch].reshape(nblk, n_frames_nib, n_ch)
    out = np.empty((nblk, 2 + n_frames_nib, n_ch), np.int64)
    out[:, 0] = s2
    out[:, 1] = s1
    for t in range(n_frames_nib):
        n = nib[:, t].astype(np.int64)
        signed = np.where(n >= 8, n - 16, n)
        predict = (s1 * c1 + s2 * c2) >> 8
        new = np.clip(predict + signed * delta, -32768, 32767)
        s2, s1 = s1, new
        delta = np.maximum((_MS_ADAPT[n] * delta) >> 8, 16)
        out[:, 2 + t] = new
    if samples_per_block is not None:
        # see _fmt_samples_per_block: spare nibble capacity is NOT data
        out = out[:, :samples_per_block]
    return out.reshape(-1).astype(np.int32)


def _decode_ms_adpcm(
    data: bytes,
    n_ch: int,
    block_align: int,
    samples_per_block: int | None = None,
) -> np.ndarray:
    if block_align < 7 * n_ch + n_ch:
        raise ValueError("WAV: MS-ADPCM block_align too small")
    nblk, rem = divmod(len(data), block_align)
    arr = np.frombuffer(data, np.uint8, nblk * block_align).reshape(
        nblk, block_align
    )
    spb = samples_per_block
    parts = [_decode_ms_adpcm_blocks(arr, n_ch, spb)] if nblk else []
    if rem >= 7 * n_ch + n_ch:  # trailing short block
        tail = np.frombuffer(
            data, np.uint8, rem - (rem - 7 * n_ch) % n_ch, nblk * block_align
        )
        parts.append(_decode_ms_adpcm_blocks(tail.reshape(1, -1), n_ch, spb))
    if not parts:
        return np.empty(0, np.int32)
    return np.concatenate(parts)


def encode_wav_ms_adpcm(samples: np.ndarray, block_frames: int = 64) -> bytes:
    """Fixture generator: (n_frames, n_channels) int16 samples → a 16 kHz
    MS-ADPCM (format tag 2) WAV with ``block_frames`` frames per block.
    The first two frames of each block are stored VERBATIM in the block
    header (so they decode exactly); the rest quantize greedily against
    the first predictor pair with the spec's delta adaptation. Emits the
    fmt extension (samples-per-block + the seven coefficient pairs) and
    a fact chunk with the true frame count."""
    import struct as _struct

    if samples.ndim == 1:
        samples = samples[:, None]
    x = np.asarray(samples, np.int64)
    n_frames, n_ch = x.shape
    if block_frames < 2:
        raise ValueError("WAV: MS-ADPCM needs >= 2 frames per block")
    c1 = int(_MS_COEF1[0])
    c2 = int(_MS_COEF2[0])
    blocks = bytearray()
    for b0 in range(0, n_frames, block_frames):
        blk = x[b0 : b0 + block_frames]
        if blk.shape[0] < 2:  # a 1-frame tail cannot fill a header
            blk = np.vstack([blk, blk[-1:]])
        delta = [128] * n_ch
        s2 = blk[0].tolist()
        s1 = blk[1].tolist()
        blocks += bytes(n_ch)
        for d in delta:
            blocks += _struct.pack("<h", d)
        for v in s1:
            blocks += _struct.pack("<h", int(v))
        for v in s2:
            blocks += _struct.pack("<h", int(v))
        nibbles: list[int] = []
        for t in range(2, block_frames):
            row = blk[t] if t < blk.shape[0] else blk[-1]
            for ch in range(n_ch):
                predict = (s1[ch] * c1 + s2[ch] * c2) >> 8
                n = int(np.clip(
                    round((int(row[ch]) - predict) / delta[ch]), -8, 7
                ))
                new = int(np.clip(predict + n * delta[ch], -32768, 32767))
                s2[ch], s1[ch] = s1[ch], new
                delta[ch] = max((int(_MS_ADAPT[n & 0x0F]) * delta[ch]) >> 8, 16)
                nibbles.append(n & 0x0F)
        if len(nibbles) % 2:
            nibbles.append(0)
        for i in range(0, len(nibbles), 2):
            blocks += bytes([(nibbles[i] << 4) | nibbles[i + 1]])
    block_align = 7 * n_ch + ((block_frames - 2) * n_ch + 1) // 2
    coefs = b"".join(
        _struct.pack("<hh", int(a), int(b))
        for a, b in zip(_MS_COEF1, _MS_COEF2)
    )
    ext = _struct.pack("<H", block_frames) + coefs
    fmt = _struct.pack(
        "<HHIIHHH",
        2,
        n_ch,
        16000,
        16000 * block_align // block_frames,
        block_align,
        4,
        len(ext),
    ) + ext
    fact = _struct.pack("<I", n_frames)
    data = bytes(blocks)
    return (
        b"RIFF"
        + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + _struct.pack("<I", len(fmt))
        + fmt
        + b"fact"
        + _struct.pack("<I", len(fact))
        + fact
        + b"data"
        + _struct.pack("<I", len(data))
        + data
    )


def _ima_encode_nibbles(
    samples: np.ndarray, index: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Encode one block's samples — (B, spb) int32, column 0 being the
    header predictor — into (B, spb-1) uint8 nibbles, vectorized over the
    batch axis (channels of one clip, or a whole corpus of mono clips,
    as adpcm_audio_stats does). Prediction runs the decoder's own state
    machine (:func:`_ima_step_nibble`), so decode(encode(x)) carries only
    the codec's 4-bit quantization error. Returns the nibbles and the
    per-row step index after the block."""
    B, spb = samples.shape
    pred = samples[:, 0].astype(np.int32)
    index = index.astype(np.int32)
    out = np.empty((B, spb - 1), np.uint8)
    for t in range(1, spb):
        step = _IMA_STEP[index]
        delta = samples[:, t].astype(np.int32) - pred
        sign = delta < 0
        d = np.abs(delta)
        c4 = d >= step
        d -= np.where(c4, step, 0)
        c2 = d >= step >> 1
        d -= np.where(c2, step >> 1, 0)
        c1 = d >= step >> 2
        code = (sign * 8 + c4 * 4 + c2 * 2 + c1).astype(np.int32)
        pred, index = _ima_step_nibble(pred, index, code)
        out[:, t - 1] = code
    return out, index


def encode_wav_ima_adpcm(
    samples: np.ndarray, sample_rate: int = 16000, block_align: int = 256
) -> bytes:
    """Fixture generator: encode (n_frames, n_channels) int16 samples as an
    IMA ADPCM WAV (format tag 17) with the standard block layout and a
    ``fact`` chunk carrying the true per-channel frame count. The encoder
    runs the decoder's state machine for prediction, so decode(encode(x))
    reconstructs with the codec's native 4-bit quantization error only."""
    import struct as _struct

    if samples.ndim == 1:
        samples = samples[:, None]
    s = np.asarray(samples, np.int32)
    n_frames, n_ch = s.shape
    spb = 1 + (block_align - 4 * n_ch) * 2 // n_ch  # samples per block
    data = bytearray()
    index = np.zeros(n_ch, np.int32)
    for b0 in range(0, n_frames, spb):
        blk = s[b0 : b0 + spb]
        if len(blk) < spb:  # pad the tail block by holding the last frame
            blk = np.vstack([blk, np.repeat(blk[-1:], spb - len(blk), 0)])
        for ch in range(n_ch):
            data += _struct.pack("<hBB", int(blk[0, ch]), int(index[ch]), 0)
        nibs, index = _ima_encode_nibbles(
            np.ascontiguousarray(blk.T), index
        )
        packed = (nibs[:, 0::2] | (nibs[:, 1::2] << 4)).astype(np.uint8)
        # interleave the spec's 4-byte channel words
        data += packed.reshape(n_ch, -1, 4).transpose(1, 0, 2).tobytes()
    fmt = _struct.pack(
        "<HHIIHHHH", 17, n_ch, sample_rate,
        sample_rate * block_align // spb, block_align, 4, 2, spb,
    )
    fact = _struct.pack("<I", n_frames)
    return (
        b"RIFF"
        + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"fact" + _struct.pack("<I", len(fact)) + fact
        + b"data" + _struct.pack("<I", len(data)) + bytes(data)
    )


def decode_wav(content: bytes) -> tuple[np.ndarray, dict]:
    """Dependency-free RIFF/WAVE decode → (samples, meta).

    Handles the common PCM profile: format tag 1 (integer PCM, 8/16/32-bit),
    3 (float32), 7 (ITU-T G.711 mu-law) and 6 (G.711 A-law) — the 8-bit
    companded telephony formats, expanded with the standard
    segment/mantissa formulas, bit-exact to the reference g711 tables,
    vectorized — plus 17 (IMA/DVI ADPCM, the 4-bit block-predictive
    telephony/game codec: per-block per-channel predictor+step-index
    headers, low-nibble-first data interleaved in 4-byte channel words,
    the 89-entry step table state machine; decoded vectorized ACROSS
    blocks with the sequential scan only over within-block nibble
    positions) — and 2 (MICROSOFT ADPCM: seven predictor pairs, two
    VERBATIM header samples per channel per block, high-nibble-first
    channel-cycled data, the 16-entry delta adaptation; same
    across-blocks vectorization). Any channel count; chunks are walked
    by the spec (word-aligned), so fmt/data need not be adjacent.
    Remaining compressed formats (MP3-in-WAV…) raise
    ``NotImplementedError``.

    Returns samples as float64 in [-1, 1], shape (n_frames, n_channels),
    and meta {sample_rate, n_channels, n_samples, bit_depth}."""
    import struct as _struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    pos, fmt, data, fact = 12, None, None, None
    fmt_body = b""
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (size,) = _struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = _struct.unpack_from("<HHIIHH", body)
            fmt_body = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and size >= 4:
            (fact,) = _struct.unpack_from("<I", body)
    if fmt is None or data is None:
        raise ValueError("WAV: missing fmt or data chunk")
    tag, n_ch, rate, _byterate, _align, bits = fmt
    if tag == 1 and bits in (8, 16, 32):
        if bits == 8:  # 8-bit PCM is unsigned per spec
            raw = np.frombuffer(data, np.uint8).astype(np.float64)
            samples = (raw - 128.0) / 128.0
        else:
            dtype = np.int16 if bits == 16 else np.int32
            raw = np.frombuffer(data, dtype).astype(np.float64)
            samples = raw / float(2 ** (bits - 1))
    elif tag == 3 and bits == 32:
        samples = np.frombuffer(data, np.float32).astype(np.float64)
    elif tag == 7 and bits == 8:
        # G.711 mu-law expansion (the inverted-byte segment/mantissa form
        # of the classic g711.c ulaw2linear): byte 0xFF/0x7F -> 0 silence,
        # 0x80 -> +32124, 0x00 -> -32124 (the codec's full-scale anchors)
        u = (~np.frombuffer(data, np.uint8)).astype(np.int32) & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
        samples = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.float64) / 32768.0
    elif tag == 6 and bits == 8:
        # G.711 A-law expansion (g711.c alaw2linear): even-bit inversion
        # (XOR 0x55), segment 0 is linear (no hidden bit), segments 1-7
        # add the 0x100 hidden bit and shift
        a = (np.frombuffer(data, np.uint8).astype(np.int32)) ^ 0x55
        seg = (a >> 4) & 0x07
        mant = a & 0x0F
        mag = np.where(
            seg == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << (seg - 1)
        )
        samples = np.where(a & 0x80, mag, -mag).astype(np.float64) / 32768.0
    elif tag == 17 and bits == 4:
        block_align = fmt[4]
        samples = _decode_ima_adpcm(
            data, n_ch, block_align, _fmt_samples_per_block(fmt_body)
        ).astype(np.float64) / 32768.0
    elif tag == 2 and bits == 4:
        block_align = fmt[4]
        samples = _decode_ms_adpcm(
            data, n_ch, block_align, _fmt_samples_per_block(fmt_body)
        ).astype(np.float64) / 32768.0
    else:
        raise NotImplementedError(
            f"WAV: only integer PCM (8/16/32-bit), float32, 8-bit "
            f"mu-law/A-law and 4-bit IMA/MS ADPCM are supported "
            f"(got format tag {tag}, {bits}-bit)"
        )
    n_frames = len(samples) // n_ch
    samples = samples[: n_frames * n_ch].reshape(n_frames, n_ch)
    if fact is not None and tag != 1 and fact <= n_frames:
        # compressed formats pad to block boundaries; `fact` holds the
        # true per-channel frame count
        samples = samples[:fact]
        n_frames = fact
    return samples, {
        "sample_rate": rate,
        "n_channels": n_ch,
        "n_samples": n_frames,
        "bit_depth": bits,
    }


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Serialize (n_frames, n_channels) float samples in [-1, 1] as 16-bit
    PCM WAV — :func:`decode_wav`'s common profile."""
    import struct as _struct

    if samples.ndim == 1:
        samples = samples[:, None]
    n_frames, n_ch = samples.shape
    pcm = np.clip(np.asarray(samples, np.float64), -1.0, 1.0)
    ints = np.round(pcm * 32767.0).astype("<i2")
    data = ints.tobytes()
    fmt = _struct.pack("<HHIIHH", 1, n_ch, sample_rate, sample_rate * n_ch * 2, n_ch * 2, 16)
    return (
        b"RIFF"
        + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + _struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + _struct.pack("<I", len(data))
        + data
    )


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Audio feature extraction over WAV binary columns, keyed by ``path``
    (one ``sources._binary_meta_source`` pass; bytes never leave the
    executor): sample rate, channels, duration, RMS energy, peak amplitude
    and zero-crossing rate per row. An undecodable file survives as one
    ``parse_ok = false`` row with NULL features."""
    from ..sources import _binary_meta_source

    def rows_fn(decoded):
        samples, meta = decoded
        mono = samples.mean(axis=1)
        n = len(mono)
        dur = n / meta["sample_rate"] if meta["sample_rate"] else 0.0
        rms = float(np.sqrt(np.mean(mono**2))) if n else 0.0
        peak = float(np.abs(mono).max()) if n else 0.0
        zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
        return [(meta["sample_rate"], meta["n_channels"], dur, rms, peak, zcr)]

    return _binary_meta_source(
        df, "content", "path", decode_wav,
        "sample_rate int, n_channels int, duration_s double, rms double,"
        " peak double, zero_cross_rate double",
        rows_fn,
    )
