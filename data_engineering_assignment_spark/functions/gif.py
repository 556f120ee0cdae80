"""Dependency-free GIF codec (GIF87a/89a) for the multimodal column set.

The third real image format next to PNG (``functions/multimodal.py``) and
JPEG (``functions/jpeg.py``), and the first with NATIVE multi-frame decode
(animation): the reference's image scan route (Assignment-python.py:710,
OpenCV imread) reads single GIF frames; training-data crawls carry GIFs
routinely, so the decode path must be real, not a PIL hook.

* :func:`decode_gif` — full decode: header/LSD parse, global + local color
  tables, LZW decompression (variable code width 3..12 bits LSB-first,
  CLEAR/EOI codes, deferred-clear tolerant), the 4-pass row interlace,
  GIF89a graphic-control extensions (transparency index, disposal), and
  frame COMPOSITION onto the logical screen (disposal 0/1 leave, 2 restore
  to background, 3 restore to previous) → (n_frames, H, W, 4) uint8 BGRA
  frames like the other codecs.
* :func:`encode_gif` — fixture generator (the jc_*.jpg / encode_png16
  discipline: every decode path gets fixtures from our own encoder):
  arbitrary palettes (2/4/8/16/.../256), per-frame local palettes,
  interlace, transparency + disposal, multi-frame animations. The LZW
  writer grows code width at dictionary size 2^w and emits CLEAR at 4096
  (the standard scheme every decoder must accept).

Both sides are numpy-vectorized where it matters (palette lookup,
interlace scatter, composition); the LZW symbol loops are plain Python —
fine for icon/thumbnail fixtures, and the documented swap-in point for a
compiled codec on megapixel corpora (the PNG unfilter note applies).
"""

from __future__ import annotations

import struct

import numpy as np

_GIF_MAGICS = (b"GIF87a", b"GIF89a")

# 4-pass interlace row schedule (GIF spec appendix E): (start, step)
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Output-row index for each stored row of an interlaced image."""
    return np.concatenate(
        [np.arange(s, h, t) for s, t in _INTERLACE if s < h]
    )


class _BitReader:
    """LSB-first bit reader over the concatenated LZW sub-block bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        v, got = 0, 0
        while got < nbits:
            byte_i, bit_i = divmod(self.pos, 8)
            if byte_i >= len(self.data):
                raise ValueError("GIF: LZW stream truncated")
            take = min(8 - bit_i, nbits - got)
            v |= ((self.data[byte_i] >> bit_i) & ((1 << take) - 1)) << got
            got += take
            self.pos += take
        return v


def _lzw_decode(min_code_size: int, data: bytes, n_expected: int) -> np.ndarray:
    """GIF LZW → index stream of exactly ``n_expected`` pixels."""
    clear = 1 << min_code_size
    eoi = clear + 1
    rd = _BitReader(data)
    out = np.empty(n_expected, np.uint8)
    n_out = 0

    def reset():
        return (
            {i: (i,) for i in range(clear)},
            clear + 2,
            min_code_size + 1,
        )

    table, next_code, width = reset()
    prev: tuple[int, ...] | None = None
    while n_out < n_expected:
        code = rd.read(width)
        if code == clear:
            table, next_code, width = reset()
            prev = None
            continue
        if code == eoi:
            break
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            raise ValueError(f"GIF: bad LZW code {code}")
        take = min(len(entry), n_expected - n_out)
        out[n_out : n_out + take] = entry[:take]
        n_out += take
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            # width grows when the NEXT code to assign would not fit;
            # capped at 12 (deferred-clear streams keep emitting 12-bit)
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    if n_out != n_expected:
        raise ValueError("GIF: LZW stream ended short of the image size")
    return out


class _BitWriter:
    """LSB-first bit writer (encoder twin of :class:`_BitReader`)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


def _lzw_encode(min_code_size: int, indices: np.ndarray) -> bytes:
    """Index stream → GIF LZW bytes (CLEAR first, CLEAR on full table,
    EOI last — the canonical scheme)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    wr = _BitWriter()

    def reset():
        return {(i,): i for i in range(clear)}, clear + 2, min_code_size + 1

    table, next_code, width = reset()
    wr.write(clear, width)
    prev: tuple[int, ...] = ()
    for px in map(int, indices):
        cand = prev + (px,)
        if cand in table:
            prev = cand
            continue
        wr.write(table[prev], width)
        table[cand] = next_code
        next_code += 1
        # Width sync with the standard (giflib/tutorial) decoder, which
        # runs ONE TABLE-ADD BEHIND the encoder (its first code after a
        # clear adds nothing) and grows at ITS next_code == 2^width: the
        # encoder therefore grows one add later, at 2^width + 1. Table
        # full at 4096 -> emit CLEAR and reset.
        if next_code >= 4096:
            wr.write(clear, width)
            table, next_code, width = reset()
        elif next_code == (1 << width) + 1 and width < 12:
            width += 1
        prev = (px,)
    if prev:
        wr.write(table[prev], width)
        # the final emission has no matching add, so encoder and decoder
        # counters are EQUAL here — apply the decoder's own growth rule
        # (phantom add) so EOI is written at the width the decoder reads
        if next_code == (1 << width) and width < 12:
            width += 1
    wr.write(eoi, width)
    return wr.flush()


def _sub_blocks(data: bytes) -> bytes:
    """Wrap bytes into <=255-byte GIF sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _read_sub_blocks(content: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(content):
            raise ValueError("GIF: truncated sub-blocks")
        n = content[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += content[pos : pos + n]
        if len(content) < pos + n:
            raise ValueError("GIF: truncated sub-block")
        pos += n


def decode_gif(content: bytes) -> tuple[np.ndarray, dict]:
    """Decode a GIF → (frames (n, H, W, 4) uint8 BGRA, metadata dict).

    Frames are COMPOSED onto the logical screen the way a viewer renders
    them: frame 0 starts from a transparent canvas, disposal 0/1 leaves
    the canvas for the next frame, disposal 3 restores the rectangle to
    its pre-frame content, disposal 2 restores the frame's
    rectangle to transparent. Transparent-index pixels leave the canvas
    unchanged (alpha stays whatever lies beneath).
    """
    if content[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF: bad signature")
    if len(content) < 13:
        raise ValueError("GIF: truncated header")
    w, h, flags, _bg, _aspect = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(content, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n

    canvas = np.zeros((h, w, 4), np.uint8)  # RGBA, transparent
    frames: list[np.ndarray] = []
    transparent: int | None = None
    disposal = 0
    n_loops = None
    while pos < len(content):
        b = content[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = content[pos]
            pos += 1
            data, pos = _read_sub_blocks(content, pos)
            if label == 0xF9:  # graphic control
                if len(data) < 4:
                    raise ValueError("GIF: short graphic-control block")
                gflags = data[0]
                disposal = (gflags >> 2) & 0x7
                transparent = data[3] if gflags & 1 else None
            elif label == 0xFF and data[:11] == b"NETSCAPE2.0":
                if len(data) >= 14 and data[11] == 1:
                    n_loops = struct.unpack_from("<H", data, 12)[0]
            continue
        if b != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{b:02x}")
        # image descriptor
        left, top, iw, ih, iflags = struct.unpack_from("<HHHHB", content, pos)
        pos += 9
        ct = gct
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            ct = np.frombuffer(content, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF: image with neither global nor local palette")
        min_code = content[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError(f"GIF: bad LZW minimum code size {min_code}")
        data, pos = _read_sub_blocks(content, pos)
        idx = _lzw_decode(min_code, data, iw * ih).reshape(ih, iw)
        if iflags & 0x40:  # interlaced: stored rows scatter to output rows
            tmp = np.empty_like(idx)
            tmp[_interlace_order(ih)] = idx
            idx = tmp
        if idx.max(initial=0) >= len(ct):
            raise ValueError("GIF: palette index out of range")
        rgba = np.dstack([ct[idx], np.full((ih, iw), 255, np.uint8)])
        region = canvas[top : top + ih, left : left + iw]
        if region.shape[:2] != (ih, iw):
            raise ValueError("GIF: frame rectangle exceeds logical screen")
        if transparent is not None:
            keep = idx == transparent
            rgba[keep] = region[keep]
        # disposal 3 (restore-to-previous): the NEXT frame composes on the
        # canvas as it was BEFORE this frame drew — save the rectangle now
        saved = region.copy() if disposal == 3 else None
        canvas[top : top + ih, left : left + iw] = rgba
        frames.append(canvas[:, :, [2, 1, 0, 3]].copy())  # BGRA snapshot
        if disposal == 2:  # restore rectangle to background (transparent)
            canvas[top : top + ih, left : left + iw] = 0
        elif disposal == 3:
            canvas[top : top + ih, left : left + iw] = saved
        transparent = None
        disposal = 0
    if not frames:
        raise ValueError("GIF: no image data")
    meta = {
        "width": w,
        "height": h,
        "channels": 4,
        "n_frames": len(frames),
    }
    if n_loops is not None:
        meta["n_loops"] = n_loops
    return np.stack(frames), meta


def encode_gif(
    frames: list[np.ndarray] | np.ndarray,
    palette: np.ndarray,
    transparent: int | None | list[int | None] = None,
    disposals: list[int] | None = None,
    interlace: bool = False,
    offsets: list[tuple[int, int]] | None = None,
    loop: int | None = None,
) -> bytes:
    """Serialize palette-index frames as a GIF89a.

    ``frames``: list of (h_i, w_i) uint8 index arrays (sizes may differ —
    animation sub-rectangles); ``palette``: (n, 3) uint8 RGB with n a
    power of two in 2..256; ``offsets``: per-frame (left, top) placement
    on the logical screen (default (0, 0)); the logical screen is the
    bounding box of every placed frame;
    ``transparent``: one index for every frame, or a per-frame list
    (None = that frame is fully opaque). A graphic-control extension is
    written per frame whenever transparency, a disposal method or
    animation is in play.
    """
    if isinstance(frames, np.ndarray) and frames.ndim == 2:
        frames = [frames]
    frames = [np.asarray(f, np.uint8) for f in frames]
    palette = np.asarray(palette, np.uint8)
    n_colors = len(palette)
    if n_colors not in (2, 4, 8, 16, 32, 64, 128, 256):
        raise ValueError("GIF palette size must be a power of two in 2..256")
    depth = max(1, (n_colors - 1).bit_length())
    offsets = offsets or [(0, 0)] * len(frames)
    disposals = disposals or [0] * len(frames)
    if not isinstance(transparent, list):
        transparent = [transparent] * len(frames)
    sw = max(o[0] + f.shape[1] for o, f in zip(offsets, frames))
    sh = max(o[1] + f.shape[0] for o, f in zip(offsets, frames))

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | (depth - 1), 0, 0)
    out += palette.tobytes()
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0"
        out += bytes([3, 1]) + struct.pack("<H", loop) + b"\x00"
    animated = len(frames) > 1
    for f, (left, top), disp, transp in zip(
        frames, offsets, disposals, transparent
    ):
        if f.max(initial=0) >= n_colors:
            raise ValueError("GIF frame index out of palette range")
        if transp is not None or disp or animated:
            gflags = (disp & 0x7) << 2
            tidx = 0
            if transp is not None:
                gflags |= 1
                tidx = transp
            out += b"\x21\xf9" + bytes([4, gflags, 2, 0, tidx, 0])
        ih, iw = f.shape
        iflags = 0x40 if interlace else 0
        out += b"\x2c" + struct.pack("<HHHHB", left, top, iw, ih, iflags)
        stored = f[_interlace_order(ih)] if interlace else f
        min_code = max(2, depth)
        out += bytes([min_code])
        out += _sub_blocks(_lzw_encode(min_code, stored.ravel()))
    out += b"\x3b"
    return bytes(out)
