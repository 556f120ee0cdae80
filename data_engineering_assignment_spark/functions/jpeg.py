"""Dependency-free baseline JPEG codec (grayscale AND interleaved color).

The multimodal surface treats JPEG as a first-class image format
(reference parity: Assignment-python.py:710-716 consumes Spark's ``image``
source, whose real-world corpus is mostly JPEG), but this container ships
neither PIL nor ffmpeg. Instead of leaving the JPEG hook forever untested,
this module implements the baseline sequential DCT process from the public
JPEG specification (ITU-T T.81 / ISO 10918-1) for 8-bit precision:

* :func:`decode_jpeg` — a REAL decoder: marker parse (SOI/DQT/SOF0/
  DHT/SOS/EOI, unknown segments skipped, standalone TEM/RSTn handled),
  canonical Huffman tables built from the file's own DHT, entropy decode
  with 0xFF00 un-stuffing, EXTEND sign recovery (T.81 F.2.2.1),
  dequantize, de-zigzag, orthonormal 2-D IDCT, level shift + clamp.
  Single-component images decode to an (h, w) gray array; three-component
  interleaved scans (the real-corpus case: 4:4:4 / 4:2:2 / 4:2:0 YCbCr)
  decode the MCU stream per T.81 A.2.3, replicate the chroma planes up to
  full resolution, and convert YCbCr→RGB per JFIF (half-up rounding) into
  an (h, w, 3) array. Restart intervals (DRI + modulo-8 RSTn cycling with
  byte alignment and DC-predictor reset, T.81 E.2.4) are decoded, with
  the marker sequence enforced. It decodes conformant baseline files, not
  just this module's own output.
* PROGRESSIVE files (SOF2, T.81 Annex G) decode natively too: the
  multi-scan loop accumulates coefficients across DC/AC first and
  refinement scans — spectral selection bands, successive approximation
  with positional correction bits, EOB runs spanning blocks, per-scan
  restart intervals — then dequantizes and IDCTs once. Progressive is a
  lossless reorganization of the entropy layer, so tests assert the
  decode is bit-identical to the sequential stream of the same image.
* :func:`encode_jpeg_gray` / :func:`encode_jpeg_color` /
  :func:`encode_jpeg_progressive` — the fixture generators: block DCT,
  Annex-K quantization (K.1 luminance, K.2 chrominance), box-averaged
  chroma subsampling, zigzag run-length + magnitude coding, and a
  fixed-length canonical Huffman table (all DC categories at 4 bits, all
  162 run/size symbols at 8 bits — valid JPEG, since the tables ride the
  file's DHT segment and the all-ones code stays unused as T.81
  requires). The progressive encoder emits the real-encoder scan script
  (DC Al=1, per-component AC bands 1-5/6-63 Al=1, refinements to Al=0)
  with EOB runs capped at 1 (a conformant choice that keeps the
  Annex-K-shaped symbol set; the decoder handles arbitrary runs).

16-bit quantization tables (DQT Pq=1) decode natively — accepted with
8-bit samples the way libjpeg does, though T.81 reserves them for
12-bit precision. 12-bit SAMPLE precision decodes natively for BOTH
Huffman processes (SOF1 extended sequential and SOF2 progressive:
level shift 2048, clamp 0..4095, output floored to the uint8 frame
contract via >> 4 — libjpeg's scaled-output convention), leaving no
guarded JPEG profile short of the arithmetic-coded (SOF9+) and
lossless/hierarchical processes, which real crawls effectively never
carry.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

# zigzag scan order (T.81 figure 5), generated: diagonal s = i + j walks
# i-ascending when s is odd, i-descending when s is even
_ZIGZAG: list[tuple[int, int]] = []
for _s in range(15):
    _rng = range(0, _s + 1) if _s % 2 == 1 else range(_s, -1, -1)
    for _i in _rng:
        _j = _s - _i
        if _i < 8 and _j < 8:
            _ZIGZAG.append((_i, _j))

# Annex K.2 chrominance quantization table (quality ~50), natural order
_QTABLE_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# Annex K.1 luminance quantization table (quality ~50), natural order
_QTABLE = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal DCT-II basis: A[u, x] = c(u) cos((2x+1)u pi / 16)."""
    a = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(1.0 / 8.0) if u == 0 else np.sqrt(2.0 / 8.0)
        for x in range(8):
            a[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return a


_A = _dct_matrix()

# encoder Huffman tables: fixed-length canonical codes (see module doc).
# DC: categories 0..11 at 4 bits; AC: EOB, ZRL and every (run, size) with
# run 0..15, size 1..10 at 8 bits (162 symbols < 255, all-ones unused).
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical procedure."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_CODES = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_SYMBOLS)


# ---------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
            self._n -= 8
            self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec

    def restart_marker(self, m: int) -> None:
        """Byte-align and emit RSTm (T.81 E.1.4) — marker bytes are
        literal, so they bypass the 0xFF stuffing path."""
        self.flush()
        self.out.append(0xFF)
        self.out.append(0xD0 + (m & 7))


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    s = abs(v).bit_length()
    return (s, v) if v > 0 else (s, v + (1 << s) - 1)


def _quant_zz(
    block: np.ndarray, qtable: np.ndarray, mid: float = 128.0
) -> list[int]:
    """DCT + quantize one 8x8 sample block → 64 zigzag-order ints (the
    shared forward pipeline of the sequential and progressive encoders).
    ``mid`` is the level-shift point (128 for 8-bit, 2048 for 12-bit)."""
    coef = _A @ (block.astype(np.float64) - mid) @ _A.T
    q = np.round(coef / qtable).astype(np.int64)
    return [int(q[i, j]) for (i, j) in _ZIGZAG]


def _encode_block(
    wtr: _BitWriter,
    block: np.ndarray,
    qtable: np.ndarray,
    prev_dc: int,
    mid: float = 128.0,
) -> int:
    """DCT + quantize + entropy-code one 8x8 sample block; returns its DC
    value (the next block's predictor)."""
    zz = _quant_zz(block, qtable, mid)
    s, bits = _magnitude(zz[0] - prev_dc)
    code, length = _DC_CODES[s]
    wtr.write(code, length)
    if s:
        wtr.write(bits, s)
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run >= 16:
            c, ln = _AC_CODES[0xF0]  # ZRL
            wtr.write(c, ln)
            run -= 16
        s, bits = _magnitude(zz[k])
        c, ln = _AC_CODES[(run << 4) | s]
        wtr.write(c, ln)
        wtr.write(bits, s)
        run = 0
    if last_nz < 63:
        c, ln = _AC_CODES[0x00]  # EOB
        wtr.write(c, ln)
    return zz[0]


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


_DHT_PAYLOAD = (
    bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_SYMBOLS)
    + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_SYMBOLS)
)


def encode_jpeg_gray(
    img: np.ndarray,
    restart_interval: int = 0,
    qtable: np.ndarray | None = None,
    precision: int = 8,
) -> bytes:
    """Encode an (h, w) uint8 array as a baseline grayscale JPEG.

    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker (with
    DC-predictor reset) every that-many MCUs — the T.81 E.1.4 layout real
    encoders use for error resilience / parallel decode.

    ``qtable`` overrides the Annex K.1 quantization table (8x8 natural
    order, entries 1..65535); any entry above 255 switches the DQT
    segment to 16-bit element precision (Pq=1).

    ``precision=12`` takes (h, w) uint16 samples 0..4095 and emits an
    EXTENDED SEQUENTIAL file (SOF1, level shift 2048) — still Annex-K
    Huffman tables, so coefficient categories beyond their ranges (very
    high-contrast 12-bit content against a small qtable) raise KeyError;
    the fixture generator's documented envelope."""
    if precision == 8:
        img = np.asarray(img, dtype=np.uint8)
    elif precision == 12:
        img = np.asarray(img, dtype=np.uint16)
        if img.max(initial=0) > 4095:
            raise ValueError("JPEG: 12-bit samples must be 0..4095")
    else:
        raise ValueError("JPEG: precision must be 8 or 12")
    mid = float(1 << (precision - 1))
    h, w = img.shape
    if not (0 < h < 65536 and 0 < w < 65536):
        raise ValueError("image dims out of JPEG range")
    by, bx = -(-h // 8), -(-w // 8)
    padded = np.pad(img, ((0, by * 8 - h), (0, bx * 8 - w)), mode="edge")
    q = _QTABLE if qtable is None else np.asarray(qtable, np.int64)
    if q.shape != (8, 8) or q.min() < 1 or q.max() > 0xFFFF:
        raise ValueError("JPEG: qtable must be 8x8 with entries 1..65535")

    wtr = _BitWriter()
    prev_dc = 0
    n_done = 0
    n_rst = 0
    for bj in range(by):
        for bi in range(bx):
            if restart_interval and n_done and n_done % restart_interval == 0:
                wtr.restart_marker(n_rst)
                n_rst += 1
                prev_dc = 0
            prev_dc = _encode_block(
                wtr, padded[bj * 8 : bj * 8 + 8, bi * 8 : bi * 8 + 8],
                q, prev_dc, mid,
            )
            n_done += 1
    wtr.flush()

    if q.max() > 255:  # 16-bit element precision (Pq=1)
        zz_q = bytes([0x10]) + b"".join(
            struct.pack(">H", int(q[i, j])) for (i, j) in _ZIGZAG
        )
    else:
        zz_q = bytes([0]) + bytes(int(q[i, j]) for (i, j) in _ZIGZAG)
    sof = struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _seg(0xDB, zz_q)
        + _seg(0xC1 if precision == 12 else 0xC0, sof)
        + _seg(0xC4, _DHT_PAYLOAD)
        + dri
        + _seg(0xDA, sos)
        + bytes(wtr.out)
        + b"\xff\xd9"
    )


def _half_up(x: np.ndarray) -> np.ndarray:
    """Half-up rounding (floor(x + 0.5)) — the SAME rule the decoder's
    color conversion uses, so encoder and decoder agree at midpoints
    (np.round's half-even would diverge from any SQL oracle)."""
    return np.floor(x + 0.5)


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF RGB→YCbCr (floats, then half-up rounded, clipped to uint8)."""
    f = rgb.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(_half_up(np.stack([y, cb, cr], axis=-1)), 0, 255).astype(np.uint8)


_SAMPLING = {"444": ((1, 1), (1, 1), (1, 1)),
             "422": ((2, 1), (1, 1), (1, 1)),
             "420": ((2, 2), (1, 1), (1, 1))}


def _color_planes(
    rgb: np.ndarray, factors, hmax: int, vmax: int, mcux: int, mcuy: int
) -> list[np.ndarray]:
    """YCbCr planes, box-averaged to each component's sampling and padded
    to the MCU grid — the shared forward pipeline of the sequential and
    progressive color encoders."""
    h, w = rgb.shape[:2]
    ycc = rgb_to_ycbcr(rgb)
    planes: list[np.ndarray] = []
    for ci, (hi, vi) in enumerate(factors):
        plane = ycc[..., ci].astype(np.float64)
        sx, sy = hmax // hi, vmax // vi
        if sx > 1 or sy > 1:
            # box average over the sampling window (pad to a multiple first)
            ph = -(-h // sy) * sy
            pw = -(-w // sx) * sx
            p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
            plane = _half_up(
                p.reshape(ph // sy, sy, pw // sx, sx).mean(axis=(1, 3))
            )
        th, tw = mcuy * vi * 8, mcux * hi * 8
        plane = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        )
        planes.append(plane)
    return planes


def encode_jpeg_color(
    rgb: np.ndarray, subsampling: str = "420", restart_interval: int = 0
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline interleaved YCbCr
    JPEG (4:4:4, 4:2:2 or 4:2:0). Chroma is box-averaged (half-up) over
    each sampling window; quantization uses Annex K.1 (luma, table 0) and
    K.2 (chroma, table 1); all components share the fixed-length Huffman
    tables. Scans are interleaved per T.81 A.2.3 — the layout real-corpus
    decoders (and this module's :func:`decode_jpeg`) expect."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("encode_jpeg_color expects (h, w, 3) RGB")
    h, w = rgb.shape[:2]
    if not (0 < h < 65536 and 0 < w < 65536):
        raise ValueError("image dims out of JPEG range")
    if subsampling not in _SAMPLING:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    factors = _SAMPLING[subsampling]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = _color_planes(rgb, factors, hmax, vmax, mcux, mcuy)

    qtables = [_QTABLE, _QTABLE_CHROMA, _QTABLE_CHROMA]
    wtr = _BitWriter()
    prev_dc = [0, 0, 0]
    n_done = 0
    n_rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_done and n_done % restart_interval == 0:
                wtr.restart_marker(n_rst)
                n_rst += 1
                prev_dc = [0, 0, 0]
            n_done += 1
            for ci, (hi, vi) in enumerate(factors):
                for v in range(vi):
                    for u in range(hi):
                        r0 = (my * vi + v) * 8
                        c0 = (mx * hi + u) * 8
                        prev_dc[ci] = _encode_block(
                            wtr,
                            planes[ci][r0 : r0 + 8, c0 : c0 + 8],
                            qtables[ci],
                            prev_dc[ci],
                        )
    wtr.flush()

    zz = lambda t: bytes(int(t[i, j]) for (i, j) in _ZIGZAG)  # noqa: E731
    dqt = bytes([0]) + zz(_QTABLE) + bytes([1]) + zz(_QTABLE_CHROMA)
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, (factors[0][0] << 4) | factors[0][1], 0,
         2, (factors[1][0] << 4) | factors[1][1], 1,
         3, (factors[2][0] << 4) | factors[2][1], 1]
    )
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _seg(0xDB, dqt)
        + _seg(0xC0, sof)
        + _seg(0xC4, _DHT_PAYLOAD)
        + dri
        + _seg(0xDA, sos)
        + bytes(wtr.out)
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------- decoder


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 un-stuffing."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG: entropy data truncated")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG: entropy data truncated at 0xFF")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed
                else:
                    raise ValueError(f"JPEG: unexpected marker 0xFF{nxt:02x} in scan")
            self._acc = byte
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def expect_restart(self, m: int) -> None:
        """Consume an RSTm marker at a byte-aligned restart boundary
        (T.81 E.2.4): drop the partial byte's pad bits, then require the
        modulo-8-cycling marker."""
        self._n = 0
        self._acc = 0
        if self.pos + 1 >= len(self.data):
            raise ValueError("JPEG: entropy data truncated at restart")
        b0, b1 = self.data[self.pos], self.data[self.pos + 1]
        if b0 != 0xFF or b1 != 0xD0 + (m & 7):
            raise ValueError(
                f"JPEG: expected RST{m & 7} at restart boundary, "
                f"got 0x{b0:02x}{b1:02x}"
            )
        self.pos += 2

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(r: int, s: int) -> int:
    """T.81 F.2.2.1 sign extension of an s-bit magnitude field."""
    if s == 0:
        return 0
    return r if r >= (1 << (s - 1)) else r - (1 << s) + 1


def _huff_decode(rdr: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | rdr.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("JPEG: invalid Huffman code")


def _decode_block(rdr: _BitReader, dc_tab, ac_tab, qt: np.ndarray, prev_dc: int):
    """Entropy-decode + dequantize + IDCT one block → ((8, 8) float
    spatial samples pre-level-shift, new DC predictor)."""
    zz = np.zeros(64, dtype=np.float64)
    s = _huff_decode(rdr, dc_tab)
    prev_dc += _extend(rdr.read_bits(s), s)
    zz[0] = prev_dc
    k = 1
    while k < 64:
        rs = _huff_decode(rdr, ac_tab)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += rs >> 4
        size = rs & 0x0F
        if k > 63:
            raise ValueError("JPEG: AC index out of range")
        zz[k] = _extend(rdr.read_bits(size), size)
        k += 1
    coef = np.zeros((8, 8), dtype=np.float64)
    for idx, (i, j) in enumerate(_ZIGZAG):
        coef[i, j] = zz[idx]
    return _A.T @ (coef * qt) @ _A, prev_dc


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """JFIF YCbCr→RGB (floats, half-up rounded, clipped to uint8) — the
    same rounding rule the encoder's forward transform uses."""
    f = ycc.astype(np.float64)
    y, cb, cr = f[..., 0], f[..., 1] - 128.0, f[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(_half_up(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def decode_jpeg(content: bytes) -> np.ndarray:
    """Decode a baseline JPEG: single-component files → (h, w) uint8 gray;
    three-component interleaved YCbCr (4:4:4 / 4:2:2 / 4:2:0 and any
    sampling whose factors divide the maxima) → (h, w, 3) uint8 RGB.

    Restart intervals (DRI/RSTn) are decoded per T.81 E.2.4: at each
    boundary the reader byte-aligns, requires the modulo-8-cycling
    marker, and resets every DC predictor. Progressive files (SOF2)
    dispatch to :func:`_decode_progressive` (T.81 Annex G: spectral
    selection, successive approximation, EOB runs). Raises
    ``NotImplementedError`` for non-interleaved SEQUENTIAL color scans
    or component counts other than 1/3 — those route through the PIL
    hook when available. 16-bit quantization tables (DQT Pq=1) and
    12-bit precision (SOF1 sequential AND SOF2 progressive, output
    floored to uint8 via >> 4) decode natively.
    """
    if content[:2] != b"\xff\xd8":
        raise ValueError("JPEG: missing SOI")
    qtables: dict[int, np.ndarray] = {}
    # (class, id) -> {(length, code): symbol}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = 0
    prec = 8
    restart_interval = 0
    comps: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    scan: dict[int, tuple[int, int]] = {}  # cid -> (dc_id, ac_id)
    scan_order: list[int] = []
    pos = 2
    while pos < len(content):
        if content[pos] != 0xFF:
            raise ValueError("JPEG: expected marker")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad the stream
        # before a marker id — skip the run, dispatch on the first non-FF
        # byte (hardware encoders emit fill bytes; r7 review)
        while pos + 1 < len(content) and content[pos + 1] == 0xFF:
            pos += 1
        marker = content[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG: no scan data")
        pos += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are STANDALONE markers — no length field; reading
            # one as length-prefixed would misparse data bytes (r7 advice).
            # RSTn before SOS is nonconformant but must not corrupt parse.
            continue
        (seglen,) = struct.unpack_from(">H", content, pos)
        payload = content[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            _parse_dqt(payload, qtables)
        elif marker == 0xC2:  # SOF2 — progressive DCT, Huffman
            return _decode_progressive(content)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "JPEG: only sequential (SOF0/SOF1) and progressive (SOF2)"
            )
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended seq.
            prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, 0)
            if prec not in (8, 12) or (marker == 0xC0 and prec != 8):
                raise NotImplementedError(
                    f"JPEG: {prec}-bit precision not supported here"
                )
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    "JPEG: only 1 (gray) or 3 (YCbCr) components"
                )
            if len(payload) < 6 + 3 * ncomp:
                raise ValueError("JPEG: truncated SOF payload")
            for c in range(ncomp):
                cid = payload[6 + 3 * c]
                samp = payload[7 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0x0F, payload[8 + 3 * c]))
        elif marker == 0xC4:  # DHT (possibly several tables)
            _parse_dht(payload, htables)
        elif marker == 0xDD:  # DRI
            if len(payload) < 2:
                raise ValueError("JPEG: truncated DRI payload")
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = payload[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "JPEG: only full interleaved scans (ns == ncomp)"
                )
            for c in range(ns):
                cid = payload[1 + 2 * c]
                tabs = payload[2 + 2 * c]
                scan[cid] = (tabs >> 4, tabs & 0x0F)
                scan_order.append(cid)
            pos += seglen
            break
        pos += seglen
    else:
        raise ValueError("JPEG: no SOS marker")
    if h == 0 or w == 0 or not comps:
        raise ValueError("JPEG: SOS before SOF")

    by_cid = {c[0]: c for c in comps}
    plan = []  # (cid, hi, vi, qt, dc_tab, ac_tab) in scan order
    for cid in scan_order:
        if cid not in by_cid:
            raise ValueError("JPEG: scan references unknown component")
        _, hi, vi, tq = by_cid[cid]
        if tq not in qtables:
            raise ValueError("JPEG: missing quantization table")
        dc_id, ac_id = scan[cid]
        dc_tab = htables.get((0, dc_id))
        ac_tab = htables.get((1, ac_id))
        if dc_tab is None or ac_tab is None:
            raise ValueError("JPEG: missing Huffman table")
        plan.append((cid, hi, vi, qtables[tq].astype(np.float64), dc_tab, ac_tab))

    if len(comps) == 1:
        cid, hi, vi, qt, dc_tab, ac_tab = plan[0]
        if (hi, vi) != (1, 1):
            raise NotImplementedError("JPEG: subsampling on 1 component")
        by, bx = -(-h // 8), -(-w // 8)
        out = np.zeros((by * 8, bx * 8), dtype=np.float64)
        rdr = _BitReader(content, pos)
        prev_dc = 0
        n_done = 0
        n_rst = 0
        for bj in range(by):
            for bi in range(bx):
                if restart_interval and n_done and n_done % restart_interval == 0:
                    rdr.expect_restart(n_rst)
                    n_rst += 1
                    prev_dc = 0
                block, prev_dc = _decode_block(rdr, dc_tab, ac_tab, qt, prev_dc)
                out[bj * 8 : bj * 8 + 8, bi * 8 : bi * 8 + 8] = block
                n_done += 1
        mid, mx = float(1 << (prec - 1)), (1 << prec) - 1
        full = np.clip(np.round(out + mid), 0, mx).astype(np.int64)
        # 12-bit samples floor to the uint8 contract (>> 4, libjpeg's
        # scaled-output convention)
        return (full >> (prec - 8)).astype(np.uint8)[:h, :w]

    hmax = max(p[1] for p in plan)
    vmax = max(p[2] for p in plan)
    if any(hmax % p[1] or vmax % p[2] for p in plan):
        raise NotImplementedError("JPEG: non-dividing sampling factors")
    if any(not (1 <= p[1] <= 4 and 1 <= p[2] <= 4) for p in plan):
        raise ValueError("JPEG: sampling factors out of range")
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = {
        cid: np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
        for (cid, hi, vi, _, _, _) in plan
    }
    rdr = _BitReader(content, pos)
    prev = {cid: 0 for cid in scan_order}
    n_done = 0
    n_rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_done and n_done % restart_interval == 0:
                rdr.expect_restart(n_rst)
                n_rst += 1
                prev = {cid: 0 for cid in scan_order}
            n_done += 1
            for cid, hi, vi, qt, dc_tab, ac_tab in plan:
                for v in range(vi):
                    for u in range(hi):
                        block, prev[cid] = _decode_block(
                            rdr, dc_tab, ac_tab, qt, prev[cid]
                        )
                        r0 = (my * vi + v) * 8
                        c0 = (mx * hi + u) * 8
                        planes[cid][r0 : r0 + 8, c0 : c0 + 8] = block

    full = {}
    mid, mx = float(1 << (prec - 1)), (1 << prec) - 1
    for cid, hi, vi, _, _, _ in plan:
        p = np.clip(np.round(planes[cid] + mid), 0, mx)
        if prec > 8:  # floor to 8-bit BEFORE the color transform
            p = np.floor(p / float(1 << (prec - 8)))
        sy, sx = vmax // vi, hmax // hi
        if sy > 1 or sx > 1:
            p = np.repeat(np.repeat(p, sy, axis=0), sx, axis=1)
        full[cid] = p[:h, :w]
    # JFIF: the SOF component ORDER is Y, Cb, Cr (whatever the ids) — the
    # scan may list components in any order, so stack by SOF order
    return ycbcr_to_rgb(np.stack([full[c[0]] for c in comps], axis=-1))


# --------------------------------------------- progressive (T.81 Annex G)


def _prog_grids(h, w, factors, hmax, vmax):
    """Per-component ((padded_bv, padded_bh), (data_bv, data_bh)) block
    grids. Interleaved (DC) scans traverse the MCU-PADDED grid; AC scans
    are non-interleaved by definition (T.81 G.1.1) and traverse only the
    component's OWN data-unit grid."""
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    out = []
    for hi, vi in factors:
        comp_w = -(-w * hi // hmax)
        comp_h = -(-h * vi // vmax)
        out.append(
            (
                (mcuy * vi, mcux * hi),
                (-(-comp_h // 8), -(-comp_w // 8)),
            )
        )
    return mcux, mcuy, out


def _enc_dc_scan(wtr, coefs, comp_ids, factors, mcux, mcuy, Ah, Al):
    """DC scan encode (first when Ah==0, refinement otherwise) in MCU
    order; single-component images degenerate to raster order."""
    pred = {ci: 0 for ci in comp_ids}
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in comp_ids:
                hi, vi = factors[ci]
                for v in range(vi):
                    for u in range(hi):
                        zz0 = int(coefs[ci][my * vi + v, mx * hi + u, 0])
                        if Ah == 0:
                            val = zz0 >> Al  # arithmetic shift (G.1.2.1)
                            s, bits = _magnitude(val - pred[ci])
                            code, ln = _DC_CODES[s]
                            wtr.write(code, ln)
                            if s:
                                wtr.write(bits, s)
                            pred[ci] = val
                        else:
                            wtr.write((zz0 >> Al) & 1, 1)


def _enc_ac_first_scan(wtr, blocks, Ss, Se):
    """AC first scan (G.1.2.2) at Al=1 for one component's data-unit
    sequence.
    This encoder caps every EOB run at 1 (emitting EOB0 per block), a
    conformant choice that keeps it within the Annex-K-shaped symbol set."""
    for zz in blocks:
        r = 0
        for k in range(Ss, Se + 1):
            a = abs(int(zz[k])) >> 1  # AC point transform: |v| >> Al
            if a == 0:
                r += 1
                continue
            v = a if int(zz[k]) > 0 else -a
            while r > 15:
                c, ln = _AC_CODES[0xF0]
                wtr.write(c, ln)
                r -= 16
            s, bits = _magnitude(v)
            c, ln = _AC_CODES[(r << 4) | s]
            wtr.write(c, ln)
            wtr.write(bits, s)
            r = 0
        if r > 0:
            c, ln = _AC_CODES[0x00]  # EOB0
            wtr.write(c, ln)


def _enc_ac_refine_scan(wtr, blocks, Ss, Se):
    """AC refinement scan (G.1.2.3) down to Al=0: newly significant coefficients are
    (run, 1) codes + a sign bit, where the run counts ZERO-HISTORY
    positions only; every history (already-nonzero) coefficient the
    decoder passes carries one correction bit, emitted at EXACTLY the
    stream position the decoder's traversal reads it (a ZRL's span covers
    the first 16 zero-history positions, so only the history bits inside
    that span follow it). Each block with positions left after the last
    newly-significant coefficient closes with EOB0 + the tail's history
    bits (EOB runs capped at 1, the encoder's conformant choice)."""
    for zz in blocks:
        vals = [
            (abs(int(zz[k])), int(zz[k])) for k in range(Ss, Se + 1)
        ]
        newly = [i for i, (t, _) in enumerate(vals) if t == 1]
        pos = 0
        for ni in newly:
            r = sum(1 for j in range(pos, ni) if vals[j][0] == 0)
            while r > 15:
                c, ln = _AC_CODES[0xF0]
                wtr.write(c, ln)
                zcnt = 0
                while zcnt < 16:
                    t = vals[pos][0]
                    if t == 0:
                        zcnt += 1
                    elif t > 1:
                        wtr.write(t & 1, 1)
                    pos += 1
                r -= 16
            c, ln = _AC_CODES[(r << 4) | 1]
            wtr.write(c, ln)
            wtr.write(1 if vals[ni][1] > 0 else 0, 1)
            for j in range(pos, ni):
                t = vals[j][0]
                if t > 1:
                    wtr.write(t & 1, 1)
            pos = ni + 1
        if pos < len(vals):
            c, ln = _AC_CODES[0x00]  # EOB0: run of 1
            wtr.write(c, ln)
            for j in range(pos, len(vals)):
                t = vals[j][0]
                if t > 1:
                    wtr.write(t & 1, 1)


def encode_jpeg_progressive(
    img: np.ndarray, subsampling: str = "420"
) -> bytes:
    """Encode as a PROGRESSIVE JPEG (SOF2, T.81 Annex G, Huffman): the
    spectral-selection + successive-approximation scan script real
    encoders emit — DC first at Al=1, per-component AC bands 1-5 / 6-63
    at Al=1, then DC and AC refinement passes down to Al=0. The
    refinement chain reconstructs every quantized coefficient EXACTLY, so
    the decode is bit-identical to this module's sequential encoding of
    the same image (asserted in tests — progressive is a lossless
    reorganization of the entropy layer).

    Accepts (h, w) uint8 gray or (h, w, 3) uint8 RGB (``subsampling``
    applies to color: 4:4:4 / 4:2:2 / 4:2:0).
    """
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("encode_jpeg_progressive expects (h,w) or (h,w,3)")
    h, w = img.shape[:2]
    if not (0 < h < 65536 and 0 < w < 65536):
        raise ValueError("image dims out of JPEG range")
    if gray:
        factors = ((1, 1),)
        qtables = [_QTABLE]
    else:
        if subsampling not in _SAMPLING:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        factors = _SAMPLING[subsampling]
        qtables = [_QTABLE, _QTABLE_CHROMA, _QTABLE_CHROMA]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux, mcuy, grids = _prog_grids(h, w, factors, hmax, vmax)
    if gray:
        by, bx = grids[0][0]
        planes = [
            np.pad(
                img.astype(np.float64),
                ((0, by * 8 - h), (0, bx * 8 - w)),
                mode="edge",
            )
        ]
    else:
        planes = _color_planes(img, factors, hmax, vmax, mcux, mcuy)

    # quantized zigzag coefficients over each component's PADDED grid
    coefs = []
    for ci, ((pbv, pbh), _) in enumerate(grids):
        arr = np.zeros((pbv, pbh, 64), dtype=np.int64)
        for bj in range(pbv):
            for bi in range(pbh):
                arr[bj, bi] = _quant_zz(
                    planes[ci][bj * 8 : bj * 8 + 8, bi * 8 : bi * 8 + 8],
                    qtables[ci],
                )
        coefs.append(arr)

    comp_ids = list(range(len(factors)))

    def data_blocks(ci):
        dbv, dbh = grids[ci][1]
        for bj in range(dbv):
            for bi in range(dbh):
                yield coefs[ci][bj, bi]

    wtr = _BitWriter()
    chunks: list[bytes] = []

    def sos(comps_in_scan, Ss, Se, Ah, Al, body) -> None:
        payload = bytes([len(comps_in_scan)])
        for ci in comps_in_scan:
            payload += bytes([ci + 1, 0x00])  # DC table 0 / AC table 0
        payload += bytes([Ss, Se, (Ah << 4) | Al])
        wtr.out = bytearray()
        wtr._acc = 0
        wtr._n = 0
        body()
        wtr.flush()
        chunks.append(_seg(0xDA, payload) + bytes(wtr.out))

    # scan script: DC first, AC bands first, DC refine, AC bands refine
    sos(comp_ids, 0, 0, 0, 1,
        lambda: _enc_dc_scan(wtr, coefs, comp_ids, factors, mcux, mcuy, 0, 1))
    for ci in comp_ids:
        for ss, se in ((1, 5), (6, 63)):
            sos([ci], ss, se, 0, 1,
                lambda ci=ci, ss=ss, se=se: _enc_ac_first_scan(
                    wtr, data_blocks(ci), ss, se))
    sos(comp_ids, 0, 0, 1, 0,
        lambda: _enc_dc_scan(wtr, coefs, comp_ids, factors, mcux, mcuy, 1, 0))
    for ci in comp_ids:
        for ss, se in ((1, 5), (6, 63)):
            sos([ci], ss, se, 1, 0,
                lambda ci=ci, ss=ss, se=se: _enc_ac_refine_scan(
                    wtr, data_blocks(ci), ss, se))

    zz = lambda t: bytes(int(t[i, j]) for (i, j) in _ZIGZAG)  # noqa: E731
    if gray:
        dqt = bytes([0]) + zz(_QTABLE)
        sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    else:
        dqt = bytes([0]) + zz(_QTABLE) + bytes([1]) + zz(_QTABLE_CHROMA)
        sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
            [1, (factors[0][0] << 4) | factors[0][1], 0,
             2, (factors[1][0] << 4) | factors[1][1], 1,
             3, (factors[2][0] << 4) | factors[2][1], 1]
        )
    return (
        b"\xff\xd8"
        + _seg(0xDB, dqt)
        + _seg(0xC2, sof)
        + _seg(0xC4, _DHT_PAYLOAD)
        + b"".join(chunks)
        + b"\xff\xd9"
    )


def _parse_dqt(payload: bytes, qtables: dict) -> None:
    """DQT segment → 8x8 natural-order tables (shared by both decoders).

    Pq=1 (16-bit big-endian entries) is accepted for 8-bit scans the way
    libjpeg does — T.81 reserves it for 12-bit precision, but real
    encoders emit it with 8-bit samples and the dequantize math is
    precision-independent."""
    p = 0
    while p < len(payload):
        pq, tq = payload[p] >> 4, payload[p] & 0x0F
        if pq not in (0, 1):
            raise ValueError(f"JPEG: bad DQT element precision {pq}")
        step = 1 if pq == 0 else 2
        if p + 1 + 64 * step > len(payload):
            raise ValueError("JPEG: truncated DQT payload")
        if pq == 0:
            vals = payload[p + 1 : p + 65]
        else:
            vals = struct.unpack_from(">64H", payload, p + 1)
        q = np.zeros((8, 8), dtype=np.int32)
        for k, (i, j) in enumerate(_ZIGZAG):
            q[i, j] = vals[k]
        qtables[tq] = q
        p += 1 + 64 * step


def _parse_dht(payload: bytes, htables: dict) -> None:
    """DHT segment → canonical (length, code)->symbol maps (shared)."""
    p = 0
    while p < len(payload):
        if p + 17 > len(payload):
            raise ValueError("JPEG: truncated DHT payload")
        tc, th = payload[p] >> 4, payload[p] & 0x0F
        bits = list(payload[p + 1 : p + 17])
        nsym = sum(bits)
        if p + 17 + nsym > len(payload):
            raise ValueError("JPEG: truncated DHT payload")
        symbols = list(payload[p + 17 : p + 17 + nsym])
        table: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                table[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1
        htables[(tc, th)] = table
        p += 17 + nsym


def _scan_end(content: bytes, pos: int) -> int:
    """Position of the next marker after entropy data starting at ``pos``
    (skipping 0xFF00 stuffing, stray RSTn and 0xFF fill bytes)."""
    p = pos
    n = len(content)
    while p + 1 < n:
        if content[p] == 0xFF:
            nxt = content[p + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                p += 2
                continue
            if nxt == 0xFF:
                p += 1
                continue
            return p
        p += 1
    raise ValueError("JPEG: entropy data ran past end of file")


def _dec_dc_first(rdr, coefs, scan_plan, factors, mcux, mcuy, Al, ri):
    """DC first scan (interleaved MCU order; a 1-component scan's MCU is
    one block). scan_plan: [(ci, dc_tab)]."""
    pred = {ci: 0 for ci, _ in scan_plan}
    interleaved = len(scan_plan) > 1
    n_done = 0
    n_rst = 0
    if interleaved:
        units = [(my, mx) for my in range(mcuy) for mx in range(mcux)]
    else:
        ci0 = scan_plan[0][0]
        dbv, dbh = coefs[ci0].shape[:2]
        units = [(bj, bi) for bj in range(dbv) for bi in range(dbh)]
    for uy, ux in units:
        if ri and n_done and n_done % ri == 0:
            rdr.expect_restart(n_rst)
            n_rst += 1
            pred = {ci: 0 for ci, _ in scan_plan}
        n_done += 1
        for ci, dc_tab in scan_plan:
            hi, vi = factors[ci]
            blocks = (
                [(uy * vi + v, ux * hi + u) for v in range(vi) for u in range(hi)]
                if interleaved
                else [(uy, ux)]
            )
            for bj, bi in blocks:
                s = _huff_decode(rdr, dc_tab)
                pred[ci] += _extend(rdr.read_bits(s), s)
                coefs[ci][bj, bi, 0] = pred[ci] << Al


def _dec_dc_refine(rdr, coefs, scan_plan, factors, mcux, mcuy, Al, ri):
    """DC refinement scan: one raw bit per block (G.1.2.1)."""
    interleaved = len(scan_plan) > 1
    n_done = 0
    n_rst = 0
    if interleaved:
        units = [(my, mx) for my in range(mcuy) for mx in range(mcux)]
    else:
        ci0 = scan_plan[0][0]
        dbv, dbh = coefs[ci0].shape[:2]
        units = [(bj, bi) for bj in range(dbv) for bi in range(dbh)]
    for uy, ux in units:
        if ri and n_done and n_done % ri == 0:
            rdr.expect_restart(n_rst)
            n_rst += 1
        n_done += 1
        for ci, _ in scan_plan:
            hi, vi = factors[ci]
            blocks = (
                [(uy * vi + v, ux * hi + u) for v in range(vi) for u in range(hi)]
                if interleaved
                else [(uy, ux)]
            )
            for bj, bi in blocks:
                if rdr.read_bit():
                    coefs[ci][bj, bi, 0] |= 1 << Al


def _dec_ac_first(rdr, comp, grid, ac_tab, Ss, Se, Al, ri):
    """AC first scan (G.1.2.2) over one component's data-unit grid, with
    EOB-run accounting across blocks."""
    dbv, dbh = grid
    eobrun = 0
    n_done = 0
    n_rst = 0
    for bj in range(dbv):
        for bi in range(dbh):
            if ri and n_done and n_done % ri == 0:
                rdr.expect_restart(n_rst)
                n_rst += 1
                eobrun = 0
            n_done += 1
            if eobrun > 0:
                eobrun -= 1
                continue
            zz = comp[bj, bi]
            k = Ss
            while k <= Se:
                rs = _huff_decode(rdr, ac_tab)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) + (rdr.read_bits(r) if r else 0) - 1
                    break
                k += r
                if k > Se:
                    raise ValueError("JPEG: AC index past band end")
                zz[k] = _extend(rdr.read_bits(s), s) << Al
                k += 1


def _dec_ac_refine(rdr, comp, grid, ac_tab, Ss, Se, Al, ri):
    """AC refinement scan (G.1.2.3, jdphuff semantics): newly significant
    coefficients arrive as (run, 1) codes whose zero run counts only
    ZERO-HISTORY positions; every nonzero-history coefficient passed over
    — including the tails of EOB-run blocks — carries one correction bit."""
    dbv, dbh = grid
    p1 = 1 << Al
    m1 = -1 << Al
    eobrun = 0
    n_done = 0
    n_rst = 0

    def correct(zz, k):
        if rdr.read_bit() and (int(zz[k]) & p1) == 0:
            zz[k] += p1 if int(zz[k]) >= 0 else m1

    for bj in range(dbv):
        for bi in range(dbh):
            if ri and n_done and n_done % ri == 0:
                rdr.expect_restart(n_rst)
                n_rst += 1
                eobrun = 0
            n_done += 1
            zz = comp[bj, bi]
            k = Ss
            if eobrun == 0:
                while k <= Se:
                    rs = _huff_decode(rdr, ac_tab)
                    r, s = rs >> 4, rs & 0x0F
                    val = 0
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) + (rdr.read_bits(r) if r else 0)
                            break
                        # r == 15: skip 16 zero-history positions
                    else:
                        if s != 1:
                            raise ValueError(
                                "JPEG: refinement magnitude must be 1"
                            )
                        val = p1 if rdr.read_bit() else m1
                    while k <= Se:
                        if int(zz[k]) != 0:
                            correct(zz, k)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val != 0 and k <= Se:
                        zz[k] = val
                    k += 1
            if eobrun > 0:
                while k <= Se:
                    if int(zz[k]) != 0:
                        correct(zz, k)
                    k += 1
                eobrun -= 1


def _decode_progressive(content: bytes) -> np.ndarray:
    """Decode a progressive (SOF2, Huffman) JPEG: accumulate coefficients
    across DC/AC first and refinement scans (T.81 Annex G — spectral
    selection AND successive approximation, EOB runs, per-scan restart
    intervals), then dequantize + IDCT once. Returns gray (h, w) or RGB
    (h, w, 3) like the sequential path."""
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = 0
    prec = 8
    restart_interval = 0
    comps: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    coefs: list[np.ndarray] = []
    grids: list = []
    factors: list[tuple[int, int]] = []
    cid_index: dict[int, int] = {}
    mcux = mcuy = 0
    saw_scan = False
    pos = 2
    if content[:2] != b"\xff\xd8":
        raise ValueError("JPEG: missing SOI")
    while pos < len(content):
        if content[pos] != 0xFF:
            raise ValueError("JPEG: expected marker")
        while pos + 1 < len(content) and content[pos + 1] == 0xFF:
            pos += 1
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", content, pos)
        payload = content[pos + 2 : pos + seglen]
        if marker == 0xDB:
            _parse_dqt(payload, qtables)
        elif marker == 0xC4:
            _parse_dht(payload, htables)
        elif marker == 0xDD:
            if len(payload) < 2:
                raise ValueError("JPEG: truncated DRI payload")
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xC2:  # SOF2
            prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, 0)
            if prec not in (8, 12):
                raise NotImplementedError(
                    f"JPEG: {prec}-bit precision not supported here"
                )
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    "JPEG: only 1 (gray) or 3 (YCbCr) components"
                )
            if len(payload) < 6 + 3 * ncomp:
                raise ValueError("JPEG: truncated SOF payload")
            for c in range(ncomp):
                cid = payload[6 + 3 * c]
                samp = payload[7 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0x0F, payload[8 + 3 * c]))
            factors = [(c[1], c[2]) for c in comps]
            hmax = max(f[0] for f in factors)
            vmax = max(f[1] for f in factors)
            if any(hmax % f[0] or vmax % f[1] for f in factors):
                raise NotImplementedError("JPEG: non-dividing sampling factors")
            mcux, mcuy, grids = _prog_grids(h, w, factors, hmax, vmax)
            cid_index = {c[0]: i for i, c in enumerate(comps)}
            coefs = [
                np.zeros((pbv, pbh, 64), dtype=np.int64)
                for (pbv, pbh), _ in grids
            ]
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("JPEG: conflicting frame marker in progressive file")
        elif marker == 0xDA:  # SOS — one of possibly many scans
            if not comps:
                raise ValueError("JPEG: SOS before SOF")
            ns = payload[0]
            scan_comps = []
            for c in range(ns):
                cid = payload[1 + 2 * c]
                if cid not in cid_index:
                    raise ValueError("JPEG: scan references unknown component")
                tabs = payload[2 + 2 * c]
                scan_comps.append((cid_index[cid], tabs >> 4, tabs & 0x0F))
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            a = payload[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            data_start = pos + seglen
            rdr = _BitReader(content, data_start)
            if ss == 0:  # DC scan (Se must be 0)
                if se != 0:
                    raise ValueError("JPEG: DC scan with Se != 0")
                if ah == 0:
                    plan = []
                    for ci, td, _ in scan_comps:
                        tab = htables.get((0, td))
                        if tab is None:
                            raise ValueError("JPEG: missing Huffman table")
                        plan.append((ci, tab))
                    _dec_dc_first(
                        rdr, coefs, plan, factors, mcux, mcuy, al,
                        restart_interval,
                    )
                else:
                    plan = [(ci, None) for ci, _, _ in scan_comps]
                    _dec_dc_refine(
                        rdr, coefs, plan, factors, mcux, mcuy, al,
                        restart_interval,
                    )
            else:  # AC scan — non-interleaved by definition
                if ns != 1:
                    raise ValueError("JPEG: AC scan must have one component")
                if not (ss <= se <= 63):
                    raise ValueError("JPEG: bad spectral band")
                ci, _, ta = scan_comps[0]
                tab = htables.get((1, ta))
                if tab is None:
                    raise ValueError("JPEG: missing Huffman table")
                if ah == 0:
                    _dec_ac_first(
                        rdr, coefs[ci], grids[ci][1], tab, ss, se, al,
                        restart_interval,
                    )
                else:
                    _dec_ac_refine(
                        rdr, coefs[ci], grids[ci][1], tab, ss, se, al,
                        restart_interval,
                    )
            saw_scan = True
            pos = _scan_end(content, rdr.pos)
            continue
        pos += seglen
    if not saw_scan:
        raise ValueError("JPEG: no scan data")

    # dequantize + IDCT each component over its padded grid
    planes = []
    for idx, (cid, hi, vi, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("JPEG: missing quantization table")
        qt = qtables[tq].astype(np.float64)
        pbv, pbh = grids[idx][0]
        out = np.zeros((pbv * 8, pbh * 8), dtype=np.float64)
        deq = np.zeros((8, 8), dtype=np.float64)
        for bj in range(pbv):
            for bi in range(pbh):
                zz = coefs[idx][bj, bi]
                for k, (i, j) in enumerate(_ZIGZAG):
                    deq[i, j] = zz[k]
                out[bj * 8 : bj * 8 + 8, bi * 8 : bi * 8 + 8] = (
                    _A.T @ (deq * qt) @ _A
                )
        planes.append(out)

    mid, mx = float(1 << (prec - 1)), (1 << prec) - 1
    if len(comps) == 1:
        g = np.clip(np.round(planes[0] + mid), 0, mx).astype(np.int64)
        # 12-bit floors to the uint8 contract (>> 4, the SOF1 convention)
        return (g >> (prec - 8)).astype(np.uint8)[:h, :w]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    full = []
    for idx, (hi, vi) in enumerate(factors):
        p = np.clip(np.round(planes[idx] + mid), 0, mx)
        if prec > 8:  # floor to 8-bit BEFORE the color transform
            p = np.floor(p / float(1 << (prec - 8)))
        sy, sx = vmax // vi, hmax // hi
        if sy > 1 or sx > 1:
            p = np.repeat(np.repeat(p, sy, axis=0), sx, axis=1)
        full.append(p[:h, :w])
    return ycbcr_to_rgb(np.stack(full, axis=-1))
