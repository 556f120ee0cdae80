"""Dependency-free WebP container METADATA (RIFF 'WEBP') — alongside
functions/mp4.py this closes the modern-web media-inventory gap: WebP
is the dominant post-JPEG image format on crawls and its payloads
previously dead-lettered with no census row. Additive vs the reference
(Assignment-python.py handles PNG color analytics only).

Scope follows the codec-gate discipline: the CONTAINER subset is
implemented completely and exactly — RIFF chunk walk (little-endian
sizes, even-byte padding), the lossy ``VP8 `` keyframe header (RFC 6386
frame tag + 0x9D012A start code + 14-bit dims), the lossless ``VP8L``
header (0x2F signature + LSB-first packed 14-bit dims + alpha bit), and
the extended ``VP8X`` profile (feature flags, 24-bit canvas dims,
``ANIM``/``ANMF`` animation frames with per-frame 24-bit durations,
``ALPH``/``EXIF``/``ICCP`` presence) — while PIXEL decode (the VP8
arithmetic coder / VP8L entropy image) is out of scope and raises the
usual guard. Structural errors raise ValueError (the countable
dead-letter class).
"""

from __future__ import annotations

import struct

_VP8X_ICC = 0x20
_VP8X_ALPHA = 0x10
_VP8X_EXIF = 0x08
_VP8X_ANIM = 0x02


def _chunks(data: bytes, end: int):
    """Yield (fourcc, payload_start, payload_end) of the chunks after the
    12-byte RIFF/WEBP header; RIFF sizes are LE and payloads pad to even
    offsets."""
    pos = 12
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated RIFF chunk header")
        four = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = pos + 8
        if body + size > end:
            raise ValueError("RIFF chunk size out of bounds")
        yield four, body, body + size
        pos = body + size + (size & 1)


def _vp8_dims(data: bytes, body: int, end: int) -> tuple[int, int]:
    """Lossy keyframe header (RFC 6386 §9.1): 3-byte frame tag, 3-byte
    start code 9D 01 2A, then 14-bit width/height in LE u16s."""
    if end - body < 10:
        raise ValueError("truncated VP8 payload")
    tag = int.from_bytes(data[body : body + 3], "little")
    if tag & 1:
        raise ValueError("VP8 first frame is not a keyframe")
    if data[body + 3 : body + 6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    w = struct.unpack("<H", data[body + 6 : body + 8])[0] & 0x3FFF
    h = struct.unpack("<H", data[body + 8 : body + 10])[0] & 0x3FFF
    return w, h


def _vp8l_header(data: bytes, body: int, end: int) -> tuple[int, int, bool]:
    """Lossless header: 0x2F signature, then an LSB-first bitstream —
    14-bit width-1, 14-bit height-1, 1 alpha bit, 3 version bits."""
    if end - body < 5:
        raise ValueError("truncated VP8L payload")
    if data[body] != 0x2F:
        raise ValueError("bad VP8L signature")
    b = struct.unpack("<I", data[body + 1 : body + 5])[0]
    if (b >> 29) & 7:
        raise ValueError("unknown VP8L version")
    return (b & 0x3FFF) + 1, ((b >> 14) & 0x3FFF) + 1, bool((b >> 28) & 1)


def parse_webp(content: bytes) -> dict:
    """Parse WebP container metadata:

    ``{format: 'VP8'|'VP8L'|'VP8X', width, height, has_alpha,
    is_animated, n_frames, duration_ms, has_exif, has_icc}``

    For still images ``n_frames`` = 1 and ``duration_ms`` = 0; for the
    animated VP8X profile frames are the ``ANMF`` count and
    ``duration_ms`` the exact integer sum of their 24-bit per-frame
    durations. Dims come from the canvas (VP8X) or the bitstream
    header (VP8/VP8L). Pixel decode is out of scope (guarded at the
    decode_any layer); junk raises ValueError."""
    if len(content) < 20 or content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP file (missing RIFF/WEBP header)")
    riff_end = min(len(content), 8 + struct.unpack("<I", content[4:8])[0])
    first = None
    for four, b, e in _chunks(content, riff_end):
        first = (four, b, e)
        break
    if first is None:
        raise ValueError("empty WebP container")
    four, b, e = first
    if four == b"VP8 ":
        w, h = _vp8_dims(content, b, e)
        return {
            "format": "VP8", "width": w, "height": h,
            "has_alpha": False, "is_animated": False, "n_frames": 1,
            "duration_ms": 0, "has_exif": False, "has_icc": False,
        }
    if four == b"VP8L":
        w, h, alpha = _vp8l_header(content, b, e)
        return {
            "format": "VP8L", "width": w, "height": h,
            "has_alpha": alpha, "is_animated": False, "n_frames": 1,
            "duration_ms": 0, "has_exif": False, "has_icc": False,
        }
    if four != b"VP8X":
        raise ValueError(f"unknown leading WebP chunk {four!r}")
    if e - b < 10:
        raise ValueError("truncated VP8X chunk")
    flags = content[b]
    w = int.from_bytes(content[b + 4 : b + 7], "little") + 1
    h = int.from_bytes(content[b + 7 : b + 10], "little") + 1
    anim = bool(flags & _VP8X_ANIM)
    n_frames = 0 if anim else 1
    dur = 0
    for c4, cb, ce in _chunks(content, riff_end):
        if c4 == b"ANMF":
            if ce - cb < 16:
                raise ValueError("truncated ANMF chunk")
            n_frames += 1
            dur += int.from_bytes(content[cb + 12 : cb + 15], "little")
    if anim and n_frames == 0:
        raise ValueError("animated VP8X without ANMF frames")
    return {
        "format": "VP8X", "width": w, "height": h,
        "has_alpha": bool(flags & _VP8X_ALPHA), "is_animated": anim,
        "n_frames": n_frames, "duration_ms": dur,
        "has_exif": bool(flags & _VP8X_EXIF),
        "has_icc": bool(flags & _VP8X_ICC),
    }


# ---------------------------------------------------------------------------
# builder (fixtures + tests; the build_mp4/build_pdf twin)
# ---------------------------------------------------------------------------


def _chunk(four: bytes, payload: bytes) -> bytes:
    return four + struct.pack("<I", len(payload)) + payload + (
        b"\x00" if len(payload) & 1 else b""
    )


def _vp8_payload(w: int, h: int) -> bytes:
    # keyframe tag (frame_type 0, version 0, show 1, part size 0x13)
    tag = (0x13 << 5) | (1 << 4)
    return (
        tag.to_bytes(3, "little")
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", w & 0x3FFF, h & 0x3FFF)
        + b"\x00" * 6  # truncated coefficient data (never decoded)
    )


def _vp8l_payload(w: int, h: int, alpha: bool) -> bytes:
    b = (w - 1) | ((h - 1) << 14) | (int(alpha) << 28)
    return b"\x2f" + struct.pack("<I", b) + b"\x00" * 4


def build_webp(
    w: int,
    h: int,
    fmt: str = "VP8",
    alpha: bool = False,
    frames: list[int] | None = None,
    exif: bytes | None = None,
    icc: bytes | None = None,
) -> bytes:
    """Serialize a standards-valid WebP skeleton. ``fmt`` 'VP8'/'VP8L'
    write the simple one-chunk profiles; 'VP8X' writes the extended
    profile — ``frames`` (a list of per-frame durations, ms) adds
    ANIM + one ANMF per duration each embedding a VP8L sub-bitstream,
    ``exif`` appends an EXIF chunk and sets the flag, ``icc`` writes
    an ICCP chunk (first in the chunk order, per spec) and sets the
    flag. Payload pixel data is skeletal (metadata-only contract,
    like build_mp4's mdat)."""
    if fmt == "VP8":
        body = _chunk(b"VP8 ", _vp8_payload(w, h))
    elif fmt == "VP8L":
        body = _chunk(b"VP8L", _vp8l_payload(w, h, alpha))
    elif fmt == "VP8X":
        flags = (
            (_VP8X_ALPHA if alpha else 0)
            | (_VP8X_ANIM if frames else 0)
            | (_VP8X_EXIF if exif is not None else 0)
            | (_VP8X_ICC if icc is not None else 0)
        )
        hdr = (
            bytes([flags, 0, 0, 0])
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
        )
        body = _chunk(b"VP8X", hdr)
        if icc is not None:
            body += _chunk(b"ICCP", icc)
        if frames:
            body += _chunk(b"ANIM", struct.pack("<IH", 0xFFFFFFFF, 0))
            for i, dur in enumerate(frames):
                fr = (
                    (0).to_bytes(3, "little")  # x
                    + (0).to_bytes(3, "little")  # y
                    + (w - 1).to_bytes(3, "little")
                    + (h - 1).to_bytes(3, "little")
                    + int(dur).to_bytes(3, "little")
                    + b"\x00"  # blend/dispose flags
                    + _chunk(b"VP8L", _vp8l_payload(w, h, alpha))
                )
                body += _chunk(b"ANMF", fr)
        else:
            body += _chunk(b"VP8L", _vp8l_payload(w, h, alpha))
        if exif is not None:
            body += _chunk(b"EXIF", exif)
    else:
        raise ValueError(f"unknown WebP profile {fmt!r}")
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
