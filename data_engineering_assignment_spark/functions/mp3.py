"""Dependency-free MP3 metadata walk (ID3v2 tags + MPEG-1 Layer III
frame headers) — the dominant audio format on crawls, previously
outside the media-inventory surface. Additive vs the reference
(Assignment-python.py has no audio handling beyond WAV-class fixtures).

Scope follows the codec-gate discipline: the CONTAINER/metadata subset
is complete and exact — ID3v2.3 (big-endian frame sizes) and ID3v2.4
(syncsafe frame sizes) tag walks with the TIT2/TPE1/TALB text frames in
latin-1, UTF-16-with-BOM and UTF-8 encodings; the trailing 128-byte
ID3v1 fallback; and the MPEG-1 Layer III frame-header walk (sync,
bitrate/sample-rate tables, padding) that yields exact frame counts and
``duration_ms = n_frames * 1152 * 1000 // sample_rate``. AUDIO decode
(the MDCT/huffman path) is out of scope and stays guarded; MPEG-2/2.5
and Layers I/II raise the same honest guard (NotImplementedError —
countable, never a wrong duration), as do ID3v2 unsynchronisation, the
extended header, and per-frame format flags (compression/encryption/
grouping/v2.4 unsync — each changes the payload layout, so decoding
without honoring them would be silently wrong text). Structural junk
raises ValueError.
"""

from __future__ import annotations

# MPEG-1 Layer III tables (ISO/IEC 11172-3)
_BITRATES = [
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
    None,
]
_SAMPLE_RATES = [44100, 48000, 32000, None]
_SAMPLES_PER_FRAME = 1152


def _syncsafe(b: bytes) -> int:
    if any(x & 0x80 for x in b):
        raise ValueError("bad syncsafe integer")
    out = 0
    for x in b:
        out = (out << 7) | x
    return out


def _text_frame(payload: bytes) -> str | None:
    if not payload:
        return None
    enc, body = payload[0], payload[1:]
    if enc == 0:
        s = body.decode("latin-1")
    elif enc == 1:
        s = body.decode("utf-16")  # BOM-led per spec
    elif enc == 2:
        s = body.decode("utf-16-be")
    elif enc == 3:
        s = body.decode("utf-8")
    else:
        raise ValueError(f"unknown ID3 text encoding {enc}")
    return s.rstrip("\x00") or None


def _parse_id3v2(data: bytes) -> tuple[dict, int]:
    """(fields, tag_end) for a leading ID3v2 tag; ({}, 0) if absent."""
    if data[:3] != b"ID3" or len(data) < 10:
        return {}, 0
    ver = data[3]
    if ver not in (3, 4):
        raise NotImplementedError(f"ID3v2.{ver} not supported")
    if data[5] & 0x40:
        raise NotImplementedError("ID3v2 extended header not supported")
    if data[5] & 0x80:
        # unsynchronisation stuffs 0x00 after every 0xFF in the tag —
        # decoding text WITHOUT reversing it yields silently wrong tag
        # values; honest guard, never a wrong answer (r14 review)
        raise NotImplementedError("ID3v2 unsynchronisation not supported")
    size = _syncsafe(data[6:10])
    end = 10 + size
    if end > len(data):
        raise ValueError("ID3v2 tag size exceeds file")
    out = {"id3_version": f"2.{ver}"}
    want = {b"TIT2": "title", b"TPE1": "artist", b"TALB": "album"}
    pos = 10
    while pos + 10 <= end:
        fid = data[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        fsize = (
            _syncsafe(data[pos + 4 : pos + 8])
            if ver == 4
            else int.from_bytes(data[pos + 4 : pos + 8], "big")
        )
        if pos + 10 + fsize > end:
            raise ValueError("ID3v2 frame size exceeds tag")
        if fid in want:
            # any per-frame FORMAT flag (compression, encryption,
            # grouping, v2.4 unsync / data-length-indicator) changes
            # the payload layout — decode would be silently wrong
            if data[pos + 9]:
                raise NotImplementedError(
                    "ID3v2 frame format flags not supported"
                )
            out[want[fid]] = _text_frame(data[pos + 10 : pos + 10 + fsize])
        pos += 10 + fsize
    return out, end


def _parse_id3v1(data: bytes) -> dict:
    if len(data) < 128 or data[-128:-125] != b"TAG":
        return {}
    t = data[-128:]

    def field(a: int, b: int) -> str | None:
        s = t[a:b].split(b"\x00")[0].decode("latin-1").strip()
        return s or None

    return {
        "id3_version": "1",
        "title": field(3, 33),
        "artist": field(33, 63),
        "album": field(63, 93),
    }


def parse_mp3(content: bytes) -> dict:
    """Parse MP3 metadata:

    ``{id3_version, title, artist, album, n_frames, sample_rate,
    bitrate_kbps, cbr, duration_ms}``

    Tag fields come from a leading ID3v2.3/2.4 tag, falling back to a
    trailing ID3v1 block; audio stats from the MPEG-1 Layer III frame
    walk (``cbr`` false when frame bitrates differ — the VBR census
    signal; ``bitrate_kbps`` is the FIRST frame's). ``duration_ms`` is
    the exact integer ``n_frames * 1152 * 1000 // sample_rate``. No
    audio frame after the tag is structural junk (ValueError);
    MPEG-2/2.5 or Layer I/II streams raise NotImplementedError (honest
    guard, never a wrong duration)."""
    if len(content) < 4:
        raise ValueError("too short for an MP3")
    tags, pos = _parse_id3v2(content)
    if not tags:
        tags = _parse_id3v1(content)
    end = len(content)
    if content[end - 128 : end - 125] == b"TAG":
        end -= 128  # don't walk the v1 tag as audio
    n_frames = 0
    sample_rate = None
    first_kbps = None
    cbr = True
    while pos + 4 <= end:
        hdr = content[pos : pos + 4]
        if hdr[0] != 0xFF or (hdr[1] & 0xE0) != 0xE0:
            if n_frames == 0:
                raise ValueError("no MPEG audio frame after the tag")
            break  # trailing junk after a valid stream: stop counting
        version = (hdr[1] >> 3) & 0x3
        layer = (hdr[1] >> 1) & 0x3
        if version != 3 or layer != 1:  # MPEG-1, Layer III
            raise NotImplementedError(
                "only MPEG-1 Layer III frames supported"
            )
        kbps = _BITRATES[hdr[2] >> 4]
        sr = _SAMPLE_RATES[(hdr[2] >> 2) & 0x3]
        if kbps is None or sr is None:
            raise ValueError("bad bitrate/sample-rate index")
        if sample_rate is None:
            sample_rate, first_kbps = sr, kbps
        elif sr != sample_rate:
            raise ValueError("sample rate changes mid-stream")
        if kbps != first_kbps:
            cbr = False
        padding = (hdr[2] >> 1) & 1
        size = 144 * kbps * 1000 // sr + padding
        if pos + size > end:
            break  # truncated final frame: count the complete ones
        n_frames += 1
        pos += size
    if n_frames == 0:
        raise ValueError("no MPEG audio frame after the tag")
    return {
        "id3_version": tags.get("id3_version"),
        "title": tags.get("title"),
        "artist": tags.get("artist"),
        "album": tags.get("album"),
        "n_frames": n_frames,
        "sample_rate": sample_rate,
        "bitrate_kbps": first_kbps,
        "cbr": cbr,
        "duration_ms": n_frames * _SAMPLES_PER_FRAME * 1000 // sample_rate,
    }


# ---------------------------------------------------------------------------
# builder (fixtures + tests)
# ---------------------------------------------------------------------------


def _frame_bytes(kbps: int, sample_rate: int) -> bytes:
    bi = _BITRATES.index(kbps)
    si = _SAMPLE_RATES.index(sample_rate)
    hdr = bytes(
        [0xFF, 0xFB, (bi << 4) | (si << 2), 0x00]
    )
    size = 144 * kbps * 1000 // sample_rate
    return hdr + b"\x00" * (size - 4)


def build_mp3(
    n_frames: int,
    sample_rate: int = 44100,
    kbps: int = 128,
    title: str | None = None,
    artist: str | None = None,
    album: str | None = None,
    id3: str = "2.3",
    vbr_every: int | None = None,
    encoding: int = 0,
) -> bytes:
    """Serialize a metadata-exact MP3: an ID3v2.3/2.4 tag (or '1' for a
    trailing ID3v1 block, or 'none') followed by ``n_frames`` MPEG-1
    Layer III frames of silence-shaped padding. ``vbr_every`` bumps
    every k-th frame to the next bitrate index (cbr = False);
    ``encoding`` picks the text-frame encoding byte (0 latin-1,
    1 UTF-16+BOM, 3 UTF-8)."""
    frames = []
    for i in range(n_frames):
        k = kbps
        if vbr_every and i % vbr_every == vbr_every - 1:
            k = _BITRATES[_BITRATES.index(kbps) + 1]
        frames.append(_frame_bytes(k, sample_rate))
    audio = b"".join(frames)
    if id3 == "none":
        return audio
    if id3 == "1":
        def f30(s):
            return (s or "").encode("latin-1")[:30].ljust(30, b"\x00")

        # 128 bytes total: TAG + 3x30 text + year(4) + comment(30) + genre(1)
        return (
            audio
            + b"TAG"
            + f30(title)
            + f30(artist)
            + f30(album)
            + b"\x00" * 35
        )
    ver = {"2.3": 3, "2.4": 4}[id3]

    def text_frame(fid: bytes, s: str) -> bytes:
        if encoding == 0:
            body = bytes([0]) + s.encode("latin-1")
        elif encoding == 1:
            body = bytes([1]) + s.encode("utf-16")  # BOM-led
        else:
            body = bytes([3]) + s.encode("utf-8")
        size = (
            _unsyncsafe(len(body))
            if ver == 4
            else len(body).to_bytes(4, "big")
        )
        return fid + size + b"\x00\x00" + body

    frames_b = b""
    for fid, s in ((b"TIT2", title), (b"TPE1", artist), (b"TALB", album)):
        if s is not None:
            frames_b += text_frame(fid, s)
    frames_b += b"\x00" * 16  # padding
    tag = b"ID3" + bytes([ver, 0, 0]) + _unsyncsafe(len(frames_b)) + frames_b
    return tag + audio


def _unsyncsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )
