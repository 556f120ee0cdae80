"""Dependency-free MJPEG-in-AVI container codec — the first REAL
multi-frame video format in the multimodal set (RAWM is the synthetic
video container; GIF animates but is palette-bound). Crawls carry MJPEG
AVIs from cameras/microscopes/legacy pipelines, and the format is the
cheapest honest video target: the container is RIFF (shared family with
WAV) and every frame is a baseline JPEG, so the heavy lifting reuses
``functions/jpeg.py`` unchanged.

* :func:`decode_avi` — RIFF walk ('AVI ' form): hdrl's avih
  (MainAVIHeader) and the first 'vids' strh (frame timing as the exact
  dwRate/dwScale integer pair — never a float fps), then every
  '00dc'/'00db' frame chunk in the movi list (including 'rec '-wrapped
  groups), each decoded as a JPEG → (n_frames, H, W, 4) uint8 BGRA like
  every other codec. Unknown chunks/streams are skipped by size, word
  alignment honored.
* :func:`encode_avi` — fixture generator: assembles avih + strl
  (strh/strf with biCompression 'MJPG') + movi + a spec-shaped idx1
  index from pre-encoded JPEG frame bytes.
"""

from __future__ import annotations

import struct

import numpy as np


def _walk(content: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) for each chunk in [pos, end)."""
    while pos + 8 <= end:
        cid = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        yield cid, pos + 8, size
        pos += 8 + size + (size & 1)


def decode_avi(content: bytes) -> tuple[np.ndarray, dict]:
    from .multimodal import decode_image_jpeg

    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF/AVI signature")
    avih = None
    strh = None
    vids_idx = None
    n_streams = 0
    chunks: list[tuple[bytes, bytes]] = []

    def scan(pos: int, end: int):
        nonlocal avih, strh, vids_idx, n_streams
        for cid, bstart, bsize in _walk(content, pos, end):
            if cid == b"LIST":
                scan(bstart + 4, bstart + bsize)
            elif cid == b"avih" and avih is None:
                avih = content[bstart : bstart + bsize]
            elif cid == b"strh":
                # stream number = strh order within hdrl; keep the FIRST
                # video stream and remember its index so movi chunks of
                # other streams (audio, second video) are not mixed in
                if strh is None and content[bstart : bstart + 4] == b"vids":
                    strh = content[bstart : bstart + bsize]
                    vids_idx = n_streams
                n_streams += 1
            elif cid[2:4] in (b"dc", b"db") and bsize >= 2:
                chunks.append((cid[:2], content[bstart : bstart + bsize]))

    scan(12, len(content))
    if avih is None or strh is None:
        raise ValueError("AVI: missing avih or vids strh header")
    want = b"%02d" % vids_idx
    jpegs = [body for pre, body in chunks if pre == want]
    if not jpegs:
        raise ValueError("AVI: no video frame chunks in movi")
    handler = strh[4:8]
    if handler not in (b"MJPG", b"mjpg"):
        raise NotImplementedError(
            f"AVI: only MJPG streams supported (got {handler!r})"
        )
    scale, rate = struct.unpack_from("<II", strh, 20)
    frames = []
    w = h = None
    for j in jpegs:
        f, m = decode_image_jpeg(j)
        if w is None:
            w, h = m["width"], m["height"]
        elif (m["width"], m["height"]) != (w, h):
            raise ValueError("AVI: frame dimensions vary")
        frames.append(f[0])
    return np.stack(frames), {
        "width": w,
        "height": h,
        "channels": 4,
        "n_frames": len(frames),
        # exact integer timing pair (frames per second = rate/scale)
        "rate": rate,
        "scale": scale,
    }


def encode_avi(
    jpeg_frames: list[bytes], width: int, rate: int = 30, scale: int = 1,
) -> bytes:
    height = 8  # every fixture frame is 8 rows high
    n = len(jpeg_frames)
    max_sz = max(len(j) for j in jpeg_frames)
    avih = b"avih" + struct.pack(
        "<I14I", 56,
        1_000_000 * scale // rate, 0, 0, 0x10, n, 0, 1, max_sz,
        width, height, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIii4h", 56,
        b"vids", b"MJPG", 0, 0, 0, 0, scale, rate, 0, n, max_sz, -1, 0,
        0, 0, width, height,
    )
    strf = b"strf" + struct.pack(
        "<IIiiHH4sIiiII", 40, 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    movi = bytearray(b"movi")
    idx = bytearray()
    for j in jpeg_frames:
        # idx1 offsets are measured from the 'movi' fourcc
        idx += b"00dc" + struct.pack("<III", 0x10, len(movi), len(j))
        movi += b"00dc" + struct.pack("<I", len(j)) + j
        if len(j) & 1:
            movi += b"\0"
    movi_chunk = b"LIST" + struct.pack("<I", len(movi)) + bytes(movi)
    idx_chunk = b"idx1" + struct.pack("<I", len(idx)) + bytes(idx)
    body = b"AVI " + hdrl + movi_chunk + idx_chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body
