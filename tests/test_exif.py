"""EXIF walker tests (functions/exif.py): full-field roundtrips in both
byte orders through a real JPEG, marker-walk robustness, rationals kept
exact, and structural error paths."""

import struct

import numpy as np
import pytest

from data_engineering_assignment_spark.functions.exif import (
    build_exif_app1,
    insert_exif,
    parse_exif,
)
from data_engineering_assignment_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg_gray,
)

FIELDS = {
    "make": "GraftCam",
    "model": "GC-9000",
    "orientation": 6,
    "x_resolution": (72, 1),
    "y_resolution": (72, 1),
    "datetime": "2026:08:15 03:00:00",
    "exposure_time": (1, 125),
    "f_number": (28, 10),
    "iso": 400,
    "datetime_original": "2026:08:14 12:00:00",
    "focal_length": (50, 1),
    "pixel_x_dimension": 16,
    "pixel_y_dimension": 16,
    "gps_latitude_ref": "N",
    "gps_latitude": [(61, 1), (29, 1), (44, 1)],
    "gps_longitude_ref": "E",
    "gps_longitude": [(23, 1), (45, 1), (10, 1)],
}


def _jpeg():
    return encode_jpeg_gray((np.arange(256).reshape(16, 16) % 256).astype(np.uint8))


def test_exif_roundtrip_both_byte_orders():
    for be in (False, True):
        jpg = insert_exif(_jpeg(), build_exif_app1(FIELDS, big_endian=be))
        got = parse_exif(jpg)
        assert got == FIELDS, be
        # the spliced segment must not disturb pixel decode
        assert decode_jpeg(jpg).shape == (16, 16)


def test_exif_absent_and_subsets():
    assert parse_exif(_jpeg()) == {}
    # IFD0-only (no sub-IFD pointers emitted)
    f = {"make": "X", "orientation": 1}
    assert parse_exif(insert_exif(_jpeg(), build_exif_app1(f))) == f
    # GPS without Exif sub-IFD
    f = {"gps_latitude_ref": "S", "gps_latitude": [(9, 1), (0, 1), (30, 2)]}
    assert parse_exif(insert_exif(_jpeg(), build_exif_app1(f))) == f


def test_exif_walk_skips_other_app_segments():
    """APP0/COM segments before APP1 are stepped over by length."""
    app0 = b"\xff\xe0" + struct.pack(">H", 9) + b"JFIF\x00\x01\x02"
    com = b"\xff\xfe" + struct.pack(">H", 6) + b"hi!\x00"
    jpg = _jpeg()
    spliced = jpg[:2] + app0 + com + build_exif_app1({"iso": 200}) + jpg[2:]
    assert parse_exif(spliced) == {"iso": 200}


def test_exif_error_paths():
    with pytest.raises(ValueError, match="SOI"):
        parse_exif(b"nope")
    app1 = build_exif_app1({"iso": 100})
    jpg = insert_exif(_jpeg(), app1)
    # corrupt the byte-order mark inside the TIFF blob
    i = jpg.index(b"Exif\x00\x00") + 6
    with pytest.raises(ValueError, match="byte-order"):
        parse_exif(jpg[:i] + b"XX" + jpg[i + 2 :])
    with pytest.raises(ValueError, match="magic"):
        parse_exif(jpg[:i + 2] + struct.pack("<H", 43) + jpg[i + 4 :])
    # IFD offset beyond the segment
    bad = jpg[: i + 4] + struct.pack("<I", 10**6) + jpg[i + 8 :]
    with pytest.raises(ValueError, match="out of bounds"):
        parse_exif(bad)


def test_exif_tolerates_fill_bytes():
    """JPEG B.1.1.2: 0xFF fill bytes may pad before any marker."""
    jpg = _jpeg()
    app1 = build_exif_app1({"iso": 320})
    padded = jpg[:2] + b"\xff\xff\xff" + app1 + jpg[2:]
    assert parse_exif(padded) == {"iso": 320}


def test_exif_negative_int_roundtrips_as_slong():
    """A negative int fixture value must serialize as SLONG (type 9) and
    parse back exactly — previously it hit the unsigned SHORT branch and
    raised struct.error."""
    f = {"pixel_x_dimension": -5, "iso": 100}
    assert parse_exif(insert_exif(_jpeg(), build_exif_app1(f))) == f
    # big-endian too
    assert parse_exif(
        insert_exif(_jpeg(), build_exif_app1(f, big_endian=True))
    ) == f
