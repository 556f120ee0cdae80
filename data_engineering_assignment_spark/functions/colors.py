"""Pixel-color functions — the reference's binary-image UDF surface (D1/D2,
Assignment-python.py:654-701) re-expressed as Arrow-batched pandas UDFs.

Semantics preserved exactly:

* pixels are ``channels`` consecutive bytes in **BGRA** order (OpenCV CV_8U);
* each of B, G, R is rounded to the nearest of {0, 128, 255} with thresholds
  at 85 and 170;
* a pixel with alpha < 128 (under 50% opacity) is color ``"None"``;
* the rounded (R, G, B) triple maps through the reference's fixed 27-entry
  basic-color table (a data table, reproduced below);
* invalid input (too-short pixel) is ``"None"``.

The reference runs two row-at-a-time Python UDFs (hex-string intermediary);
here the whole batch is one numpy pass per Arrow batch — no per-pixel Python,
~100× less interpreter overhead at scale (SURVEY.md §4 "Python-boundary
costs"). The hex-array variant is kept for parity testing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

# type objects, not DDL strings: parsing "array<string>" at import time would
# require an active SparkSession
_ARR_STR = ArrayType(StringType())

# Basic-color table indexed by 3*3*3 rounded (R,G,B) — values from the
# reference's lookup (Assignment-python.py:671-681), flat index r*9 + g*3 + b
# with channel levels (0,128,255) → digits (0,1,2).
_COLOR_TABLE = np.array(
    [
        # r=0:   g=0            g=128                 g=255
        "Black", "Blue", "Blue", "Green", "Green", "Blue", "Green", "Green", "Blue",
        # r=128
        "Red", "Purple", "Purple", "Green", "Gray", "Purple", "Green", "Green", "Blue",
        # r=255
        "Red", "Pink", "Purple", "Orange", "Orange", "Pink", "Yellow", "Yellow", "White",
    ]
)


def _round_digit(channel: np.ndarray) -> np.ndarray:
    """0-255 byte → level digit 0/1/2 (thresholds 85 and 170, :684-689)."""
    return (channel >= 85).astype(np.int32) + (channel >= 170).astype(np.int32)


def color_names_from_bgra(data: bytes) -> list[str]:
    """Per-pixel basic-color names for one image's raw BGRA bytes."""
    if data is None:
        return []
    arr = np.frombuffer(data, dtype=np.uint8)
    n_px = len(arr) // 4
    px = arr[: n_px * 4].reshape(n_px, 4)
    b, g, r, a = px[:, 0], px[:, 1], px[:, 2], px[:, 3]
    idx = _round_digit(r) * 9 + _round_digit(g) * 3 + _round_digit(b)
    names = _COLOR_TABLE[idx]
    return np.where(a < 128, "None", names).tolist()


@pandas_udf(_ARR_STR)
def pixel_colors_udf(data: pd.Series) -> pd.Series:
    """binary (BGRA) → array of per-pixel color names, one numpy pass/batch."""
    return data.apply(color_names_from_bgra)


@pandas_udf(_ARR_STR)
def pixel_hex_udf(data: pd.Series) -> pd.Series:
    """D1 parity: binary → array of per-pixel 8-hex-digit strings (:654-661)."""

    def one(d: bytes) -> list[str]:
        if d is None:
            return []
        arr = np.frombuffer(d, dtype=np.uint8)
        n_px = len(arr) // 4
        px = arr[: n_px * 4].reshape(n_px, 4)
        # vectorized hex: 4 bytes → 8 uppercase hex chars
        as_u32 = (
            px[:, 0].astype(np.uint64) << 24
            | px[:, 1].astype(np.uint64) << 16
            | px[:, 2].astype(np.uint64) << 8
            | px[:, 3].astype(np.uint64)
        )
        return [f"{v:08X}" for v in as_u32]

    return data.apply(one)


def color_name_of_hex(hex_string: str) -> str:
    """D2 parity, scalar form (:667-701): 8-hex-digit BGRA pixel → name."""
    if hex_string is None or len(hex_string) < 8:
        return "None"
    try:
        b = int(hex_string[0:2], 16)
        g = int(hex_string[2:4], 16)
        r = int(hex_string[4:6], 16)
        a = int(hex_string[6:8], 16)
    except ValueError:
        return "None"
    if a < 128:
        return "None"
    digit = lambda v: 0 if v < 85 else (1 if v < 170 else 2)  # noqa: E731
    return str(_COLOR_TABLE[digit(r) * 9 + digit(g) * 3 + digit(b)])


def non_transparent_count(colors: Column) -> Column:
    """F9 (:736): pixels that are not 'None'."""
    return F.size(colors) - F.size(F.filter(colors, lambda c: c == "None"))


def color_ratio(colors: Column) -> Column:
    """F10 (:739): colored / total pixels."""
    return non_transparent_count(colors) / F.size(colors)


def red_pixel_count(colors: Column) -> Column:
    """F11 (:820-823): HOF count of 'Red' pixels."""
    return F.size(F.filter(colors, lambda c: c == "Red"))
