"""Source-format queries gated by the DuckDB oracle — closes the S1 gap
(CSV scan with explicit schema was pytest-only in round 1).

The input is a COMMITTED pipe-delimited fixture (tests/fixtures/
video_game_sales.csv, reference schema Assignment-python.py:38-51) so the
Spark scan and the DuckDB ``read_csv`` read the identical bytes with the
identical declared types — no write ordering between query and oracle runs.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import cond_sum, davg, dround, dsum, o_davg, o_dround, o_dsum
from ..operators.graphs import PR_DAMP_DEN, PR_DAMP_NUM, PR_SCALE
from ..pipelines.sales import read_sales_csv, sales_in_window
from ..session import tune
from ..sources import map_batches, schema_field_names
from . import register

def _doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents doc_id scan, fanned out before the per-doc Python
    stages every fixture gate in this module hangs off it.

    Each gate generates and parses its media inside mapInPandas stages
    that are NARROW from this scan. At bench scale the table is one
    small parquet file with one row group, so the entire Python chain
    would otherwise run as ONE task no matter how many cores the box
    has (measured: png_profile_stats spends ~7 s of single-core codec
    CPU that spreads to ~0.25 s across 32 cores). The guard shuffles
    only the doc_id longs (kilobytes) and is a no-op whenever the scan
    already parallelizes — a production-scale documents table has
    thousands of row groups, so no shuffle is added there
    (operators/parallelism.py has the full rationale)."""
    from ..operators.parallelism import ensure_min_parallelism
    from ..tables import load

    return ensure_min_parallelism(
        load(spark, sf_dir, "documents").select("doc_id"),
        memo_key=f"doc_ids:{sf_dir}",
    )


def _fixture_rows(
    docs: DataFrame, row: Callable[..., tuple], schema: str
) -> DataFrame:
    """One generated row per ``docs`` row: the per-batch mapInPandas loop
    every fixture gate shares, written once.

    ``row(did, *rest)`` returns the value tuple for ``schema``: ``did`` is
    the first column as a Python int, ``rest`` the remaining ``docs``
    columns in order. The pandas column names are derived from ``schema``
    (sources.schema_field_names), so no gate hand-types a column list that
    must match it. Junk planting stays in each builder: the junk bytes and
    row width differ from gate to gate."""
    import pandas as pd

    names = schema_field_names(schema)

    def rows(batches):
        for batch in batches:
            cols = (batch[c] for c in batch.columns)
            yield pd.DataFrame(
                [row(int(did), *rest) for did, *rest in zip(*cols)],
                columns=names,
            )

    return map_batches(docs, rows, schema)


def _fixture_scan_small(spark: SparkSession, sf_dir: str) -> bool:
    """True in the small-scan regime (documents scans narrower than the
    session's parallelism — the bench SFs). Gates checkpoint EAGERNESS on
    fan-out pipelines: when the per-doc Python chain is long (at scale),
    concurrent broadcast-build jobs race to compute a LAZY checkpoint's
    unpersisted partitions (crawl_discovery_pipeline at sf1: 5 jobs
    submitted within 80 ms, 155.7 s task time for ~100 s of real parse;
    eager cut it to 67.6 s / 1.69x wall). At bench scale the legs are too
    short to overlap and the eager barrier only costs (measured +0.7 s),
    so the small regime stays lazy. Reuses the _doc_ids probe memo — no
    extra probe cost."""
    from ..operators.parallelism import small_scan
    from ..tables import load

    return small_scan(
        load(spark, sf_dir, "documents").select("doc_id"),
        memo_key=f"doc_ids:{sf_dir}",
    )


_CSV_PATH = str(
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "video_game_sales.csv"
)

_CSV_COLUMNS = (
    "{'title':'VARCHAR','publisher':'VARCHAR','developer':'VARCHAR',"
    "'release_date':'DATE','platform':'VARCHAR','total_sales':'DOUBLE',"
    "'na_sales':'DOUBLE','japan_sales':'DOUBLE','pal_sales':'DOUBLE',"
    "'other_sales':'DOUBLE','user_score':'DOUBLE','critic_score':'DOUBLE'}"
)

_CSV_ORACLE = f"""
SELECT publisher,
       year(release_date)::BIGINT AS year,
       COUNT(*) AS n_titles,
       SUM(CASE WHEN na_sales IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_na,
       {o_dsum('na_sales', 'na_total')},
       {o_dsum('total_sales', 'global_total')}
FROM read_csv('{_CSV_PATH}', delim='|', header=true,
              dateformat='%d-%m-%Y', columns={_CSV_COLUMNS})
WHERE year(release_date) BETWEEN 2006 AND 2015
GROUP BY 1, 2
"""


_JSONL_PATH = str(
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "media_metadata.jsonl"
)

_JSONL_ORACLE = f"""
SELECT "group" AS media_group,
       COUNT(*) AS n_items,
       COUNT(DISTINCT annotation) AS n_annotations,
       COUNT(skintone) AS n_with_skintone,
       MIN(hexcode) AS first_hexcode
FROM read_json('{_JSONL_PATH}', format='newline_delimited')
GROUP BY 1
"""


@register(
    "jsonl_media_groups",
    oracle=_JSONL_ORACLE,
    doc="S6 oracle gate (Assignment-python.py:711): schema-INFERRED JSON "
    "Lines scan (OpenMoji-metadata shape incl. a field missing from some "
    "rows) + grouped counts/distincts, vs DuckDB read_json over the same "
    "committed fixture.",
)
def jsonl_media_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import read_jsonl

    tune(spark)
    meta = read_jsonl(spark, _JSONL_PATH)
    return meta.groupBy(F.col("group").alias("media_group")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("annotation").alias("n_annotations"),
        F.count("skintone").alias("n_with_skintone"),
        F.min("hexcode").alias("first_hexcode"),
    )


_MEDIA_DIR = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "media")

_BINARY_ORACLE = f"""
SELECT string_split(filename, '/')[-1] AS fname,
       size AS n_bytes,
       md5(hex(content)) AS content_md5
FROM read_blob(['{_MEDIA_DIR}/*.rawm', '{_MEDIA_DIR}/*.jpg',
                '{_MEDIA_DIR}/*.mp4',
                '{_MEDIA_DIR}/*.webp', '{_MEDIA_DIR}/*.svg'])
"""


@register(
    "binary_media_inventory",
    oracle=_BINARY_ORACLE,
    doc="S5 oracle gate (image-format stand-in, Assignment-python.py:710): "
    "binaryFile scan with pathGlobFilter pushdown over committed RAWM + "
    "JPEG + MP4 + WebP + SVG fixtures (the mp4/webp rows landed r14, "
    "svg r15 — the last common web image format outside the "
    "inventory); per-file size + content digest vs DuckDB read_blob. "
    "The hex detour makes the digest engine-portable (DuckDB md5 only "
    "takes VARCHAR, and BLOB::VARCHAR escapes bytes).",
)
def binary_media_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import read_binary_files

    tune(spark)
    files = read_binary_files(spark, _MEDIA_DIR, glob="*.{rawm,jpg,mp4,webp,svg}")
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5(F.hex("content").cast("binary")).alias("content_md5"),
    )


@register(
    "csv_sales_publisher_year",
    oracle=_CSV_ORACLE,
    doc="S1 oracle gate (Assignment-python.py:38-52): pipe-delimited CSV scan "
    "with explicit schema + dateFormat, year window filter, grouped decimal "
    "sums and a null-count — Basic-1's operator set end-to-end vs DuckDB "
    "read_csv over the same committed fixture.",
)
def csv_sales_publisher_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    windowed = sales_in_window(read_sales_csv(spark, _CSV_PATH))
    return (
        windowed.groupBy("publisher", F.col("year").cast("long").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_titles"),
            cond_sum(F.col("na_sales").isNull(), "n_null_na").cast("long").alias("n_null_na"),
            dsum("na_sales", "na_total"),
            dsum("total_sales", "global_total"),
        )
    )


_PNG_DECODE_ORACLE = """
SELECT (2 + doc_id % 3)::BIGINT AS width,
       (2 + doc_id % 2)::BIGINT AS height,
       COUNT(*) AS n_imgs,
       COUNT(*) AS n_ok
FROM documents
GROUP BY 1, 2
"""


@register(
    "png_decode_stats",
    oracle=_PNG_DECODE_ORACLE,
    doc="Multimodal decode gate over the native PNG codec "
    "(functions/multimodal.py decode_png; reference decodes OpenMoji PNGs, "
    "Assignment-python.py:654-661,710): every document becomes a real PNG "
    "whose dimensions are an arithmetic function of doc_id (pixels from the "
    "text's md5), decoded back via mapInPandas decode_media. The oracle "
    "computes the expected dimensions purely arithmetically, so any codec "
    "regression (chunk parse, inflate, unfilter, metadata) breaks the "
    "width/height/n_ok hash. Pixel-level exactness is unit-tested "
    "(tests/test_multimodal.py round-trip + per-filter-type tests).",
)
def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np

    from ..functions.multimodal import MEDIA_SCHEMA, decode_media, encode_png
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def make(did, text):
        w, h = 2 + did % 3, 2 + did % 2
        digest = hashlib.md5(str(text).encode("utf-8")).digest()
        payload = (digest * (w * h * 4 // len(digest) + 1))[: w * h * 4]
        frame = np.frombuffer(payload, np.uint8).reshape(h, w, 4)
        return f"doc-{did}.png", "image", 0, 0, 0, 0, encode_png(frame)

    media = _fixture_rows(docs, make, MEDIA_SCHEMA)
    decoded = decode_media(media)
    return decoded.groupBy(
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    ).agg(
        F.count(F.lit(1)).alias("n_imgs"),
        F.sum(F.col("decoded_ok").cast("int")).cast("long").alias("n_ok"),
    )


_PNG_PROFILE_ORACLE = """
SELECT (3 + doc_id % 13)::BIGINT AS width,
       COUNT(*) AS n_imgs,
       COUNT(*) AS n_inter_ok,
       SUM(10 + doc_id % 200)::BIGINT AS inter_val_sum,
       COUNT(*) AS n_16_ok,
       SUM(10 + doc_id % 200)::BIGINT AS val16_sum,
       COUNT(*) AS n_sub_ok,
       SUM(CASE doc_id % 3 WHEN 0 THEN (doc_id % 2) * 255
            WHEN 1 THEN (doc_id % 4) * 85
            ELSE (doc_id % 16) * 17 END)::BIGINT AS sub_val_sum,
       COUNT(*) AS n_pal_ok,
       SUM((doc_id % 16) * 16)::BIGINT AS pal_val_sum
FROM documents
GROUP BY 1
"""


@register(
    "png_profile_stats",
    oracle=_PNG_PROFILE_ORACLE,
    doc="Full-profile PNG decode gate (functions/multimodal.py decode_png; "
    "the reference's image scan decodes arbitrary PNGs via OpenCV, "
    "Assignment-python.py:710): every document becomes FOUR real PNGs "
    "whose pixels are arithmetic in doc_id — (1) an Adam7-INTERLACED "
    "8-bit RGBA gradient checked bit-equal to its sequential twin, (2) a "
    "16-BIT RGBA file whose low bytes are noise so only the high-byte "
    "take decodes the expected values, (3) a SUB-BYTE grayscale file "
    "(depth rotating 1/2/4 by doc_id, alternating interlaced) checked "
    "against the exact 255/(2^d-1) rescale, and (4) a 4-bit PALETTE file "
    "with a tRNS alpha table (alternating interlaced). Each leg's ok flag "
    "requires full-frame equality and its value column is the decoded "
    "(0,0) pixel, so the oracle computes everything without decoding and "
    "any regression in pass extraction, bit unpacking, 16-bit filtering "
    "(bpp=8) or palette/alpha lookup breaks the hash.",
)
def png_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.multimodal import (
        decode_png,
        encode_png,
        encode_png16,
        encode_png_gray,
        encode_png_palette,
    )

    docs = _doc_ids(spark, sf_dir)
    pal = np.stack(
        [np.arange(16) * 16, 255 - np.arange(16) * 16, np.arange(16) * 8],
        axis=1,
    ).astype(np.uint8)
    atab = (255 - np.arange(16) * 8).astype(np.uint8)
    sub_depths = (1, 2, 4)
    sub_scales = {1: 255, 2: 85, 4: 17}

    def roundtrip(did):
        w, h = 3 + did % 13, 2 + did % 11
        v = 10 + did % 200
        ys, xs = np.mgrid[0:h, 0:w]
        # leg 1: interlaced 8-bit RGBA gradient (frame built in
        # decode_png's BGRA order so expected == input frame)
        frame = np.empty((h, w, 4), np.uint8)
        frame[..., 2] = (v + 3 * xs + 5 * ys) % 256  # R
        frame[..., 1] = (v + xs) % 256  # G
        frame[..., 0] = (v + ys) % 256  # B
        frame[..., 3] = 255
        try:
            seq, _ = decode_png(encode_png(frame))
            inter, _ = decode_png(encode_png(frame, interlace=1))
            iok = bool(
                np.array_equal(seq[0], frame)
                and np.array_equal(inter, seq)
            )
            ival = int(inter[0, 0, 0, 2])
        except Exception:
            iok, ival = False, 0
        # leg 2: 16-bit RGBA, noisy low bytes
        hi = (v + xs[..., None] + ys[..., None] + np.arange(4)) % 256
        lo = (did + xs[..., None] + np.zeros_like(hi)) % 256
        rgba16 = (hi.astype(np.uint16) << 8) | lo.astype(np.uint16)
        exp16 = hi.astype(np.uint8)[:, :, [2, 1, 0, 3]]
        try:
            d16, _ = decode_png(encode_png16(rgba16))
            k16ok = bool(np.array_equal(d16[0], exp16))
            k16val = int(d16[0, 0, 0, 2])
        except Exception:
            k16ok, k16val = False, 0
        # leg 3: sub-byte grayscale, alternating interlace
        depth = sub_depths[did % 3]
        mod = 1 << depth
        g = ((xs + ys + did) % mod).astype(np.uint16)
        try:
            dg, _ = decode_png(
                encode_png_gray(g, depth, interlace=did % 2)
            )
            exp_g = (g * sub_scales[depth]).astype(np.uint8)
            sok = bool(
                np.array_equal(dg[0, :, :, 0], exp_g)
                and (dg[0, :, :, 3] == 255).all()
            )
            sval = int(dg[0, 0, 0, 0])
        except Exception:
            sok, sval = False, 0
        # leg 4: 4-bit palette + tRNS alpha, alternating interlace
        idx = ((xs + ys + did) % 16).astype(np.uint16)
        try:
            dp, _ = decode_png(
                encode_png_palette(
                    idx, pal, atab.tobytes(), 4, interlace=did % 2
                )
            )
            pok = bool(
                np.array_equal(dp[0, :, :, :3], pal[idx][:, :, [2, 1, 0]])
                and np.array_equal(dp[0, :, :, 3], atab[idx])
            )
            pval = int(dp[0, 0, 0, 2])
        except Exception:
            pok, pval = False, 0
        return w, iok, ival, k16ok, k16val, sok, sval, pok, pval

    decoded = _fixture_rows(
        docs, roundtrip,
        "width int, iok boolean, ival int, k16ok boolean, k16val int,"
        " sok boolean, sval int, pok boolean, pval int",
    )
    return decoded.groupBy(F.col("width").cast("long").alias("width")).agg(
        F.count(F.lit(1)).alias("n_imgs"),
        F.sum(F.col("iok").cast("int")).cast("long").alias("n_inter_ok"),
        F.sum(F.col("ival").cast("long")).alias("inter_val_sum"),
        F.sum(F.col("k16ok").cast("int")).cast("long").alias("n_16_ok"),
        F.sum(F.col("k16val").cast("long")).alias("val16_sum"),
        F.sum(F.col("sok").cast("int")).cast("long").alias("n_sub_ok"),
        F.sum(F.col("sval").cast("long")).alias("sub_val_sum"),
        F.sum(F.col("pok").cast("int")).cast("long").alias("n_pal_ok"),
        F.sum(F.col("pval").cast("long")).alias("pal_val_sum"),
    )


_GIF_DECODE_ORACLE = """
SELECT (4 + doc_id % 8)::BIGINT AS width,
       COUNT(*) AS n_gifs,
       COUNT(*) AS n_ok,
       SUM(16 * (doc_id % 16))::BIGINT AS val0_sum,
       SUM(16 * ((doc_id + 2) % 16))::BIGINT AS val1_sum,
       SUM(16 * ((doc_id + 5) % 16))::BIGINT AS val2_sum
FROM documents
GROUP BY 1
"""


@register(
    "gif_decode_stats",
    oracle=_GIF_DECODE_ORACLE,
    doc="Multimodal decode gate over the native GIF codec "
    "(functions/gif.py, GIF89a + LZW; the reference's image scan decodes "
    "GIFs via OpenCV, Assignment-python.py:710): every document becomes a "
    "TWO-FRAME ANIMATED GIF — a full-rect first frame (interlaced for odd "
    "doc_ids) and a sub-rectangle second frame with a TRANSPARENT index, "
    "decoded through decode_any's magic dispatch and verified as full "
    "COMPOSED frames in-row. The three value columns are decoded pixels "
    "whose expectations are pure doc_id arithmetic: val0 the first "
    "frame's (0,0), val1 a patch pixel the transparency rule must leave "
    "showing frame 0, val2 an opaque patch pixel — so LZW decode "
    "(variable width, clears), interlace scatter, palette lookup, "
    "transparency and composition are all under the oracle hash.",
)
def gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.gif import encode_gif
    from ..functions.multimodal import decode_any

    docs = _doc_ids(spark, sf_dir)
    pal = np.stack(
        [np.arange(16) * 16, 255 - np.arange(16) * 16, np.arange(16) * 8],
        axis=1,
    ).astype(np.uint8)
    pal_bgr = pal[:, [2, 1, 0]]

    def roundtrip(did):
        w, h = 4 + did % 8, 3 + did % 6
        ys, xs = np.mgrid[0:h, 0:w]
        idx0 = ((xs + ys + did) % 16).astype(np.uint8)
        pys, pxs = np.mgrid[0:2, 0:3]
        idx1 = ((pxs * 2 + pys + did) % 16).astype(np.uint8)
        transp = did % 16
        gif = encode_gif(
            [idx0, idx1],
            pal,
            transparent=[None, transp],  # frame 0 fully opaque
            offsets=[(0, 0), (1, 1)],
            interlace=bool(did % 2),
        )
        exp0 = np.dstack(
            [pal_bgr[idx0], np.full((h, w), 255, np.uint8)]
        )
        exp1 = exp0.copy()
        region = exp1[1:3, 1:4]
        keep = idx1 == transp
        region[~keep, :3] = pal_bgr[idx1[~keep]]
        try:
            frames, meta = decode_any(gif)
            ok = bool(
                meta["n_frames"] == 2
                and frames.shape == (2, h, w, 4)
                and np.array_equal(frames[0], exp0)
                and np.array_equal(frames[1], exp1)
            )
            # decoded R channel (BGRA index 2) at the gated pixels
            v0 = int(frames[0, 0, 0, 2])
            v1 = int(frames[1, 1, 1, 2])
            v2 = int(frames[1, 2, 3, 2])
        except Exception:
            ok, v0, v1, v2 = False, 0, 0, 0
        return w, ok, v0, v1, v2

    decoded = _fixture_rows(
        docs, roundtrip, "width int, ok boolean, v0 int, v1 int, v2 int"
    )
    return decoded.groupBy(F.col("width").cast("long").alias("width")).agg(
        F.count(F.lit(1)).alias("n_gifs"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum(F.col("v0").cast("long")).alias("val0_sum"),
        F.sum(F.col("v1").cast("long")).alias("val1_sum"),
        F.sum(F.col("v2").cast("long")).alias("val2_sum"),
    )


_BMP_DECODE_ORACLE = """
SELECT (3 + doc_id % 9)::BIGINT AS width,
       COUNT(*) AS n_bmps,
       COUNT(*) AS n_ok,
       SUM(doc_id % 256)::BIGINT AS val24_sum,
       SUM(17 * (doc_id % 16))::BIGINT AS val_rle_sum,
       COUNT(*) AS n_os2_ok,
       SUM((doc_id + 1) % 256)::BIGINT AS val_os2_sum
FROM documents
GROUP BY 1
"""


@register(
    "bmp_decode_stats",
    oracle=_BMP_DECODE_ORACLE,
    doc="Multimodal decode gate over the native BMP codec "
    "(functions/multimodal.py decode_bmp; the reference's image scan "
    "decodes BMPs via OpenCV, Assignment-python.py:710): every document "
    "becomes TWO real BMPs — a 24-bit gradient (row order alternating "
    "bottom-up/top-down by doc_id, exercising the flip) and an RLE8 "
    "paletted file — decoded through decode_any's magic dispatch and "
    "verified full-frame in-row. A THIRD leg (round 10) re-encodes the "
    "gradient as an OS/2 BITMAPCOREHEADER file (12-byte header, 16-bit "
    "dims, 3-byte palette rows — previously a guarded "
    "NotImplementedError) and requires full-frame equality with the "
    "BITMAPINFOHEADER decode; its value column reads pixel (0,1).B = "
    "(doc_id+1)%256 so a core-header stride/offset misparse breaks the "
    "hash. The value columns are decoded pixels with pure doc_id "
    "arithmetic expectations, putting row order, 4-byte stride padding, "
    "palette lookup and RLE run decode under the oracle hash.",
)
def bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.multimodal import decode_any, encode_bmp

    docs = _doc_ids(spark, sf_dir)
    pal = np.stack(
        [np.arange(16) * 16, 255 - np.arange(16) * 16, np.arange(16) * 17],
        axis=1,
    ).astype(np.uint8)  # BGR palette

    def roundtrip(did):
        w, h = 3 + did % 9, 2 + did % 7
        ys, xs = np.mgrid[0:h, 0:w]
        frame = np.empty((h, w, 4), np.uint8)
        frame[..., 0] = (did + xs) % 256  # B
        frame[..., 1] = (did + ys) % 256  # G
        frame[..., 2] = (did + 2 * xs + 3 * ys) % 256  # R
        frame[..., 3] = 255
        idx = ((xs + 2 * ys + did) % 16).astype(np.uint8)
        exp24 = frame.copy()
        exp_rle = np.dstack(
            [pal[idx], np.full((h, w), 255, np.uint8)]
        )
        try:
            d24, _ = decode_any(
                encode_bmp(frame, 24, top_down=bool(did % 2))
            )
            drle, _ = decode_any(
                encode_bmp(None, 8, palette=pal, indices=idx, rle8=True)
            )
            ok = bool(
                np.array_equal(d24[0], exp24)
                and np.array_equal(drle[0], exp_rle)
            )
            v24 = int(d24[0, 0, 0, 2])
            vrle = int(drle[0, 0, 0, 2])
        except Exception:
            ok, v24, vrle = False, 0, 0
        try:
            dos2, _ = decode_any(encode_bmp(frame, 24, os2=True))
            os2ok = bool(np.array_equal(dos2[0], exp24))
            vos2 = int(dos2[0, 0, 1, 0])  # (0,1).B = (did+1)%256
        except Exception:
            os2ok, vos2 = False, 0
        return w, ok, v24, vrle, os2ok, vos2

    decoded = _fixture_rows(
        docs, roundtrip,
        "width int, ok boolean, v24 int, vrle int, os2ok boolean, vos2 int",
    )
    return decoded.groupBy(F.col("width").cast("long").alias("width")).agg(
        F.count(F.lit(1)).alias("n_bmps"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum(F.col("v24").cast("long")).alias("val24_sum"),
        F.sum(F.col("vrle").cast("long")).alias("val_rle_sum"),
        F.sum(F.col("os2ok").cast("int")).cast("long").alias("n_os2_ok"),
        F.sum(F.col("vos2").cast("long")).alias("val_os2_sum"),
    )


_TIFF_DECODE_ORACLE = """
SELECT (3 + doc_id % 9)::BIGINT AS width,
       COUNT(*) AS n_tiffs,
       COUNT(*) AS n_ok,
       SUM(doc_id % 256)::BIGINT AS val_lzw_sum,
       SUM(17 * (doc_id % 16))::BIGINT AS val_pb_sum,
       COUNT(*) AS n_tiled_ok,
       SUM((doc_id + 18 + doc_id % 9) % 256)::BIGINT AS val_tiled_sum
FROM documents
GROUP BY 1
"""


@register(
    "tiff_decode_stats",
    oracle=_TIFF_DECODE_ORACLE,
    doc="Multimodal decode gate over the native baseline-TIFF codec "
    "(functions/tiff.py; the reference's image scan decodes TIFFs via "
    "OpenCV, Assignment-python.py:710): every document becomes TWO real "
    "TIFFs — an RGB file compressed with TIFF-LZW under the horizontal "
    "predictor, split into 3-row strips, byte order alternating II/MM by "
    "doc_id, and a PackBits palette file (big-endian) — decoded through "
    "decode_any's magic dispatch and verified full-frame in-row. A THIRD "
    "leg (round 10) encodes a 2x2 grid of 16x16 TILES (TIFF 6.0 §15, "
    "uncompressed + predictor 2): padded edge tiles, the per-tile "
    "predictor restart and the grid walk are all under the oracle via "
    "the far-corner pixel (doc_id + 18 + doc_id%9) % 256, which crosses "
    "every tile boundary. The codec itself is cross-validated "
    "bit-for-bit against the JDK ImageIO "
    "TIFF plugin (tests/test_java_interop.py), so this gate pins the "
    "Spark plumbing + closed-form pixel arithmetic while the interop "
    "tests pin spec conformance.",
)
def tiff_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.multimodal import decode_any
    from ..functions.tiff import encode_tiff

    docs = _doc_ids(spark, sf_dir)
    pal = np.stack(
        [np.arange(16) * 17, 255 - np.arange(16) * 16, np.arange(16) * 16],
        axis=1,
    ).astype(np.uint8)  # RGB palette (encode_tiff convention)

    def roundtrip(did):
        w, h = 3 + did % 9, 2 + did % 7
        ys, xs = np.mgrid[0:h, 0:w]
        frame = np.empty((h, w, 4), np.uint8)
        frame[..., 0] = (did + xs) % 256  # B
        frame[..., 1] = (did + ys) % 256  # G
        frame[..., 2] = (did + 2 * xs + 3 * ys) % 256  # R
        frame[..., 3] = 255
        idx = ((xs + 2 * ys + did) % 16).astype(np.uint8)
        exp_pal = np.dstack(
            [pal[idx][:, :, [2, 1, 0]], np.full((h, w), 255, np.uint8)]
        )
        try:
            dlzw, _ = decode_any(
                encode_tiff(
                    frame, 2, 5, 2,
                    big_endian=bool(did % 2), rows_per_strip=3,
                    alpha=True,
                )
            )
            dpb, _ = decode_any(
                encode_tiff(
                    None, 3, 32773,
                    big_endian=True, palette=pal, indices=idx,
                )
            )
            ok = bool(
                np.array_equal(dlzw[0], frame)
                and np.array_equal(dpb[0], exp_pal)
            )
            vlzw = int(dlzw[0, 0, 0, 2])
            vpb = int(dpb[0, 0, 0, 2])
        except Exception:
            ok, vlzw, vpb = False, 0, 0
        # tiled leg: a 2x2 tile grid of 16x16 tiles with padded
        # edges; the far-corner pixel crosses tile boundaries, so
        # a tile-placement/crop/per-tile-predictor bug breaks it
        wt, ht = w + 16, h + 16
        yt, xt = np.mgrid[0:ht, 0:wt]
        tframe = np.empty((ht, wt, 4), np.uint8)
        tframe[..., 0] = (did + xt) % 256
        tframe[..., 1] = (did + yt) % 256
        tframe[..., 2] = (did + 2 * xt + 3 * yt) % 256
        tframe[..., 3] = 255
        try:
            # uncompressed + predictor 2: tiling's OWN risks
            # (grid walk, padding crop, per-tile predictor
            # restart) without re-paying the pure-Python LZW the
            # strip leg already gates (19.7 -> ~4 s at sf0.1)
            dt, _ = decode_any(
                encode_tiff(
                    tframe, 2, 1, 2,
                    big_endian=bool(did % 2), alpha=True,
                    tile_size=(16, 16),
                )
            )
            tok = bool(np.array_equal(dt[0], tframe))
            vt = int(dt[0, ht - 1, wt - 1, 0])
        except Exception:
            tok, vt = False, 0
        return w, ok, vlzw, vpb, tok, vt

    decoded = _fixture_rows(
        docs, roundtrip,
        "width int, ok boolean, vlzw int, vpb int, tok boolean, vt int",
    )
    return decoded.groupBy(F.col("width").cast("long").alias("width")).agg(
        F.count(F.lit(1)).alias("n_tiffs"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum(F.col("vlzw").cast("long")).alias("val_lzw_sum"),
        F.sum(F.col("vpb").cast("long")).alias("val_pb_sum"),
        F.sum(F.col("tok").cast("int")).cast("long").alias("n_tiled_ok"),
        F.sum(F.col("vt").cast("long")).alias("val_tiled_sum"),
    )


_JPEG_DECODE_ORACLE = """
SELECT (8 * (1 + doc_id % 2))::BIGINT AS width,
       COUNT(*) AS n_imgs,
       COUNT(*) AS n_ok,
       SUM(68 + 2 * (doc_id % 60))::BIGINT AS val_sum,
       COUNT(*) AS n_color_ok,
       SUM(78 + 2 * (doc_id % 50))::BIGINT AS color_val_sum,
       COUNT(*) AS n_prog_ok,
       SUM(68 + 2 * (doc_id % 60))::BIGINT AS prog_val_sum,
       COUNT(*) AS n_q16_ok,
       SUM(32 + 32 * (doc_id % 7))::BIGINT AS q16_val_sum,
       COUNT(*) AS n_p12_ok,
       SUM((1048 + 2 * (doc_id % 1000)) // 16)::BIGINT AS p12_val_sum
FROM documents
GROUP BY 1
"""


@register(
    "jpeg_decode_stats",
    oracle=_JPEG_DECODE_ORACLE,
    doc="Multimodal decode gate over the native baseline JPEG codec "
    "(functions/jpeg.py, ITU-T T.81): every document becomes TWO real "
    "JPEGs — a flat gray 8x8/8x16 (value 128 + 2*(doc_id%60) - 60) and a "
    "flat neutral-chroma COLOR file (value 128 + 2*(doc_id%50) - 50, "
    "subsampling rotating 4:4:4 / 4:2:2 / 4:2:0 by doc_id) — decoded back "
    "through decode_any's magic-byte dispatch. Flat blocks with EVEN "
    "level-shift offsets survive the Annex-K Q[0,0]=16 quantizer exactly, "
    "and neutral chroma (Cb=Cr=128) is exact under any quantizer/"
    "subsampling, so both decoded values are pure arithmetic in doc_id "
    "and the oracle gates marker parse, Huffman, dequant, IDCT, the "
    "interleaved-MCU walk, chroma upsampling and the YCbCr->RGB transform "
    "bit-for-bit. A THIRD leg re-encodes the gray image PROGRESSIVE "
    "(SOF2, Annex G: DC+band first scans at Al=1 plus refinements to "
    "Al=0) and decodes it through the same dispatch — exact for the same "
    "arithmetic reason, and gating the multi-scan accumulation path in "
    "production. A FOURTH leg re-encodes with an all-256 quantization "
    "table — entries above 255 force 16-BIT DQT element precision "
    "(Pq=1, decoded natively since round 10) — at value 32 + 32*(id%7), "
    "whose level-shifted DC is divisible by 32 and so survives q_dc=256 "
    "exactly; a low-byte DQT misparse could not reproduce it. A FIFTH "
    "leg encodes 12-BIT EXTENDED SEQUENTIAL (SOF1, level shift 2048, "
    "decoded natively since round 10) at flat value 1048 + 2*(id%1000): "
    "the even level-shift offset survives the Annex-K q_dc=16 exactly "
    "and the decoded uint8 value is the documented >>4 floor, so the "
    "oracle computes (1048 + 2*(id%1000)) // 16 arithmetically. AC-rich, "
    "padded and chroma-rich images are covered by the committed "
    "jg_*/jc_*/jgp_*/jcp_*.jpg fixtures (filename pins dims + decoded "
    "mean) and round-trip + coefficient-property unit tests.",
)
def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.jpeg import (
        encode_jpeg_color,
        encode_jpeg_gray,
        encode_jpeg_progressive,
    )
    from ..functions.multimodal import decode_any

    docs = _doc_ids(spark, sf_dir)
    subsamplings = ("444", "422", "420")
    _Q256 = np.full((8, 8), 256, np.int64)  # >255 forces the Pq=1 DQT

    # fixture-encode memo (the avi_video_stats discipline): every leg's
    # bytes depend on did only through small moduli — 120 gray, 300
    # color, 120 progressive and 14 q16 distinct files vs 4 pure-Python
    # encodes per row. The gated DECODE still runs per row. The builder
    # closes over the dict, so each task unpickles its own empty memo.
    memo: dict = {}

    def enc_memo(key, build):
        if key not in memo:
            memo[key] = build()
        return memo[key]

    def roundtrip(did):
        w = 8 * (1 + did % 2)
        v = 68 + 2 * (did % 60)
        enc = enc_memo(
            ("g", w, v),
            lambda: encode_jpeg_gray(np.full((8, w), v, np.uint8)),
        )
        try:
            frames, meta = decode_any(enc)
            # frames are (1, h, w, 4) BGRA with gray replicated
            g = (meta["width"], True, int(frames[0, 0, 0, 0]))
        except Exception:
            g = (w, False, 0)
        cv = 78 + 2 * (did % 50)
        ss = subsamplings[did % 3]
        cenc = enc_memo(
            ("c", w, cv, ss),
            lambda: encode_jpeg_color(
                np.full((8, w, 3), cv, np.uint8), ss
            ),
        )
        try:
            cframes, _ = decode_any(cenc)
            # neutral chroma: B == G == R == cv exactly
            ok = bool(
                (cframes[0, :, :, :3] == cv).all()
                and cframes.shape[1:3] == (8, w)
            )
            c = (ok, int(cframes[0, 0, 0, 0]))
        except Exception:
            c = (False, 0)
        penc = enc_memo(
            ("p", w, v),
            lambda: encode_jpeg_progressive(
                np.full((8, w), v, np.uint8)
            ),
        )
        try:
            pframes, _ = decode_any(penc)
            pok = bool(
                (pframes[0, :, :, :3] == v).all()
                and pframes.shape[1:3] == (8, w)
            )
            p = (pok, int(pframes[0, 0, 0, 0]))
        except Exception:
            p = (False, 0)
        qv = 32 + 32 * (did % 7)
        qenc = enc_memo(
            ("q", w, qv),
            lambda: encode_jpeg_gray(
                np.full((8, w), qv, np.uint8), qtable=_Q256
            ),
        )
        try:
            qframes, _ = decode_any(qenc)
            qok = bool(
                (qframes[0, :, :, :3] == qv).all()
                and qframes.shape[1:3] == (8, w)
            )
            q = (qok, int(qframes[0, 0, 0, 0]))
        except Exception:
            q = (False, 0)
        v12 = 1048 + 2 * (did % 1000)
        exp12 = v12 >> 4
        enc12 = enc_memo(
            ("p12", w, v12),
            lambda: encode_jpeg_gray(
                np.full((8, w), v12, np.uint16), precision=12
            ),
        )
        try:
            f12, _ = decode_any(enc12)
            ok12 = bool(
                (f12[0, :, :, :3] == exp12).all()
                and f12.shape[1:3] == (8, w)
            )
            p12 = (ok12, int(f12[0, 0, 0, 0]))
        except Exception:
            p12 = (False, 0)
        return g + c + p + q + p12

    decoded = _fixture_rows(
        docs, roundtrip,
        "width int, ok boolean, val int, cok boolean, cval int,"
        " pok boolean, pval int, qok boolean, qval int,"
        " ok12 boolean, v12 int",
    )
    return decoded.groupBy(F.col("width").cast("long").alias("width")).agg(
        F.count(F.lit(1)).alias("n_imgs"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum(F.col("val").cast("long")).alias("val_sum"),
        F.sum(F.col("cok").cast("int")).cast("long").alias("n_color_ok"),
        F.sum(F.col("cval").cast("long")).alias("color_val_sum"),
        F.sum(F.col("pok").cast("int")).cast("long").alias("n_prog_ok"),
        F.sum(F.col("pval").cast("long")).alias("prog_val_sum"),
        F.sum(F.col("qok").cast("int")).cast("long").alias("n_q16_ok"),
        F.sum(F.col("qval").cast("long")).alias("q16_val_sum"),
        F.sum(F.col("ok12").cast("int")).cast("long").alias("n_p12_ok"),
        F.sum(F.col("v12").cast("long")).alias("p12_val_sum"),
    )


_WAV_ORACLE = """
SELECT (1 + doc_id % 3)::BIGINT AS run_len,
       COUNT(*) AS n_clips,
       COUNT(*) AS n_rms_exact,
       ROUND(SUM(CAST(CAST(1 + doc_id % 3 AS DOUBLE) / 200 AS DECIMAL(27,6))), 4)::DOUBLE AS total_dur_s,
       ROUND(CAST(MIN(CAST(39 AS DOUBLE) / (40 * (1 + doc_id % 3) - 1)) AS DECIMAL(27,8)), 6)::DOUBLE AS zcr
FROM documents
GROUP BY 1
"""


@register(
    "wav_audio_stats",
    oracle=_WAV_ORACLE,
    doc="Multimodal audio gate over the native WAV codec "
    "(functions/multimodal.py decode_wav + extract_audio_features): every "
    "document becomes a 16-bit PCM square wave whose run length is an "
    "arithmetic function of doc_id, decoded back through mapInPandas "
    "feature extraction. Amplitude 0.25 quantizes exactly in int16 "
    "(round(0.25*32767)=8192 -> 8192/2^15=0.25), so RMS is bit-exactly "
    "0.25 and duration/zero-crossing-rate are pure arithmetic — the "
    "oracle computes all three without decoding, and any codec or "
    "feature regression breaks the hash.",
)
def wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.multimodal import encode_wav, extract_audio_features
    from ..operators.aggregates import dround
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        r = 1 + did % 3
        # 40 alternating runs of length r, amplitude +/-0.25
        wave = np.repeat(np.tile([0.25, -0.25], 20), r)
        return f"doc-{did}.wav", encode_wav(wave, 8000)

    media = _fixture_rows(docs, make, "path string, content binary")
    feats = extract_audio_features(media)
    # run_len recovered from the DECODED duration (duration*200 = r within
    # 1 ulp), so even the group key proves the codec round-trip
    run_len = F.round(F.col("duration_s") * 200).cast("long")
    return feats.groupBy(run_len.alias("run_len")).agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum((F.col("rms") == 0.25).cast("int")).cast("long").alias("n_rms_exact"),
        F.round(F.sum(F.col("duration_s").cast("decimal(27,6)")), 4)
        .cast("double")
        .alias("total_dur_s"),
        dround(F.min("zero_cross_rate"), 6).alias("zcr"),
    )


_ADPCM_ORACLE = """
SELECT (3 + doc_id % 5)::BIGINT AS slope0,
       COUNT(*) AS n_wavs,
       COUNT(*) AS n_ok,
       SUM((doc_id * 13) % 256 * 50 - 6400)::BIGINT AS val_first_sum,
       SUM((doc_id * 13) % 256 * 50 - 6400
           + 121 * (3 + doc_id % 5))::BIGINT AS val_blk2_sum
FROM documents
GROUP BY 1
"""


@register(
    "adpcm_audio_stats",
    oracle=_ADPCM_ORACLE,
    doc="Multimodal audio gate over the native IMA/DVI ADPCM codec "
    "(functions/multimodal.py, WAV format tag 17 — the 4-bit "
    "block-predictive codec telephony and game assets carry): every "
    "document becomes a 3-block mono ADPCM WAV of a per-block-slope ramp "
    "whose block headers are closed-form doc_id arithmetic. The decode "
    "is verified in-row (sample count after the fact-chunk trim, BOTH "
    "block-header samples verbatim, max 4-bit reconstruction error <= "
    "16), and the two value columns are the decoded first samples of "
    "blocks 1 and 2 — so block segmentation, the step-table state "
    "machine and nibble order all sit under the oracle hash. The state "
    "machine itself is pinned to a scalar spec-reference implementation "
    "and golden vectors in tests/test_audio_codecs.py. At corpus scale "
    "the whole Arrow batch is packed into ONE multi-block mono WAV "
    "(blocks resync by construction, step index reset per doc), so both "
    "encode and decode state machines run vectorized across docs — the "
    "per-doc container path (incl. the fact trim) is cross-checked "
    "against the batch decode on the batch's first doc.",
)
def adpcm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct as _struct

    import numpy as np
    import pandas as pd

    from ..functions.multimodal import (
        _ima_encode_nibbles,
        decode_wav,
        encode_wav_ima_adpcm,
    )
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    spb = 1 + (64 - 4) * 2  # mono, block_align 64 -> 121 samples/block
    n = 2 * spb + 17  # true per-doc frames; batch rows pad-hold to 3*spb

    def roundtrip(batches):
        for pdf in batches:
            did = pdf["doc_id"].to_numpy(np.int64)
            B = len(did)
            if not B:
                continue
            s0 = (did * 13) % 256 * 50 - 6400
            slopes = np.stack([3 + (did + b) % 5 for b in range(3)], 1)
            # step into sample t (t >= 1) uses the slope of the block t
            # belongs to counted from its own header: steps 1..spb use
            # slope0, so sig[:, spb] = s0 + spb*slope0 exactly
            blk = np.minimum((np.arange(1, 3 * spb) - 1) // spb, 2)
            steps = slopes[:, blk].astype(np.int64)
            steps[:, n - 1 :] = 0  # pad-hold the tail block
            sig = s0[:, None] + np.concatenate(
                [np.zeros((B, 1), np.int64), np.cumsum(steps, 1)], 1
            )
            try:
                index = np.zeros(B, np.int32)
                blocks = np.empty((B, 3, 64), np.uint8)
                for b in range(3):
                    seg = sig[:, b * spb : (b + 1) * spb].astype(np.int32)
                    blocks[:, b, 0:2] = (
                        seg[:, 0].astype("<i2").view(np.uint8).reshape(B, 2)
                    )
                    blocks[:, b, 2] = index
                    blocks[:, b, 3] = 0
                    nib, index = _ima_encode_nibbles(seg, index)
                    blocks[:, b, 4:] = nib[:, 0::2] | (nib[:, 1::2] << 4)
                data = blocks.tobytes()
                fmt = _struct.pack(
                    "<HHIIHHHH", 17, 1, 8000, 8000 * 64 // spb, 64, 4, 2, spb
                )
                wav = (
                    b"RIFF"
                    + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                    + b"data" + _struct.pack("<I", len(data)) + data
                )
                dec, meta = decode_wav(wav)
                got = np.round(dec[:, 0] * 32768.0).astype(np.int64)
                shape_ok = meta["n_samples"] == B * 3 * spb
                got = got.reshape(B, 3 * spb)
                ok = (
                    shape_ok
                    & (got[:, 0] == sig[:, 0])
                    & (got[:, spb] == sig[:, spb])
                    & (np.abs(got - sig).max(1) <= 16)
                )
                # per-doc container path (fact trim) on the batch's head
                one, meta1 = decode_wav(
                    encode_wav_ima_adpcm(sig[0, :n].astype(np.int16), 8000, 64)
                )
                one = np.round(one[:, 0] * 32768.0).astype(np.int64)
                ok[0] &= meta1["n_samples"] == n and np.array_equal(
                    one, got[0, :n]
                )
                v1, v2 = got[:, 0], got[:, spb]
            except Exception:
                ok = np.zeros(B, bool)
                v1 = v2 = np.zeros(B, np.int64)
            yield pd.DataFrame(
                {"slope0": slopes[:, 0], "ok": ok, "v1": v1, "v2": v2}
            )

    decoded = map_batches(
        docs, roundtrip, "slope0 int, ok boolean, v1 long, v2 long"
    )
    return decoded.groupBy(F.col("slope0").cast("long").alias("slope0")).agg(
        F.count(F.lit(1)).alias("n_wavs"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum("v1").alias("val_first_sum"),
        F.sum("v2").alias("val_blk2_sum"),
    )


_AVI_ORACLE = """
SELECT (8 * (1 + doc_id % 2))::BIGINT AS width,
       COUNT(*) AS n_avis,
       COUNT(*) AS n_ok,
       SUM(68 + 2 * (doc_id % 60))::BIGINT AS val0_sum,
       SUM(68 + 2 * ((doc_id + 1) % 60))::BIGINT AS val1_sum,
       SUM(10 + doc_id % 20)::BIGINT AS rate_sum
FROM documents
GROUP BY 1
"""


@register(
    "avi_video_stats",
    oracle=_AVI_ORACLE,
    doc="Multimodal VIDEO gate over the native MJPEG-AVI container "
    "(functions/avi.py — the first real multi-frame video format; "
    "frames reuse the T.81 JPEG codec): every document becomes a "
    "3-frame AVI of flat gray JPEGs whose even level-shift offsets "
    "survive the Annex-K quantizer exactly (the jpeg_decode_stats "
    "arithmetic), with a per-doc integer frame-timing pair. Decoded "
    "through decode_any's magic dispatch and verified in-row (frame "
    "count, dims, exact rate/scale, every frame full-flat); the value "
    "columns are decoded pixels of frames 0 and 1 plus the recovered "
    "rate — container walk, movi chunk scan and per-frame JPEG decode "
    "all under the oracle hash.",
)
def avi_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.avi import encode_avi
    from ..functions.jpeg import encode_jpeg_gray
    from ..functions.multimodal import decode_any

    docs = _doc_ids(spark, sf_dir)

    # fixture-encode memo: only 120 distinct (value, width) frames
    # exist corpus-wide — cache the pure-Python JPEG encodes so the
    # per-doc work the gate measures is container walk + real DECODE
    jpg_memo: dict = {}

    def frame(v, w):
        key = (v, w)
        if key not in jpg_memo:
            jpg_memo[key] = encode_jpeg_gray(np.full((8, w), v, np.uint8))
        return jpg_memo[key]

    def roundtrip(did):
        w = 8 * (1 + did % 2)
        vals = [68 + 2 * ((did + f) % 60) for f in range(3)]
        rate = 10 + did % 20
        try:
            avi = encode_avi(
                [frame(v, w) for v in vals], w, rate=rate, scale=1,
            )
            frames, meta = decode_any(avi)
            ok = bool(
                frames.shape == (3, 8, w, 4)
                and meta["rate"] == rate
                and meta["scale"] == 1
                and all(
                    (frames[f, :, :, :3] == v).all()
                    and (frames[f, :, :, 3] == 255).all()
                    for f, v in enumerate(vals)
                )
            )
            v0 = int(frames[0, 0, 0, 0])
            v1 = int(frames[1, 0, 0, 0])
            r = int(meta["rate"])
        except Exception:
            ok, v0, v1, r = False, 0, 0, 0
        return w, ok, v0, v1, r

    decoded = _fixture_rows(
        docs, roundtrip, "width int, ok boolean, v0 long, v1 long, rate long"
    )
    return decoded.groupBy(F.col("width").cast("long").alias("width")).agg(
        F.count(F.lit(1)).alias("n_avis"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum("v0").alias("val0_sum"),
        F.sum("v1").alias("val1_sum"),
        F.sum("rate").alias("rate_sum"),
    )


_ICO_ORACLE = """
SELECT (3 + doc_id % 9)::BIGINT AS width,
       COUNT(*) AS n_icons,
       COUNT(*) AS n_ok,
       SUM(doc_id % 256)::BIGINT AS val_sum,
       SUM(CASE WHEN doc_id % 2 = 0 THEN 0
                ELSE doc_id % 200 + 55 END)::BIGINT AS alpha_sum
FROM documents
GROUP BY 1
"""


@register(
    "ico_decode_stats",
    oracle=_ICO_ORACLE,
    doc="Favicon (ICO) decode gate (functions/multimodal.py decode_ico): "
    "every document becomes a TWO-entry ICO — a 2x2 decoy plus the real "
    "image, which alternates by doc_id between a classic 32-bit DIB "
    "(doubled biHeight, bottom-up XOR section, 1-bit AND transparency "
    "mask) and a PNG-compressed entry carrying per-pixel alpha. "
    "Largest-entry selection, the synthesized-BMP-header reuse of "
    "decode_bmp, AND-mask vs real-alpha precedence and the PNG dispatch "
    "are all verified full-frame in-row; the value columns (a decoded "
    "pixel and a variant-dependent alpha) are pure doc_id arithmetic "
    "under the oracle hash.",
)
def ico_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.multimodal import (
        _ico_dib,
        decode_any,
        encode_ico,
        encode_png,
    )
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    # 2x2 decoy: strictly smaller than the smallest real entry (3x2), so
    # largest-entry selection always lands on the gradient image
    decoy = np.zeros((2, 2, 4), np.uint8)
    decoy[..., 3] = 255
    decoy_dib = _ico_dib(decoy)

    def roundtrip(did):
        w, h = 3 + did % 9, 2 + did % 7
        ys, xs = np.mgrid[0:h, 0:w]
        frame = np.empty((h, w, 4), np.uint8)
        frame[..., 0] = (did + xs) % 256
        frame[..., 1] = (did + ys) % 256
        frame[..., 2] = (did + 2 * xs + 3 * ys) % 256
        try:
            if did % 2:  # PNG entry with real per-pixel alpha
                frame[..., 3] = (did % 200 + 55 + xs + ys) % 256
                payload = encode_png(frame)
                exp = frame
            else:  # legacy zero-alpha DIB + AND mask transparency
                frame[..., 3] = 0
                mask = ((xs + ys + did) % 2).astype(np.uint8)
                payload = _ico_dib(frame, mask)
                exp = frame.copy()
                exp[..., 3] = np.where(mask == 1, 0, 255)
            ico = encode_ico(
                [(decoy_dib, (2, 2)), (payload, (w, h))]
            )
            d, meta = decode_any(ico)
            ok = bool(
                meta["width"] == w
                and meta["height"] == h
                and np.array_equal(d[0], exp)
            )
            val = int(d[0, 0, 0, 2])
            # PNG docs: per-pixel alpha at (0,0) = did%200+55;
            # DIB docs: pixel (0,1) is AND-masked (mask = (1+did)%2
            # = 1 for even did) -> alpha 0
            alpha = int(d[0, 0, 0 if did % 2 else 1, 3])
        except Exception:
            ok, val, alpha = False, 0, -1
        return w, ok, val, alpha

    decoded = _fixture_rows(
        docs, roundtrip, "width int, ok boolean, val long, alpha long"
    )
    return decoded.groupBy(F.col("width").cast("long").alias("width")).agg(
        F.count(F.lit(1)).alias("n_icons"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum("val").alias("val_sum"),
        F.sum("alpha").alias("alpha_sum"),
    )


_RESIZE_ORACLE = """
SELECT (3 + doc_id % 9)::BIGINT AS src_w,
       COUNT(*) AS n_media,
       COUNT(*) AS n_ok,
       SUM(doc_id % 256)::BIGINT AS val00_sum,
       SUM((doc_id + 2 * ((3 * (3 + doc_id % 9)) // 4)
                   + 3 * ((2 * (2 + doc_id % 7)) // 3)) % 256)::BIGINT
         AS val23_sum
FROM documents
GROUP BY 1
"""


@register(
    "media_resize_stats",
    oracle=_RESIZE_ORACLE,
    doc="Media RESIZE gate (functions/multimodal.py resize_media — the "
    "nearest-neighbor Pandas-UDF transformer): every document becomes a "
    "real BMP gradient, decoded through decode_any, transcoded to the "
    "RAWM working container, pushed through the resize_media DataFrame "
    "operator (3x4 output), and verified in-row against the exact "
    "nearest-neighbor index arithmetic (out[y,x] = in[y*h//3, x*w//4]). "
    "Both value columns are resized pixels whose expectations are pure "
    "doc_id integer arithmetic (floor divisions match SQL //), so the "
    "decode -> transcode -> resize chain sits under the oracle hash.",
)
def media_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..functions.multimodal import (
        decode_any,
        decode_rawm,
        encode_bmp,
        encode_rawm,
        resize_media,
    )
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def build(did):
        w, h = 3 + did % 9, 2 + did % 7
        ys, xs = np.mgrid[0:h, 0:w]
        frame = np.empty((h, w, 4), np.uint8)
        frame[..., 0] = (did + xs) % 256
        frame[..., 1] = (did + ys) % 256
        frame[..., 2] = (did + 2 * xs + 3 * ys) % 256
        frame[..., 3] = 255
        decoded, _ = decode_any(encode_bmp(frame, 24))
        return (f"doc-{did}.bmp", "image", w, h, 4, 1,
                encode_rawm(decoded))

    media = _fixture_rows(
        docs, build,
        "path string, media_type string, width int, height int,"
        " channels int, n_frames int, content binary",
    )
    resized = resize_media(media, out_h=3)

    def verify(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                did = int(path.split("-")[1].split(".")[0])
                w, h = 3 + did % 9, 2 + did % 7
                ys, xs = np.mgrid[0:h, 0:w]
                frame = np.empty((h, w, 4), np.uint8)
                frame[..., 0] = (did + xs) % 256
                frame[..., 1] = (did + ys) % 256
                frame[..., 2] = (did + 2 * xs + 3 * ys) % 256
                frame[..., 3] = 255
                sy = (np.arange(3) * h // 3).astype(np.int64)
                sx = (np.arange(4) * w // 4).astype(np.int64)
                exp = frame[sy[:, None], sx[None, :], :]
                try:
                    got, meta = decode_rawm(bytes(content))
                    ok = bool(
                        meta["n_frames"] == 1
                        and got.shape == (1, 3, 4, 4)
                        and np.array_equal(got[0], exp)
                    )
                    v00 = int(got[0, 0, 0, 2])
                    v23 = int(got[0, 2, 3, 2])
                except Exception:
                    ok, v00, v23 = False, 0, 0
                rows.append((w, ok, v00, v23))
            yield pd.DataFrame(rows, columns=["src_w", "ok", "v00", "v23"])

    out = map_batches(
        resized, verify, "src_w int, ok boolean, v00 long, v23 long"
    )
    return out.groupBy(F.col("src_w").cast("long").alias("src_w")).agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum("v00").alias("val00_sum"),
        F.sum("v23").alias("val23_sum"),
    )


_FRAME_SAMPLE_ORACLE = """
SELECT (10 + doc_id % 20)::BIGINT AS rate,
       COUNT(*) AS n_videos,
       COUNT(*) AS n_ok,
       SUM(68 + 2 * (doc_id % 60))::BIGINT AS val0_sum,
       SUM(68 + 2 * ((doc_id + 2) % 60))::BIGINT AS val2_sum,
       SUM(68 + 2 * ((doc_id + 4) % 60))::BIGINT AS val4_sum
FROM documents
GROUP BY 1
"""


@register(
    "video_frame_sample_stats",
    oracle=_FRAME_SAMPLE_ORACLE,
    doc="Video FRAME-SAMPLE gate (functions/multimodal.py sample_frames "
    "— the temporal-downsample Pandas-UDF transformer): every document "
    "becomes a 5-frame MJPEG AVI of DC-exact flat gray frames, decoded "
    "through decode_any, transcoded to the RAWM working container, "
    "pushed through sample_frames(every_k=2) and verified in-row: the "
    "kept frames must be exactly originals 0, 2, 4, each still full-flat "
    "at its closed-form doc_id value. The three value columns are the "
    "kept frames' decoded pixels — the AVI container walk, per-frame "
    "JPEG decode, transcode and the k-stride sampler all under the "
    "oracle hash.",
)
def video_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..functions.avi import encode_avi
    from ..functions.jpeg import encode_jpeg_gray
    from ..functions.multimodal import (
        decode_any,
        decode_rawm,
        encode_rawm,
        sample_frames,
    )

    docs = _doc_ids(spark, sf_dir)

    jpg_memo: dict = {}

    def frame(v):
        if v not in jpg_memo:
            jpg_memo[v] = encode_jpeg_gray(np.full((8, 8), v, np.uint8))
        return jpg_memo[v]

    def build(did):
        vals = [68 + 2 * ((did + f) % 60) for f in range(5)]
        rate = 10 + did % 20
        avi = encode_avi([frame(v) for v in vals], 8, rate=rate)
        decoded, meta = decode_any(avi)
        return (f"doc-{did}.avi", "video", 8, 8, 4, meta["n_frames"],
                encode_rawm(decoded))

    media = _fixture_rows(
        docs, build,
        "path string, media_type string, width int, height int,"
        " channels int, n_frames int, content binary",
    )
    sampled = sample_frames(media, every_k=2)

    def verify(batches):
        for pdf in batches:
            rows = []
            for path, content, nf in zip(
                pdf["path"], pdf["content"], pdf["n_frames"]
            ):
                did = int(path.split("-")[1].split(".")[0])
                vals = [68 + 2 * ((did + f) % 60) for f in (0, 2, 4)]
                rate = 10 + did % 20
                try:
                    got, meta = decode_rawm(bytes(content))
                    ok = bool(
                        int(nf) == 3
                        and got.shape == (3, 8, 8, 4)
                        and all(
                            (got[i, :, :, :3] == v).all()
                            for i, v in enumerate(vals)
                        )
                    )
                    v0, v2, v4 = (int(got[i, 0, 0, 0]) for i in range(3))
                except Exception:
                    ok, v0, v2, v4 = False, 0, 0, 0
                rows.append((rate, ok, v0, v2, v4))
            yield pd.DataFrame(
                rows, columns=["rate", "ok", "v0", "v2", "v4"]
            )

    out = map_batches(
        sampled, verify, "rate int, ok boolean, v0 long, v2 long, v4 long"
    )
    return out.groupBy(F.col("rate").cast("long").alias("rate")).agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum("v0").alias("val0_sum"),
        F.sum("v2").alias("val2_sum"),
        F.sum("v4").alias("val4_sum"),
    )


_EXIF_ORACLE = """
SELECT (1 + doc_id % 8)::BIGINT AS orientation,
       COUNT(*) AS n_imgs,
       COUNT(*) AS n_ok,
       SUM(100 * (1 + doc_id % 32))::BIGINT AS iso_sum,
       SUM(1 + doc_id % 1000)::BIGINT AS exp_den_sum,
       SUM(doc_id % 90)::BIGINT AS gps_deg_sum
FROM documents
GROUP BY 1
"""


@register(
    "jpeg_exif_stats",
    oracle=_EXIF_ORACLE,
    doc="EXIF metadata extraction gate (functions/exif.py parse_exif — "
    "additive vs the reference, whose OpenCV image route drops EXIF, "
    "Assignment-python.py:710): every document becomes a real JPEG with "
    "a spliced APP1 Exif segment (byte order alternating II/MM by "
    "doc_id; IFD0 + Exif + GPS sub-IFDs; ASCII, SHORT and RATIONAL "
    "entry types, inline and overflow values). The parsed dict is "
    "verified field-for-field in-row against the generator, and the "
    "value columns (ISO, exposure denominator, GPS degrees) are pure "
    "doc_id arithmetic under the oracle hash. Rationals stay "
    "(num, den) integer pairs end to end — no float precision loss.",
)
def jpeg_exif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.exif import build_exif_app1, insert_exif, parse_exif
    from ..functions.jpeg import encode_jpeg_gray
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    base = encode_jpeg_gray(
        (np.arange(256).reshape(16, 16) % 256).astype(np.uint8)
    )

    def roundtrip(did):
        fields = {
            "make": f"GraftCam-{did % 4}",
            "orientation": 1 + did % 8,
            "datetime": f"2026:08:{1 + did % 28:02d} "
            f"{did % 24:02d}:00:00",
            "exposure_time": (1, 1 + did % 1000),
            "iso": 100 * (1 + did % 32),
            "gps_latitude_ref": "N" if did % 2 else "S",
            "gps_latitude": [
                (did % 90, 1), (did % 60, 1), (did % 60, 2),
            ],
        }
        try:
            got = parse_exif(
                insert_exif(
                    base,
                    build_exif_app1(fields, big_endian=bool(did % 2)),
                )
            )
            ok = got == fields
            iso = int(got.get("iso", 0))
            exp_den = int(got.get("exposure_time", (0, 0))[1])
            gps_deg = int(got.get("gps_latitude", [(0, 0)])[0][0])
        except Exception:
            ok, iso, exp_den, gps_deg = False, 0, 0, 0
        return 1 + did % 8, ok, iso, exp_den, gps_deg

    decoded = _fixture_rows(
        docs, roundtrip,
        "orientation int, ok boolean, iso long, exp_den long, gps_deg long",
    )
    return decoded.groupBy(
        F.col("orientation").cast("long").alias("orientation")
    ).agg(
        F.count(F.lit(1)).alias("n_imgs"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum("iso").alias("iso_sum"),
        F.sum("exp_den").alias("exp_den_sum"),
        F.sum("gps_deg").alias("gps_deg_sum"),
    )


_IMAGE_DIR = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "media_png")

# Static committed fixtures -> static truth: dims/mode/pixel-digest literals
# regression-pin the native decode. The INDEPENDENT check is in
# tests/test_sources.py, where the same files decoded by Java ImageIO
# (format("image")) and by our dependency-free codec (multimodal.decode_png)
# must agree byte-for-byte on the BGRA buffer.
_IMAGE_FORMAT_ORACLE = """
SELECT * FROM (VALUES
  ('checker.png',  8, 3, 4, 24, '7156765f48a5013ea5aac54b25dd7801'),
  ('gradient.png', 5, 7, 4, 24, '1107164bfa58f2e3f3cbbe147a8a1bc8'),
  ('stripes.png',  4, 4, 4, 24, 'c5e2bfdbe88e878743b693cf0d8c6eb2')
) AS t(fname, width, height, n_channels, mode, data_md5)
"""


@register(
    "image_format_inventory",
    oracle=_IMAGE_FORMAT_ORACLE,
    doc="S5, reference-exact surface (Assignment-python.py:710): Spark's "
    "NATIVE format('image') source over committed PNG fixtures — ImageIO "
    "decodes JVM-side into the OpenCV BGRA image struct; the query emits "
    "dims/mode plus an md5 of the pixel buffer. Closes the one documented "
    "S5 fidelity deviation: the engine now exercises both the native image "
    "source and the binaryFile+own-codec route, and the two decoders are "
    "asserted byte-identical in tests/test_sources.py.",
)
def image_format_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import read_images

    tune(spark)
    imgs = read_images(spark, _IMAGE_DIR)
    return imgs.select(
        F.element_at(F.split("image.origin", "/"), -1).alias("fname"),
        F.col("image.width").cast("int").alias("width"),
        F.col("image.height").cast("int").alias("height"),
        F.col("image.nChannels").cast("int").alias("n_channels"),
        F.col("image.mode").cast("int").alias("mode"),
        F.md5("image.data").alias("data_md5"),
    )


_PHASH_PAIRS_ORACLE = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0::BIGINT AS hamming
FROM documents a JOIN documents b
  ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
"""


@register(
    "image_phash_pairs",
    oracle=_PHASH_PAIRS_ORACLE,
    doc="Perceptual near-duplicate IMAGE dedup gate (functions/phash.py "
    "pHash: 32x32 luma -> DCT -> median-thresholded 8x8 low-freq block; "
    "operators/imagehash.py; additive vs the reference, whose image route "
    "stops at color analytics, Assignment-python.py:654-661,710). Every "
    "document triple doc_id//3 becomes one planted duplicate GROUP of "
    "three real BMPs: a 32x32 md5-pixel base, a brightness-shifted copy "
    "(+5..24 on every channel, clip-free by construction) and a 2x "
    "pixel-replication upscale. The hash is built so both edits are "
    "EXACT invariances (integer block sums centered as N*b - S kill the "
    "brightness constant before any float; the 2x upscale scales every "
    "DCT coefficient by exactly 4, a power of two, so median "
    "comparisons are bit-identical), hence within-group Hamming is "
    "exactly 0 and cross-group ~31 (measured min 16 over 19900 group "
    "pairs), and the oracle enumerates the pair set arithmetically. "
    "Pairs come from the EXACT pigeonhole bit-band LSH shared with "
    "simhash_hamming_pairs (radius 2 / 3 bands over 63 bits, "
    "SHUFFLE_HASH both sides) — the banded scale plan, gated to lose "
    "nothing vs the planted truth.",
)
def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np

    from ..functions.multimodal import encode_bmp
    from ..operators.imagehash import image_hashes
    from ..operators.imagehash import image_phash_pairs as phash_pairs

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        group, variant = did // 3, did % 3
        n = 32 * 32 * 3
        buf = np.frombuffer(
            b"".join(
                hashlib.md5(f"{group}-{i}".encode()).digest()
                for i in range(n // 16 + 1)
            )[:n],
            np.uint8,
        )
        frame = np.empty((32, 32, 4), np.uint8)
        frame[:, :, :3] = 20 + (buf.reshape(32, 32, 3) % 196)
        frame[:, :, 3] = 255
        if variant == 1:  # brightness shift, clip-free (max 239)
            frame = frame.copy()
            frame[:, :, :3] += np.uint8(5 + group % 20)
        elif variant == 2:  # 2x pixel-replication upscale
            frame = np.repeat(np.repeat(frame, 2, 0), 2, 1)
        return did, encode_bmp(frame, 24)

    media = _fixture_rows(docs, make, "doc_id long, content binary")
    hashes = image_hashes(media)
    return phash_pairs(hashes).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


_APHASH_PAIRS_ORACLE = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0::BIGINT AS hamming
FROM documents a JOIN documents b
  ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
"""


@register(
    "audio_phash_pairs",
    oracle=_APHASH_PAIRS_ORACLE,
    doc="Perceptual near-duplicate AUDIO dedup gate (functions/phash.py "
    "aphash63: energy envelope -> 32x32 grid -> DCT -> median-thresholded "
    "8x8 low-freq block; operators/imagehash.py audio_hashes; additive vs "
    "the reference, which has no audio route at all). Every document "
    "triple doc_id//3 becomes one planted duplicate GROUP of three real "
    "16-bit PCM WAVs: a 2048-sample md5-derived base clip, a 2x-GAIN "
    "stereo-duplicated copy and a 2x sample-duplication upsample. All "
    "three edits are EXACT hash invariances (k/2^15 dyadic samples make "
    "every energy block sum exact in float64; x2 gain scales energies by "
    "exactly 4 and the upsample scales block sums by exactly 2 — powers "
    "of two are bit-exact through the float DCT and median; the stereo "
    "mixdown (x+x)/2 is exact), hence within-group Hamming is exactly 0 "
    "(measured cross-group min 16 over 1770 group pairs) and the oracle "
    "enumerates the pair set arithmetically. Pairs via the shared exact "
    "pigeonhole bit-band LSH (radius 2 / 3x21-bit bands, SHUFFLE_HASH "
    "both sides).",
)
def audio_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np

    from ..functions.multimodal import encode_wav
    from ..operators.imagehash import audio_hashes
    from ..operators.imagehash import audio_phash_pairs as aphash_pairs

    docs = _doc_ids(spark, sf_dir)

    n = 2048

    def make(did):
        group, variant = did // 3, did % 3
        buf = b"".join(
            hashlib.md5(f"a{group}-{i}".encode()).digest()
            for i in range(n * 2 // 16 + 1)
        )[: n * 2]
        k = np.clip(
            np.frombuffer(buf, "<i2").astype(np.int64), -8191, 8191
        )
        if variant == 1:  # 2x gain + duplicated channel
            sig = np.stack([2 * k, 2 * k], axis=1)
        elif variant == 2:  # 2x sample-duplication upsample
            sig = np.repeat(k, 2)
        else:
            sig = k
        return did, encode_wav(sig / 32767.0)

    media = _fixture_rows(docs, make, "doc_id long, content binary")
    hashes = audio_hashes(media)
    return aphash_pairs(hashes).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


_VPHASH_DUPS_ORACLE = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM documents a JOIN documents b
  ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
"""


@register(
    "video_phash_dups",
    oracle=_VPHASH_DUPS_ORACLE,
    doc="Perceptual near-duplicate VIDEO dedup gate (functions/phash.py "
    "vphash61: per-frame pHash, consecutive-equal collapse, polynomial "
    "fold mod 2^61-1; operators/imagehash.py video_hashes / "
    "video_dup_pairs — completes the text/image/audio/video media-dedup "
    "family; the reference has no video route). Every document triple "
    "doc_id//3 becomes one planted duplicate GROUP of three real RAWM "
    "clips: a 4-frame 32x32 md5-pixel base, a brightness-shifted copy "
    "(every frame +5..24, clip-free) and a FRAME-RATE-DOUBLED copy "
    "(every frame duplicated). Both edits are EXACT fingerprint "
    "invariances (brightness via the per-frame pHash integer centering; "
    "frame duplication via the consecutive-equal collapse), so "
    "within-group fingerprints are IDENTICAL and the oracle enumerates "
    "the pair set arithmetically. Pair generation is one map-side-"
    "combinable collect_list per fingerprint + in-row pair enumeration "
    "(the affinity discipline — duplicate sets are small by nature, "
    "never a self-join on a content key).",
)
def video_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np

    from ..functions.multimodal import encode_rawm
    from ..operators.imagehash import video_dup_pairs, video_hashes

    docs = _doc_ids(spark, sf_dir)

    # one md5 seed + a vectorized PCG64 stream per frame (not an md5
    # chain per 16 bytes), and the base clip memoized per group: the
    # three variants of a group usually land in the same batch
    base_memo: dict = {}

    def base_clip(group: int) -> np.ndarray:
        if group not in base_memo:
            frames = []
            for i in range(4):
                seed = int.from_bytes(
                    hashlib.md5(f"v{group}-{i}".encode()).digest()[:8],
                    "big",
                )
                rng = np.random.default_rng(seed)
                f = np.empty((32, 32, 4), np.uint8)
                f[:, :, :3] = 20 + rng.integers(
                    0, 196, (32, 32, 3), dtype=np.uint8
                )
                f[:, :, 3] = 255
                frames.append(f)
            if len(base_memo) > 4096:
                base_memo.clear()  # bound executor memory
            base_memo[group] = np.stack(frames)
        return base_memo[group]

    def make(did):
        group, variant = did // 3, did % 3
        clip = base_clip(group)
        if variant == 1:  # global brightness shift, clip-free
            clip = clip.copy()
            clip[:, :, :, :3] += np.uint8(5 + group % 20)
        elif variant == 2:  # frame-rate double (dup every frame)
            clip = np.repeat(clip, 2, axis=0)
        return did, encode_rawm(clip)

    media = _fixture_rows(docs, make, "doc_id long, content binary")
    return video_dup_pairs(video_hashes(media)).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long")
    )


_INCR_IMG_ORACLE = """
WITH delta AS (
  SELECT doc_id, doc_id // 3 AS g FROM documents WHERE doc_id % 3 = 2
), c AS (
  SELECT doc_id // 3 AS g, COUNT(*)::BIGINT AS n
  FROM documents WHERE doc_id % 3 < 2 GROUP BY 1
)
SELECT d.doc_id,
       CASE WHEN d.g % 5 = 0 THEN 0 ELSE COALESCE(c.n, 0) END AS n_dups,
       CASE WHEN d.g % 5 = 0 OR COALESCE(c.n, 0) = 0 THEN NULL
            ELSE 0 END::BIGINT AS best_hamming,
       CASE WHEN d.g % 5 = 0 OR COALESCE(c.n, 0) = 0 THEN 'novel'
            ELSE 'dup' END AS status
FROM delta d LEFT JOIN c USING (g)
"""


@register(
    "incremental_image_dedup",
    oracle=_INCR_IMG_ORACLE,
    doc="Daily-ingest IMAGE dedup (operators/imagehash.py "
    "incremental_image_dedup): a delta batch of images (doc_id % 3 = 2 "
    "stands in for today's crawl) judged against the standing corpus "
    "(the other two variants of each image_phash_pairs dup group). The "
    "100 TB shape inverts the usual broadcast (the incremental_dedup "
    "discipline): the DELTA's banded pHash buckets are broadcast against "
    "the corpus fingerprint scan — the corpus is never shuffled or "
    "broadcast, so ingest cost is O(corpus scan + batch). Planted truth: "
    "delta images in groups g % 5 = 0 are fresh md5 pixels (status "
    "'novel', n_dups 0); every other delta is the 2x upscale of its "
    "group's base — an EXACT pHash invariance — so it matches all its "
    "group's corpus members at Hamming 0 and the oracle enumerates "
    "n_dups / best_hamming / status arithmetically.",
)
def incremental_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np

    from ..functions.multimodal import encode_bmp
    from ..operators.imagehash import image_hashes
    from ..operators.imagehash import incremental_image_dedup as incr

    docs = _doc_ids(spark, sf_dir)

    def frame_from(seed: str) -> "np.ndarray":
        n = 32 * 32 * 3
        buf = np.frombuffer(
            b"".join(
                hashlib.md5(f"{seed}-{i}".encode()).digest()
                for i in range(n // 16 + 1)
            )[:n],
            np.uint8,
        )
        f = np.empty((32, 32, 4), np.uint8)
        f[:, :, :3] = 20 + (buf.reshape(32, 32, 3) % 196)
        f[:, :, 3] = 255
        return f

    def make(did):
        group, variant = did // 3, did % 3
        if variant == 2 and group % 5 == 0:
            frame = frame_from(f"novel-{did}")  # fresh content
        else:
            frame = frame_from(str(group))
            if variant == 1:
                frame = frame.copy()
                frame[:, :, :3] += np.uint8(5 + group % 20)
            elif variant == 2:
                frame = np.repeat(np.repeat(frame, 2, 0), 2, 1)
        return did, encode_bmp(frame, 24)

    media = _fixture_rows(docs, make, "doc_id long, content binary")
    # delta membership is a pure doc_id predicate — no join back to the
    # fixture subtree; the hash table is checkpointed ONCE (lazy) because
    # both the corpus and delta filters consume it (without this the
    # image build + DCT hashing execute twice). Lazy beats a scale-gated
    # EAGER here (r16 sf1 A/B: 2.91 s lazy vs 6.74 s eager): the second
    # consumer just blocks cheaply (0.03 s cpu) on the first's
    # materialization instead of duplicating it, and eager serializes
    # the downstream prep that otherwise overlaps the 50 s DCT chain.
    hashes = image_hashes(media).localCheckpoint(eager=False)
    corpus = hashes.filter(F.col("doc_id") % 3 < 2)
    delta = hashes.filter(F.col("doc_id") % 3 == 2)
    return incr(corpus, delta).select(
        "doc_id",
        F.col("n_dups").cast("long"),
        F.col("best_hamming").cast("long"),
        "status",
    )


_WARC_ORACLE = """
SELECT 'request' AS warc_type,
       COUNT(*) AS n_records,
       SUM(36 + LENGTH(doc_id::VARCHAR))::BIGINT AS payload_len_sum,
       0::BIGINT AS status_sum
FROM documents
UNION ALL
SELECT 'response',
       COUNT(*),
       SUM(55 + doc_id % 50)::BIGINT,
       SUM(200 + (doc_id % 2) * 104)::BIGINT
FROM documents
UNION ALL
SELECT 'warcinfo', COUNT(*), (17 * COUNT(*))::BIGINT, 0::BIGINT
FROM documents
"""


@register(
    "warc_crawl_stats",
    oracle=_WARC_ORACLE,
    doc="WARC crawl-archive ingest gate (functions/warc.py parse_warc, "
    "sources.warc_records; ISO 28500 — the Common Crawl wire format, "
    "additive vs the reference which has no crawl-archive route): every "
    "document becomes one three-record WARC (warcinfo + request + "
    "response with an embedded HTTP message), alternating PLAIN vs "
    "PER-RECORD-GZIP (.warc.gz, one gzip member per record walked via "
    "zlib unused_data) by doc_id, exploded to one row per record. Every "
    "aggregated quantity is closed-form in doc_id: the request payload "
    "is 36 + digits(doc_id) bytes, the response 45 HTTP-head + "
    "10 + doc_id%50 body bytes, statuses 200/304 — so the oracle pins "
    "the header walk, Content-Length framing, record terminators, gzip "
    "member iteration and HTTP status split arithmetically.",
)
def warc_crawl_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..sources import warc_records
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        status = 200 + (did % 2) * 104
        body = b"x" * (10 + did % 50)
        recs = [
            (
                {"WARC-Type": "warcinfo", "WARC-Record-ID": f"<urn:uuid:{did}>"},
                b"software: graft\r\n",
            ),
            (
                {
                    "WARC-Type": "request",
                    "WARC-Target-URI": f"http://crawl.test/{did}",
                    "Content-Type": "application/http;msgtype=request",
                },
                f"GET /{did} HTTP/1.1\r\nHost: crawl.test\r\n\r\n".encode(),
            ),
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://crawl.test/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                f"HTTP/1.1 {status} OK\r\nContent-Type: text/plain\r\n\r\n".encode()
                + body,
            ),
        ]
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media)
    return (
        recs.filter("parse_ok")
        .groupBy("warc_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("payload_len").cast("long").alias("payload_len_sum"),
            F.sum(F.coalesce("http_status", F.lit(0)))
            .cast("long")
            .alias("status_sum"),
        )
    )


_MS_ADPCM_ORACLE = """
SELECT (1 + doc_id % 4)::BIGINT AS slope,
       COUNT(*) AS n_wavs,
       COUNT(*) AS n_ok,
       SUM((doc_id * 7) % 256 * 40 - 5000)::BIGINT AS val_first_sum,
       SUM((doc_id * 7) % 256 * 40 - 5000
           + 32 * (1 + doc_id % 4))::BIGINT AS val_blk2_sum
FROM documents
GROUP BY 1
"""


@register(
    "ms_adpcm_audio_stats",
    oracle=_MS_ADPCM_ORACLE,
    doc="Multimodal audio gate over the native MICROSOFT ADPCM codec "
    "(functions/multimodal.py, WAV format tag 2 — the other 4-bit "
    "block-predictive WAV codec in the wild; guard retired round 10): "
    "every document becomes an 80-frame mono ramp (slope 1 + doc_id%4) "
    "encoded via encode_wav_ms_adpcm with 32-frame blocks, so frames 0/1 "
    "and 32/33 are VERBATIM block-header samples and decode exactly. "
    "In-row verification: fact-chunk frame count, all four header frames "
    "verbatim, bounded greedy-quantizer drift (<= 160) on the rest; the "
    "value columns are decoded frame 0 (= s0) and decoded frame 32 "
    "(= s0 + 32*slope), both closed-form in doc_id, so block "
    "segmentation, the seven-coefficient predictor and the delta "
    "adaptation all sit under the oracle hash. The recurrence itself is "
    "pinned to a scalar spec-reference implementation in "
    "tests/test_audio_codecs.py.",
)
def ms_adpcm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.multimodal import decode_wav, encode_wav_ms_adpcm

    docs = _doc_ids(spark, sf_dir)

    # fixture-encode memo (the jpeg_decode_stats discipline): the WAV
    # bytes depend on doc_id only through ((did*7)%256, did%4) — 1024
    # distinct files vs a per-row per-nibble Python encode loop. The
    # gated DECODE still runs per row.
    memo: dict = {}

    def roundtrip(did):
        s0 = (did * 7) % 256 * 40 - 5000
        slope = 1 + did % 4
        sig = (s0 + slope * np.arange(80)).astype(np.int64)
        try:
            key = (s0, slope)
            if key not in memo:
                memo[key] = encode_wav_ms_adpcm(
                    sig[:, None], block_frames=32
                )
            dec, meta = decode_wav(memo[key])
            got = np.round(dec[:, 0] * 32768.0).astype(np.int64)
            ok = bool(
                meta["n_samples"] == 80
                and got[0] == sig[0]
                and got[1] == sig[1]
                and got[32] == sig[32]
                and got[33] == sig[33]
                and np.abs(got - sig).max() <= 160
            )
            v1, v2 = int(got[0]), int(got[32])
        except Exception:
            ok, v1, v2 = False, 0, 0
        return slope, ok, v1, v2

    decoded = _fixture_rows(
        docs, roundtrip, "slope int, ok boolean, v1 int, v2 int"
    )
    return decoded.groupBy(F.col("slope").cast("long").alias("slope")).agg(
        F.count(F.lit(1)).alias("n_wavs"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
        F.sum(F.col("v1").cast("long")).alias("val_first_sum"),
        F.sum(F.col("v2").cast("long")).alias("val_blk2_sum"),
    )


_ZIP_ORACLE = """
SELECT 'doc.txt' AS member,
       COUNT(*) AS n_members,
       SUM(100 + doc_id % 400)::BIGINT AS bytes_sum,
       COUNT(*) AS n_crc_ok
FROM documents
UNION ALL
SELECT 'meta.json',
       COUNT(*),
       SUM(20 + doc_id % 10)::BIGINT,
       COUNT(*)
FROM documents
UNION ALL
SELECT 'big.bin',
       COUNT(*),
       SUM(50 + doc_id % 50)::BIGINT,
       COUNT(*)
FROM documents WHERE doc_id % 3 = 0
"""


@register(
    "zip_archive_stats",
    oracle=_ZIP_ORACLE,
    doc="ZIP archive ingest gate (sources.zip_members; crawl dumps and "
    "dataset drops ship as ZIPs next to WARCs — additive vs the "
    "reference): every document becomes a two-member archive (a "
    "DEFLATED doc.txt of 100 + doc_id%400 bytes and a STORED meta.json "
    "of 20 + doc_id%10 bytes), plus — at doc_id%3=0 — a big.bin "
    "written with force_zip64 (ZIP64 extra fields + 8-byte data "
    "descriptor, the >4GiB-archive header layout, r15), exploded one "
    "row per member with each member READ so its CRC actually "
    "verifies. Member names, uncompressed byte counts and CRC flags "
    "are closed-form in doc_id, so the central-directory walk, both "
    "compression methods, the ZIP64 member layout and the CRC check "
    "sit under the oracle hash (the hand-spliced ZIP64 "
    "end-of-central-directory path is pinned in tests/test_sources.py).",
)
def zip_archive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import zipfile

    from ..sources import zip_members

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr(
                "doc.txt",
                bytes([65 + did % 26]) * (100 + did % 400),
                zipfile.ZIP_DEFLATED,
            )
            zf.writestr(
                "meta.json",
                b"{" + b" " * (18 + did % 10) + b"}",
                zipfile.ZIP_STORED,
            )
            if did % 3 == 0:
                # ZIP64 member layout even at tiny sizes:
                # zip64 extra field + 8-byte data descriptor
                with zf.open("big.bin", "w", force_zip64=True) as m:
                    m.write(bytes([66 + did % 26]) * (50 + did % 50))
        return did, buf.getvalue()

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    return (
        zip_members(media)
        .filter("parse_ok")
        .groupBy("member")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("size_uncompressed").cast("long").alias("bytes_sum"),
            F.sum(F.col("crc_ok").cast("int")).cast("long").alias("n_crc_ok"),
        )
    )


def _fixture_html(cid: int, jid: int, stopword: bool = True) -> str:
    """Closed-form HTML page: every EXTRACTABLE quantity depends only on
    ``cid`` (d = digits(cid), P = 1 + cid%3 paragraphs -> lines 3+P,
    words 9+5P, text_len 38 + 2d + P*(14+d), 3 links, title_len 4+d —
    pinned against functions/html.py in tests/test_crawl.py), while the
    RAW bytes also vary with ``jid`` through content the extractor must
    drop (script body with a bare ``<``, a comment with tags, a body
    attribute) — so cid-keyed dedup over extracted text proves the
    extraction normalizes away non-content variation."""
    mid = "of" if stopword else "zz"  # same length: formulas unchanged;
    # 'of' is the one STOPWORD in the page, so stopword=False flips the
    # language/quality heuristics without moving any count or length
    paras = "".join(
        f"<p>seg <b>{j}</b> {mid} doc {cid}</p>\n" for j in range(1 + cid % 3)
    )
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>Doc {cid}</title>\n"
        "<style>body { color: red; }</style>\n"
        f'<script>var x = "{jid}"; if (x < {jid % 7}) alert("j & <b>");</script>\n'
        "</head>\n"
        f'<body data-id="{jid}">\n'
        '<nav><a href="/home">Home</a> <a href="/about">About</a></nav>\n'
        f"<!-- render {jid} with <b>tags</b> -->\n"
        f"<h1>Title &amp; Heading {cid}</h1>\n"
        + paras
        + f'<p><a href="http://s{cid % 7}.test/p/{cid}">link text {cid}</a></p>\n'
        "</body></html>"
    )


_HTML_EXTRACT_ORACLE = """
WITH t AS (
  SELECT doc_id % 4 AS grp,
         LENGTH(doc_id::VARCHAR) AS d,
         1 + doc_id % 3 AS p
  FROM documents
)
SELECT grp::BIGINT AS grp,
       COUNT(*) AS n_pages,
       SUM(3 + p)::BIGINT AS lines_sum,
       SUM(9 + 5 * p)::BIGINT AS words_sum,
       SUM(38 + 2 * d + p * (14 + d))::BIGINT AS text_len_sum,
       (3 * COUNT(*))::BIGINT AS links_sum,
       SUM(4 + d)::BIGINT AS title_len_sum
FROM t GROUP BY 1
"""


@register(
    "html_text_extract_stats",
    oracle=_HTML_EXTRACT_ORACLE,
    doc="HTML -> text extraction gate (functions/html.py parse_html, "
    "operators/crawl.py html_extract — the step between WARC ingest and "
    "the quality/dedup operators; additive vs the reference, which has "
    "no crawl route): every document becomes a closed-form page (title, "
    "nav links, an entity-bearing heading, 1 + doc_id%3 paragraphs with "
    "inline tags, a trailing link) wrapped in content the extractor "
    "must DROP (style, a script whose body contains a bare '<', a "
    "comment with tags). Line/word/char/link/title-length sums per "
    "doc_id%4 are all arithmetic in doc_id, so tag stripping, entity "
    "decoding, block-boundary line breaks and whitespace collapse all "
    "sit under the oracle hash. Extraction is the one Arrow-batched "
    "Python hop; every stat is a JVM expression over the struct.",
)
def html_text_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import html_extract

    docs = _doc_ids(spark, sf_dir)

    media = _fixture_rows(
        docs, lambda did: (did, _fixture_html(did, did)), "doc_id long, html string"
    )
    pages = html_extract(media, html_col="html")
    return (
        pages.select(
            (F.col("doc_id") % 4).alias("grp"),
            F.size(F.split("page.text", "\n")).alias("nl"),
            F.size(F.split("page.text", "[ \n]")).alias("nw"),
            F.length("page.text").alias("tl"),
            F.size("page.links").alias("lk"),
            F.length("page.title").alias("ttl"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("nl").cast("long").alias("lines_sum"),
            F.sum("nw").cast("long").alias("words_sum"),
            F.sum("tl").cast("long").alias("text_len_sum"),
            F.sum("lk").cast("long").alias("links_sum"),
            F.sum("ttl").cast("long").alias("title_len_sum"),
        )
    )


_DOMAIN_ORACLE = """
SELECT 's' || (doc_id % 7)::VARCHAR || '.example' AS url_host,
       COUNT(*) AS n_pages,
       SUM(55 + doc_id % 50)::BIGINT AS payload_len_sum,
       SUM(doc_id % 3)::BIGINT AS ref_sum,
       COUNT(DISTINCT doc_id) AS n_paths
FROM documents
WHERE doc_id % 7 <> 0
GROUP BY 1
"""


@register(
    "warc_domain_stats",
    oracle=_DOMAIN_ORACLE,
    doc="URL/domain analytics over WARC target URIs (operators/crawl.py "
    "with_url_parts + parse_url + filter_blocked_hosts; composes "
    "with warc_records — the per-domain accounting and blocklist "
    "filtering every crawl pipeline needs before mixing): each document "
    "becomes a one-response WARC targeting "
    "http://s{doc_id%7}.example/p/{doc_id}?ref={doc_id%3}; URL parts "
    "come from the JVM parse_url builtin (never a Python hop), the "
    "blocklist ('s0.example') broadcasts the SMALL blocked set as LEFT "
    "ANTI (the max_df discipline — the page corpus is never shuffled or "
    "broadcast), and per-host page counts / payload sums / query-param "
    "sums / distinct paths are closed-form in doc_id.",
)
def warc_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import filter_blocked_hosts, with_url_parts
    from ..sources import warc_records
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        body = b"x" * (10 + did % 50)
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": (
                        f"http://s{did % 7}.example/p/{did}"
                        f"?ref={did % 3}"
                    ),
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
                + body,
            )
        ]
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media).filter("parse_ok AND warc_type = 'response'")
    # the value of one query parameter (JVM parse_url 3-arg form)
    ref = F.try_parse_url(F.col("target_uri"), F.lit("QUERY"), F.lit("ref"))
    pages = with_url_parts(recs).withColumn("ref", ref.cast("long"))
    kept = filter_blocked_hosts(pages)
    return kept.groupBy("url_host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("payload_len").cast("long").alias("payload_len_sum"),
        F.sum("ref").cast("long").alias("ref_sum"),
        F.countDistinct("url_path").cast("long").alias("n_paths"),
    )


_CRAWL_PIPELINE_ORACLE = """
WITH t AS (SELECT doc_id, doc_id % 64 AS g FROM documents),
     u AS (SELECT DISTINCT g FROM t)
SELECT (SELECT COUNT(*) FROM t) AS n_pages,
       (SELECT SUM(14 + 5 * (g % 3)) FROM t)::BIGINT AS words_total,
       (SELECT COUNT(*) FROM u) AS n_unique,
       (SELECT SUM(14 + 5 * (g % 3)) FROM u)::BIGINT AS words_unique
"""


@register(
    "crawl_text_pipeline",
    oracle=_CRAWL_PIPELINE_ORACLE,
    doc="End-to-end crawl composition gate: WARC ingest -> HTML text "
    "extraction -> exact text dedup -> corpus accounting, all engine "
    "operators chained (warc_records include_body, crawl.html_extract, "
    "dedup.exact_dedup). Fixture: each document's archive holds one "
    "HTML response whose EXTRACTABLE content depends only on "
    "g = doc_id%64 while the raw bytes vary per doc through dropped "
    "content (script/comment/attribute junk) — so byte-level dedup "
    "would find nothing and the planted duplicate groups exist ONLY "
    "after correct extraction. Page and unique-survivor word sums are "
    "closed-form in g; archives alternate plain/.warc.gz framing.",
)
def crawl_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import html_extract
    from ..operators.dedup import exact_dedup
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        html = _fixture_html(did % 64, did).encode()
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://c.example/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html,
            )
        ]
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media, include_body=True).filter(
        "parse_ok AND warc_type = 'response'"
    )
    txt = (
        html_extract(recs)
        .select(
            F.col("archive_id").alias("doc_id"),
            F.col("page.text").alias("text"),
            F.size(F.split("page.text", "[ \n]")).alias("n_words"),
        )
        # three consumers (dedup groups, total agg, survivor agg): one
        # lazy checkpoint materializes the WARC build + parse + extract
        # ONCE instead of once per branch
        .localCheckpoint(eager=False)
    )
    groups = exact_dedup(txt)  # (text_hash, keep_id, n_copies)
    keepers = groups.select(F.col("keep_id").alias("doc_id"))
    total = txt.agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("n_words").cast("long").alias("words_total"),
    )
    uniq = txt.join(keepers, "doc_id").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_words").cast("long").alias("words_unique"),
    )
    return total.crossJoin(uniq)


_URL_CANON_ORACLE = """
SELECT (doc_id % 5)::BIGINT AS grp,
       (4 * COUNT(*))::BIGINT AS n_urls,
       COUNT(*) AS n_canonical,
       SUM(28 + LENGTH(doc_id::VARCHAR))::BIGINT AS canon_len_sum
FROM documents GROUP BY 1
"""


@register(
    "url_canonical_dedup",
    oracle=_URL_CANON_ORACLE,
    doc="URL canonicalization gate (operators/crawl.py canonical_url — "
    "the crawl-frontier dedup normalization; one JVM expression, zero "
    "Python): every document yields FOUR spellings of the same logical "
    "URL (unsorted query params; uppercase scheme+host with the default "
    ":80 port; duplicate path slashes + a utm_ tracking param + a "
    "fragment; a trailing slash) which must all collapse to "
    "http://s{doc_id%7}.example/p/{doc_id}?a={doc_id%5}&b=2 — each rule "
    "is pinned by one variant. Group counts (4 urls -> 1 canonical) and "
    "canonical-string length sums are closed-form in doc_id. The dedup "
    "is a map-side-combinable groupBy on the canonical string.",
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import canonical_url
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 7).cast("int")
    k = (F.col("doc_id") % 5).cast("int")
    variants = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.format_string(
                    "http://s%d.example/p/%d?b=2&a=%d", m, F.col("doc_id"), k
                ),
                F.format_string(
                    "HTTP://S%d.EXAMPLE:80/p/%d?a=%d&b=2", m, F.col("doc_id"), k
                ),
                F.format_string(
                    "http://s%d.example//p//%d?a=%d&b=2&utm_source=x#frag",
                    m, F.col("doc_id"), k,
                ),
                F.format_string(
                    "http://s%d.example/p/%d/?a=%d&b=2", m, F.col("doc_id"), k
                ),
            )
        ).alias("url"),
    )
    groups = (
        variants.select("doc_id", canonical_url("url").alias("curl"))
        .groupBy("curl")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("doc_id"))
    )
    return groups.groupBy((F.col("doc_id") % 5).alias("grp")).agg(
        F.sum("n").cast("long").alias("n_urls"),
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum(F.length("curl")).cast("long").alias("canon_len_sum"),
    )


_WET_ORACLE = """
SELECT (doc_id % 8)::BIGINT AS grp,
       COUNT(*) AS n_records,
       SUM(10 + doc_id % 90)::BIGINT AS payload_len_sum,
       COUNT(DISTINCT doc_id) AS n_uris
FROM documents GROUP BY 1
"""


@register(
    "wet_export_roundtrip",
    oracle=_WET_ORACLE,
    doc="WET export gate (operators/crawl.py wet_export — the EXPORT "
    "side of the crawl pipeline; Common Crawl's WET derivative is one "
    "'conversion' record per page): per-document closed-form text is "
    "sharded by doc_id%64, serialized one WET file per shard (records "
    "in deterministic uri order; EVEN shards plain, ODD shards "
    ".warc.gz), then re-ingested through sources.warc_records and "
    "aggregated — counts, payload-length sums and distinct target URIs "
    "are arithmetic in doc_id, so record framing, member gzip, header "
    "serialization and the parse side all sit under one oracle hash.",
)
def wet_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import wet_export
    from ..sources import warc_records
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    pages = docs.select(
        "doc_id",
        (F.col("doc_id") % 64).alias("shard"),
        F.format_string("http://w.example/%d", F.col("doc_id")).alias("uri"),
        F.expr("repeat('t', 10 + cast(doc_id % 90 as int))").alias("text"),
    )
    wets = wet_export(pages.filter(F.col("shard") % 2 == 0)).unionByName(
        wet_export(pages.filter(F.col("shard") % 2 == 1), gzip_members=True)
    )
    recs = warc_records(wets, content_col="wet", id_col="shard").filter(
        "parse_ok AND warc_type = 'conversion'"
    )
    return (
        recs.select(
            (F.col("shard") % 8).alias("grp"),
            "payload_len",
            "target_uri",
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("payload_len").cast("long").alias("payload_len_sum"),
            F.countDistinct("target_uri").cast("long").alias("n_uris"),
        )
    )


def _crawl_quality_oracle() -> str:
    sr = o_dround("stops / tc", 4)
    return f"""
WITH t AS (
  SELECT (14 + 5 * (doc_id % 3))::DOUBLE AS tc,
         CASE WHEN doc_id % 7 = 0 THEN 0.0
              ELSE (1 + doc_id % 3)::DOUBLE END AS stops
  FROM documents
), s AS (
  SELECT tc, {sr} AS sr FROM t
), q AS (
  SELECT tc,
         ROUND(CAST(LEAST(1.0, tc / 100.0) * LEAST(1.0, sr * 10.0)
                    AS DECIMAL(27,8)), 4)::DOUBLE AS quality,
         CASE WHEN sr >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang
  FROM s
)
SELECT pred_lang, COUNT(*) AS n_pages, {o_davg('quality', 'avg_quality', 4)},
       SUM(tc)::BIGINT AS tokens_sum
FROM q GROUP BY 1
"""


@register(
    "crawl_quality_mix",
    oracle=_crawl_quality_oracle(),
    doc="Crawl quality/language gating composition: WARC ingest -> HTML "
    "extraction -> the ENGINE'S OWN quality heuristic / predict_lang / "
    "token_count heuristics (operators/text.py) over the extracted text "
    "-> per-language corpus accounting — the CCNet triage step between "
    "extraction and dedup/mixing. Fixture pages plant the language "
    "split structurally: 'of' (the page's one stopword) is swapped for "
    "the same-length non-stopword 'zz' when doc_id % 7 = 0, flipping "
    "stopword_ratio below the 0.05 language threshold without moving "
    "any count or length — so token counts, rounded ratios, quality "
    "products and the en/unk split are ALL closed-form in doc_id and "
    "the oracle re-derives them with the proven o_dround/o_davg decimal "
    "machinery (no string reconstruction).",
)
def crawl_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import html_extract
    from ..operators.text import predict_lang, stopword_ratio, token_count

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        html = _fixture_html(did, did, stopword=did % 7 != 0).encode()
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://q.example/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html,
            )
        ]
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    from ..sources import warc_records

    recs = warc_records(media, include_body=True).filter(
        "parse_ok AND warc_type = 'response'"
    )
    txt = html_extract(recs).select(
        F.translate(F.col("page.text"), "\n", " ").alias("text")
    )
    # deterministic [0,1] quality heuristic, length credit x stopword
    # credit (the shape of production length / stopword-density gates),
    # in exact double ops; products of rounded decimals land on exact
    # .xxxx5 midpoints, and dround keeps Spark and the SQL oracle
    # bit-identical there
    length_credit = F.least(F.lit(1.0), token_count().cast("double") / F.lit(100.0))
    stop_credit = F.least(F.lit(1.0), stopword_ratio() * F.lit(10.0))
    stats = txt.select(
        dround(length_credit * stop_credit, 4).alias("quality"),
        predict_lang().alias("pred_lang"),
        token_count().alias("tc"),
    )
    return stats.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_pages"),
        davg("quality", "avg_quality", 4),
        F.sum("tc").cast("long").alias("tokens_sum"),
    )


_ROBOTS_TXT = """# fixture robots (RFC 9309)
User-agent: graftbot
Disallow: /d/
Allow: /d/a
Disallow: /w/*/end$

User-agent: *
Disallow: /
"""

_ROBOTS_ORACLE = """
WITH t AS (
  SELECT doc_id % 7 AS m, doc_id % 4 AS k FROM documents
)
SELECT 's' || m::VARCHAR || '.example' AS url_host,
       COUNT(*) AS n_urls,
       SUM(CASE WHEN m = 6 OR k IN (0, 3) THEN 1 ELSE 0 END)::BIGINT
         AS n_allowed,
       SUM(CASE WHEN m <> 6 AND k IN (1, 2) THEN 1 ELSE 0 END)::BIGINT
         AS n_blocked
FROM t GROUP BY 1
"""


@register(
    "robots_crawl_filter",
    oracle=_ROBOTS_ORACLE,
    doc="robots.txt crawl filtering gate (functions/robots.py RFC 9309 "
    "parser + operators/crawl.py robots_rules/robots_filter — the "
    "polite-crawl gate between the URL frontier and the fetch): six "
    "hosts share a robots fixture whose rules pin longest-match "
    "precedence (Allow /d/a beats Disallow /d/), wildcard+anchor "
    "patterns (Disallow /w/*/end$), the no-match default, AND group "
    "selection (the '*' group says Disallow / — obeying it as graftbot "
    "would block everything); a seventh host has no robots at all "
    "(left-join default = allowed). URL paths route by doc_id%4 so "
    "per-host allow/block counts are pure arithmetic. Matching is a "
    "codegen rlike on pre-translated regexes; the argmax over matching "
    "rules is one max(struct(spec, allow)) per distinct (host, path).",
)
def robots_crawl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import robots_filter

    docs = _doc_ids(spark, sf_dir)
    k = F.col("doc_id") % 4
    urls = docs.select(
        F.format_string(
            "s%d.example", (F.col("doc_id") % 7).cast("int")
        ).alias("url_host"),
        F.when(k == 0, F.format_string("/d/a%d", F.col("doc_id")))
        .when(k == 1, F.format_string("/d/x%d", F.col("doc_id")))
        .when(k == 2, F.format_string("/w/%d/end", F.col("doc_id")))
        .otherwise(F.format_string("/ok/%d", F.col("doc_id")))
        .alias("url_path"),
    )
    robots = spark.createDataFrame(
        [(f"s{m}.example", _ROBOTS_TXT) for m in range(6)],
        "url_host string, content string",
    )
    out = robots_filter(urls, robots, "graftbot")
    return out.groupBy("url_host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.col("allowed").cast("int")).cast("long").alias("n_allowed"),
        F.sum((~F.col("allowed")).cast("int")).cast("long").alias("n_blocked"),
    )


_CRAWL_WET_ORACLE = """
WITH t AS (
  SELECT doc_id, doc_id % 64 AS g FROM documents WHERE doc_id % 7 <> 0
), u AS (
  SELECT DISTINCT g FROM t
), l AS (
  SELECT g % 8 AS shard,
         38 + 2 * LENGTH(g::VARCHAR)
            + (1 + g % 3) * (14 + LENGTH(g::VARCHAR)) AS tl
  FROM u
)
SELECT shard::BIGINT AS shard, COUNT(*) AS n_records,
       SUM(tl)::BIGINT AS payload_len_sum
FROM l GROUP BY 1
"""


@register(
    "crawl_to_wet_pipeline",
    oracle=_CRAWL_WET_ORACLE,
    doc="CAPSTONE crawl pipeline gate — five engine operators chained "
    "end-to-end the way a CCNet-style corpus build runs them: WARC "
    "ingest (warc_records include_body) -> HTML main-text extraction "
    "(crawl.html_extract) -> language gating (text.predict_lang keeps "
    "'en'; the fixture plants 'unk' structurally at doc_id%7=0 via the "
    "same-length stopword swap) -> exact dedup survivors "
    "(dedup.exact_dedup min-id keepers; extractable content is keyed by "
    "doc_id%64 while raw bytes differ per doc, so the dup groups exist "
    "only after correct extraction) -> WET export (crawl.wet_export, "
    "one file per g%8 shard) -> RE-INGESTED through warc_records. "
    "Per-shard record counts and conversion-payload byte sums are "
    "arithmetic in g, so every stage sits under one oracle hash.",
)
def crawl_to_wet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import html_extract, wet_export
    from ..operators.dedup import exact_dedup
    from ..operators.text import predict_lang
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        html = _fixture_html(
            did % 64, did, stopword=did % 7 != 0
        ).encode()
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://c.example/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html,
            )
        ]
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media, include_body=True).filter(
        "parse_ok AND warc_type = 'response'"
    )
    pages = (
        html_extract(recs)
        .select(
            F.col("archive_id").alias("doc_id"),
            "target_uri",
            F.translate(F.col("page.text"), "\n", " ").alias("text"),
        )
        # consumed by the language gate AND (via keepers) the survivor
        # join: one lazy checkpoint materializes ingest+extract once
        .localCheckpoint(eager=False)
    )
    kept = pages.filter(predict_lang() == "en")
    keepers = exact_dedup(kept).select(F.col("keep_id").alias("doc_id"))
    survivors = kept.join(keepers, "doc_id").select(
        (F.col("doc_id") % 8).alias("shard"),
        F.col("target_uri").alias("uri"),
        "text",
    )
    wets = wet_export(survivors)
    back = warc_records(wets, content_col="wet", id_col="shard").filter(
        "parse_ok AND warc_type = 'conversion'"
    )
    return back.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("payload_len").cast("long").alias("payload_len_sum"),
    )


_MAIN_CONTENT_ORACLE = """
WITH t AS (
  SELECT doc_id % 4 AS grp,
         LENGTH(doc_id::VARCHAR) AS d,
         1 + doc_id % 3 AS p
  FROM documents
)
SELECT grp::BIGINT AS grp,
       COUNT(*) AS n_pages,
       SUM(1 + p)::BIGINT AS main_lines_sum,
       SUM(4 + 5 * p)::BIGINT AS main_words_sum,
       SUM(16 + d + p * (14 + d))::BIGINT AS main_len_sum,
       SUM(38 + 2 * d + p * (14 + d)
           - (16 + d + p * (14 + d)))::BIGINT AS boiler_len_sum
FROM t GROUP BY 1
"""


@register(
    "html_main_content_stats",
    oracle=_MAIN_CONTENT_ORACLE,
    doc="Main-content extraction gate (functions/html.py "
    "result_main_text — the boilerplate-removal step that separates a "
    "CCNet-grade extractor from naive tag stripping): main_text "
    "additionally drops lines inside structural chrome (the fixture's "
    "<nav> bar) and lines whose anchor-text density exceeds 1/2 (the "
    "trailing pure-link line), keeping exactly the heading + paragraph "
    "prose. Per-doc_id%4 sums of surviving lines/words/chars AND of the "
    "boilerplate char mass removed (full-text length minus main length) "
    "are closed-form in doc_id, so the chrome gate, the link-density "
    "gate and their interaction with whitespace collapse all sit under "
    "the oracle hash.",
)
def html_main_content_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import html_extract

    docs = _doc_ids(spark, sf_dir)

    media = _fixture_rows(
        docs, lambda did: (did, _fixture_html(did, did)), "doc_id long, html string"
    )
    pages = html_extract(media, html_col="html")
    return (
        pages.select(
            (F.col("doc_id") % 4).alias("grp"),
            F.size(F.split("page.main_text", "\n")).alias("ml"),
            F.size(F.split("page.main_text", "[ \n]")).alias("mw"),
            F.length("page.main_text").alias("mlen"),
            (F.length("page.text") - F.length("page.main_text")).alias("blen"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("ml").cast("long").alias("main_lines_sum"),
            F.sum("mw").cast("long").alias("main_words_sum"),
            F.sum("mlen").cast("long").alias("main_len_sum"),
            F.sum("blen").cast("long").alias("boiler_len_sum"),
        )
    )


_CHARSET_ORACLE = """
WITH t AS (
  SELECT doc_id % 4 AS v, 1 + doc_id % 5 AS k FROM documents
)
SELECT v::BIGINT AS variant,
       COUNT(*) AS n_pages,
       SUM(k)::BIGINT AS accents_sum,
       SUM(6 + k)::BIGINT AS text_len_sum
FROM t GROUP BY 1
"""


@register(
    "html_charset_stats",
    oracle=_CHARSET_ORACLE,
    doc="Charset-sniffing gate (functions/html.py decode_html_bytes, "
    "WHATWG precedence BOM > HTTP Content-Type > meta charset > UTF-8 "
    "— real crawls are not all UTF-8): each document's page carries "
    "1 + doc_id%5 'e-acute' characters and is served one of four ways "
    "by doc_id%4 — plain UTF-8, LATIN-1 declared only in the HTTP "
    "header, UTF-16-LE with a BOM, LATIN-1 declared only in a meta tag. "
    "The per-variant accent counts and text lengths are closed-form; "
    "ANY mis-decode turns accents into replacement characters and "
    "breaks the count, so every precedence branch sits under the "
    "oracle hash.",
)
def html_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import html_extract
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        v, k = did % 4, 1 + did % 5
        body = f"<body><p>caf{'é' * k} ok</p></body>"
        ctype = "text/html"
        if v == 0:
            raw = body.encode("utf-8")
        elif v == 1:
            raw = body.encode("latin-1")
            ctype = "text/html; charset=ISO-8859-1"
        elif v == 2:
            raw = b"\xff\xfe" + body.encode("utf-16-le")
        else:
            raw = (
                '<meta charset="iso-8859-1">' + body
            ).encode("latin-1")
        return did, raw, ctype

    media = _fixture_rows(
        docs, make, "doc_id long, http_body binary, content_type string"
    )
    pages = html_extract(media, content_type_col="content_type")
    t = F.col("page.text")
    return (
        pages.select(
            (F.col("doc_id") % 4).alias("variant"),
            (F.length(t) - F.length(F.translate(t, "é", ""))).alias("acc"),
            F.length(t).alias("tl"),
        )
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("acc").cast("long").alias("accents_sum"),
            F.sum("tl").cast("long").alias("text_len_sum"),
        )
    )


_CRAWL_HEALTH_ORACLE = """
WITH t AS (
  SELECT doc_id,
         doc_id % 11 = 0 AS corrupt,
         doc_id % 13 = 0 AS headless
  FROM documents
)
SELECT COUNT(*) AS n_archives,
       SUM(CASE WHEN corrupt THEN 1 ELSE 0 END)::BIGINT AS n_parse_fail,
       SUM(CASE WHEN NOT corrupt AND headless THEN 1 ELSE 0 END)::BIGINT
         AS n_html_fail,
       SUM(CASE WHEN NOT corrupt AND NOT headless THEN 1 ELSE 0 END)::BIGINT
         AS n_pages_ok,
       SUM(CASE WHEN NOT corrupt AND NOT headless
                THEN 12 + LENGTH(doc_id::VARCHAR) ELSE 0 END)::BIGINT
         AS ok_text_len_sum
FROM t
"""


@register(
    "crawl_health_stats",
    oracle=_CRAWL_HEALTH_ORACLE,
    doc="Crawl dead-letter census — the operability gate every ingest "
    "pipeline runs first: planted failures at BOTH dead-letter levels "
    "(doc_id%11=0 archives get a flipped gzip byte -> warc_records "
    "parse_ok=false rows; doc_id%13=0 responses carry a headless HTTP "
    "payload with no CRLFCRLF split -> http_body NULL -> html_extract "
    "html_ok=false rows) and every failure COUNTED, never dropped. "
    "Category counts and the surviving pages' extracted-text length sum "
    "are arithmetic in doc_id, so the census proves the two failure "
    "layers stay disjoint, lossless and attributable end-to-end.",
)
def crawl_health_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import html_extract
    from ..sources import warc_records
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        html = f"<p>page of doc {did}</p>".encode()
        if did % 13 == 0:  # headless HTTP payload: no CRLFCRLF
            payload = b"HTTP/1.1 200 OK (no header break)" + html
        else:
            payload = b"HTTP/1.1 200 OK\r\n\r\n" + html
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://h.example/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                payload,
            )
        ]
        blob = bytearray(build_warc(recs, gzip_members=True))
        if did % 11 == 0:
            blob[14] ^= 0xFF  # corrupt the gzip member body
        return did, bytes(blob)

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media, include_body=True)
    pages = html_extract(recs)
    return pages.agg(
        F.count(F.lit(1)).alias("n_archives"),
        F.sum((~F.col("parse_ok")).cast("int")).cast("long").alias("n_parse_fail"),
        F.sum((F.col("parse_ok") & ~F.col("page.html_ok")).cast("int"))
        .cast("long")
        .alias("n_html_fail"),
        F.sum((F.col("parse_ok") & F.col("page.html_ok")).cast("int"))
        .cast("long")
        .alias("n_pages_ok"),
        F.sum(
            F.when(
                F.col("parse_ok") & F.col("page.html_ok"),
                F.length("page.text"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("ok_text_len_sum"),
    )


def _fixture_pdf(did: int) -> bytes:
    """Closed-form PDF: P = 1 + did%3 pages; page p carries exactly two
    text lines 'Doc {did} page {p}' (11+d chars, d = digits(did)) and
    'text ({did}) on {p}' (12+d chars), so page text length = 24+2d,
    document text length = P*(24+2d) + (P-1), lines = 2P and
    whitespace-split words = 8P — pinned against functions/pdf.py in
    tests/test_pdf.py. RAW bytes vary structurally with did (Flate on
    odd ids, TJ-split kerning arrays at did%3==0, hex strings at
    did%5==0, a nested page tree at did%7==0, the PDF 1.5
    compressed-object profile — /Type /ObjStm members + a trailer-less
    predictor-encoded xref STREAM — at did%11==0, PNG-predictor-encoded
    CONTENT streams at did%13==0, subsetted-font re-encoding at
    did%9==0 — /Encoding /Differences glyph names — or did%17==0 —
    a /ToUnicode bfchar/bfrange CMap, exclusive with the former, and
    non-Flate filter legs: LZWDecode at did%19==0, an
    [ASCII85Decode FlateDecode] CHAIN at did%23==0 and a
    [RunLengthDecode FlateDecode] chain at did%29==0 — these take
    precedence over the flate/predictor axes for their streams — and
    standard-security encryption with an empty user password — the
    readable owner-locked class — at did%31==0 (RC4 128-bit V2 R3),
    did%37==0 (RC4 40-bit V1 R2), did%41==0 (V4 R4 /CFM /AESV2
    AES-128-CBC) and did%43==0 (V5 R6 /CFM /AESV3 AES-256, Algorithm
    2.B key derivation); earlier axes take precedence so pre-existing
    fixture bytes never move) without moving any extracted quantity —
    the _fixture_html discipline: extraction must normalize away every
    non-content variation."""
    from ..functions.pdf import build_pdf

    pages = [
        [f"Doc {did} page {p}", f"text ({did}) on {p}"]
        for p in range(1 + did % 3)
    ]
    chain = (
        ["LZWDecode"]
        if did % 19 == 0
        else ["ASCII85Decode", "FlateDecode"]
        if did % 23 == 0
        else ["RunLengthDecode", "FlateDecode"]
        if did % 29 == 0
        else None
    )
    return build_pdf(
        pages,
        flate=bool(did % 2),
        tj_split=did % 3 == 0,
        hex_strings=did % 5 == 0,
        nested_kids=did % 7 == 0,
        object_streams=did % 11 == 0,
        content_predictor=did % 13 == 0,
        tounicode=did % 17 == 0,
        differences=did % 9 == 0 and did % 17 != 0,
        filter_chain=chain,
        encrypt=(
            "rc4-128"
            if did % 31 == 0
            else "rc4-40"
            if did % 37 == 0
            else "aes-128"
            if did % 41 == 0
            else "aes-256"
            if did % 43 == 0
            else None
        ),
    )


_PDF_EXTRACT_ORACLE = """
WITH t AS (
  SELECT doc_id % 4 AS grp,
         LENGTH(doc_id::VARCHAR) AS d,
         1 + doc_id % 3 AS p
  FROM documents
)
SELECT grp::BIGINT AS grp,
       COUNT(*) AS n_docs,
       SUM(p)::BIGINT AS pages_sum,
       SUM(2 * p)::BIGINT AS lines_sum,
       SUM(8 * p)::BIGINT AS words_sum,
       SUM(p * (24 + 2 * d) + (p - 1))::BIGINT AS text_len_sum
FROM t GROUP BY 1
"""


@register(
    "pdf_text_extract_stats",
    oracle=_PDF_EXTRACT_ORACLE,
    doc="PDF -> text extraction gate (functions/pdf.py pdf_text, "
    "operators/crawl.py pdf_extract — the second document-ingest "
    "surface after HTML; crawl archives carry application/pdf payloads "
    "that previously dead-lettered out of the corpus): every document "
    "becomes a closed-form multi-page PDF whose raw bytes exercise the "
    "parser surface structurally (plain AND FlateDecode streams, Tj "
    "AND kerned TJ arrays, literal AND hex strings with escaped "
    "parens, flat AND nested page trees, direct AND indirect /Length, "
    "classic AND PDF 1.5 compressed profiles — /Type /ObjStm object "
    "streams with a trailer-less PNG-predictor xref STREAM — "
    "predictor-encoded content streams, and /Differences AND "
    "/ToUnicode subsetted-font re-encoding whose raw string bytes "
    "differ from the visible text) "
    "while every extracted quantity — page counts, line counts, word "
    "counts, text lengths — stays arithmetic in doc_id, so stream "
    "decode, page-tree order, the text-operator contract and string "
    "escape handling all sit under one oracle hash. Extraction is the "
    "one Arrow-batched Python hop (zero shuffle, the codec-gate "
    "class); every stat is a JVM expression over the struct.",
)
def pdf_text_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import pdf_extract

    docs = _doc_ids(spark, sf_dir)

    media = _fixture_rows(
        docs, lambda did: (did, _fixture_pdf(did)), "doc_id long, http_body binary"
    )
    out = pdf_extract(media)
    return (
        out.select(
            (F.col("doc_id") % 4).alias("grp"),
            F.col("doc.n_pages").alias("np"),
            F.size(F.split("doc.text", "\n")).alias("nl"),
            F.size(F.split("doc.text", "[ \n]")).alias("nw"),
            F.length("doc.text").alias("tl"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("np").cast("long").alias("pages_sum"),
            F.sum("nl").cast("long").alias("lines_sum"),
            F.sum("nw").cast("long").alias("words_sum"),
            F.sum("tl").cast("long").alias("text_len_sum"),
        )
    )


_DISPATCH_ORACLE = """
WITH t AS (
  SELECT doc_id % 5 AS r,
         LENGTH(doc_id::VARCHAR) AS d,
         1 + doc_id % 3 AS p
  FROM documents
), k AS (
  SELECT CASE WHEN r IN (0, 1) THEN 'html'
              WHEN r IN (2, 3) THEN 'pdf'
              ELSE 'other' END AS kind,
         CASE WHEN r <= 3 THEN 1 ELSE 0 END AS ok,
         CASE WHEN r IN (0, 1) THEN 38 + 2 * d + p * (14 + d)
              WHEN r IN (2, 3) THEN p * (24 + 2 * d) + (p - 1)
              ELSE NULL END AS tl,
         CASE WHEN r IN (0, 1) THEN 1
              WHEN r IN (2, 3) THEN p
              ELSE NULL END AS np
  FROM t
)
SELECT kind, COUNT(*) AS n_docs, SUM(ok)::BIGINT AS n_ok,
       COALESCE(SUM(tl), 0)::BIGINT AS text_len_sum,
       COALESCE(SUM(np), 0)::BIGINT AS pages_sum
FROM k GROUP BY 1
"""


@register(
    "doc_extract_dispatch_stats",
    oracle=_DISPATCH_ORACLE,
    doc="Content-Type-dispatched document extraction gate "
    "(operators/crawl.py document_extract — ONE operator a crawl "
    "pipeline points at its mixed-payload stream): documents route by "
    "doc_id%5 to an HTML fixture with an explicit text/html header "
    "(0), the same fixture with NO header so the '<' sniff must route "
    "it (1), a PDF fixture with an application/pdf header (2), the "
    "same with NO header so the %PDF- magic must route it (3), and "
    "undecodable junk that must survive as a countable kind='other' "
    "dead-letter row (4). Per-kind doc counts, ok counts, text-length "
    "sums (closed-form per the _fixture_html / _fixture_pdf "
    "contracts) and page sums pin BOTH routing legs of the dispatch "
    "AND both extractors' outputs under one oracle hash.",
)
def doc_extract_dispatch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import document_extract

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        r = did % 5
        if r in (0, 1):
            body = _fixture_html(did, did).encode()
            ctype = "text/html; charset=utf-8" if r == 0 else None
        elif r in (2, 3):
            body = _fixture_pdf(did)
            ctype = "application/pdf" if r == 2 else None
        else:
            body = b"\x00\x01" + str(did).encode()
            ctype = None
        return did, body, ctype

    media = _fixture_rows(
        docs, make, "doc_id long, http_body binary, content_type string"
    )
    out = document_extract(media, content_type_col="content_type")
    return out.groupBy(F.col("doc.kind").alias("kind")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("doc.doc_ok").cast("int")).cast("long").alias("n_ok"),
        F.coalesce(F.sum(F.length("doc.text")), F.lit(0))
        .cast("long")
        .alias("text_len_sum"),
        F.coalesce(F.sum("doc.n_pages"), F.lit(0))
        .cast("long")
        .alias("pages_sum"),
    )


_MIXED_CRAWL_ORACLE = """
WITH t AS (
  SELECT doc_id % 5 AS r,
         LENGTH(doc_id::VARCHAR) AS d,
         1 + doc_id % 3 AS p
  FROM documents
), k AS (
  SELECT CASE WHEN r IN (0, 1) THEN 'html'
              WHEN r IN (2, 3) THEN 'pdf'
              ELSE 'other' END AS kind,
         CASE WHEN r <= 3 THEN 1 ELSE 0 END AS ok,
         CASE WHEN r IN (0, 2, 4) THEN 1 ELSE 0 END AS hdr,
         CASE WHEN r IN (0, 1) THEN 38 + 2 * d + p * (14 + d)
              WHEN r IN (2, 3) THEN p * (24 + 2 * d) + (p - 1)
              ELSE NULL END AS tl,
         CASE WHEN r IN (0, 1) THEN 1
              WHEN r IN (2, 3) THEN p
              ELSE NULL END AS np
  FROM t
)
SELECT kind, COUNT(*) AS n_pages, SUM(ok)::BIGINT AS n_ok,
       SUM(hdr)::BIGINT AS n_with_header,
       COALESCE(SUM(tl), 0)::BIGINT AS text_len_sum,
       COALESCE(SUM(np), 0)::BIGINT AS pages_sum
FROM k GROUP BY 1
"""


@register(
    "mixed_crawl_extract_stats",
    oracle=_MIXED_CRAWL_ORACLE,
    doc="Mixed-payload crawl capstone — the round-12 ingest surface "
    "chained through REAL archive framing: every document becomes a "
    "one-response WARC (plain/.warc.gz alternating) whose HTTP payload "
    "routes by doc_id%5 — HTML with a text/html Content-Type header "
    "(0), HTML with NO header so the '<' sniff routes it (1), PDF with "
    "an application/pdf header (2), PDF headerless via %PDF- magic "
    "(3), and application/octet-stream junk that must survive as a "
    "countable kind='other' dead-letter row (4) — then "
    "warc_records(include_body) extracts the HTTP response's OWN "
    "Content-Type header (the new http_content_type column, RFC 9110 "
    "first-occurrence) and document_extract dispatches on it. Per-kind "
    "counts, ok counts, WITH-HEADER counts (pinning the HTTP header "
    "extraction itself), text-length and page sums are closed-form per "
    "the _fixture_html/_fixture_pdf contracts, so WARC framing, HTTP "
    "header parsing, both routing legs and both extractors sit under "
    "one oracle hash.",
)
def mixed_crawl_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import document_extract
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        r = did % 5
        if r in (0, 1):
            body = _fixture_html(did, did).encode()
            ctype = "text/html; charset=utf-8" if r == 0 else None
        elif r in (2, 3):
            body = _fixture_pdf(did)
            ctype = "application/pdf" if r == 2 else None
        else:
            body = b"\x00\x01" + str(did).encode()
            ctype = "application/octet-stream"
        head = b"HTTP/1.1 200 OK\r\n"
        if ctype is not None:
            head += b"Content-Type: " + ctype.encode() + b"\r\n"
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://m.example/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                head + b"\r\n" + body,
            )
        ]
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media, include_body=True).filter(
        "parse_ok AND warc_type = 'response'"
    )
    out = document_extract(
        recs, content_type_col="http_content_type"
    )
    return out.groupBy(F.col("doc.kind").alias("kind")).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.col("doc.doc_ok").cast("int")).cast("long").alias("n_ok"),
        F.sum(F.col("http_content_type").isNotNull().cast("int"))
        .cast("long")
        .alias("n_with_header"),
        F.coalesce(F.sum(F.length("doc.text")), F.lit(0))
        .cast("long")
        .alias("text_len_sum"),
        F.coalesce(F.sum("doc.n_pages"), F.lit(0))
        .cast("long")
        .alias("pages_sum"),
    )


_HTTP_ENC_ORACLE = """
WITH t AS (
  SELECT doc_id % 4 AS e,
         doc_id % 13 = 0 AS br,
         LENGTH(doc_id::VARCHAR) AS d,
         1 + doc_id % 3 AS p
  FROM documents
), k AS (
  SELECT CASE WHEN br THEN 'unsupported'
              WHEN e = 0 THEN 'identity'
              WHEN e = 1 THEN 'gzip'
              WHEN e = 2 THEN 'deflate'
              ELSE 'chunked_gzip' END AS enc,
         CASE WHEN br THEN 0 ELSE 1 END AS ok,
         CASE WHEN br THEN 0
              ELSE 38 + 2 * d + p * (14 + d) END AS tl
  FROM t
)
SELECT enc, COUNT(*) AS n_pages, SUM(ok)::BIGINT AS n_body_ok,
       SUM(ok)::BIGINT AS n_extracted, SUM(tl)::BIGINT AS text_len_sum
FROM k GROUP BY 1
"""


@register(
    "http_encoding_stats",
    oracle=_HTTP_ENC_ORACLE,
    doc="HTTP body decoding gate (functions/warc.py decode_http_body — "
    "real crawls store the raw wire bytes, so chunked transfer framing "
    "and gzip/deflate content-encodings sit between WARC ingest and "
    "every extractor): responses cycle identity / Content-Encoding "
    "gzip / deflate / chunked+gzip framing by doc_id%4, with a planted "
    "unsupported-coding leg (Content-Encoding: br over compressed "
    "bytes) at doc_id%13 that must survive as http_body_ok = false "
    "with RAW bytes — a countable dead-letter, and the reason the flag "
    "EXISTS: the HTML extractor deliberately never raises (mojibake "
    "flows to quality gates), so undecoded compressed bytes would "
    "silently 'extract' without it; the gate therefore counts and "
    "measures only rows where BOTH flags hold. Per-encoding page "
    "counts, decode-ok counts, gated extraction counts and gated text "
    "lengths are closed-form "
    "per the _fixture_html contract, so de-chunking, both decompression "
    "paths and the guard all sit under one oracle hash.",
)
def http_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip as _gzip
    import zlib as _zlib

    from ..functions.warc import build_warc
    from ..operators.crawl import html_extract
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)

    def chunked(b: bytes, size: int = 7) -> bytes:
        out = bytearray()
        for i in range(0, len(b), size):
            piece = b[i : i + size]
            out += f"{len(piece):x}".encode() + b"\r\n" + piece + b"\r\n"
        out += b"0\r\n\r\n"
        return bytes(out)

    def make(did):
        html = _fixture_html(did, did).encode()
        e = did % 4
        if did % 13 == 0:
            hdrs = b"Content-Encoding: br\r\n"
            body = _zlib.compress(html)  # not actually brotli
        elif e == 0:
            hdrs, body = b"", html
        elif e == 1:
            hdrs = b"Content-Encoding: gzip\r\n"
            body = _gzip.compress(html, mtime=0)
        elif e == 2:
            hdrs = b"Content-Encoding: deflate\r\n"
            body = _zlib.compress(html)
        else:
            hdrs = (
                b"Transfer-Encoding: chunked\r\n"
                b"Content-Encoding: gzip\r\n"
            )
            body = chunked(_gzip.compress(html, mtime=0))
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://e.example/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + hdrs
                + b"\r\n"
                + body,
            )
        ]
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media, include_body=True).filter(
        "parse_ok AND warc_type = 'response'"
    )
    pages = html_extract(recs)
    enc = (
        F.when(F.col("archive_id") % 13 == 0, F.lit("unsupported"))
        .when(F.col("archive_id") % 4 == 0, F.lit("identity"))
        .when(F.col("archive_id") % 4 == 1, F.lit("gzip"))
        .when(F.col("archive_id") % 4 == 2, F.lit("deflate"))
        .otherwise(F.lit("chunked_gzip"))
    )
    return pages.groupBy(enc.alias("enc")).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.col("http_body_ok").cast("int")).cast("long").alias("n_body_ok"),
        F.sum((F.col("page.html_ok") & F.col("http_body_ok")).cast("int"))
        .cast("long")
        .alias("n_extracted"),
        F.sum(
            F.when(
                F.col("page.html_ok") & F.col("http_body_ok"),
                F.length("page.text"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("text_len_sum"),
    )


_LINK_PR_ITERS = 3  # both link-PageRank gates and their oracle replay it


def _link_pagerank_oracle(edges_cte: str | None = None) -> str:
    """Step-unrolled integer PageRank over the crawl host graph — the
    copurchase_pagerank oracle shape, with edges re-derived from the
    fixture's doc_id arithmetic (the Spark side must reach the SAME
    integers through extraction -> RFC 3986 resolution ->
    canonicalization -> host parsing). ``edges_cte`` overrides the
    edge-derivation SQL (body of ``edges AS (...)``) for fixtures with
    different link arithmetic (the mixed HTML+PDF gate)."""
    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
    if edges_cte is None:
        edges_cte = """
  SELECT DISTINCT (doc_id % 7)::BIGINT AS u,
         ((3 * doc_id + 1) % 7)::BIGINT AS v
  FROM documents WHERE doc_id % 7 <> (3 * doc_id + 1) % 7
  UNION
  SELECT DISTINCT (doc_id % 7)::BIGINT, ((5 * doc_id + 2) % 7)::BIGINT
  FROM documents WHERE doc_id % 7 <> (5 * doc_id + 2) % 7"""
    ctes = [
        f"""edges AS ({edges_cte}
), bi AS (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS (
  SELECT u, COUNT(*)::BIGINT AS deg FROM bi GROUP BY u
), r0 AS (
  SELECT u AS node, {PR_SCALE}::BIGINT AS pr FROM deg
)"""
    ]
    for i in range(1, _LINK_PR_ITERS + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT b.v AS node,
         ({base} + SUM((r.pr * {PR_DAMP_NUM}) // ({PR_DAMP_DEN} * d.deg)))::BIGINT AS pr
  FROM bi b JOIN r{i - 1} r ON b.u = r.node JOIN deg d ON b.u = d.u
  GROUP BY b.v
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
outd AS (
  SELECT u, COUNT(DISTINCT v)::BIGINT AS out_hosts FROM edges GROUP BY u
)
SELECT 's' || r.node::VARCHAR || '.example' AS host, r.pr, o.out_hosts
FROM r{_LINK_PR_ITERS} r JOIN outd o ON o.u = r.node
ORDER BY r.pr DESC, host"""
    )


@register(
    "crawl_link_pagerank",
    oracle=_link_pagerank_oracle(),
    doc="Crawl link-graph capstone — cross-module composition the "
    "anchor-graph side of a crawl needs (host authority for "
    "prioritization, the WAT-derivative shape): pages extract via "
    "crawl.html_extract, anchors explode + RESOLVE against the page's "
    "base URI (crawl.page_links: RFC 3986 urljoin — the fixture plants "
    "a root-relative self link that must DROP as a self-edge, one "
    "absolute href and one protocol-relative '//host/...' href), "
    "resolved links canonicalize (param sort, fragment drop) and parse "
    "to hosts, the distinct cross-host edge list feeds the ENGINE'S "
    "OWN integer-exact PageRank (graphs.pagerank_integer, 3 power "
    "iterations, damping 17/20 in scaled-long floor division), and "
    "host authority joins per-host distinct out-degree. The oracle "
    "re-derives the edges from doc_id arithmetic and replays the "
    "identical unrolled integer iterations — extraction, resolution, "
    "canonicalization, host parsing AND every PageRank contribution "
    "sit under one hash.",
)
def crawl_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import (
        canonical_url,
        html_extract,
        page_links,
        with_url_parts,
    )
    from ..operators.graphs import pagerank_integer

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        html = (
            "<html><body>"
            '<a href="/self">me</a> '
            f'<a href="http://s{(3 * did + 1) % 7}.example'
            f'/p/{did}">x</a> '
            f'<a href="//s{(5 * did + 2) % 7}.example'
            f'/q/{did}?b=2&a=1#f">y</a>'
            "</body></html>"
        )
        return did, f"http://s{did % 7}.example/p/{did}", html

    media = _fixture_rows(
        docs, make, "doc_id long, target_uri string, html string"
    )
    links = page_links(html_extract(media, html_col="html"))
    canon = links.withColumn("canon", canonical_url("resolved_url"))
    hosts = with_url_parts(
        with_url_parts(canon, url_col="target_uri", prefix="src_"),
        url_col="canon",
        prefix="dst_",
    )
    host_id = lambda c: F.regexp_extract(  # noqa: E731
        F.col(c), r"^s(\d+)\.example$", 1
    ).cast("long")
    edges = (
        hosts.select(
            host_id("src_host").alias("u"), host_id("dst_host").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # The bounded host-edge list is consumed by BOTH pagerank_integer and
    # the out-degree aggregate below; without the cut the Python extract
    # chain above physically re-evaluates for each (r16 profile: two
    # ~35 s-task-time 32-task stages per run). Consumers differ, so the
    # checkpoint pays (robots_filter precedent) — and it is kilobytes.
    edges = edges.localCheckpoint(eager=False)
    ranks = pagerank_integer(edges, iters=_LINK_PR_ITERS)
    outd = edges.groupBy("u").agg(
        F.countDistinct("v").cast("long").alias("out_hosts")
    )
    return (
        ranks.join(outd, ranks.node == outd.u)
        .select(
            F.concat(
                F.lit("s"), F.col("node").cast("string"), F.lit(".example")
            ).alias("host"),
            "pr",
            "out_hosts",
        )
        .orderBy(F.col("pr").desc(), "host")
    )


_CDX_ORACLE = """
WITH t AS (
  SELECT doc_id % 7 AS m,
         LENGTH(doc_id::VARCHAR) AS dd,
         doc_id % 50 AS b
  FROM documents
), k AS (
  SELECT 'example,s' || m::VARCHAR AS host_key,
         197 + dd + CASE WHEN b >= 46 THEN 3 ELSE 2 END + b AS rec_len,
         14 + dd AS key_len
  FROM t
)
SELECT host_key, COUNT(*) AS n_captures,
       (74 * COUNT(*))::BIGINT AS offsets_sum,
       SUM(rec_len)::BIGINT AS lengths_sum,
       SUM(key_len)::BIGINT AS urlkey_len_sum,
       COUNT(*) AS n_html_mime,
       COUNT(*) AS n_status_200
FROM k GROUP BY 1
"""


@register(
    "cdx_index_stats",
    oracle=_CDX_ORACLE,
    doc="CDX capture-index gate (operators/crawl.py cdx_index + "
    "surt_key; functions/warc.py rec_offset/rec_length — the third "
    "Common Crawl derivative beside the WET export and WAT-class "
    "metadata): every document becomes a two-record plain WARC "
    "(warcinfo then response), so each response's byte span is "
    "closed-form in doc_id — offset is the warcinfo record's fixed 74 "
    "bytes, length is header+payload arithmetic with the "
    "Content-Length digit step at doc_id%50 = 46 — and the SURT urlkey "
    "('example,s{m})/p/{id}') pins host reversal + canonicalization "
    "via its length sum. Per-host capture counts, offset sums, length "
    "sums, urlkey length sums and mime/status pins all sit under one "
    "hash; the range-request contract itself (slice rec_offset..+len, "
    "re-parse, same record — plain AND gzip-member) is unit-tested in "
    "tests/test_warc.py. Index rows are a pure metadata projection: "
    "page bytes never enter the plan.",
)
def cdx_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import cdx_index
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        uri = f"http://s{did % 7}.example/p/{did}"
        body = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + b"x" * (10 + did % 50)
        )
        blob = build_warc(
            [
                ({"WARC-Type": "warcinfo"}, b"software: graft\r\n"),
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": uri,
                        "Content-Type": (
                            "application/http;msgtype=response"
                        ),
                    },
                    body,
                ),
            ]
        )
        return did, blob

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    idx = cdx_index(media)
    return idx.groupBy(
        F.substring_index("urlkey", ")", 1).alias("host_key")
    ).agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.sum("rec_offset").cast("long").alias("offsets_sum"),
        F.sum("rec_length").cast("long").alias("lengths_sum"),
        F.sum(F.length("urlkey")).cast("long").alias("urlkey_len_sum"),
        F.sum((F.col("mime") == "text/html").cast("int"))
        .cast("long")
        .alias("n_html_mime"),
        F.sum((F.col("status") == 200).cast("int"))
        .cast("long")
        .alias("n_status_200"),
    )


_WAT_ORACLE = """
WITH t AS (
  SELECT doc_id % 8 AS shard,
         LENGTH(doc_id::VARCHAR) AS d,
         1 + doc_id % 3 AS p
  FROM documents
)
SELECT shard::BIGINT AS shard,
       COUNT(*) AS n_records,
       (3 * COUNT(*))::BIGINT AS links_sum,
       SUM(4 + d)::BIGINT AS title_len_sum,
       SUM(38 + 2 * d + p * (14 + d))::BIGINT AS text_len_sum
FROM t GROUP BY 1
"""


@register(
    "wat_export_stats",
    oracle=_WAT_ORACLE,
    doc="WAT-style metadata export gate (operators/crawl.py wat_export "
    "— the metadata derivative completing the Common Crawl artifact "
    "family: WET text, CDX capture spans, WAT envelopes): extracted "
    "pages serialize per doc_id%8 shard as deterministic JSONL (uri "
    "order, sorted keys, fixed separators — byte-identical under any "
    "partitioning like wet_export) and the gate RE-INGESTS the blobs "
    "through Spark's own from_json, so serialization AND parse-back "
    "sit under one hash: per-shard record counts, link counts, title "
    "lengths and text lengths are closed-form per the _fixture_html "
    "contract.",
)
def wat_export_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import html_extract, wat_export

    docs = _doc_ids(spark, sf_dir)

    media = _fixture_rows(
        docs, lambda did: (did, _fixture_html(did, did)), "doc_id long, html string"
    )
    pages = html_extract(media, html_col="html").select(
        (F.col("doc_id") % 8).alias("shard"),
        F.format_string("http://w.example/%d", "doc_id").alias("uri"),
        F.col("page.title").alias("title"),
        F.col("page.links").alias("links"),
        F.length("page.text").cast("long").alias("text_len"),
    )
    wats = wat_export(pages)
    lines = wats.select(
        "shard",
        F.explode(
            F.filter(
                F.split(F.decode("wat", "utf-8"), "\n"),
                lambda x: x != "",
            )
        ).alias("line"),
    )
    parsed = lines.select(
        "shard",
        F.from_json(
            "line",
            "links array<string>, text_len long, title string, uri string",
        ).alias("j"),
    )
    return parsed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.size("j.links")).cast("long").alias("links_sum"),
        F.sum(F.length("j.title")).cast("long").alias("title_len_sum"),
        F.sum("j.text_len").cast("long").alias("text_len_sum"),
    )


_REDIRECT_ORACLE = """
WITH t AS (
  SELECT doc_id % 6 AS l, LENGTH(doc_id::VARCHAR) AS dd FROM documents
)
SELECT l::BIGINT AS chain_class,
       SUM(CASE WHEN l = 5 THEN 3 ELSE l + 1 END)::BIGINT AS n_urls,
       SUM(CASE WHEN l = 5 THEN 0 ELSE l + 1 END)::BIGINT AS n_resolved,
       SUM(CASE WHEN l = 5 THEN 0 ELSE (l * (l + 1)) // 2 END)::BIGINT
         AS hops_sum,
       SUM(CASE WHEN l = 5 THEN 0 ELSE (l + 1) * (22 + dd) END)::BIGINT
         AS final_len_sum
FROM t GROUP BY 1
"""


@register(
    "redirect_resolution_stats",
    oracle=_REDIRECT_ORACLE,
    doc="HTTP redirect chain resolution gate (operators/crawl.py "
    "resolve_redirects; sources.warc_records http_location — the "
    "Location singleton header, RFC 9110 §10.2.2): every document "
    "becomes a WARC of doc_id%6 captures — chains of length 0..4 "
    "(alternating ABSOLUTE and RELATIVE Location headers, so RFC 3986 "
    "reference resolution is pinned) ending at a 200, and a 3-cycle for "
    "class 5 (0->1->2->0, never resolving). Pointer doubling follows "
    "every chain in ceil(log2(max_hops)) self-joins of the edge table; "
    "per-class url counts, resolved counts, hop sums (node i of an "
    "L-chain takes L-i hops -> L(L+1)/2 per doc) and terminal-url "
    "length sums (22+digits closed-form) all sit under one hash. "
    "Cycles land as resolved=false with NULL final/hops — countable "
    "dead-letter, never a wrong terminal.",
)
def redirect_resolution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import resolve_redirects
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)

    def http(status_line: str, headers: list[str], body: bytes = b"") -> bytes:
        head = "\r\n".join([status_line, *headers])
        return head.encode("ascii") + b"\r\n\r\n" + body

    def make(did):
        url = lambda i: f"http://s{did % 7}.example/r/{did}/{i}"  # noqa: E731
        cls = did % 6
        recs = []
        if cls == 5:
            hops = [(0, url(1)), (1, url(2)), (2, url(0))]
        else:
            # odd hop index -> RELATIVE Location (urljoin pinned)
            hops = [
                (i, url(i + 1) if i % 2 == 0 else f"/r/{did}/{i + 1}")
                for i in range(cls)
            ] + [(cls, None)]
        for i, loc in hops:
            if loc is None:
                body = http(
                    "HTTP/1.1 200 OK",
                    ["Content-Type: text/html"],
                    b"<html>done</html>",
                )
            else:
                body = http(
                    "HTTP/1.1 301 Moved Permanently",
                    [f"Location: {loc}"],
                )
            recs.append(
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": url(i),
                        "Content-Type": (
                            "application/http;msgtype=response"
                        ),
                    },
                    body,
                )
            )
        return did, build_warc(recs)

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    res = resolve_redirects(warc_records(media))
    d = F.regexp_extract("url", r"/r/(\d+)/", 1).cast("long")
    return res.groupBy((d % 6).alias("chain_class")).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.col("resolved").cast("int")).cast("long").alias("n_resolved"),
        F.sum(F.coalesce(F.col("hops"), F.lit(0)))
        .cast("long")
        .alias("hops_sum"),
        F.sum(F.coalesce(F.length("final_url").cast("long"), F.lit(0)))
        .cast("long")
        .alias("final_len_sum"),
    )


_SITEMAP_ORACLE = """
WITH t AS (
  SELECT doc_id % 7 AS h, doc_id % 11 AS m11, doc_id % 5 AS m5,
         (doc_id % 9) + 1 AS k, LENGTH(doc_id::VARCHAR) AS dd,
         doc_id % 10 AS p, doc_id % 28 + 1 AS day,
         doc_id % 3 AS m3, doc_id % 4 AS m4, 30 + doc_id % 60 AS dur
  FROM documents
)
SELECT 's' || h::VARCHAR AS host,
  SUM(CASE WHEN m11 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_bad,
  SUM(CASE WHEN m11 <> 0 AND m5 = 0 THEN 2 ELSE 0 END)::BIGINT
    AS n_index_children,
  SUM(CASE WHEN m11 <> 0 AND m5 = 1 THEN k ELSE 0 END)::BIGINT
    AS n_text_entries,
  SUM(CASE WHEN m11 <> 0 AND m5 >= 2 THEN k ELSE 0 END)::BIGINT AS n_entries,
  SUM(CASE WHEN m11 <> 0 AND m5 >= 2 THEN k * (22 + dd) ELSE 0 END)::BIGINT
    AS loc_len_sum,
  MAX(CASE WHEN m11 <> 0 AND m5 >= 2
       THEN '2026-01-' || LPAD(day::VARCHAR, 2, '0') END) AS max_lastmod,
  SUM(CASE WHEN m11 <> 0 AND m5 >= 2 THEN k * p ELSE 0 END)::BIGINT
    AS priority_decile_sum,
  SUM(CASE WHEN m11 <> 0 AND m5 >= 2 THEN k * m3 ELSE 0 END)::BIGINT
    AS n_images_sum,
  SUM(CASE WHEN m11 <> 0 AND m5 >= 2 AND m4 = 0 THEN k ELSE 0 END)::BIGINT
    AS n_videos_sum,
  SUM(CASE WHEN m11 <> 0 AND m5 >= 2 AND m4 = 0 THEN k * dur
       ELSE 0 END)::BIGINT AS video_duration_sum,
  SUM(CASE WHEN m11 <> 0 AND m5 >= 1 THEN k - 1 ELSE 0 END)::BIGINT
    AS n_frontier_new
FROM t GROUP BY 1
"""


@register(
    "sitemap_frontier_stats",
    oracle=_SITEMAP_ORACLE,
    doc="Sitemap ingest + frontier-seed gate (functions/sitemaps.py "
    "parse_sitemap; operators/crawl.py sitemap_entries — the discovery "
    "half of the polite-crawl loop beside robots_filter): every "
    "document becomes one sitemap fixture — urlset of (doc_id%9)+1 "
    "entries with closed-form locs/lastmod/priority, a 2-child "
    "sitemapindex for doc_id%5 = 0, the spec's PLAIN-TEXT one-URL-per-"
    "line form for doc_id%5 = 1 (kind='textlist'), malformed XML for "
    "doc_id%11 = 0 (one parse_ok=false dead-letter row), gzip members "
    "for doc_id%3 = 0 (the .xml.gz wire form, sniff pinned because "
    "counts would halve if gz docs failed). Urlset entries carry the "
    "Google media extensions (r15): doc_id%3 image:image locs per "
    "entry and one video:video with an integer duration at doc_id%4=0 "
    "— per-host image/video counts and exact duration sums join the "
    "hash. Per-host entry counts "
    "(XML and text counted separately), loc length sums, "
    "lexicographic max lastmod, priority deciles (verbatim-string "
    "parse, no float surface) and the frontier NEW-url count (canonical "
    "locs LEFT ANTI the captured set — j=0 of every doc is already "
    "captured, so exactly k-1 per urlset survive) all sit under one "
    "hash.",
)
def sitemap_frontier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sitemaps import build_sitemap
    from ..operators.crawl import canonical_url, sitemap_entries

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        h = did % 7
        uri = f"http://s{h}.example/sitemap-{did}.xml"
        gz = did % 3 == 0
        if did % 11 == 0:
            blob = b"<urlset><url><loc>broken"
        elif did % 5 == 0:
            blob = build_sitemap(
                [
                    {"loc": f"http://s{h}.example/sitemap-{did}-{j}.xml"}
                    for j in range(2)
                ],
                kind="sitemapindex",
                gzipped=gz,
            )
        elif did % 5 == 1:
            import gzip as _gz

            k = (did % 9) + 1
            txt = (
                "\n".join(
                    f"http://s{h}.example/p/{did}/{j}"
                    for j in range(k)
                )
                + "\n"
            ).encode("utf-8")
            blob = _gz.compress(txt, 6) if gz else txt
        else:
            k = (did % 9) + 1
            blob = build_sitemap(
                [
                    {
                        "loc": f"http://s{h}.example/p/{did}/{j}",
                        "lastmod": f"2026-01-{(did % 28) + 1:02d}",
                        "changefreq": "daily",
                        "priority": f"0.{did % 10}",
                        # Google media extensions (r15): per
                        # entry, doc_id%3 images and — at
                        # doc_id%4=0 — one video with an
                        # integer duration
                        "images": [
                            f"http://s{h}.example/i/{did}/{j}/{i}"
                            for i in range(did % 3)
                        ],
                        "videos": (
                            [
                                {
                                    "title": f"v{did}",
                                    "duration": 30 + did % 60,
                                }
                            ]
                            if did % 4 == 0
                            else []
                        ),
                    }
                    for j in range(k)
                ],
                gzipped=gz,
            )
        return did, uri, blob

    sm = _fixture_rows(
        docs, make, "archive_id long, target_uri string, content binary"
    )
    ent = sitemap_entries(sm, content_col="content")
    host = F.concat(
        F.lit("s"),
        F.regexp_extract("sitemap_uri", r"//s(\d+)\.example/", 1),
    )
    is_url = (F.col("kind") == "urlset") & F.col("loc").isNotNull()
    is_text = (F.col("kind") == "textlist") & F.col("loc").isNotNull()
    is_child = (F.col("kind") == "sitemapindex") & F.col("loc").isNotNull()
    base = ent.groupBy(host.alias("host")).agg(
        F.sum((~F.col("parse_ok")).cast("int")).cast("long").alias("n_bad"),
        F.sum(is_child.cast("int")).cast("long").alias("n_index_children"),
        F.sum(is_text.cast("int")).cast("long").alias("n_text_entries"),
        F.sum(is_url.cast("int")).cast("long").alias("n_entries"),
        F.sum(F.when(is_url, F.length("loc")).otherwise(0))
        .cast("long")
        .alias("loc_len_sum"),
        F.max(F.when(is_url, F.col("lastmod"))).alias("max_lastmod"),
        F.sum(
            F.when(
                is_url, F.split("priority", r"\.").getItem(1).cast("long")
            ).otherwise(0)
        )
        .cast("long")
        .alias("priority_decile_sum"),
        F.sum(F.when(is_url, F.col("n_images")).otherwise(0))
        .cast("long")
        .alias("n_images_sum"),
        F.sum(F.when(is_url, F.col("n_videos")).otherwise(0))
        .cast("long")
        .alias("n_videos_sum"),
        F.sum(F.when(is_url, F.col("video_duration_sum")).otherwise(0))
        .cast("long")
        .alias("video_duration_sum"),
    )
    captured = docs.select(
        F.format_string(
            "http://s%d.example/p/%d/0", F.col("doc_id") % 7, F.col("doc_id")
        ).alias("url")
    )
    fresh = (
        ent.filter(is_url | is_text)
        .select(host.alias("host"), canonical_url("loc").alias("url"))
        .join(captured, "url", "left_anti")
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_frontier_new"))
    )
    return base.join(fresh, "host", "left").select(
        base["*"],
        F.coalesce("n_frontier_new", F.lit(0)).cast("long").alias(
            "n_frontier_new"
        ),
    )


_CDX_DIFF_ORACLE = """
WITH t AS (
  SELECT doc_id % 4 AS c, LENGTH(doc_id::VARCHAR) AS dd FROM documents
)
SELECT CASE c WHEN 0 THEN 'unchanged' WHEN 1 THEN 'added'
              WHEN 2 THEN 'changed' ELSE 'gone' END AS change,
       COUNT(*) AS n_urls,
       SUM(14 + dd)::BIGINT AS urlkey_len_sum,
       SUM(CASE WHEN c <> 1 THEN 1 ELSE 0 END)::BIGINT AS n_with_old,
       SUM(CASE WHEN c <> 3 THEN 1 ELSE 0 END)::BIGINT AS n_with_new
FROM t GROUP BY 1
"""


@register(
    "cdx_recrawl_diff",
    oracle=_CDX_DIFF_ORACLE,
    doc="Recrawl-delta gate (operators/crawl.py cdx_snapshot_diff; "
    "sources.warc_records payload_digest — md5 of the raw payload, the "
    "WARC-Payload-Digest role): two CDX snapshots are generated per "
    "document by doc_id%4 — present-identical (unchanged), new-only "
    "(added), present-with-mutated-body (changed), old-only (gone) — "
    "and the FULL OUTER urlkey join classifies every capture; the "
    "classification itself pins digest behavior (same payload -> same "
    "digest, one-byte mutation -> different digest) because any digest "
    "defect shifts the class counts. Per-class capture counts, SURT "
    "urlkey length sums and old/new presence counts sit under one "
    "hash. Scale shape: per-snapshot groupBy + one AQE-splittable "
    "content-key equi-join; neither snapshot is broadcast.",
)
def cdx_recrawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..functions.warc import build_warc
    from ..operators.crawl import cdx_index, cdx_snapshot_diff

    docs = _doc_ids(spark, sf_dir)

    def make(batches):
        for pdf in batches:
            rows = []
            for x in pdf["doc_id"]:
                did = int(x)
                c = did % 4
                uri = f"http://s{did % 7}.example/p/{did}"
                body = b"x" * (10 + did % 50)

                def blob(extra: bytes) -> bytes:
                    payload = (
                        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                        + body
                        + extra
                    )
                    return build_warc(
                        [
                            (
                                {
                                    "WARC-Type": "response",
                                    "WARC-Target-URI": uri,
                                    "Content-Type": (
                                        "application/http;msgtype=response"
                                    ),
                                },
                                payload,
                            )
                        ]
                    )

                if c != 1:  # old snapshot capture
                    rows.append((did, "a", blob(b"")))
                if c != 3:  # new snapshot capture, mutated body for c==2
                    rows.append((did, "b", blob(b"!" if c == 2 else b"")))
            yield pd.DataFrame(rows, columns=["archive_id", "snap", "content"])

    media = map_batches(
        docs, make, "archive_id long, snap string, content binary"
    )
    old = cdx_index(media.filter(F.col("snap") == "a"))
    new = cdx_index(media.filter(F.col("snap") == "b"))
    diff = cdx_snapshot_diff(old, new)
    return diff.groupBy("change").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.length("urlkey")).cast("long").alias("urlkey_len_sum"),
        F.sum(F.col("old_digest").isNotNull().cast("int"))
        .cast("long")
        .alias("n_with_old"),
        F.sum(F.col("new_digest").isNotNull().cast("int"))
        .cast("long")
        .alias("n_with_new"),
    )


_DISCOVERY_ORACLE = """
WITH t AS (SELECT doc_id % 7 AS h, (doc_id % 6) + 2 AS k FROM documents)
SELECT 's' || h::VARCHAR || '.example' AS url_host,
  1::BIGINT AS n_sitemaps_discovered,
  SUM(k)::BIGINT AS n_locs,
  SUM(k - 1)::BIGINT AS n_allowed,
  COUNT(*) AS n_blocked,
  (1 + h % 5)::INT AS crawl_delay_s,
  (SUM(k - 1) * (1 + h % 5))::BIGINT AS politeness_wall_s
FROM t GROUP BY h
"""


@register(
    "crawl_discovery_pipeline",
    oracle=_DISCOVERY_ORACLE,
    doc="Crawl DISCOVERY capstone — the seed loop chained end-to-end "
    "inside the engine: WARC captures of per-host robots.txt and "
    "per-doc sitemaps -> robots_sitemaps (Sitemap: discovery lines) + "
    "robots_delays (Crawl-delay politeness intervals) + sitemap_entries "
    "(urlset fan-out) -> with_url_parts -> robots_filter (RFC 9309 "
    "gate: the planted /private/ loc per sitemap is Disallowed, the "
    "rest pass) -> per-host seed accounting including the politeness "
    "wall-clock bound n_allowed * crawl_delay (what a fetch scheduler "
    "actually budgets). Every count is closed-form in doc_id; five "
    "operators from three modules compose under one hash.",
)
def crawl_discovery_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sitemaps import build_sitemap
    from ..functions.warc import build_warc
    from ..operators.crawl import (
        robots_delays,
        robots_filter,
        robots_sitemaps,
        sitemap_entries,
        with_url_parts,
    )
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)

    def http(body: bytes, ctype: str) -> bytes:
        return (
            f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n".encode()
            + body
        )

    def make(did):
        h = did % 7
        recs = []
        if did < 7:
            robots = (
                "User-agent: graft\n"
                "Disallow: /private/\n"
                f"Crawl-delay: {1 + did % 5}\n"
                f"Sitemap: http://s{did}.example/sitemap-index.xml\n"
            ).encode()
            recs.append(
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": (
                            f"http://s{did}.example/robots.txt"
                        ),
                        "Content-Type": (
                            "application/http;msgtype=response"
                        ),
                    },
                    http(robots, "text/plain"),
                )
            )
        k = (did % 6) + 2
        sm = build_sitemap(
            [
                {"loc": f"http://s{h}.example/p/{did}/{j}"}
                for j in range(k - 1)
            ]
            + [{"loc": f"http://s{h}.example/private/{did}"}]
        )
        recs.append(
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": (
                        f"http://s{h}.example/sitemap-{did}.xml"
                    ),
                    "Content-Type": (
                        "application/http;msgtype=response"
                    ),
                },
                http(sm, "application/xml"),
            )
        )
        return did, build_warc(recs)

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media, include_body=True).filter(
        "parse_ok AND warc_type = 'response'"
    )
    # robots + sitemap legs fan out; EAGER at scale (the final join's
    # broadcast-build jobs launch concurrently and race to compute a lazy
    # checkpoint's partitions — see _fixture_scan_small), lazy at bench SFs
    recs = recs.localCheckpoint(eager=not _fixture_scan_small(spark, sf_dir))
    robots_df = recs.filter(
        F.col("target_uri").endswith("/robots.txt")
    ).select(
        F.try_parse_url("target_uri", F.lit("HOST")).alias("url_host"),
        F.col("http_body").alias("content"),
    )
    robots_df = robots_df.localCheckpoint(eager=False)  # 3 consumers
    discovered = robots_sitemaps(robots_df).groupBy("url_host").agg(
        F.count(F.lit(1)).alias("n_sitemaps_discovered")
    )
    delays = robots_delays(robots_df)
    locs = sitemap_entries(
        recs.filter(F.col("target_uri").endswith(".xml")),
        content_col="http_body",
    ).filter(F.col("loc").isNotNull())
    # robots_filter consumes its url table TWICE (distinct decision
    # candidates + the join-back) — checkpoint the XML-parse leg so the
    # per-row sitemap parsing runs once, not twice (measured ~4 s of the
    # sf1 probe before the cut)
    parts = with_url_parts(locs, url_col="loc").localCheckpoint(eager=False)
    gated = robots_filter(parts, robots_df, "graft")
    per_host = gated.groupBy("url_host").agg(
        F.count(F.lit(1)).alias("n_locs"),
        F.sum(F.col("allowed").cast("int")).cast("long").alias("n_allowed"),
        F.sum((~F.col("allowed")).cast("int")).cast("long").alias("n_blocked"),
    )
    return (
        per_host.join(discovered, "url_host")
        .join(delays, "url_host")
        .select(
            "url_host",
            "n_sitemaps_discovered",
            "n_locs",
            "n_allowed",
            "n_blocked",
            "crawl_delay_s",
            (F.col("n_allowed") * F.col("crawl_delay_s"))
            .cast("long")
            .alias("politeness_wall_s"),
        )
    )


_TAR_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, (doc_id % 4) + 1 AS k,
         CASE WHEN doc_id % 13 = 0 THEN 'bad'
              WHEN doc_id % 2 = 1 THEN 'tar.gz' ELSE 'tar' END AS container
  FROM documents
), files AS (
  SELECT d, container, 'file' AS kind,
         (5 + (d + j) % 9)::BIGINT AS size,
         (1700000000 + d % 100)::BIGINT AS mtime
  FROM (SELECT d, container, unnest(range(0, k)) AS j
        FROM t WHERE container <> 'bad')
), links AS (
  SELECT d, container, 'sym' AS kind, 0::BIGINT AS size,
         NULL::BIGINT AS mtime
  FROM t WHERE container <> 'bad'
), bad AS (
  SELECT d, container, NULL::VARCHAR AS kind, NULL::BIGINT AS size,
         NULL::BIGINT AS mtime
  FROM t WHERE container = 'bad'
), r AS (
  SELECT * FROM files UNION ALL SELECT * FROM links
  UNION ALL SELECT * FROM bad
)
SELECT container, COUNT(*) AS n_rows,
  SUM(CASE WHEN kind = 'file' THEN 1 ELSE 0 END)::BIGINT AS n_files,
  SUM(CASE WHEN kind = 'sym' THEN 1 ELSE 0 END)::BIGINT AS n_links,
  SUM(CASE WHEN kind = 'file' THEN size ELSE 0 END)::BIGINT AS size_sum,
  SUM(CASE WHEN kind = 'file' THEN 1 ELSE 0 END)::BIGINT AS n_digest_match,
  MAX(CASE WHEN kind = 'file' THEN mtime END)::BIGINT AS mtime_max
FROM r GROUP BY 1
"""


@register(
    "tar_archive_stats",
    oracle=_TAR_ORACLE,
    doc="TAR container gate (sources.tar_members — the other dump "
    "container beside zip_members and the WARC family; plain tar AND "
    "tar.gz sniffed by stdlib r:*): per doc a tarball of (doc_id%4)+1 "
    "closed-form files plus a symlink and a skipped directory entry, "
    "junk bytes for doc_id%13 = 0 (one parse_ok=false dead-letter "
    "row). member content digests are REPLAYED in-query "
    "(md5(repeat('x', size)) must equal the operator's md5 of the "
    "extracted bytes — a decode defect breaks the match count), and "
    "per-container row/file/link counts, size sums and max mtimes sit "
    "under one hash.",
)
def tar_archive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import tarfile

    from ..sources import tar_members

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        if did % 13 == 0:
            return did, b"not a tar archive at all"
        buf = io.BytesIO()
        mode = "w:gz" if did % 2 == 1 else "w"
        with tarfile.open(fileobj=buf, mode=mode) as tf:
            dirinfo = tarfile.TarInfo("sub")
            dirinfo.type = tarfile.DIRTYPE
            tf.addfile(dirinfo)
            for j in range((did % 4) + 1):
                body = b"x" * (5 + (did + j) % 9)
                info = tarfile.TarInfo(f"f{did}_{j}.txt")
                info.size = len(body)
                info.mtime = 1700000000 + did % 100
                tf.addfile(info, io.BytesIO(body))
            ln = tarfile.TarInfo(f"ln{did}")
            ln.type = tarfile.SYMTYPE
            ln.linkname = f"f{did}_0.txt"
            tf.addfile(ln)
        return did, buf.getvalue()

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = tar_members(media)
    aid = F.col("archive_id")
    container = (
        F.when(aid % 13 == 0, F.lit("bad"))
        .when(aid % 2 == 1, F.lit("tar.gz"))
        .otherwise(F.lit("tar"))
    )
    is_file = F.col("kind") == "file"
    digest_ok = F.col("content_digest") == F.md5(
        F.repeat(F.lit("x"), F.col("size").cast("int")).cast("binary")
    )
    return m.groupBy(container.alias("container")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(is_file, 1).otherwise(0)).cast("long").alias("n_files"),
        F.sum(F.when(F.col("kind") == "sym", 1).otherwise(0))
        .cast("long")
        .alias("n_links"),
        F.sum(F.when(is_file, F.col("size")).otherwise(0))
        .cast("long")
        .alias("size_sum"),
        F.sum(F.when(digest_ok, 1).otherwise(0))
        .cast("long")
        .alias("n_digest_match"),
        F.max(F.when(is_file, F.col("mtime"))).cast("long").alias("mtime_max"),
    )


_RECRAWL_ORACLE = """
WITH t AS (
  SELECT doc_id % 4 AS c, 3600 * (1 + doc_id % 48) AS prior FROM documents
)
SELECT CASE c WHEN 0 THEN 'unchanged' WHEN 1 THEN 'added'
              WHEN 2 THEN 'changed' ELSE 'gone' END AS change,
       COUNT(*) AS n_urls,
       SUM(CASE c
           WHEN 0 THEN LEAST(172800, prior * 2)
           WHEN 1 THEN 86400
           WHEN 2 THEN GREATEST(3600, prior // 2)
           ELSE 0 END)::BIGINT AS interval_sum
FROM t GROUP BY 1
"""


@register(
    "recrawl_schedule_stats",
    oracle=_RECRAWL_ORACLE,
    doc="Adaptive recrawl scheduling gate (operators/crawl.py "
    "recrawl_schedule composed onto cdx_snapshot_diff — the Cho & "
    "Garcia-Molina multiplicative revisit policy closing the recrawl "
    "loop: diff classifies, the scheduler re-times): two expression-"
    "built CDX snapshots plant all four change classes, priors span "
    "1h..48h so BOTH clamps fire (min-floor on halved 1h priors, the "
    "172800s ceiling on doubled >24h priors), added rows take the "
    "default via NULL prior, gone rows retire with NULL interval "
    "(summed as 0 on both engines). Integer floor division throughout "
    "— per-class url counts and interval sums under one hash.",
)
def recrawl_schedule_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import cdx_snapshot_diff, recrawl_schedule
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    urlkey = F.format_string("example,s%d)/p/%d", d % 7, d)
    old = docs.filter(d % 4 != 1).select(
        urlkey.alias("urlkey"),
        F.concat(F.lit("g"), d.cast("string")).alias("digest"),
    )
    new = docs.filter(d % 4 != 3).select(
        urlkey.alias("urlkey"),
        F.concat(
            F.lit("g"),
            d.cast("string"),
            F.when(d % 4 == 2, F.lit("x")).otherwise(F.lit("")),
        ).alias("digest"),
    )
    priors = docs.filter(d % 4 != 1).select(
        urlkey.alias("urlkey"),
        (3600 * (1 + d % 48)).cast("long").alias("prior_interval_s"),
    )
    sched = recrawl_schedule(
        cdx_snapshot_diff(old, new).join(priors, "urlkey", "left"),
    )
    return sched.groupBy("change").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.coalesce("next_interval_s", F.lit(0)))
        .cast("long")
        .alias("interval_sum"),
    )


_RD_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, doc_id % 8 AS m FROM documents
), r AS (
  SELECT m,
    CASE m
      WHEN 0 THEN 's' || (d % 7) || '.example'
      WHEN 1 THEN 'b.co.uk'
      WHEN 2 THEN 'y' || d || '.com'
      WHEN 3 THEN 'w' || d || '.foo.ck'
      WHEN 4 THEN 'www.ck'
      WHEN 5 THEN NULL
      WHEN 6 THEN 'x' || d || '.github.io'
      ELSE 'z' || d || '.unknowntld'
    END AS reg
  FROM t
)
SELECT m::BIGINT AS host_class, COUNT(*) AS n_hosts,
  COUNT(reg) AS n_registered,
  COUNT(DISTINCT reg) AS n_distinct_reg,
  SUM(COALESCE(LENGTH(reg), 0))::BIGINT AS reg_len_sum
FROM r GROUP BY 1
"""


@register(
    "registered_domain_stats",
    oracle=_RD_ORACLE,
    doc="Registered-domain (eTLD+1) gate (operators/crawl.py "
    "registered_domain — the COMPLETE public-suffix-list decision: "
    "exception beats all, else longest rule with wildcards counting "
    "their * label, implicit * fallback, public-suffix-only hosts -> "
    "NULL): doc_id%8 plants one class per rule kind — single-label "
    "suffix, multi-label co.uk, deep subdomain pruning, wildcard *.ck, "
    "the !www.ck exception, a bare suffix (NULL), a multi-label "
    "private suffix (github.io) and an unknown TLD on the implicit "
    "fallback. The oracle states each class's expected eTLD+1 in "
    "closed form, so any precedence defect shifts distinct counts or "
    "length sums. Scale shape: decisions once per DISTINCT host "
    "(in-row candidate explode, broadcast rule join, map-side "
    "max(struct) argmax, join back — the robots_filter shape).",
)
def registered_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import registered_domain
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    host = (
        F.when(d % 8 == 0, F.concat(F.lit("s"), (d % 7).cast("string"), F.lit(".example")))
        .when(d % 8 == 1, F.concat(F.lit("a"), ds, F.lit(".b.co.uk")))
        .when(d % 8 == 2, F.concat(F.lit("deep.x.y"), ds, F.lit(".com")))
        .when(d % 8 == 3, F.concat(F.lit("w"), ds, F.lit(".foo.ck")))
        .when(d % 8 == 4, F.lit("www.ck"))
        .when(d % 8 == 5, F.lit("com"))
        .when(d % 8 == 6, F.concat(F.lit("x"), ds, F.lit(".github.io")))
        .otherwise(F.concat(F.lit("z"), ds, F.lit(".unknowntld")))
    )
    t = docs.select((d % 8).alias("host_class"), host.alias("url_host"))
    out = registered_domain(t)
    return out.groupBy("host_class").agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.count("registered_domain").alias("n_registered"),
        F.countDistinct("registered_domain").alias("n_distinct_reg"),
        F.sum(F.coalesce(F.length("registered_domain"), F.lit(0)))
        .cast("long")
        .alias("reg_len_sum"),
    )


_REVISIT_ORACLE = """
WITH t AS (
  SELECT doc_id % 8 AS shard,
         'http://r.example/' || doc_id AS uri,
         CASE WHEN doc_id % 3 = 0 THEN 'G' || (doc_id % 50)
              ELSE 'U' || doc_id END AS body
  FROM documents
), f AS (
  SELECT body, MIN(uri) AS first_uri FROM t GROUP BY 1
)
SELECT shard::BIGINT AS shard,
  COUNT(*) AS n_records,
  SUM(CASE WHEN uri = first_uri THEN 1 ELSE 0 END)::BIGINT AS n_response,
  SUM(CASE WHEN uri <> first_uri THEN 1 ELSE 0 END)::BIGINT AS n_revisit,
  SUM(CASE WHEN uri = first_uri THEN LENGTH(body) ELSE 0 END)::BIGINT
    AS stored_len_sum
FROM t JOIN f USING (body) GROUP BY 1
"""


@register(
    "warc_revisit_roundtrip",
    oracle=_REVISIT_ORACLE,
    doc="WARC revisit-dedup export gate (operators/crawl.py "
    "warc_revisit_export — the ISO 28500 identical-payload-digest "
    "profile Heritrix/Common Crawl write: first capture stored full, "
    "identical later captures as near-empty revisit records): doc_id%3 "
    "plants ~N/3 captures across 50 shared payload groups (arg-min uri "
    "is the stored copy, a cross-shard reference when the group spans "
    "shards) beside unique payloads; the blobs are RE-INGESTED through "
    "warc_records, so serialization, record typing and payload "
    "truncation all sit under one hash — per-shard record counts, "
    "response/revisit splits and STORED byte sums (the dedup saving "
    "itself) replayed by the oracle's min(uri) window-free groupBy.",
)
def warc_revisit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import warc_revisit_export
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)
    d = F.col("doc_id")
    caps = docs.select(
        (d % 8).alias("shard"),
        F.format_string("http://r.example/%d", d).alias("uri"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("G"), (d % 50).cast("string")),
        )
        .otherwise(F.concat(F.lit("U"), d.cast("string")))
        .cast("binary")
        .alias("payload"),
    )
    wets = warc_revisit_export(caps)
    recs = warc_records(
        wets.select(F.col("shard").alias("archive_id"), F.col("warc").alias("content"))
    )
    return recs.groupBy(F.col("archive_id").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum((F.col("warc_type") == "response").cast("int"))
        .cast("long")
        .alias("n_response"),
        F.sum((F.col("warc_type") == "revisit").cast("int"))
        .cast("long")
        .alias("n_revisit"),
        F.sum(
            F.when(F.col("warc_type") == "response", F.col("payload_len"))
            .otherwise(0)
        )
        .cast("long")
        .alias("stored_len_sum"),
    )


_REVISIT_RESOLVE_ORACLE = """
WITH t AS (
  SELECT doc_id % 8 AS shard,
         CASE WHEN doc_id % 3 = 0 THEN LENGTH('G' || (doc_id % 50))
              ELSE LENGTH('U' || doc_id) END AS blen
  FROM documents
)
SELECT shard::BIGINT AS shard, COUNT(*) AS n_records,
       0::BIGINT AS n_unresolved,
       SUM(blen)::BIGINT AS effective_len_sum
FROM t GROUP BY 1
UNION ALL
SELECT 999::BIGINT, 1::BIGINT, 1::BIGINT, 0::BIGINT
"""


@register(
    "warc_revisit_resolve_stats",
    oracle=_REVISIT_RESOLVE_ORACLE,
    doc="Revisit RESOLUTION gate (operators/crawl.py resolve_revisits — "
    "the read side of the identical-payload-digest dedup: every record "
    "of a deduplicated stream recovers its EFFECTIVE payload length by "
    "joining revisits to the stored copy on the declared "
    "WARC-Payload-Digest header, cross-archive): the "
    "warc_revisit_export fixture round-trips and every capture's "
    "effective length must equal its ORIGINAL body length — per-shard "
    "effective sums are closed-form in doc_id even though most records "
    "store nothing — while a planted shard-999 archive holds one "
    "DANGLING revisit (declared digest never stored) that must surface "
    "as revisit_resolved=false with NULL effective length, never a "
    "fabricated zero.",
)
def warc_revisit_resolve_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import resolve_revisits, warc_revisit_export
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)
    d = F.col("doc_id")
    caps = docs.select(
        (d % 8).alias("shard"),
        F.format_string("http://r.example/%d", d).alias("uri"),
        F.when(d % 3 == 0, F.concat(F.lit("G"), (d % 50).cast("string")))
        .otherwise(F.concat(F.lit("U"), d.cast("string")))
        .cast("binary")
        .alias("payload"),
    )
    wets = warc_revisit_export(caps).select(
        F.col("shard").alias("archive_id"), F.col("warc").alias("content")
    )
    dangling = build_warc(
        [
            (
                {
                    "WARC-Type": "revisit",
                    "WARC-Target-URI": "http://r.example/dangling",
                    "WARC-Payload-Digest": "md5:" + "0" * 32,
                    "WARC-Profile": (
                        "http://netpreserve.org/warc/1.1/"
                        "revisit/identical-payload-digest"
                    ),
                },
                b"",
            )
        ]
    )
    extra = spark.createDataFrame(
        [(999, bytearray(dangling))], "archive_id long, content binary"
    )
    recs = warc_records(wets.unionByName(extra))
    res = resolve_revisits(recs)
    return res.groupBy(F.col("archive_id").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum((~F.col("revisit_resolved")).cast("int"))
        .cast("long")
        .alias("n_unresolved"),
        F.coalesce(F.sum("effective_len"), F.lit(0))
        .cast("long")
        .alias("effective_len_sum"),
    )


_PAIRING_ORACLE = """
WITH t AS (
  SELECT doc_id AS d FROM documents
), resp AS (
  SELECT d,
         CASE WHEN d % 5 <> 0 THEN 'bot-' || (d % 4) ELSE '<none>' END AS ua,
         CASE WHEN d % 5 <> 0 THEN 1 ELSE 0 END AS paired,
         CASE WHEN d % 5 <> 0 THEN 1 ELSE 0 END AS has_ref
  FROM t
)
SELECT ua, COUNT(*) AS n, SUM(paired)::BIGINT AS n_paired,
       SUM(has_ref)::BIGINT AS n_ref
FROM resp GROUP BY 1
UNION ALL
SELECT '<orphan>', COUNT(*), 0::BIGINT, COUNT(*)::BIGINT
FROM t WHERE d % 7 = 0
"""


@register(
    "warc_request_pairing_stats",
    oracle=_PAIRING_ORACLE,
    doc="WARC request/response pairing gate (operators/crawl.py "
    "pair_requests + orphan_requests over sources.warc_records "
    "record_id / concurrent_to / http_user_agent / http_referer — the "
    "last ISO 28500 join surface, §5.7 WARC-Concurrent-To: real "
    "Common Crawl dumps store the request beside its response and "
    "user-agent/referer analytics need the join): every document's "
    "archive holds a response plus, unless doc_id%5==0, a request "
    "naming it (User-Agent bot-(doc_id%4), a Referer header); "
    "doc_id%7==0 plants an ORPHAN request naming a missing response "
    "and doc_id%11==0 a DUPLICATE request with a decoy user-agent "
    "that the deterministic min-struct tie rule must lose — per-agent "
    "response counts, paired/unpaired splits, referer presence and "
    "the orphan census sit under one hash. Scale shape: request side "
    "pre-aggregates per concurrent-to id (map-side combinable), ONE "
    "AQE-splittable equi-join on the record-id content key, LEFT ANTI "
    "for orphans — no content-key window, no corpus broadcast.",
)
def warc_request_pairing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import orphan_requests, pair_requests
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Record-ID": f"<urn:uuid:r{did}>",
                    "WARC-Target-URI": f"http://p.example/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                b"<p>doc %d</p>" % did,
            )
        ]
        if did % 5 != 0:
            recs.append(
                (
                    {
                        "WARC-Type": "request",
                        "WARC-Record-ID": f"<urn:uuid:q{did}>",
                        "WARC-Concurrent-To": f"<urn:uuid:r{did}>",
                        "WARC-Target-URI": f"http://p.example/{did}",
                        "Content-Type": "application/http;msgtype=request",
                    },
                    (
                        f"GET /{did} HTTP/1.1\r\n"
                        f"User-Agent: bot-{did % 4}\r\n"
                        f"Referer: http://ref.example/{did % 6}\r\n"
                        "\r\n"
                    ).encode(),
                )
            )
        if did % 11 == 0 and did % 5 != 0:
            # duplicate request naming the same response: the
            # min-struct (archive, rec_idx) rule keeps the FIRST,
            # so this decoy user-agent must never surface
            recs.append(
                (
                    {
                        "WARC-Type": "request",
                        "WARC-Record-ID": f"<urn:uuid:q{did}dup>",
                        "WARC-Concurrent-To": f"<urn:uuid:r{did}>",
                        "Content-Type": "application/http;msgtype=request",
                    },
                    b"GET / HTTP/1.1\r\nUser-Agent: zz-decoy\r\n\r\n",
                )
            )
        if did % 7 == 0:
            recs.append(
                (
                    {
                        "WARC-Type": "request",
                        "WARC-Record-ID": f"<urn:uuid:o{did}>",
                        "WARC-Concurrent-To": f"<urn:uuid:missing{did}>",
                        "Content-Type": "application/http;msgtype=request",
                    },
                    (
                        "GET /lost HTTP/1.1\r\n"
                        f"User-Agent: ghost-{did % 2}\r\n"
                        f"Referer: http://lost.example/{did}\r\n"
                        "\r\n"
                    ).encode(),
                )
            )
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    # four consumers of the Python parse chain (pair_requests reads recs
    # twice: request min-struct + response join; orphan_requests twice
    # more: response-id set + request anti side) — one checkpoint runs
    # the WARC build + parse ONCE instead of four times
    recs = (
        warc_records(media)
        .filter("parse_ok")
        # EAGER at scale, lazy at bench SFs (_fixture_scan_small: the
        # pairing + orphan legs launch concurrently and race a lazy
        # checkpoint at sf1 — eager 2.03 s vs lazy 2.81 s there; at
        # bench scale lazy won 1.54 vs 1.76)
        .localCheckpoint(eager=not _fixture_scan_small(spark, sf_dir))
    )
    paired = pair_requests(recs)
    per_ua = paired.groupBy(
        F.coalesce("req_user_agent", F.lit("<none>")).alias("ua")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("paired").cast("int")).cast("long").alias("n_paired"),
        F.count("req_referer").cast("long").alias("n_ref"),
    )
    orphans = orphan_requests(recs).agg(
        F.lit("<orphan>").alias("ua"),
        F.count(F.lit(1)).alias("n"),
        F.lit(0).cast("long").alias("n_paired"),
        F.count("http_referer").cast("long").alias("n_ref"),
    )
    return per_ua.unionByName(orphans)


def _crawl_lang_mix_oracle() -> str:
    from .catalog_llm import _LANG_WEIGHTS

    n = len(_LANG_WEIGHTS["en"])
    lookups = ",\n         ".join(
        f"([{', '.join(str(w) for w in _LANG_WEIGHTS[c])}])"
        f"[(rh % {n}) + 1]::BIGINT AS w_{c}"
        for c in sorted(_LANG_WEIGHTS)
    )
    structs = ", ".join(
        f"{{'s': s_{c}, 'c': '{c}'}}" for c in sorted(_LANG_WEIGHTS)
    )
    sums = ", ".join(
        f"SUM(w_{c})::BIGINT AS s_{c}" for c in sorted(_LANG_WEIGHTS)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS d, 1 + doc_id % 3 AS p,
         CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE 'of' END AS mid
  FROM documents
), pg AS (
  SELECT d,
         'Home About Title & Heading ' || d
         || ' seg 0 ' || mid || ' doc ' || d
         || CASE WHEN p >= 2 THEN ' seg 1 ' || mid || ' doc ' || d
                 ELSE '' END
         || CASE WHEN p >= 3 THEN ' seg 2 ' || mid || ' doc ' || d
                 ELSE '' END
         || ' link text ' || d AS text
  FROM t
), tok AS (
  SELECT d, unnest(string_split(text, ' ')) AS tok FROM pg
), rh AS (
  SELECT d,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(range(1, length(tok) + 1),
                            i -> ascii(substr(tok, i, 1))::BIGINT)),
           (a, b) -> (a * 31 + b) % 1000000007
         ) AS rh
  FROM tok
), w AS (
  SELECT d, {lookups} FROM rh
), s AS (
  SELECT d, {sums} FROM w GROUP BY 1
), lbl AS (
  SELECT d, s_de, s_en, s_unk, list_max([{structs}]).c AS label FROM s
)
SELECT label, COUNT(*) AS n_pages,
       SUM(s_de)::BIGINT AS sum_de, SUM(s_en)::BIGINT AS sum_en,
       SUM(s_unk)::BIGINT AS sum_unk
FROM lbl GROUP BY 1
"""


@register(
    "crawl_lang_classifier_mix",
    oracle=_crawl_lang_mix_oracle(),
    doc="Crawl language-gating composition, MODEL-based: WARC ingest -> "
    "HTML extraction -> llmprep.hashed_multiclass_scores (the fastText "
    "lid.176 shape replacing the text.predict_lang heuristic of "
    "crawl_quality_mix — the CCNet triage step as production pipelines "
    "actually run it) -> per-label corpus accounting. The oracle "
    "RECONSTRUCTS every page's extracted text closed-form from doc_id "
    "(the _fixture_html contract: nav anchors, entity-decoded heading, "
    "1+doc_id%3 paragraphs with the doc_id%7=0 same-length stopword "
    "swap, trailing link text) and replays tokenization, the rolling "
    "token hash, all three weight lookups and the max-of-struct argmax "
    "— extraction, whitespace normalization AND the classifier sit "
    "under one hash. Scale shape: the lang_classifier_gate plan over "
    "extracted pages (one explode, let-bound single hash per token, "
    "one integer aggregation on the page id).",
)
def crawl_lang_classifier_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import html_extract
    from ..operators.llmprep import hashed_multiclass_scores
    from ..sources import warc_records
    from .catalog_llm import _LANG_WEIGHTS

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        html = _fixture_html(did, did, stopword=did % 7 != 0).encode()
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://q.example/{did}",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html,
            )
        ]
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    recs = warc_records(media, include_body=True).filter(
        "parse_ok AND warc_type = 'response'"
    )
    pages = html_extract(recs).select(
        F.col("archive_id").alias("doc_id"),
        F.translate(F.col("page.text"), "\n", " ").alias("text"),
    )
    scored = hashed_multiclass_scores(pages, _LANG_WEIGHTS)
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("score_de").cast("long").alias("sum_de"),
        F.sum("score_en").cast("long").alias("sum_en"),
        F.sum("score_unk").cast("long").alias("sum_unk"),
    )


_SEGMENT_ORACLE = """
WITH t AS (
  SELECT doc_id AS did, 2 + doc_id % 3 AS k FROM documents
), built AS (
  SELECT did, k,
         'p0:doc ' || did || ' ' || 'p1:doc ' || did || ' '
         || CASE WHEN k >= 3 THEN 'p2:doc ' || did || ' ' ELSE '' END
         || CASE WHEN k >= 4 THEN 'p3:doc ' || did || ' ' ELSE '' END
           AS fullp
  FROM t
), seg AS (
  SELECT did, 'seg' AS kind,
         CASE WHEN did % 5 = 0 OR did % 7 = 0 THEN 'incomplete'
              ELSE 'reassembled' END AS segment_status,
         CASE WHEN did % 5 = 0 THEN k - 1 ELSE k END AS n_segments,
         CASE WHEN did % 5 = 0 OR did % 7 = 0 THEN NULL
              ELSE LENGTH(fullp) END AS full_len,
         CASE WHEN did % 5 = 0 OR did % 7 = 0 THEN NULL
              ELSE md5(fullp) END AS full_md5
  FROM built
), plain AS (
  SELECT did, 'plain', 'unsegmented', 1,
         LENGTH('u:doc ' || did), md5('u:doc ' || did)
  FROM t
)
SELECT did::BIGINT AS doc_id, kind, segment_status,
       n_segments::INT AS n_segments, full_len::BIGINT AS full_len,
       full_md5
FROM (SELECT * FROM seg UNION ALL SELECT * FROM plain)
"""


@register(
    "warc_segment_reassembly",
    oracle=_SEGMENT_ORACLE,
    doc="WARC record-segmentation gate (operators/crawl.py "
    "reassemble_segments over sources.warc_records "
    "include_payload/segment_* — ISO 28500 §5.18-5.20, the wire form "
    "of records too large for one file, the final ISO 28500 surface): "
    "every document's archive holds one unsegmented response (the "
    "pass-through leg) and one record split into 2+doc_id%3 segments; "
    "doc_id%5==0 drops the first continuation (a GAP — and for 2-part "
    "records the declared total with it), doc_id%7==0 declares a wrong "
    "total, doc_id%11==0 plants an orphan continuation that must not "
    "surface as a logical record, and a duplicate decoy segment "
    "exercises the min-struct tie rule; per-record status, segment "
    "counts, reassembled lengths AND md5s of the exact reassembled "
    "bytes sit under one hash. Scale shape: per-origin map-side "
    "collect of (number, payload) structs bounded by one record's "
    "segment count, ONE AQE-splittable equi-join, in-row binary fold "
    "— no content-key window, no corpus broadcast.",
)
def warc_segment_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.warc import build_warc
    from ..operators.crawl import reassemble_segments
    from ..sources import warc_records

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        k = 2 + did % 3
        parts = [f"p{j}:doc {did} ".encode() for j in range(k)]
        total = sum(len(p) for p in parts)
        if did % 7 == 0:
            total += 1  # wrong declared total: length mismatch
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Record-ID": f"<urn:plain{did}>",
                    "Content-Type": "application/http",
                },
                f"u:doc {did}".encode(),
            ),
            (
                {
                    "WARC-Type": "response",
                    "WARC-Record-ID": f"<urn:seg{did}>",
                    "WARC-Segment-Number": "1",
                },
                parts[0],
            ),
        ]
        for j in range(1, k):
            if did % 5 == 0 and j == 1:
                continue  # gap: first continuation dropped
            h = {
                "WARC-Type": "continuation",
                "WARC-Record-ID": f"<urn:seg{did}c{j}>",
                "WARC-Segment-Origin-ID": f"<urn:seg{did}>",
                "WARC-Segment-Number": str(j + 1),
            }
            if j == k - 1:
                h["WARC-Segment-Total-Length"] = str(total)
            recs.append((h, parts[j]))
        # duplicate decoy for segment 2 (lexicographically larger
        # than any real part: must lose the min-struct tie)
        if did % 5 != 0:
            recs.append(
                (
                    {
                        "WARC-Type": "continuation",
                        "WARC-Segment-Origin-ID": f"<urn:seg{did}>",
                        "WARC-Segment-Number": "2",
                    },
                    b"zz-decoy",
                )
            )
        if did % 11 == 0:
            recs.append(
                (
                    {
                        "WARC-Type": "continuation",
                        "WARC-Record-ID": f"<urn:orph{did}>",
                        "WARC-Segment-Origin-ID": "<urn:nowhere>",
                        "WARC-Segment-Number": "2",
                        "WARC-Segment-Total-Length": "4",
                    },
                    b"NN",
                )
            )
        return did, build_warc(recs, gzip_members=bool(did % 2))

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    rows = warc_records(media, include_payload=True).filter("parse_ok")
    out = reassemble_segments(rows)
    return out.select(
        F.col("archive_id").alias("doc_id"),
        F.when(F.col("segment_status") == "unsegmented", F.lit("plain"))
        .otherwise(F.lit("seg"))
        .alias("kind"),
        "segment_status",
        F.col("n_segments").cast("int").alias("n_segments"),
        F.length("full_payload").cast("long").alias("full_len"),
        F.md5("full_payload").alias("full_md5"),
    )


_PDF_LINK_EDGES = """
  SELECT DISTINCT (doc_id % 7)::BIGINT AS u,
         ((3 * doc_id + 1) % 7)::BIGINT AS v
  FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 7 <> (3 * doc_id + 1) % 7
  UNION
  SELECT DISTINCT (doc_id % 7)::BIGINT, ((5 * doc_id + 2) % 7)::BIGINT
  FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 7 <> (5 * doc_id + 2) % 7
  UNION
  SELECT DISTINCT (doc_id % 7)::BIGINT, ((3 * doc_id + 2) % 7)::BIGINT
  FROM documents
  WHERE doc_id % 2 = 1 AND doc_id % 7 <> (3 * doc_id + 2) % 7
  UNION
  SELECT DISTINCT (doc_id % 7)::BIGINT, ((5 * doc_id + 4) % 7)::BIGINT
  FROM documents
  WHERE doc_id % 2 = 1 AND doc_id % 7 <> (5 * doc_id + 4) % 7"""


@register(
    "pdf_link_pagerank",
    oracle=_link_pagerank_oracle(edges_cte=_PDF_LINK_EDGES),
    doc="Mixed HTML+PDF link-graph capstone (the crawl_link_pagerank "
    "pattern with PDF legs — before this round /Annots URI actions "
    "never fed the graph, so any corpus with PDF mass undercounted): "
    "even doc_ids are HTML pages whose anchors carry one self link "
    "(must DROP as a self-edge), one absolute href and one protocol-"
    "relative href; odd doc_ids are REAL PDFs (functions/pdf.build_pdf "
    "with /Annots /URI link annotations) whose outlinks use DIFFERENT "
    "edge arithmetic — silently dropping the PDF legs changes the "
    "distinct edge set and every PageRank integer. Both kinds route "
    "through ONE operator (crawl.document_extract, Content-Type header "
    "for HTML, %PDF- sniff for the headerless PDFs), links explode "
    "from the new unified links field, resolve (crawl.resolved_url_col "
    "JVM fast path), canonicalize, parse to hosts, and feed "
    "graphs.pagerank_integer (3 iterations, damping 17/20 in scaled-"
    "long floor division). The oracle re-derives both edge families "
    "from doc_id arithmetic and replays the identical unrolled integer "
    "iterations.",
)
def pdf_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.pdf import build_pdf
    from ..operators.crawl import (
        canonical_url,
        document_extract,
        resolved_url_col,
        with_url_parts,
    )
    from ..operators.graphs import pagerank_integer

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        uri = f"http://s{did % 7}.example/p/{did}"
        if did % 2 == 0:
            body = (
                "<html><body>"
                '<a href="/self">me</a> '
                f'<a href="http://s{(3 * did + 1) % 7}.example'
                f'/p/{did}">x</a> '
                f'<a href="//s{(5 * did + 2) % 7}.example'
                f'/q/{did}?b=2&a=1#f">y</a>'
                "</body></html>"
            ).encode()
            ctype = "text/html; charset=utf-8"
        else:
            body = build_pdf(
                [[f"pdf doc {did}"]],
                links=[
                    [
                        "/self",
                        f"http://s{(3 * did + 2) % 7}.example"
                        f"/p/{did}",
                        f"//s{(5 * did + 4) % 7}.example"
                        f"/q/{did}?b=2&a=1#f",
                    ]
                ],
            )
            ctype = None  # the %PDF- sniff must route it
        return did, uri, body, ctype

    media = _fixture_rows(
        docs, make,
        "doc_id long, target_uri string, http_body binary, ctype string",
    )
    extracted = document_extract(media, content_type_col="ctype")
    links = extracted.select(
        "target_uri", F.explode("doc.links").alias("href")
    ).withColumn(
        "resolved_url",
        resolved_url_col(F.col("target_uri"), F.col("href")),
    )
    canon = links.withColumn("canon", canonical_url("resolved_url"))
    hosts = with_url_parts(
        with_url_parts(canon, url_col="target_uri", prefix="src_"),
        url_col="canon",
        prefix="dst_",
    )
    host_id = lambda c: F.regexp_extract(  # noqa: E731
        F.col(c), r"^s(\d+)\.example$", 1
    ).cast("long")
    edges = (
        hosts.select(
            host_id("src_host").alias("u"), host_id("dst_host").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # The bounded host-edge list is consumed by BOTH pagerank_integer and
    # the out-degree aggregate below; without the cut the Python extract
    # chain above physically re-evaluates for each (r16 profile: two
    # ~35 s-task-time 32-task stages per run). Consumers differ, so the
    # checkpoint pays (robots_filter precedent) — and it is kilobytes.
    edges = edges.localCheckpoint(eager=False)
    ranks = pagerank_integer(edges, iters=_LINK_PR_ITERS)
    outd = edges.groupBy("u").agg(
        F.countDistinct("v").cast("long").alias("out_hosts")
    )
    return (
        ranks.join(outd, ranks.node == outd.u)
        .select(
            F.concat(
                F.lit("s"), F.col("node").cast("string"), F.lit(".example")
            ).alias("host"),
            "pr",
            "out_hosts",
        )
        .orderBy(F.col("pr").desc(), "host")
    )


_MP4_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, 1 + doc_id % 4 AS s FROM documents
), v AS (
  SELECT CASE WHEN d % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS codec,
         160 + 16 * (d % 5) AS w, 96 + 16 * (d % 3) AS h,
         24 * s AS ns, 1000 * s AS ms,
         CASE WHEN d % 3 = 0 THEN 2 ELSE 1 END AS ntr,
         CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END AS mp42
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'mp4a', 0, 0, 8000 * s, 1000 * s, 2,
         CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END
  FROM t WHERE d % 13 <> 0 AND d % 3 = 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL, NULL
  FROM t WHERE d % 13 = 0
)
SELECT codec, COUNT(*) AS n_rows,
       SUM(w)::BIGINT AS width_sum, SUM(h)::BIGINT AS height_sum,
       SUM(ns)::BIGINT AS samples_sum,
       SUM(ms)::BIGINT AS duration_ms_sum,
       SUM(ntr)::BIGINT AS tracks_sum,
       SUM(mp42)::BIGINT AS n_mp42
FROM v GROUP BY 1
"""


@register(
    "mp4_container_stats",
    oracle=_MP4_ORACLE,
    doc="MP4/ISO-BMFF container gate (functions/mp4.parse_mp4 + "
    "sources.mp4_tracks — the dominant web video container, whose "
    "payloads previously dead-lettered out of media inventories; "
    "metadata only, sample decode stays guarded per the codec-gate "
    "discipline): every document becomes a skeleton MP4 whose box "
    "values are arithmetic in doc_id — codec fourcc by parity "
    "(avc1/hev1 + an mp4a audio track at doc_id%3=0), 16.16 "
    "fixed-point tkhd dims, stts frame counts (24 fps x seconds), "
    "exact integer-floor duration_ms from BOTH timescale pairs (600 "
    "video / 8000 audio media ticks, 1000 movie ticks), major_brand "
    "mp42 at doc_id%5=0 — while doc_id%7=0 writes the 64-bit v1 "
    "mvhd/tkhd/mdhd layouts and doc_id%11=0 a largesize mdat (parser "
    "axes that must not move any value). doc_id%13=0 plants junk "
    "bytes -> one parse_ok=false dead-letter row. Per-codec counts, "
    "dim/sample/duration sums, per-row track counts and brand counts "
    "sit under one hash.",
)
def mp4_container_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mp4 import build_mp4
    from ..sources import mp4_tracks
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not an mp4 file"
        return (
            did,
            build_mp4(
                1 + did % 4,
                video=(
                    "avc1" if did % 2 == 0 else "hev1",
                    160 + 16 * (did % 5),
                    96 + 16 * (did % 3),
                    24,
                ),
                audio=("mp4a", 8000) if did % 3 == 0 else None,
                brand="mp42" if did % 5 == 0 else "isom",
                version1=did % 7 == 0,
                large_mdat=did % 11 == 0,
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = mp4_tracks(media)
    codec = F.coalesce(
        F.col("codec"),
        F.when(F.col("parse_ok"), F.lit("none")).otherwise(F.lit("dead")),
    )
    return m.groupBy(codec.alias("codec")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("width").cast("long").alias("width_sum"),
        F.sum("height").cast("long").alias("height_sum"),
        F.sum("n_samples").cast("long").alias("samples_sum"),
        F.sum("duration_ms").cast("long").alias("duration_ms_sum"),
        F.sum("n_tracks").cast("long").alias("tracks_sum"),
        F.sum((F.col("major_brand") == "mp42").cast("int"))
        .cast("long")
        .alias("n_mp42"),
    )


_WEBP_ORACLE = """
WITH t AS (
  SELECT doc_id AS d FROM documents
), v AS (
  SELECT CASE d % 3 WHEN 0 THEN 'VP8' WHEN 1 THEN 'VP8L' ELSE 'VP8X' END
           AS format,
         32 + (d % 9) * 16 AS w, 16 + (d % 5) * 16 AS h,
         CASE WHEN d % 3 <> 0 AND d % 2 = 1 THEN 1 ELSE 0 END AS alpha,
         CASE WHEN d % 3 = 2 AND d % 4 = 0 THEN 1 ELSE 0 END AS anim,
         CASE WHEN d % 3 = 2 AND d % 4 = 0 THEN 1 + (d % 5) % 3
              ELSE 1 END AS nf,
         CASE WHEN d % 3 = 2 AND d % 4 = 0 THEN
           30 * ((1 + (d % 5) % 3) * (1 + d % 7)
                 + ((1 + (d % 5) % 3) * ((d % 5) % 3)) // 2)
         ELSE 0 END AS dur,
         CASE WHEN d % 3 = 2 AND d % 5 = 0 THEN 1 ELSE 0 END AS exif,
         CASE WHEN d % 3 = 2 AND d % 7 = 0 THEN 1 ELSE 0 END AS icc
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
  FROM t WHERE d % 13 = 0
)
SELECT format, COUNT(*) AS n_files,
       SUM(w)::BIGINT AS width_sum, SUM(h)::BIGINT AS height_sum,
       SUM(alpha)::BIGINT AS n_alpha, SUM(anim)::BIGINT AS n_anim,
       SUM(nf)::BIGINT AS frames_sum,
       SUM(dur)::BIGINT AS duration_ms_sum,
       SUM(exif)::BIGINT AS n_exif,
       SUM(icc)::BIGINT AS n_icc
FROM v GROUP BY 1
"""


@register(
    "webp_container_stats",
    oracle=_WEBP_ORACLE,
    doc="WebP container gate (functions/webp.parse_webp + "
    "sources.webp_meta — the dominant post-JPEG image format on "
    "modern crawls, previously dead-lettering with no census row; "
    "metadata only, VP8/VP8L pixel decode stays guarded per the "
    "codec-gate discipline): every document becomes a skeleton WebP "
    "whose header values are arithmetic in doc_id — the three "
    "profiles by doc_id%3 (lossy VP8 frame-tag + start-code + 14-bit "
    "dims, lossless VP8L LSB-first packed dims + alpha bit, extended "
    "VP8X 24-bit canvas + feature flags), ANIM/ANMF animation at "
    "doc_id%4=0 with per-frame 24-bit durations whose exact integer "
    "sum replays in SQL, EXIF-flag presence at doc_id%5=0, "
    "ICCP chunk + flag at "
    "doc_id%7=0 (r15 — has_icc was parsed from the VP8X flags but "
    "dropped by the source schema, the r14 advisor finding). "
    "doc_id%13=0 plants junk -> one parse_ok=false dead-letter row. "
    "Per-format counts, dim sums, alpha/animation/EXIF/ICC counts, "
    "frame and duration sums sit under one hash.",
)
def webp_container_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.webp import build_webp
    from ..sources import webp_meta
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not a webp file"
        fmt = ("VP8", "VP8L", "VP8X")[did % 3]
        n = 1 + (did % 5) % 3
        frames = (
            [30 * (i + 1 + did % 7) for i in range(n)]
            if fmt == "VP8X" and did % 4 == 0
            else None
        )
        return (
            did,
            build_webp(
                32 + (did % 9) * 16,
                16 + (did % 5) * 16,
                fmt,
                alpha=fmt != "VP8" and did % 2 == 1,
                frames=frames,
                exif=(
                    b"Exif\x00\x00fixture"
                    if fmt == "VP8X" and did % 5 == 0
                    else None
                ),
                icc=(
                    b"fixture-icc-profile"
                    if fmt == "VP8X" and did % 7 == 0
                    else None
                ),
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = webp_meta(media)
    fmt = F.coalesce(F.col("format"), F.lit("dead"))
    return m.groupBy(fmt.alias("format")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("width").cast("long").alias("width_sum"),
        F.sum("height").cast("long").alias("height_sum"),
        F.sum(F.col("has_alpha").cast("int")).cast("long").alias("n_alpha"),
        F.sum(F.col("is_animated").cast("int")).cast("long").alias("n_anim"),
        F.sum("n_frames").cast("long").alias("frames_sum"),
        F.sum("duration_ms").cast("long").alias("duration_ms_sum"),
        F.sum(F.col("has_exif").cast("int")).cast("long").alias("n_exif"),
        F.sum(F.col("has_icc").cast("int")).cast("long").alias("n_icc"),
    )


_BMFF_IMAGE_ORACLE = """
WITH t AS (
  SELECT doc_id AS d FROM documents
), v AS (
  SELECT CASE WHEN d % 2 = 0 THEN 'avif' ELSE 'heic' END AS brand,
         64 + 8 * (d % 7) AS w, 48 + 8 * (d % 4) AS h,
         1 + CASE WHEN d % 3 = 0 THEN 1 ELSE 0 END
           + CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END AS items,
         CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END AS exif
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL FROM t WHERE d % 13 = 0
)
SELECT brand, COUNT(*) AS n_files,
       SUM(w)::BIGINT AS width_sum, SUM(h)::BIGINT AS height_sum,
       SUM(items)::BIGINT AS items_sum, SUM(exif)::BIGINT AS n_exif
FROM v GROUP BY 1
"""


@register(
    "avif_container_stats",
    oracle=_BMFF_IMAGE_ORACLE,
    doc="AVIF/HEIC image-container gate (functions/mp4.parse_bmff_image "
    "+ sources.bmff_image_meta — the modern-web still-image siblings "
    "of MP4, ISO/IEC 23008-12 item structure over the same box "
    "grammar; AV1/HEVC item decode stays guarded): every document "
    "becomes a skeleton container whose values are arithmetic in "
    "doc_id — brand/codec by parity (avif/av01 vs heic/hvc1), ispe "
    "dims, an ALPHA auxiliary item at doc_id%3=0 whose own half-size "
    "ispe is listed FIRST in ipco (a reader that grabs the first ispe "
    "instead of following pitm->ipma reports wrong dims — the planted "
    "trap), an Exif item at doc_id%5=0, and the 32-bit v1 "
    "pitm/infe/ipma layouts at doc_id%7=0 (an axis that must not move "
    "any value). doc_id%13=0 plants junk -> one parse_ok=false row. "
    "Per-brand counts, dim sums, item counts and Exif counts sit "
    "under one hash.",
)
def avif_container_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mp4 import build_bmff_image
    from ..sources import bmff_image_meta
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not a bmff image"
        return (
            did,
            build_bmff_image(
                64 + 8 * (did % 7),
                48 + 8 * (did % 4),
                brand="avif" if did % 2 == 0 else "heic",
                codec="av01" if did % 2 == 0 else "hvc1",
                with_alpha=did % 3 == 0,
                with_exif=did % 5 == 0,
                version1=did % 7 == 0,
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = bmff_image_meta(media)
    brand = F.coalesce(F.col("major_brand"), F.lit("dead"))
    return m.groupBy(brand.alias("brand")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("width").cast("long").alias("width_sum"),
        F.sum("height").cast("long").alias("height_sum"),
        F.sum("n_items").cast("long").alias("items_sum"),
        F.sum(F.col("has_exif").cast("int")).cast("long").alias("n_exif"),
    )


_FEED_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd,
         1 + doc_id % 4 AS n
  FROM documents
), v AS (
  SELECT CASE WHEN d % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
         n, n * (25 + dd) AS ll, n * (7 + dd) AS tl,
         (n + 1) // 2 AS pub, 1 + (n - 1) // 3 AS wid
  FROM t WHERE d % 13 <> 0
  UNION ALL
  -- dead rows: the Spark side's null-count sums read 0 (a SUM of cast
  -- booleans never goes NULL) while the length sums stay NULL
  SELECT 'dead', 0, NULL, NULL, 0, 0 FROM t WHERE d % 13 = 0
)
SELECT kind, COUNT(*) AS n_feeds, SUM(n)::BIGINT AS n_entries,
       SUM(ll)::BIGINT AS link_len_sum, SUM(tl)::BIGINT AS title_len_sum,
       SUM(pub)::BIGINT AS n_published, SUM(wid)::BIGINT AS n_with_id
FROM v GROUP BY 1
"""


@register(
    "feed_frontier_stats",
    oracle=_FEED_ORACLE,
    doc="RSS/Atom feed ingest gate (functions/feeds.parse_feed + "
    "operators/crawl.feed_entries — the frontier's OTHER seed source "
    "beside sitemap_frontier_stats: recency crawls discover new URLs "
    "from feeds between sitemap refreshes): every document becomes a "
    "closed-form feed — RSS 2.0 channel/item for even doc_ids, Atom "
    "feed/entry (link from the href ATTRIBUTE, rel-alternate rule) for "
    "odd — with 1 + doc_id%4 entries whose link/title lengths are "
    "arithmetic in the doc_id digit count, pubDate/published on even "
    "entry indices, guid/id on every third, and the whole document "
    "gzipped at doc_id%5=0 (the .xml.gz wire form, value-neutral "
    "axis). doc_id%13=0 plants junk -> one parse_ok=false dead-letter "
    "row. Per-kind feed/entry counts, link/title length sums, "
    "published and id counts sit under one hash.",
)
def feed_frontier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.feeds import build_feed
    from ..operators.crawl import feed_entries
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        uri = f"http://s{did % 7}.example/feed.xml?id={did}"
        if did % 13 == 0:
            return did, uri, b"junk bytes, not a feed"
        n = 1 + did % 4
        entries = [
            {
                "link": (
                    f"http://s{(3 * did + j) % 7}.example"
                    f"/feed/{did}/{j}"
                ),
                "title": f"item {did} {j}",
                "published": (
                    f"2024-01-0{1 + j % 7}" if j % 2 == 0 else None
                ),
                "id": f"id-{did}-{j}" if j % 3 == 0 else None,
            }
            for j in range(n)
        ]
        return (
            did,
            uri,
            build_feed(
                entries,
                kind="rss" if did % 2 == 0 else "atom",
                title=f"feed {did}",
                gzipped=did % 5 == 0,
            ),
        )

    media = _fixture_rows(
        docs, make, "doc_id long, target_uri string, http_body binary"
    )
    m = feed_entries(media)
    kind = F.coalesce(F.col("kind"), F.lit("dead"))
    return m.groupBy(kind.alias("kind")).agg(
        F.countDistinct("feed_uri").alias("n_feeds"),
        F.sum(F.col("link").isNotNull().cast("int"))
        .cast("long")
        .alias("n_entries"),
        F.sum(F.length("link")).cast("long").alias("link_len_sum"),
        F.sum(F.length("title")).cast("long").alias("title_len_sum"),
        F.sum(F.col("published").isNotNull().cast("int"))
        .cast("long")
        .alias("n_published"),
        F.sum(F.col("entry_id").isNotNull().cast("int"))
        .cast("long")
        .alias("n_with_id"),
    )


_ROBOTS_META_ORACLE = """
WITH t AS (
  SELECT doc_id AS d FROM documents
), v AS (
  SELECT CASE d % 4 WHEN 0 THEN 'both' WHEN 1 THEN 'none'
              WHEN 2 THEN 'noarchive' ELSE 'absent' END AS directive,
         1 AS ok,
         CASE WHEN d % 4 IN (0, 1) THEN 1 ELSE 0 END AS noidx,
         CASE WHEN d % 4 IN (0, 1) THEN 0 ELSE 1 END AS kept,
         3 AS links, 2 AS nf_links,
         CASE WHEN d % 4 IN (0, 1) THEN 0 ELSE 1 END AS edges
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', 0, 0, 0, 0, 0, 0 FROM t WHERE d % 13 = 0
)
SELECT directive, COUNT(*) AS n_pages, SUM(ok)::BIGINT AS n_ok,
       SUM(noidx)::BIGINT AS n_noindex, SUM(kept)::BIGINT AS n_kept,
       SUM(links)::BIGINT AS n_links,
       SUM(nf_links)::BIGINT AS n_nofollow_links,
       SUM(edges)::BIGINT AS n_frontier_edges
FROM v GROUP BY 1
"""


@register(
    "robots_meta_gate",
    oracle=_ROBOTS_META_ORACLE,
    doc="In-page robots-directive gate (functions/html.parse_html "
    "robots tokens + per-link rel flags, crawl.html_extract "
    "noindex/nofollow booleans, crawl.page_links link_nofollow — the "
    "opt-outs a C4-style corpus filter and a link graph must honor "
    "beside robots.txt: pages declaring noindex leave the corpus, "
    "meta-nofollow pages and rel-nofollow/ugc/sponsored anchors leave "
    "the frontier): doc_id%4 plants 'noindex, nofollow' / 'none' "
    "(which implies both) / a harmless 'noarchive' / no meta at all; "
    "every page carries one plain anchor, one rel=nofollow and one "
    "rel='ugc sponsored'. doc_id%13=0 plants an undecodable body -> "
    "one html_ok=false dead-letter row. Per-directive page counts, "
    "noindex/corpus-kept counts, link and nofollow-link counts, and "
    "the follow-able frontier-edge count sit under one hash.",
)
def robots_meta_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import html_extract, page_links

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        uri = f"http://s{did % 7}.example/p/{did}"
        if did % 13 == 0:
            return did, uri, None
        meta = (
            '<meta name="robots" content="noindex, nofollow">'
            if did % 4 == 0
            else '<meta name="robots" content="none">'
            if did % 4 == 1
            else '<meta name="robots" content="noarchive">'
            if did % 4 == 2
            else ""
        )
        html = (
            f"<html><head>{meta}</head><body>"
            f'<a href="/a/{did}">a</a> '
            f'<a href="/b/{did}" rel="nofollow">b</a> '
            f'<a href="/c/{did}" rel="ugc sponsored">c</a>'
            "</body></html>"
        )
        return did, uri, html

    media = _fixture_rows(
        docs, make, "doc_id long, target_uri string, html string"
    )
    pages = html_extract(media, html_col="html")
    d = F.col("doc_id")
    directive = (
        F.when(~F.col("page.html_ok"), F.lit("dead"))
        .when(d % 4 == 0, F.lit("both"))
        .when(d % 4 == 1, F.lit("none"))
        .when(d % 4 == 2, F.lit("noarchive"))
        .otherwise(F.lit("absent"))
    )
    page_stats = pages.groupBy(directive.alias("directive")).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.col("page.html_ok").cast("int")).cast("long").alias("n_ok"),
        F.sum(F.coalesce(F.col("page.noindex"), F.lit(False)).cast("int"))
        .cast("long")
        .alias("n_noindex"),
        F.sum(
            (F.col("page.html_ok") & ~F.col("page.noindex")).cast("int")
        )
        .cast("long")
        .alias("n_kept"),
    )
    links = page_links(pages)
    link_stats = links.groupBy(directive.alias("directive")).agg(
        F.count(F.lit(1)).alias("n_links"),
        F.sum(F.col("link_nofollow").cast("int"))
        .cast("long")
        .alias("n_nofollow_links"),
        F.sum(
            (~F.col("link_nofollow") & ~F.col("page.nofollow")).cast("int")
        )
        .cast("long")
        .alias("n_frontier_edges"),
    )
    return page_stats.join(link_stats, "directive", "left").select(
        "directive", "n_pages", "n_ok", "n_noindex", "n_kept",
        F.coalesce("n_links", F.lit(0)).alias("n_links"),
        F.coalesce("n_nofollow_links", F.lit(0)).alias("n_nofollow_links"),
        F.coalesce("n_frontier_edges", F.lit(0)).alias("n_frontier_edges"),
    )


_FMP4_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, 1 + doc_id % 4 AS s, 1 + doc_id % 3 AS nf
  FROM documents
), v AS (
  SELECT CASE WHEN d % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS codec,
         nf, 4 * nf * (nf + 1) + nf * (d % 5) AS fs, 24 * s AS ms
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL FROM t WHERE d % 13 = 0
)
SELECT codec, COUNT(*) AS n_files,
       SUM(nf)::BIGINT AS fragments_sum,
       SUM(fs)::BIGINT AS frag_samples_sum,
       SUM(ms)::BIGINT AS moov_samples_sum
FROM v GROUP BY 1
"""


@register(
    "fmp4_fragment_stats",
    oracle=_FMP4_ORACLE,
    doc="Fragmented-MP4 gate (functions/mp4.parse_mp4 moof/traf/trun "
    "walk via sources.mp4_tracks — the fMP4/CMAF profile every "
    "DASH/HLS stream ships, where samples live in top-level movie "
    "fragments instead of the moov sample tables): every document "
    "becomes a skeleton stream with 1 + doc_id%3 moof+mdat pairs whose "
    "per-fragment trun sample counts are arithmetic in doc_id (sum = "
    "4*nf*(nf+1) + nf*(doc_id%5), exact), alongside the moov-side "
    "stts counts — so a reader that only knows the progressive profile "
    "reports zero fragment samples and fails the hash. doc_id%13=0 "
    "plants junk -> one parse_ok=false dead-letter row. Per-codec file "
    "counts, fragment counts, fragment-sample and moov-sample sums sit "
    "under one hash.",
)
def fmp4_fragment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mp4 import build_mp4
    from ..sources import mp4_tracks
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not an mp4"
        nf = 1 + did % 3
        return (
            did,
            build_mp4(
                1 + did % 4,
                video=(
                    "avc1" if did % 2 == 0 else "hev1",
                    320, 240, 24,
                ),
                fragments=[
                    8 * (j + 1) + did % 5 for j in range(nf)
                ],
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = mp4_tracks(media)
    codec = F.coalesce(
        F.col("codec"),
        F.when(F.col("parse_ok"), F.lit("none")).otherwise(F.lit("dead")),
    )
    return m.groupBy(codec.alias("codec")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_fragments").cast("long").alias("fragments_sum"),
        F.sum("fragment_samples").cast("long").alias("frag_samples_sum"),
        F.sum("n_samples").cast("long").alias("moov_samples_sum"),
    )


_CANONICAL_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd FROM documents
), v AS (
  SELECT CASE WHEN d % 2 = 0 THEN 'absolute' ELSE 'relative' END AS kind,
         CASE WHEN d % 2 = 0 THEN 'c' || (d // 4)::VARCHAR
              ELSE 'r' || d::VARCHAR END AS grp,
         CASE WHEN d % 3 = 0 THEN 10 + dd
              WHEN d % 5 = 0 THEN 8 + dd ELSE NULL END AS dl
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL FROM t WHERE d % 13 = 0
)
SELECT kind, COUNT(*) AS n_pages,
       COUNT(DISTINCT grp) AS n_groups,
       (COUNT(*) - COUNT(DISTINCT grp))::BIGINT AS n_dup_pages,
       COUNT(dl) AS n_described,
       SUM(dl)::BIGINT AS desc_len_sum
FROM v GROUP BY 1
"""


@register(
    "canonical_dedup_stats",
    oracle=_CANONICAL_ORACLE,
    doc="rel-canonical dedup gate (functions/html.parse_html canonical "
    "+ description extraction, crawl.html_extract struct fields, "
    "resolution via crawl.resolved_url_col — the IN-PAGE dedup signal "
    "real pipelines apply before any content dedup: URL variants of "
    "one page declare a shared canonical target, and collapsing on it "
    "is free exact dedup): even doc_ids declare an ABSOLUTE canonical "
    "shared by pairs (doc_id//4 buckets — the duplicate mass), odd "
    "doc_ids a RELATIVE '/c/{id}' canonical that must resolve against "
    "the page URI (unique — no false merges), and doc_id%13=0 plants "
    "an undecodable body -> one dead-letter row with a NULL canonical. "
    "meta description (doc_id%3=0) takes precedence over "
    "og:description (doc_id%5=0) with digit-arithmetic lengths. "
    "Per-kind page counts, distinct canonical groups, collapsed "
    "duplicate counts and description stats sit under one hash.",
)
def canonical_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import html_extract, resolved_url_col

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        uri = f"http://s{did % 7}.example/p/{did}"
        if did % 13 == 0:
            return did, uri, None
        canon = (
            f"http://canon.example/c/{did // 4}"
            if did % 2 == 0
            else f"/c/{did}"
        )
        metas = [f'<link rel="canonical" href="{canon}">']
        if did % 3 == 0:
            metas.append(
                f'<meta name="description" content="meta desc {did}">'
            )
        if did % 5 == 0:
            metas.append(
                '<meta property="og:description" '
                f'content="og desc {did}">'
            )
        html = (
            f"<html><head>{''.join(metas)}</head>"
            f"<body><p>page {did}</p></body></html>"
        )
        return did, uri, html

    media = _fixture_rows(
        docs, make, "doc_id long, target_uri string, html string"
    )
    pages = html_extract(media, html_col="html").withColumn(
        "canon_url",
        resolved_url_col(F.col("target_uri"), F.col("page.canonical")),
    )
    d = F.col("doc_id")
    kind = (
        F.when(~F.col("page.html_ok"), F.lit("dead"))
        .when(d % 2 == 0, F.lit("absolute"))
        .otherwise(F.lit("relative"))
    )
    return pages.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("canon_url").alias("n_groups"),
        (F.count(F.lit(1)) - F.countDistinct("canon_url"))
        .cast("long")
        .alias("n_dup_pages"),
        F.count("page.description").alias("n_described"),
        F.sum(F.length("page.description"))
        .cast("long")
        .alias("desc_len_sum"),
    )


_MP3_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd,
         20 + doc_id % 30 AS nf,
         ([44100, 48000, 32000])[1 + doc_id % 3] AS sr,
         ([96, 128, 160, 192, 256])[1 + doc_id % 5] AS kb
  FROM documents
), v AS (
  SELECT CASE d % 4 WHEN 0 THEN '2.3' WHEN 1 THEN '2.4'
              WHEN 2 THEN '1' ELSE 'none' END AS id3,
         nf, (nf * 1152000) // sr AS dur,
         CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END AS vbr, kb,
         CASE WHEN d % 4 = 3 THEN NULL ELSE 6 + dd END AS tl
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL FROM t WHERE d % 13 = 0
)
SELECT id3, COUNT(*) AS n_files, SUM(nf)::BIGINT AS frames_sum,
       SUM(dur)::BIGINT AS duration_ms_sum, SUM(vbr)::BIGINT AS n_vbr,
       SUM(kb)::BIGINT AS bitrate_sum, SUM(tl)::BIGINT AS title_len_sum
FROM v GROUP BY 1
"""


@register(
    "mp3_audio_stats",
    oracle=_MP3_ORACLE,
    doc="MP3 metadata gate (functions/mp3.parse_mp3 + sources.mp3_meta "
    "— the dominant crawl audio format; ID3v2.3 big-endian AND "
    "ID3v2.4 syncsafe frame sizes, trailing ID3v1 fallback, latin-1/"
    "UTF-16+BOM/UTF-8 text encodings by doc_id%3, MPEG-1 Layer III "
    "frame census; audio decode stays guarded): frame counts, first-"
    "frame bitrates from the spec table, VBR detection at doc_id%7=0 "
    "(every 4th frame bumps one bitrate index), and exact integer "
    "durations nf*1152000//sample_rate across all three MPEG-1 sample "
    "rates. doc_id%13=0 plants junk -> one parse_ok=false row (grouped "
    "as 'dead'). Per-tag-version file counts, frame/duration/bitrate "
    "sums, VBR counts and digit-arithmetic title lengths sit under "
    "one hash.",
)
def mp3_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mp3 import build_mp3
    from ..sources import mp3_meta

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not an mp3"
        id3 = ("2.3", "2.4", "1", "none")[did % 4]
        return (
            did,
            build_mp3(
                20 + did % 30,
                sample_rate=(44100, 48000, 32000)[did % 3],
                kbps=(96, 128, 160, 192, 256)[did % 5],
                title=(
                    None if id3 == "none" else f"track {did}"
                ),
                id3=id3,
                vbr_every=4 if did % 7 == 0 else None,
                encoding=(0, 1, 3)[did % 3],
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = mp3_meta(media)
    id3 = F.coalesce(
        F.col("id3_version"),
        F.when(F.col("parse_ok"), F.lit("none")).otherwise(F.lit("dead")),
    )
    return m.groupBy(id3.alias("id3")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_frames").cast("long").alias("frames_sum"),
        F.sum("duration_ms").cast("long").alias("duration_ms_sum"),
        F.sum((~F.col("cbr")).cast("int")).cast("long").alias("n_vbr"),
        F.sum("bitrate_kbps").cast("long").alias("bitrate_sum"),
        F.sum(F.length("title")).cast("long").alias("title_len_sum"),
    )


_SVG_ORACLE = """
WITH t AS (
  SELECT doc_id AS d FROM documents
), v AS (
  SELECT CASE d % 3 WHEN 0 THEN 'attrs' WHEN 1 THEN 'viewbox'
              ELSE 'percent' END AS kind,
         CASE WHEN d % 3 = 0 THEN 16 + d % 17 ELSE 24 + d % 13 END AS w,
         CASE WHEN d % 3 = 0 THEN 9 + d % 11 ELSE 12 + d % 7 END AS h,
         1 + (1 + d % 5)
           + CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END AS els,
         CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END AS scr,
         CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END AS titled
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL FROM t WHERE d % 13 = 0
)
SELECT kind, COUNT(*) AS n_files,
       SUM(w)::BIGINT AS width_sum, SUM(h)::BIGINT AS height_sum,
       SUM(els)::BIGINT AS elements_sum, SUM(scr)::BIGINT AS n_script,
       SUM(titled)::BIGINT AS n_titled
FROM v GROUP BY 1
"""


@register(
    "svg_image_stats",
    oracle=_SVG_ORACLE,
    doc="SVG metadata gate (functions/svg.parse_svg + sources.svg_meta "
    "— the one common web image format the census had no row for, the "
    "r14 verdict's #5; rendering stays out of scope): every document "
    "becomes an SVG whose intrinsic size exercises the browser "
    "fallback ladder by doc_id%3 — unitless width/height attributes "
    "('attrs'), viewBox-only ('viewbox'), percent attributes falling "
    "back to the viewBox extent ('percent') — with doc_id%4=0 "
    "gzip-compressed (.svgz sniff on the distributed path), a "
    "<script> child at doc_id%7=0 (the sanitization census signal) "
    "and a <title> at doc_id%5=0. doc_id%13=0 plants junk -> one "
    "parse_ok=false row (grouped as 'dead'). Per-kind file counts, "
    "resolved-dimension sums, exact element counts and script/title "
    "counts sit under one hash.",
)
def svg_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.svg import build_svg
    from ..sources import svg_meta
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not an svg"
        p = did % 3
        if p == 0:
            width, height = 16 + did % 17, 9 + did % 11
            viewbox = None
        elif p == 1:
            width = height = None
            viewbox = (0, 0, 24 + did % 13, 12 + did % 7)
        else:
            width, height = f"{50 + did % 50}%", "100%"
            viewbox = (0, 0, 24 + did % 13, 12 + did % 7)
        return (
            did,
            build_svg(
                width,
                height,
                viewbox=viewbox,
                n_shapes=1 + did % 5,
                script=did % 7 == 0,
                title=f"doc {did}" if did % 5 == 0 else None,
                gzipped=did % 4 == 0,
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = svg_meta(media)
    kind = (
        F.when(~F.col("parse_ok"), F.lit("dead"))
        .when(F.col("width_unit") == "%", F.lit("percent"))
        .when(F.col("width_unit").isNull(), F.lit("viewbox"))
        .otherwise(F.lit("attrs"))
    )
    return m.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("width").cast("long").alias("width_sum"),
        F.sum("height").cast("long").alias("height_sum"),
        F.sum("n_elements").cast("long").alias("elements_sum"),
        F.sum(F.col("has_script").cast("int")).cast("long").alias("n_script"),
        # NULL (not 0) for dead-letter rows, matching the oracle's
        # SUM over an all-NULL group — title itself is NULL on both
        # dead rows and untitled-but-parsed rows, so gate on parse_ok
        F.sum(
            F.when(F.col("parse_ok"), F.col("title").isNotNull().cast("int"))
        ).cast("long").alias("n_titled"),
    )


_FLAC_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd,
         ([44100, 48000, 96000])[1 + doc_id % 3] AS sr
  FROM documents
), v AS (
  SELECT sr::VARCHAR AS rate,
         sr * (1 + d % 9) + d % 7 AS samples,
         (sr * (1 + d % 9) + d % 7) * 1000 // sr AS dur,
         1 + d % 4 AS ch,
         CASE WHEN d % 2 = 0 THEN 16 ELSE 24 END AS bits,
         CASE WHEN d % 4 = 3 THEN NULL ELSE 6 + dd END AS tl,
         CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END AS pic
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL, NULL
  FROM t WHERE d % 13 = 0
)
SELECT rate, COUNT(*) AS n_files,
       SUM(samples)::BIGINT AS samples_sum,
       SUM(dur)::BIGINT AS duration_ms_sum,
       SUM(ch)::BIGINT AS channels_sum, SUM(bits)::BIGINT AS bits_sum,
       SUM(tl)::BIGINT AS title_len_sum, SUM(pic)::BIGINT AS n_pictures
FROM v GROUP BY 1
"""


@register(
    "flac_audio_stats",
    oracle=_FLAC_ORACLE,
    doc="FLAC metadata gate (functions/flac.parse_flac + "
    "sources.flac_meta — the dominant lossless archive audio format, "
    "completing the audio census beside WAV/ADPCM/MP3/Ogg; metadata "
    "blocks only, frame decode stays guarded): STREAMINFO's packed "
    "20/3/5/36-bit tail across three sample rates, 1-4 channels and "
    "16/24-bit depths, exact integer durations samples*1000//rate "
    "with a +doc_id%7 sample remainder so the floor division is "
    "actually exercised, VORBIS_COMMENT titles (absent at doc_id%4=3) "
    "whose digit-arithmetic lengths replay in SQL, PICTURE blocks at "
    "doc_id%5=0. doc_id%13=0 plants junk -> one parse_ok=false row "
    "(grouped as 'dead'). Per-rate file counts, sample/duration/"
    "channel/bit-depth sums, title lengths and picture counts sit "
    "under one hash.",
)
def flac_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.flac import build_flac
    from ..sources import flac_meta
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not a flac"
        sr = (44100, 48000, 96000)[did % 3]
        return (
            did,
            build_flac(
                sr * (1 + did % 9) + did % 7,
                sample_rate=sr,
                channels=1 + did % 4,
                bits_per_sample=16 if did % 2 == 0 else 24,
                title=(
                    None if did % 4 == 3 else f"track {did}"
                ),
                picture=did % 5 == 0,
                padding=did % 3 * 8,
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = flac_meta(media)
    rate = F.coalesce(
        F.col("sample_rate").cast("string"), F.lit("dead")
    )
    return m.groupBy(rate.alias("rate")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("total_samples").cast("long").alias("samples_sum"),
        F.sum("duration_ms").cast("long").alias("duration_ms_sum"),
        F.sum("channels").cast("long").alias("channels_sum"),
        F.sum("bits_per_sample").cast("long").alias("bits_sum"),
        F.sum(F.length("title")).cast("long").alias("title_len_sum"),
        F.sum(F.col("has_picture").cast("int")).cast("long").alias("n_pictures"),
    )


_OGG_ORACLE = """
WITH t AS (
  SELECT doc_id AS d FROM documents
), v AS (
  SELECT CASE d % 3 WHEN 0 THEN 'vorbis' WHEN 1 THEN 'opus'
              ELSE 'unknown' END AS codec,
         CASE d % 3
           WHEN 0 THEN (([44100, 48000, 32000, 22050, 8000])[1 + d % 5]
                        * (1 + d % 6) + d % 11) * 1000
                       // ([44100, 48000, 32000, 22050, 8000])[1 + d % 5]
           WHEN 1 THEN (48000 * (1 + d % 6) + d % 11 - d % 400) * 1000
                       // 48000
           ELSE NULL END AS dur,
         1 + (d % 3) + (1 + d % 4) AS pages,
         1 + d % 3 AS streams,
         CASE WHEN d % 3 = 2 THEN NULL ELSE 1 + d % 2 END AS ch,
         CASE d % 3 WHEN 0 THEN 0 WHEN 1 THEN d % 400 ELSE NULL END AS ps
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL FROM t WHERE d % 13 = 0
)
SELECT codec, COUNT(*) AS n_files,
       SUM(dur)::BIGINT AS duration_ms_sum,
       SUM(pages)::BIGINT AS pages_sum,
       SUM(streams)::BIGINT AS streams_sum,
       SUM(ch)::BIGINT AS channels_sum,
       SUM(ps)::BIGINT AS preskip_sum
FROM v GROUP BY 1
"""


@register(
    "ogg_audio_stats",
    oracle=_OGG_ORACLE,
    doc="Ogg container gate (functions/ogg.parse_ogg + "
    "sources.ogg_meta — the streaming half of the audio census; page "
    "walk + identification headers only, codec decode stays guarded): "
    "Vorbis/Opus/unknown primary streams by doc_id%3, Vorbis exact "
    "integer durations granule*1000//rate across five sample rates "
    "with a +doc_id%11 granule remainder, Opus on the always-48kHz "
    "output timeline minus a doc_id%400 pre-skip (RFC 7845), "
    "1+doc_id%3 BOS streams and 1+doc_id%4 audio pages (page census "
    "counts the BOS page of every stream: 1 primary + extras + audio "
    "pages). doc_id%13=0 plants junk -> one parse_ok=false row "
    "(grouped as 'dead'). Per-codec file counts, duration/page/"
    "stream/channel/pre-skip sums sit under one hash. The +1 page "
    "constant in the oracle's pages formula is the primary BOS page; "
    "extra_streams each add one BOS page.",
)
def ogg_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ogg import build_ogg
    from ..sources import ogg_meta
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not an ogg"
        codec = ("vorbis", "opus", "unknown")[did % 3]
        if codec == "vorbis":
            sr = (44100, 48000, 32000, 22050, 8000)[did % 5]
            granule = sr * (1 + did % 6) + did % 11
            ps = 0
        else:
            sr = 48000
            granule = 48000 * (1 + did % 6) + did % 11
            ps = did % 400
        return (
            did,
            build_ogg(
                codec,
                granule,
                sample_rate=sr,
                channels=1 + did % 2,
                pre_skip=ps,
                n_audio_pages=1 + did % 4,
                extra_streams=did % 3,
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = ogg_meta(media)
    codec = F.coalesce(F.col("codec"), F.lit("dead"))
    return m.groupBy(codec.alias("codec")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("duration_ms").cast("long").alias("duration_ms_sum"),
        F.sum("n_pages").cast("long").alias("pages_sum"),
        F.sum("n_streams").cast("long").alias("streams_sum"),
        F.sum("channels").cast("long").alias("channels_sum"),
        F.sum("pre_skip").cast("long").alias("preskip_sum"),
    )


_STRUCTURED_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd FROM documents
), v AS (
  SELECT CASE d % 4 WHEN 0 THEN 'article' WHEN 1 THEN 'graph'
              WHEN 2 THEN 'badjson' ELSE 'plain' END AS kind,
         CASE d % 4 WHEN 0 THEN CASE WHEN d % 2 = 0 THEN 2 ELSE 1 END
              WHEN 1 THEN 1 + d % 3 ELSE 0 END AS types,
         CASE d % 4 WHEN 0 THEN CASE WHEN d % 2 = 0 THEN 12 ELSE 7 END
              WHEN 1 THEN 6 * (1 + d % 3) ELSE 0 END AS types_len,
         CASE WHEN d % 4 IN (0, 1, 2) THEN 1 ELSE 0 END AS blocks,
         CASE WHEN d % 4 = 2 THEN 1 ELSE 0 END AS errors,
         CASE d % 4 WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 1
              ELSE 0 END AS og_n,
         CASE d % 4 WHEN 0 THEN 8 + dd WHEN 1 THEN 1 + dd
              WHEN 2 THEN 7 ELSE 0 END AS og_len
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL, NULL
  FROM t WHERE d % 13 = 0
)
SELECT kind, COUNT(*) AS n_pages, SUM(types)::BIGINT AS types_sum,
       SUM(types_len)::BIGINT AS types_len_sum,
       SUM(blocks)::BIGINT AS blocks_sum,
       SUM(errors)::BIGINT AS errors_sum,
       SUM(og_n)::BIGINT AS og_sum, SUM(og_len)::BIGINT AS og_len_sum
FROM v GROUP BY 1
"""


@register(
    "structured_data_stats",
    oracle=_STRUCTURED_ORACLE,
    doc="Structured-data census gate (functions/html.parse_html "
    "ld_types/ld_blocks/ld_errors/og + the html_extract struct — "
    "JSON-LD @type and OpenGraph property extraction, the in-page "
    "metadata a corpus-curation user reads right after canonical/"
    "robots; r14 verdict #4): doc_id%4 plants a plain Article block "
    "(a ['Product','Offer'] type LIST at even doc_id) with og:title+"
    "og:type / an @graph of 1+doc_id%3 entities with og:title / one "
    "malformed-JSON block (countable error, page still ok) with a "
    "DUPLICATE og:image whose first value wins / no structured data. "
    "doc_id%13=0 plants an undecodable body -> one html_ok=false "
    "dead-letter row. Per-kind page counts, @type counts AND name-"
    "length sums, block/error counts, og property counts AND content-"
    "length sums (digit-arithmetic titles) sit under one hash.",
)
def structured_data_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import html_extract
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, None
        k = did % 4
        if k == 0:
            t = (
                '["Product","Offer"]' if did % 2 == 0
                else '"Article"'
            )
            body = (
                '<script type="application/ld+json">'
                f'{{"@type":{t}}}</script>'
                f'<meta property="og:title" content="t{did}">'
                '<meta property="og:type" content="article">'
            )
        elif k == 1:
            ents = ",".join(
                f'{{"@type":"Thing{i}"}}'
                for i in range(1 + did % 3)
            )
            body = (
                '<script type="application/ld+json">'
                f'{{"@graph":[{ents}]}}</script>'
                f'<meta property="og:title" content="t{did}">'
            )
        elif k == 2:
            body = (
                '<script type="application/ld+json">{not json'
                "</script>"
                '<meta property="og:image" content="img.png">'
                '<meta property="og:image" content="dup.png">'
            )
        else:
            body = ""
        return did, f"<html><head>{body}</head><body>p</body></html>"

    media = _fixture_rows(docs, make, "doc_id long, html string")
    pages = html_extract(media, html_col="html")
    d = F.col("doc_id")
    kind = (
        F.when(~F.col("page.html_ok"), F.lit("dead"))
        .when(d % 4 == 0, F.lit("article"))
        .when(d % 4 == 1, F.lit("graph"))
        .when(d % 4 == 2, F.lit("badjson"))
        .otherwise(F.lit("plain"))
    )
    strlen = lambda acc, x: acc + F.length(x)  # noqa: E731
    return pages.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.size("page.ld_types")).cast("long").alias("types_sum"),
        F.sum(
            F.aggregate(
                F.col("page.ld_types"), F.lit(0), strlen
            )
        ).cast("long").alias("types_len_sum"),
        F.sum("page.ld_blocks").cast("long").alias("blocks_sum"),
        F.sum("page.ld_errors").cast("long").alias("errors_sum"),
        F.sum(F.size("page.og")).cast("long").alias("og_sum"),
        F.sum(
            F.aggregate(
                F.col("page.og"),
                F.lit(0),
                lambda acc, x: acc + F.length(x["content"]),
            )
        ).cast("long").alias("og_len_sum"),
    )


_SUBTITLE_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd,
         1 + doc_id % 6 AS k, 1000 + 100 * (doc_id % 7) AS per
  FROM documents
), v AS (
  SELECT CASE WHEN d % 2 = 0 THEN 'srt' ELSE 'vtt' END AS kind,
         k AS n_rows, k AS cues, k * per AS span, k * (9 + dd) AS tl,
         CASE WHEN d % 2 = 0 THEN k
              WHEN d % 3 = 0 THEN k ELSE 0 END AS ids
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', 1, 0, NULL, NULL, 0 FROM t WHERE d % 13 = 0
)
SELECT kind, SUM(n_rows)::BIGINT AS n_rows, SUM(cues)::BIGINT AS cues_sum,
       SUM(span)::BIGINT AS span_ms_sum, SUM(tl)::BIGINT AS text_len_sum,
       SUM(ids)::BIGINT AS cueid_sum
FROM v GROUP BY 1
"""


@register(
    "subtitle_track_stats",
    oracle=_SUBTITLE_ORACLE,
    doc="Subtitle gate (functions/subtitles.parse_srt/parse_vtt + the "
    "sniffing front door and sources.subtitle_cues — the transcript "
    "side of the video census, how a video-training pipeline gets "
    "aligned text; r15): every document becomes an SRT (even doc_id) "
    "or WebVTT (odd) track of 1+doc_id%6 consecutive cues of "
    "1000+100*(doc_id%7) ms each, text 'cue i of <doc_id>' whose "
    "digit-arithmetic lengths replay in SQL; WebVTT cue identifiers "
    "planted at doc_id%3=0 (SRT numbering always present). "
    "doc_id%13=0 plants junk -> one parse_ok=false row (grouped as "
    "'dead'). Per-kind row/cue counts, exact integer span sums, text "
    "lengths and cue-id counts sit under one hash.",
)
def subtitle_track_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.subtitles import build_srt, build_vtt
    from ..sources import subtitle_cues
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"\xff\xfejunk, not a subtitle"
        k = 1 + did % 6
        per = 1000 + 100 * (did % 7)
        cues = [
            {
                "start_ms": i * per,
                "end_ms": (i + 1) * per,
                "text": f"cue {i} of {did}",
                **(
                    {"idx": f"c{i}"}
                    if did % 2 == 1 and did % 3 == 0
                    else {}
                ),
            }
            for i in range(k)
        ]
        raw = (
            build_srt(cues) if did % 2 == 0 else build_vtt(cues)
        ).encode("utf-8")
        return did, raw

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = subtitle_cues(media)
    kind = F.coalesce(
        F.col("kind"),
        F.when(F.col("parse_ok"), F.lit("none")).otherwise(F.lit("dead")),
    )
    return m.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("start_ms").isNotNull().cast("int"))
        .cast("long")
        .alias("cues_sum"),
        F.sum(F.col("end_ms") - F.col("start_ms"))
        .cast("long")
        .alias("span_ms_sum"),
        F.sum(F.length("text")).cast("long").alias("text_len_sum"),
        F.sum(F.col("cue_id").isNotNull().cast("int"))
        .cast("long")
        .alias("cueid_sum"),
    )


_HLS_ORACLE = """
WITH t AS (
  SELECT doc_id AS d FROM documents
), v AS (
  SELECT CASE WHEN d % 3 = 0 THEN 'master' ELSE 'media' END AS kind,
         CASE WHEN d % 3 = 0 THEN 1 + d % 4 END AS nv,
         CASE WHEN d % 3 = 0 THEN 100000 * (1 + d % 4) + d END AS maxbw,
         CASE WHEN d % 3 = 0 AND (d % 4) % 2 = 0
              THEN 320 * (1 + d % 4) END AS bw,
         CASE WHEN d % 3 <> 0 THEN 1 + d % 5 END AS ns,
         CASE WHEN d % 3 <> 0
              THEN (1 + d % 5) * (2000 + 100 * (d % 9)) END AS dur,
         CASE WHEN d % 3 <> 0
              THEN CASE WHEN d % 9 = 0 THEN 2 ELSE 3 END END AS tgt,
         CASE WHEN d % 3 <> 0 AND d % 2 = 0 THEN 1
              WHEN d % 3 <> 0 THEN 0 END AS el
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL, NULL, NULL
  FROM t WHERE d % 13 = 0
)
SELECT kind, COUNT(*) AS n_files, SUM(nv)::BIGINT AS variants_sum,
       SUM(maxbw)::BIGINT AS maxbw_sum,
       SUM(bw)::BIGINT AS best_width_sum,
       SUM(ns)::BIGINT AS segments_sum,
       SUM(dur)::BIGINT AS duration_ms_sum,
       SUM(tgt)::BIGINT AS target_sum, SUM(el)::BIGINT AS endlist_sum
FROM v GROUP BY 1
"""


@register(
    "hls_playlist_stats",
    oracle=_HLS_ORACLE,
    doc="HLS playlist gate (functions/hls.parse_m3u8 + "
    "sources.hls_meta — the manifest layer of the streaming census "
    "whose fMP4/CMAF segments fmp4_fragment_stats already covers; "
    "r15): doc_id%3=0 builds a master playlist of 1+doc_id%4 variants "
    "(arithmetic bandwidths; RESOLUTION on even variant indices; a "
    "quoted CODECS value containing a comma — the attribute tokenizer "
    "trap), else a media playlist of 1+doc_id%5 segments of "
    "2000+100*(doc_id%9) ms each with exact integer-decimal EXTINF "
    "durations, builder-derived TARGETDURATION and ENDLIST at even "
    "doc_id (VOD vs live). doc_id%13=0 plants junk -> one "
    "parse_ok=false row (grouped as 'dead'). Per-kind file counts, "
    "variant/max-bandwidth/best-resolution sums, segment counts, "
    "exact duration sums, target-duration and endlist counts sit "
    "under one hash.",
)
def hls_playlist_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hls import build_master, build_media
    from ..sources import hls_meta
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not a playlist"
        if did % 3 == 0:
            nv = 1 + did % 4
            raw = build_master(
                [
                    {
                        "bandwidth": 100000 * (v + 1) + did,
                        **(
                            {
                                "width": 320 * (v + 1),
                                "height": 180 * (v + 1),
                            }
                            if v % 2 == 0
                            else {}
                        ),
                        "codecs": (
                            "avc1.64001f,mp4a.40.2"
                            if v == 0
                            else None
                        ),
                        "uri": f"v{v}.m3u8",
                    }
                    for v in range(nv)
                ]
            )
        else:
            k = 1 + did % 5
            per = 2000 + 100 * (did % 9)
            raw = build_media(
                [per] * k, endlist=did % 2 == 0
            )
        return did, raw.encode("utf-8")

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = hls_meta(media)
    kind = F.coalesce(F.col("kind"), F.lit("dead"))
    return m.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_variants").cast("long").alias("variants_sum"),
        F.sum("max_bandwidth").cast("long").alias("maxbw_sum"),
        F.sum("best_width").cast("long").alias("best_width_sum"),
        F.sum("n_segments").cast("long").alias("segments_sum"),
        F.sum("total_duration_ms").cast("long").alias("duration_ms_sum"),
        F.sum("target_duration_s").cast("long").alias("target_sum"),
        F.sum(F.col("endlist").cast("int")).cast("long").alias("endlist_sum"),
    )


_EML_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd FROM documents
), v AS (
  SELECT CASE d % 4 WHEN 0 THEN 'plain' WHEN 1 THEN 'alt'
              WHEN 2 THEN 'mixed' ELSE 'full' END AS kind,
         CASE d % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
              WHEN 2 THEN 1 + (1 + d % 3)
              ELSE 2 + (1 + d % 3) END AS parts,
         CASE d % 4 WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS depth,
         (1 + d % 5) * (6 + dd) + 1 AS tl,
         3 + dd AS sl,
         CASE WHEN d % 4 >= 2 THEN 1 + d % 3 ELSE 0 END AS att,
         CASE WHEN d % 4 >= 2 THEN (1 + d % 3) * (5 + d % 7)
              ELSE 0 END AS attb,
         CASE WHEN d % 4 IN (1, 3) THEN 1 ELSE 0 END AS htm,
         1 + d % 3 AS rcp
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
  FROM t WHERE d % 13 = 0
)
SELECT kind, COUNT(*) AS n_msgs, SUM(parts)::BIGINT AS parts_sum,
       SUM(depth)::BIGINT AS depth_sum,
       SUM(tl)::BIGINT AS text_len_sum,
       SUM(sl)::BIGINT AS subject_len_sum,
       SUM(att)::BIGINT AS attachments_sum,
       SUM(attb)::BIGINT AS att_bytes_sum,
       SUM(htm)::BIGINT AS html_sum,
       SUM(rcp)::BIGINT AS recipients_sum
FROM v GROUP BY 1
"""


@register(
    "eml_message_stats",
    oracle=_EML_ORACLE,
    doc="E-mail / MIME gate (functions/mime.parse_eml + "
    "sources.eml_messages — mailing-list archives and .eml dumps, a "
    "recurring crawl-corpus class; r15): doc_id%4 builds a plain "
    "message / multipart/alternative with HTML / multipart/mixed "
    "with 1+doc_id%3 base64 attachments of 5+doc_id%7 bytes / the "
    "full nest (alternative inside mixed, MIME depth 2). Subjects "
    "are non-ASCII at doc_id%5=0 so the RFC 2047 encoded-word "
    "round-trip sits under the hash at the same decoded length "
    "formula; recipients, digit-arithmetic body/subject lengths, "
    "part/depth/attachment-byte sums replay in SQL. doc_id%13=0 "
    "plants junk -> one parse_ok=false row (grouped as 'dead').",
)
def eml_message_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mime import build_eml
    from ..sources import eml_messages

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        if did % 13 == 0:
            return did, b"\x00\xffjunk, not an email"
        k = did % 4
        subj = (f"ré {did}" if did % 5 == 0
                else f"re {did}")
        atts = (
            [
                (f"f{i}.bin", bytes([65 + did % 26]) * (5 + did % 7))
                for i in range(1 + did % 3)
            ]
            if k >= 2
            else None
        )
        return (
            did,
            build_eml(
                from_addr=f"u{did}@example.org",
                to_addrs=", ".join(
                    f"r{i}@example.org"
                    for i in range(1 + did % 3)
                ),
                subject=subj,
                text=f"body {did} " * (1 + did % 5),
                html=(
                    f"<p>{did}</p>" if k in (1, 3) else None
                ),
                attachments=atts,
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = eml_messages(media)
    d = F.col("archive_id")
    kind = (
        F.when(~F.col("parse_ok"), F.lit("dead"))
        .when(d % 4 == 0, F.lit("plain"))
        .when(d % 4 == 1, F.lit("alt"))
        .when(d % 4 == 2, F.lit("mixed"))
        .otherwise(F.lit("full"))
    )
    return m.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.sum("n_parts").cast("long").alias("parts_sum"),
        F.sum("max_depth").cast("long").alias("depth_sum"),
        F.sum(F.length("text")).cast("long").alias("text_len_sum"),
        F.sum(F.length("subject")).cast("long").alias("subject_len_sum"),
        F.sum("n_attachments").cast("long").alias("attachments_sum"),
        F.sum("att_bytes").cast("long").alias("att_bytes_sum"),
        F.sum(F.col("has_html").cast("int")).cast("long").alias("html_sum"),
        F.sum("n_recipients").cast("long").alias("recipients_sum"),
    )


_MARKDOWN_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd FROM documents
), v AS (
  SELECT 1 + d % 3 AS paras,
         (1 + d % 3) + CASE WHEN d % 2 = 0 THEN 1 ELSE 0 END AS lines,
         (1 + d % 3) * (2 + d % 5)
           + CASE WHEN d % 2 = 0 THEN 2 ELSE 0 END
           + CASE WHEN d % 3 = 0 THEN 1 ELSE 0 END AS words,
         CASE WHEN d % 2 = 0 THEN 2 + dd ELSE 0 END
           + (1 + d % 3) * (2 * (2 + d % 5) - 1)
           + CASE WHEN d % 3 = 0 THEN 2 + dd ELSE 0 END
           + (1 + d % 3) + CASE WHEN d % 2 = 0 THEN 1 ELSE 0 END
           - 1 AS tl,
         CASE WHEN d % 2 = 0 THEN 1 ELSE 0 END AS heads,
         CASE WHEN d % 2 = 0 THEN 1 + d % 6 ELSE 0 END AS lvl,
         CASE WHEN d % 3 = 0 THEN 1 ELSE 0 END AS links,
         CASE WHEN d % 3 = 0 THEN 18 + dd ELSE 0 END AS ul,
         CASE WHEN d % 4 = 0 THEN 1 ELSE 0 END AS imgs,
         CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END AS code,
         CASE WHEN d % 5 = 0 THEN 1 + d % 4 ELSE 0 END AS cc
  FROM t
)
SELECT paras::BIGINT AS paras, COUNT(*) AS n_docs,
       SUM(lines)::BIGINT AS lines_sum, SUM(words)::BIGINT AS words_sum,
       SUM(tl)::BIGINT AS text_len_sum,
       SUM(heads)::BIGINT AS headings_sum, SUM(lvl)::BIGINT AS level_sum,
       SUM(links)::BIGINT AS links_sum, SUM(ul)::BIGINT AS url_len_sum,
       SUM(imgs)::BIGINT AS images_sum,
       SUM(code)::BIGINT AS code_blocks_sum,
       SUM(cc)::BIGINT AS code_chars_sum
FROM v GROUP BY 1
"""


@register(
    "markdown_corpus_stats",
    oracle=_MARKDOWN_ORACLE,
    doc="Markdown normalization gate (functions/markdown."
    "parse_markdown — GitHub/docs dumps are a major training-corpus "
    "class; the normalizer extracts PROSE and carries code fences / "
    "links / images as structure; r15): every document becomes a "
    "Markdown fixture with 1+doc_id%3 paragraphs of 2+doc_id%5 "
    "words, an ATX heading of level 1+doc_id%6 at even doc_id, an "
    "inline link at doc_id%3=0 (its TEXT stays in the prose, its URL "
    "does not), an image at doc_id%4=0 (alt text does NOT join the "
    "prose), a fenced python block at doc_id%5=0 (content excluded, "
    "censused). No dead-letter class: a text normalizer sits AFTER "
    "the container layer and never raises — malformed markup is "
    "content. Per-paragraph-count doc counts and digit-arithmetic "
    "line/word/char/heading-level/URL-length/code-char sums replay "
    "in SQL.",
)
def markdown_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.markdown import build_markdown, parse_markdown
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def norm(did):
        md = build_markdown(
            n_paras=1 + did % 3,
            para_words=2 + did % 5,
            headings=(
                [(1 + did % 6, f"h {did}")]
                if did % 2 == 0
                else None
            ),
            links=(
                [(f"l{did}", f"http://h{did % 7}.example/{did}")]
                if did % 3 == 0
                else None
            ),
            images=(
                [(f"a{did}", f"http://i.example/{did}.png")]
                if did % 4 == 0
                else None
            ),
            code=(
                [("py", ["x" * (1 + did % 4)])]
                if did % 5 == 0
                else None
            ),
        )
        r = parse_markdown(md)
        return (
            1 + did % 3,
            r["n_lines"],
            r["n_words"],
            len(r["text"]),
            len(r["headings"]),
            sum(lvl for lvl, _ in r["headings"]),
            len(r["links"]),
            sum(len(u) for _, u in r["links"]),
            len(r["images"]),
            len(r["code_blocks"]),
            sum(c["n_chars"] for c in r["code_blocks"]),
        )

    stats = _fixture_rows(
        docs, norm,
        "paras long, n_lines int, n_words int, text_len int,"
        " n_headings int, level_sum int, n_links int, url_len int,"
        " n_images int, n_code int, code_chars int",
    )
    return stats.groupBy("paras").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").cast("long").alias("lines_sum"),
        F.sum("n_words").cast("long").alias("words_sum"),
        F.sum("text_len").cast("long").alias("text_len_sum"),
        F.sum("n_headings").cast("long").alias("headings_sum"),
        F.sum("level_sum").cast("long").alias("level_sum"),
        F.sum("n_links").cast("long").alias("links_sum"),
        F.sum("url_len").cast("long").alias("url_len_sum"),
        F.sum("n_images").cast("long").alias("images_sum"),
        F.sum("n_code").cast("long").alias("code_blocks_sum"),
        F.sum("code_chars").cast("long").alias("code_chars_sum"),
    )


_PNG_META_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd FROM documents
), v AS (
  SELECT (2 + d % 3)::VARCHAR AS w, 2 + d % 2 AS h,
         1 + CASE WHEN d % 3 = 0 THEN 1 ELSE 0 END
           + CASE WHEN d % 4 = 0 THEN 1 ELSE 0 END AS nt,
         (4 + dd)
           + CASE WHEN d % 3 = 0 THEN 2 + dd ELSE 0 END
           + CASE WHEN d % 4 = 0 THEN 3 + dd ELSE 0 END AS tc,
         CASE WHEN d % 5 = 0 THEN 1 ELSE 0 END AS ex,
         CASE WHEN d % 5 = 0 THEN 4 + d % 16 ELSE 0 END AS exb,
         CASE WHEN d % 2 = 0 THEN
           printf('%04d-%02d-%02dT%02d:%02d:%02d',
                  2020 + d % 6, 1 + d % 12, 1 + d % 28,
                  d % 24, d % 60, d % 60) END AS tm,
         CASE WHEN d % 7 = 0 THEN ([72, 96, 150])[1 + d % 3]
              ELSE 0 END AS dpi
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', NULL, NULL, NULL, NULL, NULL, NULL, NULL
  FROM t WHERE d % 13 = 0
)
SELECT w AS width, COUNT(*) AS n_files, SUM(h)::BIGINT AS height_sum,
       SUM(nt)::BIGINT AS texts_sum, SUM(tc)::BIGINT AS text_chars_sum,
       SUM(ex)::BIGINT AS exif_count,
       SUM(exb)::BIGINT AS exif_bytes_sum,
       MAX(tm) AS max_time, SUM(dpi)::BIGINT AS dpi_sum
FROM v GROUP BY 1
"""


@register(
    "png_metadata_stats",
    oracle=_PNG_META_ORACLE,
    doc="PNG ancillary-metadata gate (functions/pngmeta."
    "parse_png_meta + sources.png_text_meta — the census side of the "
    "PNG story beside the pixel decoder; corpora filter on exactly "
    "these generator/copyright/date chunks; r15): every document "
    "becomes a real decodable PNG carrying a tEXt Title, a zTXt at "
    "doc_id%3=0 (zlib round-trip), an iTXt at doc_id%4=0 (UTF-8; "
    "zlib-compressed at doc_id%8=0) — decoded text lengths are "
    "digit-arithmetic — plus eXIf bytes at doc_id%5=0, a tIME stamp "
    "at even doc_id whose lexicographic max replays via printf, and "
    "a pHYs chunk at doc_id%7=0 whose metre-unit ppu converts to "
    "dpi by exact integer arithmetic. Chunk CRCs verified; "
    "doc_id%13=0 plants junk -> one parse_ok=false row (grouped as "
    "'dead').",
)
def png_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.pngmeta import build_png_meta
    from ..sources import png_text_meta
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not a png"
        texts = [("Title", f"doc {did}", "text")]
        if did % 3 == 0:
            texts.append(("Comment", f"c {did}", "ztxt"))
        if did % 4 == 0:
            texts.append(
                ("Author", f"aé {did}",
                 "itxtz" if did % 8 == 0 else "itxt")
            )
        return (
            did,
            build_png_meta(
                2 + did % 3,
                2 + did % 2,
                texts=texts,
                exif=(
                    b"II*\x00" + b"\x00" * (did % 16)
                    if did % 5 == 0
                    else None
                ),
                time=(
                    (2020 + did % 6, 1 + did % 12,
                     1 + did % 28, did % 24, did % 60,
                     did % 60)
                    if did % 2 == 0
                    else None
                ),
                dpi=(
                    (72, 96, 150)[did % 3]
                    if did % 7 == 0
                    else None
                ),
            ),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = png_text_meta(media)
    width = F.coalesce(F.col("width").cast("string"), F.lit("dead"))
    return m.groupBy(width.alias("width")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("height").cast("long").alias("height_sum"),
        F.sum("n_texts").cast("long").alias("texts_sum"),
        F.sum("text_chars").cast("long").alias("text_chars_sum"),
        F.sum(F.col("has_exif").cast("int")).cast("long").alias("exif_count"),
        F.sum("exif_bytes").cast("long").alias("exif_bytes_sum"),
        F.max("time").alias("max_time"),
        # 0 for parsed-but-pHYs-less rows, NULL on the dead group —
        # matching the oracle's SUM over an all-NULL dead branch
        F.sum(
            F.when(F.col("parse_ok"), F.coalesce(F.col("dpi_x"), F.lit(0)))
        )
        .cast("long")
        .alias("dpi_sum"),
    )


_ICS_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, LENGTH(doc_id::VARCHAR) AS dd FROM documents
), v AS (
  SELECT (1 + d % 4)::VARCHAR AS kind, 1 + d % 4 AS n_rows,
         1 + d % 4 AS ev,
         (1 + d % 4) * 600 * (1 + d % 5) AS dur,
         (1 + d % 4) * (CASE WHEN d % 2 = 0 THEN 10 + dd
                        ELSE 8 + dd END) AS sl,
         CASE WHEN d % 3 = 0 THEN 1 ELSE 0 END AS rec,
         (1 + d % 4) * (d % 4) AS att,
         (1 + d % 4) * (d % 3) AS todo_rows
  FROM t WHERE d % 13 <> 0
  UNION ALL
  SELECT 'dead', 1, 0, NULL, NULL, NULL, NULL, NULL
  FROM t WHERE d % 13 = 0
)
SELECT kind, SUM(n_rows)::BIGINT AS n_rows, SUM(ev)::BIGINT AS events_sum,
       SUM(dur)::BIGINT AS duration_s_sum,
       SUM(sl)::BIGINT AS summary_len_sum,
       SUM(rec)::BIGINT AS recurring_sum,
       SUM(att)::BIGINT AS attendees_sum,
       SUM(todo_rows)::BIGINT AS todo_rows_sum
FROM v GROUP BY 1
"""


@register(
    "ics_calendar_stats",
    oracle=_ICS_ORACLE,
    doc="iCalendar gate (functions/ics.parse_ics + sources.ics_events "
    "— calendar exports ride in the same mail/crawl dumps as the eml "
    "class; meeting invites ARE text/calendar MIME parts; r15): every "
    "document becomes a VCALENDAR of 1+doc_id%4 events — EVEN event "
    "indices derive their exact integer duration from a bare-UTC "
    "DTSTART/DTEND pair (day-number arithmetic, no datetime module), "
    "ODD indices from a DURATION property, both to the same "
    "600*(1+doc_id%5)-second formula so the two paths cross-check "
    "under one hash — plus folded SUMMARY lines whose RFC 5545 "
    "comma escapes (planted at even doc_id) decode to digit-"
    "arithmetic lengths, an RRULE on the first event at doc_id%3=0, "
    "doc_id%4 attendees per event and doc_id%3 VTODOs. doc_id%13=0 "
    "plants junk -> one parse_ok=false row (grouped as 'dead').",
)
def ics_calendar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ics import build_ics
    from ..sources import ics_events

    docs = _doc_ids(spark, sf_dir)

    def make(did):
        if did % 13 == 0:
            return did, b"junk bytes, not a calendar"
        k = 1 + did % 4
        dur = 600 * (1 + did % 5)
        events = []
        for i in range(k):
            summary = (
                f"ev {i}, doc {did}" if did % 2 == 0
                else f"ev {i} of {did}"
            )
            e = {
                "uid": f"e{i}-{did}@x",
                "summary": summary,
                "dtstart": f"20260105T{10 + i:02d}0000Z",
                "rrule": i == 0 and did % 3 == 0,
                "attendees": did % 4,
            }
            if i % 2 == 0:
                # dur = (1+did%5)*10 minutes, same hour
                e["dtend"] = (
                    f"20260105T{10 + i:02d}"
                    f"{(1 + did % 5) * 10:02d}00Z"
                )
            else:
                e["duration_s"] = dur
            events.append(e)
        return (
            did,
            build_ics(events, todos=did % 3).encode("utf-8"),
        )

    media = _fixture_rows(docs, make, "archive_id long, content binary")
    m = ics_events(media)
    kind = (
        F.when(~F.col("parse_ok"), F.lit("dead"))
        .otherwise(F.col("n_events").cast("string"))
    )
    return m.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("uid").isNotNull().cast("int"))
        .cast("long")
        .alias("events_sum"),
        F.sum("duration_s").cast("long").alias("duration_s_sum"),
        F.sum(F.length("summary")).cast("long").alias("summary_len_sum"),
        F.sum(F.col("recurring").cast("int"))
        .cast("long")
        .alias("recurring_sum"),
        F.sum("n_attendees").cast("long").alias("attendees_sum"),
        F.sum("n_todos").cast("long").alias("todo_rows_sum"),
    )
