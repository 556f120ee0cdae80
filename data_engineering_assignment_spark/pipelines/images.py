"""Advanced Task 3: image color analytics (Assignment-python.py:705-841),
engine-native.

Input contract: a DataFrame of images with at least (``hexcode``,
``annotation``, ``group``, ``colors: array<string>``) — produced by joining a
binary source (``sources.read_binary_files`` or the driver's own loader) with
JSONL metadata and applying :func:`..functions.colors.pixel_colors_udf`.

Where the reference collects pixel arrays to the driver and post-processes
with ``collections.Counter`` (:773-815), every query here stays distributed:
explode → grouped count → window top-k (SURVEY.md A13/D3 replacement), so the
same code runs on a corpus of any size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.colors import color_ratio, non_transparent_count, red_pixel_count
from ..operators.topk import top_k_by_freq, top_k_by_freq_agg


def with_color_stats(images: DataFrame) -> DataFrame:
    """Attach nonTransparentCount and colorRatio (:735-740)."""
    return images.withColumn(
        "nonTransparentCount", non_transparent_count(F.col("colors"))
    ).withColumn("colorRatio", color_ratio(F.col("colors")))


def most_colored_images(images: DataFrame, n: int = 4) -> DataFrame:
    """Query A (:743-746): top-n by non-transparent pixel count."""
    return (
        with_color_stats(images)
        .orderBy(F.desc("nonTransparentCount"), F.asc("hexcode"))
        .limit(n)
        .select("hexcode", "annotation", "nonTransparentCount")
    )


def lowest_color_ratio_images(images: DataFrame, n: int = 5) -> DataFrame:
    """Query B (:754-763): bottom-n by colored/transparent ratio."""
    return (
        with_color_stats(images)
        .orderBy(F.asc("colorRatio"), F.asc("hexcode"))
        .limit(n)
        .select("hexcode", "annotation", "colorRatio")
    )


def top_colors_with_shares(images: DataFrame, annotation: str, k: int = 3) -> DataFrame:
    """Query C (:773-794): k most common colors of one image + percentage of
    colored pixels — distributed explode/count replaces the driver-side
    Counter, and reports correct (color, share) pairs (fixes quirk Q3)."""
    one = images.filter(F.col("annotation") == annotation)
    exploded = one.select(
        "annotation", F.explode("colors").alias("color")
    ).filter(F.col("color") != "None")
    ranked = top_k_by_freq(exploded, ["annotation"], "color", k=k)
    totals = exploded.groupBy("annotation").agg(F.count(F.lit(1)).alias("n_colored"))
    return (
        ranked.join(totals, "annotation")
        .withColumn(
            "share_pct",
            F.round(F.col("n") / F.col("n_colored") * 100, 2),
        )
        .select("annotation", "color", "n", "share_pct", "rnk")
        .orderBy("rnk")
    )


def count_images_with_top3(
    images: DataFrame, expected: list[str] | None = None
) -> DataFrame:
    """Query D (:799-815): images whose 3 most common non-transparent colors
    are exactly ``expected`` in order. Tie-break is deterministic (by color
    name) where the reference inherited Counter insertion order (Q3)."""
    expected = expected or ["Blue", "Yellow", "Black"]
    exploded = images.select("hexcode", F.explode("colors").alias("color")).filter(
        F.col("color") != "None"
    )
    top3 = top_k_by_freq_agg(exploded, ["hexcode"], "color")
    matched = top3.filter(
        F.col("top_items") == F.array(*[F.lit(c) for c in expected])
    )
    return matched.agg(F.count(F.lit(1)).alias("n_images"))


def top_red_pixel_images(images: DataFrame, group: str = "activities", n: int = 5) -> DataFrame:
    """Query E (:820-835): top-n red-pixel images within a metadata group."""
    return (
        images.filter(F.col("group") == group)
        .withColumn("redPixelCount", red_pixel_count(F.col("colors")))
        .filter(F.col("redPixelCount") > 0)
        .groupBy("annotation")
        .agg(F.sum("redPixelCount").alias("red_pixels"))
        .orderBy(F.desc("red_pixels"), F.asc("annotation"))
        .limit(n)
    )
