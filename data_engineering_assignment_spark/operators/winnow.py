"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
2003 — the MOSS algorithm), Spark-first.

Winnowing selects a position-robust SUBSET of a document's k-gram hashes:
slide a window of ``w`` consecutive k-gram hashes over the document and keep
each window's minimum (ties -> the RIGHTMOST minimum, the deterministic
stateless variant of the paper's robust winnowing). Guarantees: any shared
substring of length >= k + w - 1 contributes at least one shared
fingerprint, and expected density is 2/(w+1) — the corpus-wide join that
finds matches runs on a ~(w+1)/2-fold sparser stream than full-shingle
dedup at the same detection floor.

Scale design:
- The positional k-gram hash stream comes from
  ``text.shingle_hash_stream(with_pos=True)`` — one character fold per
  document, hash family shared with every SQL oracle.
- Selection is ONE entity-keyed window pass (``doc_id`` partition — never a
  content key), min over a (hash, -pos) struct: lexicographic struct min IS
  the rightmost-minimum rule, so no second argmax pass.
- The match join (`winnow_dup_pairs`) runs on fingerprint HASHES with the
  standard hot-side document-frequency cap (broadcast LEFT ANTI against the
  small over-cap set) and SHUFFLE_HASH on both sides of the bucket
  self-join — the corpus is never broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import dround
from .text import shingle_hash_stream


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """(doc_id, rh, pos) — the distinct winnowing fingerprints.

    ``pos`` is the 0-based token index of the selected k-gram. Documents
    with fewer than ``k + w - 1`` tokens emit no rows (no full window).
    """
    stream = shingle_hash_stream(
        df,
        n=k,
        distinct=False,
        with_pos=True,
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = F.min(
        F.struct(
            F.col("rh").alias("rh"),
            (-F.col("pos").cast("long")).alias("np"),
        )
    ).over(win)
    full = F.count(F.lit(1)).over(win)
    return (
        stream.select("doc_id", sel.alias("_s"), full.alias("_c"))
        .where(F.col("_c") == w)
        .select(
            "doc_id",
            F.col("_s.rh").alias("rh"),
            (-F.col("_s.np")).alias("pos"),
        )
        .distinct()
    )


def winnow_stats(df: DataFrame, k: int = 4, w: int = 4) -> DataFrame:
    """Per-document fingerprint telemetry: selected counts vs window count.

    density ~ 2/(w+1) on random text (the paper's expected density) — the
    measured column makes the sparsification factor auditable.
    """
    fp = winnow_fingerprints(df, k=k, w=w)
    agg = fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.countDistinct("rh").alias("n_fp_hashes"),
        F.min("rh").alias("fp_min"),
        F.max("rh").alias("fp_max"),
    )
    n_windows = (
        F.size(F.split(F.col("text"), " ")) - F.lit(k + w - 2)
    ).cast("long")
    base = df.select("doc_id", n_windows.alias("n_windows")).where(
        F.col("n_windows") >= 1
    )
    # n_windows >= 1 implies at least one fingerprint, so the join is total
    return base.join(agg, "doc_id").select(
        "doc_id",
        "n_windows",
        "n_fp",
        "n_fp_hashes",
        "fp_min",
        "fp_max",
        dround(
            F.col("n_fp").cast("double") / F.col("n_windows").cast("double"), 4
        ).alias("density"),
    )


def winnow_dup_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    max_df: int | None = 50,
    checkpoint: bool = True,
) -> DataFrame:
    """Document pairs sharing >= 2 fingerprint hashes.

    coverage is the MOSS-style containment score: shared fingerprints over
    the SMALLER document's fingerprint-hash count. ``max_df`` drops
    boilerplate fingerprints (df over the cap) via a broadcast LEFT ANTI
    against the small hot set — never a filter that ships the kept corpus.
    """
    fp = (
        winnow_fingerprints(df, k=k, w=w)
        .select("doc_id", "rh")
        .distinct()
    )
    if max_df is not None:
        hot = (
            fp.groupBy("rh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("rh")
        )
        fp = fp.join(F.broadcast(hot), "rh", "left_anti")
    if checkpoint:
        # three consumers (sizes + both join sides): materialize the
        # winnowed stream once. checkpoint=False exposes the full lineage
        # to plan tests.
        fp = fp.localCheckpoint(eager=False)
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = fp.alias("a").hint("shuffle_hash")
    b = fp.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.rh") == F.col("b.rh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .where(F.col("shared_fp") >= 2)
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared_fp",
            "n_a",
            "n_b",
            dround(
                F.col("shared_fp").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                4,
            ).alias("coverage"),
        )
        .orderBy(F.col("coverage").desc(), "doc_a", "doc_b")
    )
