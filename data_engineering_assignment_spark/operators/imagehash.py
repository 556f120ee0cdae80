"""Perceptual media dedup: pHash/dHash image fingerprints and aphash
audio fingerprints over binary media columns + banded Hamming pair
generation — the multimodal analog of the text SimHash path. The
reference's media route stops at color analytics
(Assignment-python.py:654-661,710); near-duplicate IMAGE/AUDIO
detection is additive LLM-pipeline surface (crawled media corpora are
full of re-encodes, gain/brightness tweaks and resizes of the same
asset that byte-exact dedup misses).

Scale shape: hashing is an Arrow-batched mapInPandas pass through
``sources._binary_meta_source`` (per-row numpy DCT, embarrassingly
parallel, zero shuffle — the codec-gate class);
pair generation reuses :func:`operators.dedup.simhash_band_pairs`
verbatim, so the 100 TB discipline is inherited: exact pigeonhole
bit-band LSH (radius r needs r+1 bands, zero recall loss), SHUFFLE_HASH
on both self-join sides (never broadcast the corpus), one
``bit_count(xor)`` verify on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.multimodal import decode_any
from ..functions.phash import dhash64, phash63
from ..sources import _binary_meta_source
from .dedup import simhash_band_pairs


def image_hashes(df: DataFrame) -> DataFrame:
    """(id, phash, dhash, parse_ok) per media row: decode the binary column
    (any supported codec via decode_any) and fingerprint the FIRST frame.
    Undecodable rows survive with parse_ok = false and NULL hashes — the
    dead-letter discipline, never a dropped row."""

    def rows_fn(decoded):
        first = decoded[0][0]
        return [(phash63(first), dhash64(first))]

    return _binary_meta_source(
        df, "content", "doc_id", decode_any, "phash long, dhash long", rows_fn
    )


def image_phash_pairs(hashes: DataFrame) -> DataFrame:
    """EXACT Hamming-ball near-duplicate image pairs over 63-bit pHashes
    (doc_a, doc_b, hamming), hamming <= radius, doc_a < doc_b. Delegates
    to the proven SimHash band machinery with bits=63."""
    radius = 2
    bands = 3
    return simhash_band_pairs(
        hashes.filter("parse_ok").select("doc_id", "phash"),
        bits=63,
        bands=bands,
        radius=radius,
        id_col="doc_id",
        fp_col="phash",
    )


def audio_hashes(df: DataFrame) -> DataFrame:
    """(id, aphash, parse_ok) per WAV media row: decode the binary column
    (any :func:`multimodal.decode_wav` profile) and fingerprint the clip
    with :func:`phash.aphash63`. Undecodable rows survive with
    parse_ok = false and a NULL hash — the dead-letter discipline."""
    from ..functions.multimodal import decode_wav
    from ..functions.phash import aphash63

    return _binary_meta_source(
        df, "content", "doc_id", decode_wav, "aphash long",
        lambda decoded: [(aphash63(decoded[0]),)],
    )


def audio_phash_pairs(hashes: DataFrame) -> DataFrame:
    """EXACT Hamming-ball near-duplicate audio pairs over 63-bit aphash
    fingerprints (doc_a, doc_b, hamming) — same banded machinery as
    :func:`image_phash_pairs`."""
    radius = 2
    bands = 3
    return simhash_band_pairs(
        hashes.filter("parse_ok").select("doc_id", "aphash"),
        bits=63,
        bands=bands,
        radius=radius,
        id_col="doc_id",
        fp_col="aphash",
    )


def video_hashes(df: DataFrame) -> DataFrame:
    """(id, vphash, n_frames, parse_ok) per video media row: decode the
    binary column (any decode_any container) and fingerprint the clip
    with :func:`phash.vphash61`."""
    from ..functions.phash import vphash61

    return _binary_meta_source(
        df, "content", "doc_id", decode_any, "vphash long, n_frames int",
        lambda decoded: [(vphash61(decoded[0]), decoded[0].shape[0])],
    )


def video_dup_pairs(hashes: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs of clips with IDENTICAL vphash fingerprints —
    exact-clip dedup. One map-side-combinable collect_list per
    fingerprint plus an in-row pair enumeration (the affinity
    _pair_structs discipline: groups are duplicate sets, small by
    nature — never a self-join on a content key)."""
    from pyspark.sql import functions as F

    groups = (
        hashes.filter("parse_ok")
        .groupBy("vphash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = groups.select(
        F.explode(
            F.expr(
                "flatten(transform(slice(ids, 1, size(ids) - 1), (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), y -> "
                "struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b")


def _band_explode(fps: DataFrame, bits: int, bands: int) -> DataFrame:
    """(id, fp, band, bucket) — the simhash_band_pairs bit-band split
    for CROSS-table candidate joins (delta vs corpus)."""
    from pyspark.sql import functions as F

    id_col = "doc_id"
    fp_col = "phash"
    base, rem = divmod(bits, bands)
    widths = [base + 1 if b < rem else base for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]
    fp = F.col(fp_col)
    return fps.select(
        F.col(id_col).alias("_doc"),
        fp.alias("_fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(fp, offsets[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .cast("string")
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_doc", "_fp", "bb.band", "bb.bucket")


def incremental_image_dedup(
    corpus_hashes: DataFrame,
    delta_hashes: DataFrame,
    radius: int = 2,
) -> DataFrame:
    """Daily-ingest image dedup: judge a DELTA batch of fingerprints
    against the STANDING corpus — (doc_id, n_dups, best_hamming, status)
    per delta row, status 'dup' when any corpus fingerprint lies within
    ``radius`` bit flips (exact by the pigeonhole band guarantee),
    else 'novel'. Delta rows whose hash failed (parse_ok = false) are NOT
    dropped: they come back as status 'undecodable' with NULL n_dups /
    best_hamming, so the report reconciles 1:1 against the ingest batch
    (the module's dead-letter contract).

    The 100 TB shape inverts the usual broadcast (the incremental_dedup
    discipline): the DELTA's banded buckets are broadcast (bounded by
    ingest batch size) against the corpus fingerprint scan — the corpus
    is never shuffled, collected, or broadcast, so daily ingest cost is
    O(corpus scan + batch). One bit_count(xor) verifies candidates."""
    from pyspark.sql import functions as F

    bands = 3
    if bands < radius + 1:
        raise ValueError("bands must be >= radius + 1 for exact recall")
    bits = 63
    delta_all = delta_hashes.select("doc_id", "parse_ok")
    delta = delta_hashes.filter("parse_ok").select("doc_id", "phash")
    corpus = corpus_hashes.filter("parse_ok").select("doc_id", "phash")
    db = _band_explode(delta, bits, bands)
    cb = _band_explode(corpus, bits, bands)
    cand = (
        cb.join(
            F.broadcast(db.select(
                F.col("_doc").alias("_d"),
                F.col("_fp").alias("_dfp"),
                "band",
                "bucket",
            )),
            ["band", "bucket"],
        )
        .select(
            F.col("_d").alias("doc_id"),
            F.col("_doc").alias("_c"),
            F.col("_fp").alias("_cfp"),
            F.col("_dfp"),
        )
        .distinct()  # a pair can match in several bands
        .withColumn("hamming", F.bit_count(F.col("_cfp").bitwiseXOR(F.col("_dfp"))))
        .filter(F.col("hamming") <= radius)
    )
    hits = cand.groupBy("doc_id").agg(
        F.countDistinct("_c").cast("long").alias("n_dups"),
        F.min("hamming").cast("long").alias("best_hamming"),
    )
    return (
        delta_all  # UNFILTERED ids: undecodable rows must not vanish
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("parse_ok"), F.coalesce("n_dups", F.lit(0))).alias(
                "n_dups"
            ),
            F.when(F.col("parse_ok"), F.col("best_hamming")).alias(
                "best_hamming"
            ),
            F.when(~F.col("parse_ok"), F.lit("undecodable"))
            .when(F.col("n_dups").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )
