"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (100 TB): every variant is a shuffle-on-key plan —
  * exact: one hash aggregation on a 128-bit fingerprint (no wide rows move;
    group key is the 32-char hex, values are ids).
  * n-gram Jaccard: explode word shingles → self-equi-join on shingle →
    pair aggregation. The shingle join key distributes uniformly; hot
    shingles can be dropped via a document-frequency cap (``max_df``).
  * MinHash-LSH: per-doc signature (k hash mins) computed JVM-side with
    xxhash64 — no Python boundary — then banded into LSH buckets; candidate
    pairs only join within a bucket, which is the linear-scale path where the
    all-pairs Jaccard join is quadratic.
  * SimHash: 64-bit signed-bit-accumulation fingerprint; near-dups share
    fingerprints on rotated bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregates import dround
from .parallelism import ensure_min_parallelism
from .text import tokens


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash: (text_hash, keep_id, n_copies).

    ``keep_id`` is the minimum id — the deterministic survivor.
    """
    return (
        df.select(
            F.md5(F.col("text").cast("binary")).alias("text_hash"), F.col("doc_id")
        )
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(text_col: str = "text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as an array column (empty if < n tokens).

    The token split is LET-BOUND (single-element transform, the CLAUDE.md
    pattern): a lambda variable is a bound VALUE, so the per-position
    slice reads it — an inline `toks` reference inside the lambda
    re-derives the whole split once per position (r16 measured the same
    trap on the bigram LM build: 72 -> 27 s of map-stage CPU at sf1)."""
    return F.get(
        F.transform(
            F.array(tokens(text_col)),
            lambda tk: F.when(
                F.size(tk) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(tk) - n),
                        lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        0,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Exact but quadratic in shingle-collision counts — use minhash_lsh_candidates
    at scale and this as the verifier on candidate pairs.

    ``max_df`` drops shingles occurring in more than that many documents
    (boilerplate headers, common phrases) BEFORE the self-join — the
    document-frequency cap that keeps the join's per-key fan-out bounded at
    corpus scale. Jaccard is then computed over the kept-shingle universe
    (both intersection and sizes), so it stays a proper similarity.
    Output: (doc_a, doc_b, inter, jaccard), doc_a < doc_b.

    The shingle table is CHECKPOINTED once (lazy localCheckpoint — the
    caller's first action materializes compute + checkpoint in one job, so
    DataFrame construction stays lazy and timing attributions honest; the
    cc_star discipline) and the self-join SHUFFLE_HASH-hinted — the
    _bucket_self_join discipline: the explode otherwise re-executes for
    BOTH join sides plus the sizes aggregate (3x the dominant stage,
    measured ~2x wall on the clusters queries), and Catalyst left alone
    broadcasts one side = the whole shingled corpus, a scale-killer at
    100 TB. The checkpointed RDD lives until the session GCs it —
    long-lived sessions building MANY of these should unpersist via
    ``df.rdd`` or pass ``checkpoint=False`` and cache themselves.
    ``checkpoint=False`` is also the plan-test escape hatch
    (winnow_dup_pairs pattern: lineage-truncated operators can't expose
    upstream shapes to assertions).
    """
    # small-file guard (minhash_signatures discipline): the shingle explode
    # is narrow from the scan, so a one-row-group table runs it as ONE task
    # on a 32-core box — r16 profile measured two ~3.5 s single-task stages
    # feeding dedup_clusters_star before the guard
    df = ensure_min_parallelism(df)
    sh = (
        df.select(F.col("doc_id").alias("doc"), F.explode(word_shingles("text", n)).alias("shingle"))
    )
    if max_df is not None:
        # Broadcast the HOT side: shingles with df > max_df are few by
        # definition (boilerplate headers, stock phrases), while the kept set
        # is nearly the whole corpus vocabulary — broadcasting the kept set
        # would ship a corpus-sized table to every executor at scale. A
        # broadcast LEFT ANTI join against the small hot set is the inverse
        # filter with a bounded broadcast.
        doc_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        hot = doc_freq.filter(F.col("_df") > max_df).select("shingle")
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    if checkpoint:
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b").hint("shuffle_hash")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            # dround: integer-quotient ratios hit exact .xxxx5 midpoints
            # (e.g. 1/32) where plain rounding diverges between engines
            dround(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def minhash_signatures(df: DataFrame, num_hashes: int = 32) -> DataFrame:
    """Per-document MinHash signature columns h0..h{k-1}.

    Shape: explode shingles once, then ONE hash aggregation computing all k
    per-seed minima (``min(xxhash64(shingle, seed_i))``) — all JVM-side,
    map-side combinable, deterministic across runs and partitionings. (A
    per-row higher-order-function variant inlines the shingle expression k
    times and blows up codegen — this relational shape is also the one that
    scales: one shuffle keyed by doc id.)
    """
    text_col = "text"
    id_col = "doc_id"
    df = ensure_min_parallelism(df)
    sh = df.select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(text_col)).alias("shingle")
    )
    return sh.groupBy("doc").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 24,
    bands: int = 6,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any banded slice of their signature.

    rows_per_band = num_hashes / bands; collision prob ≈ 1-(1-j^r)^b.
    The bucket join is an equi-join on (band, slice-hash) — linear-scale.
    Output: (doc_a, doc_b, n_bands) with doc_a < doc_b.

    Default 24 hashes / 6 bands (r=4): measured at sf0.1, cost is dominated
    by the shingle explode+shuffle rather than the per-seed min columns, so
    24/6 runs ~26% faster than 32/8 (1.7s vs 2.3s warm) with identical
    candidates on the test corpus; recall for j=0.8 pairs is 1-(1-0.8^4)^6
    ≈ 0.96 (vs 0.99 at 8 bands, 0.88 at 4). Fewer rows per band (r=2) is
    NOT worth it: 5× false-positive candidates at the same cost.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes)
    banded = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"h{b * rows_per_band + r}").cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    return _bucket_self_join(banded)


def _bucket_self_join(banded: DataFrame) -> DataFrame:
    """Candidate pairs from a (doc, band, bucket) table: self-equi-join on
    (band, bucket), doc_a < doc_b, counting shared bands.

    The banded table is MATERIALIZED (eager localCheckpoint) before the
    self-join: without it each join side re-executes the entire
    shingle-explode → signature → band subtree — a ~2× tax on the dominant
    stage of the engine's most expensive operator family, at every scale.
    After materialization both sides read the checkpointed partitions and
    the shingle shuffle runs exactly once. (localCheckpoint stores blocks
    on executors — on a cluster with preemptible executors swap in
    ``persist(StorageLevel.DISK_ONLY)`` + a reliable checkpoint dir; the
    single-materialization shape is the same.)

    The SHUFFLE_HASH hint matters at every scale: left alone, Catalyst
    broadcasts one side — i.e. ships the ENTIRE banded corpus to every
    executor (a scale-killer at 100 TB, and ~2× slower even at sf0.1
    because the broadcast side's whole signature pipeline funnels through
    the driver). A shuffle hash join partitions both sides by (band,
    bucket) — linear, AQE-skew-splittable."""
    banded = banded.localCheckpoint(eager=True)
    a = banded.alias("a").hint("shuffle_hash")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def simhash_band_pairs(
    fps: DataFrame,
    bits: int = 31,
    bands: int = 3,
    radius: int = 2,
    id_col: str = "doc",
    fp_col: str = "simhash31",
    payload_cols: tuple[str, ...] = (),
    materialize: bool = True,
) -> DataFrame:
    """EXACT Hamming-ball pair generation over SimHash fingerprints via
    bit-band LSH: any two fingerprints within ``radius`` bit flips agree on
    at least one of ``bands`` disjoint bit-bands (pigeonhole — requires
    ``bands >= radius + 1``), so a banded equi-join generates a candidate
    superset and the exact popcount verify loses NOTHING. Unlike MinHash
    banding (probabilistic recall), this decomposition is exact, which is
    why the catalog query can share an all-pairs SQL oracle.

    Shape: band explode (narrow; fingerprint and any ``payload_cols`` RIDE
    the banded table, so no back-joins recover them) → self-equi-join on
    (band, bucket) with SHUFFLE_HASH on both sides (never broadcasts the
    corpus — _bucket_self_join discipline) → distinct (a pair can match in
    several bands) → one ``bit_count(xor)`` filter. All shuffles are
    hash-keyed and AQE-splittable; candidate volume is governed by band
    width (``bits/bands``) — wider bands = fewer, more selective buckets.
    ``materialize=True`` checkpoints the banded table so the self-join
    does not execute the upstream fingerprint subtree twice; pass False
    when ``fps`` is already materialized (the census does).

    Output: (doc_a, doc_b, <payload>_a..., <payload>_b..., hamming int),
    hamming <= radius, doc_a < doc_b.
    """
    if bands < radius + 1:
        raise ValueError("bands must be >= radius + 1 for exact recall")
    base, rem = divmod(bits, bands)
    widths = [base + 1 if b < rem else base for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]
    fp = F.col(fp_col)
    banded = fps.select(
        F.col(id_col).alias("_doc"),
        fp.alias("_fp"),
        *[F.col(c) for c in payload_cols],
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
    ).select("_doc", "_fp", *payload_cols, "bb.band", "bb.bucket")
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    # both sides hinted — the _bucket_self_join discipline: never let
    # Catalyst broadcast the banded corpus (plan-asserted in test_plans.py)
    a = banded.alias("a").hint("shuffle_hash")
    b = banded.alias("b").hint("shuffle_hash")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a._doc") < F.col("b._doc")),
    ).select(
        F.col("a._doc").alias("doc_a"),
        F.col("b._doc").alias("doc_b"),
        F.col("a._fp").alias("_fa"),
        F.col("b._fp").alias("_fb"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
    )
    return (
        pairs.distinct()
        .withColumn("hamming", F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))))
        .filter(F.col("hamming") <= radius)
        .drop("_fa", "_fb")
    )


def jaccard_prefix_join(df: DataFrame, threshold: float = 0.5, n: int = 3) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (Bayardo et
    al., "Scaling Up All Pairs Similarity Search") — the deterministic
    complement to MinHash-LSH: identical output to the full shingle
    self-join at the same threshold, with candidate volume cut by the
    prefix bound instead of by probabilistic banding.

    Principle: order every document's shingle set by a GLOBAL rarity order
    (corpus frequency asc, hash asc); two sets with Jaccard >= t must
    share an element among each set's first ``|S| - ceil(t*|S|) + 1``
    elements, so only those prefixes join. Rare shingles sort first, so
    prefix buckets are the COLD end of the frequency distribution — the
    hot boilerplate keys that blow up a naive shingle self-join never
    enter the candidate join.

    Shape: composed-hash shingle stream (no strings) → frequency
    aggregation joined back (one shuffle, the tfidf discipline — never a
    window over the shingle key) → per-doc sorted array (doc-keyed
    shuffle) materialized ONCE → prefix explode → self equi-join on the
    prefix shingle (SHUFFLE_HASH, AQE-splittable) → length filter →
    exact verify on the two sorted arrays (array_intersect — no third
    shuffle; the arrays ride the candidate rows).

    Output: (doc_a, doc_b, inter, jaccard), Jaccard computed over
    DISTINCT shingle hashes, doc_a < doc_b, jaccard >= threshold.
    """
    from .text import shingle_hash_stream

    sh = shingle_hash_stream(ensure_min_parallelism(df), n).select(
        F.col("doc_id").alias("doc"), "rh"
    )
    freq = sh.groupBy("rh").agg(F.count(F.lit(1)).alias("_f"))
    arrs = (
        sh.join(freq, "rh")
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_f"), F.col("rh")))
            ).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "doc",
            F.transform(F.col("_s"), lambda x: x.getField("rh")).alias("_sh"),
            "_n",
        )
        .localCheckpoint(eager=True)
    )
    # prefix length L = n - ceil(t*n) + 1; the 1e-9 slack keeps an FP
    # product that lands epsilon ABOVE the true integer from shortening
    # the prefix (a longer prefix is always safe — superset of candidates)
    t_num = threshold
    pre = arrs.select(
        "doc",
        "_n",
        F.posexplode(
            F.slice(
                "_sh",
                F.lit(1),
                F.col("_n")
                - F.ceil(F.lit(t_num) * F.col("_n") - 1e-9).cast("int")
                + 1,
            )
        ).alias("pos", "rh"),
    )
    a = pre.alias("a").hint("shuffle_hash")
    b = pre.alias("b")
    # PPJoin positional filter: a match at prefix positions (pa, pb) bounds
    # the intersection by min(na-pa, nb-pb); a qualifying pair needs
    # inter >= t/(1+t) * (na+nb), and its FIRST common prefix element
    # always satisfies the bound — so dropping matches that violate it
    # prunes candidates without losing any true pair. The length filter
    # (|A| >= t|B| and vice versa) rides the join condition too — cheap
    # per match, and it keeps mismatched-size pairs out of the aggregate.
    ubound = F.least(
        F.col("a._n") - F.col("a.pos"), F.col("b._n") - F.col("b.pos")
    ).cast("double")
    need = F.lit(t_num / (1.0 + t_num)) * (F.col("a._n") + F.col("b._n")) - 1e-9
    matched = a.join(
        b,
        (F.col("a.rh") == F.col("b.rh"))
        & (F.col("a.doc") < F.col("b.doc"))
        & (ubound >= need)
        & (F.col("a._n").cast("double") >= t_num * F.col("b._n") - 1e-9)
        & (F.col("b._n").cast("double") >= t_num * F.col("a._n") - 1e-9),
    )
    # PPJoin suffix bound, aggregated over ALL prefix matches of a pair
    # (replaces the plain distinct — same shuffle, strictly more pruning):
    # with _shared common prefix elements and (_lpa, _lpb) the positions
    # of the LAST matched element e* on each side, every further common
    # element sorts after e* in the shared global order — it is outside
    # at least one prefix, hence larger than that side's whole prefix,
    # hence after e* on BOTH sides (sorted arrays) — so
    #   inter <= _shared + min(na - _lpa - 1, nb - _lpb - 1),
    # and pairs whose bound misses t/(1+t)*(na+nb) skip the array verify
    # entirely. Measured honestly at sf0.1: the synthetic corpus's small
    # shingle sets share exactly one EARLY prefix element per candidate
    # pair, so the per-match positional filter already admits the same
    # 125k pairs and this bound prunes 0 extra there — its value is on
    # corpora where pairs share several prefix elements with late last
    # matches (boilerplate-heavy crawls). The in-join length filter +
    # single aggregate still measure ~17% faster end-to-end than the
    # r6 distinct + post-join filter (interleaved A/B 3.06 -> 2.53 s).
    cand = (
        matched.groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a._n").alias("_pna"),
            F.col("b._n").alias("_pnb"),
        )
        .agg(
            F.count(F.lit(1)).alias("_shared"),
            F.max("a.pos").alias("_lpa"),
            F.max("b.pos").alias("_lpb"),
        )
        .filter(
            F.col("_shared").cast("double")
            + F.least(
                F.col("_pna") - F.col("_lpa") - 1, F.col("_pnb") - F.col("_lpb") - 1
            ).cast("double")
            >= F.lit(t_num / (1.0 + t_num)) * (F.col("_pna") + F.col("_pnb")) - 1e-9
        )
        .select("doc_a", "doc_b")
    )
    fa = arrs.select(
        F.col("doc").alias("doc_a"), F.col("_sh").alias("_sa"), F.col("_n").alias("_na")
    )
    fb = arrs.select(
        F.col("doc").alias("doc_b"), F.col("_sh").alias("_sb"), F.col("_n").alias("_nb")
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    jac = inter.cast("double") / (F.col("_na") + F.col("_nb") - inter).cast("double")
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter"),
            dround(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t_num)
    )


def simhash_hamming_census(fps: DataFrame) -> DataFrame:
    """Per-distance census of Hamming-ball pairs: (hamming, n_pairs) for
    every distance <= ``radius`` that occurs, exact.

    Runs :func:`simhash_band_pairs` over the DISTINCT fingerprint table
    with per-fingerprint multiplicities, then weights: same-fingerprint
    pairs contribute C(c, 2) at distance 0, cross-fingerprint pairs
    c_a * c_b at their distance. Collapsing to distinct values first is
    the aggregate-before-join discipline: exact-duplicate documents (the
    common case in a raw crawl) multiply the banded join's hot buckets
    quadratically if banded per doc, but cost ONE row here regardless of
    copy count. Work is bounded by distinct-fingerprint pairs within the
    radius — the same census any algorithm must pay for, never inflated
    by multiplicity.

    The (fingerprint, count) table is MATERIALIZED (eager localCheckpoint)
    before fan-out: its consumers (the distance-0 aggregate and both sides
    of the banded self-join) would otherwise each re-execute the whole
    token-explode → bit-sum fingerprint subtree — the _bucket_self_join
    lesson applied at this operator's level. The checkpoint holds one row
    per distinct fingerprint (12 bytes), bounded by min(corpus, 2^bits);
    the multiplicities ride the banded table as payload, so no weight
    back-joins.
    """
    bits = 31
    bands = 2
    radius = 1
    cnt = fps.groupBy("simhash31").agg(F.count(F.lit(1)).alias("_c")).localCheckpoint(
        eager=True
    )
    h0 = (
        cnt.filter(F.col("_c") >= 2)
        # integer DIV: c*(c-1) is even, so this is exact — a double
        # division would round above 2^53 total pairs
        .agg(
            F.sum(F.expr("_c * (_c - 1) DIV 2")).cast("long").alias("n_pairs")
        )
        .select(F.lit(0).cast("long").alias("hamming"), "n_pairs")
        .filter(F.col("n_pairs").isNotNull())
    )
    dfp = cnt.select(F.col("simhash31").alias("doc"), F.col("simhash31"), "_c")
    pairs = simhash_band_pairs(
        dfp,
        bits=bits,
        bands=bands,
        radius=radius,
        id_col="doc",
        payload_cols=("_c",),
        materialize=False,
    )
    cross = pairs.groupBy(F.col("hamming").cast("long").alias("hamming")).agg(
        F.sum(F.col("_c_a") * F.col("_c_b")).alias("n_pairs")
    )
    return h0.unionByName(cross)


def keep_best(
    df: DataFrame, cluster_col, order_cols: list, keep_cols: list[str] | None = None
) -> DataFrame:
    """Survivor selection: one row per duplicate cluster under a total order
    (e.g. longest text, then smallest id). Window row_number == 1."""
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(*order_cols)
    out = df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return out.select(*keep_cols) if keep_cols else out.drop("_rn")


def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash of the token stream (JVM-side bit accumulation).

    For each bit position, sums +1/-1 over tokens by that bit of
    xxhash64(token), then takes the sign. Near-identical token multisets give
    near-identical fingerprints (low Hamming distance).
    """
    toks = tokens("text")
    h = F.explode(toks).alias("tok")
    per_tok = df.select(F.col("doc_id").alias("doc"), h).withColumn(
        "th", F.xxhash64(F.col("tok"))
    )
    bit_cols = [
        F.sum(
            F.when(F.expr(f"(th >> {i}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    acc = per_tok.groupBy("doc").agg(*bit_cols)
    fp = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp + term
    return acc.select("doc", fp.alias("simhash"))


# Portable-hash MinHash: permutations of text.rolling_hash (31-bit domain,
# exactly reproducible in any engine) instead of xxhash64. a_i/b_i are small
# fixed odd/prime-stepped constants; products stay < 2^37, so ANSI bigint
# arithmetic never overflows.
PORTABLE_MOD = 1_000_000_007


def _portable_perm(i: int, rh: F.Column) -> F.Column:
    return (F.lit(2 * i + 1) * rh + F.lit(7919 * i + 13)) % PORTABLE_MOD


def minhash_signatures_portable(df: DataFrame, num_hashes: int = 12) -> DataFrame:
    """MinHash signatures over k affine permutations of the portable rolling
    hash — same one-shuffle shape as :func:`minhash_signatures`, but every
    value has an exact SQL twin, so the whole LSH pipeline can be gated by
    the cross-engine oracle (xxhash64 cannot). The per-char hash fold costs
    more than xxhash64; this is the verifiable variant, not the fast path.
    """
    from .text import shingle_hash_stream

    text_col = "text"
    id_col = "doc_id"
    df = ensure_min_parallelism(df)
    # composed shingle hashes (no shingle strings, one char fold per doc —
    # text.shingle_hash_stream); values equal rolling_hash(shingle), so
    # the SQL twins are unchanged
    sh = shingle_hash_stream(df, 3, (id_col,), text_col, out_col="rh").select(
        F.col(id_col).alias("doc"), "rh"
    )
    return sh.groupBy("doc").agg(
        *[F.min(_portable_perm(i, F.col("rh"))).alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_lsh_candidates_portable(df: DataFrame) -> DataFrame:
    """LSH candidate pairs from portable signatures. Band buckets are the
    comma-joined slice values (a plain string both engines build identically)
    rather than an engine hash. Output: (doc_a, doc_b, n_bands), doc_a <
    doc_b — deterministic, so it is oracle-gated end to end.
    """
    num_hashes = 12
    bands = 4
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures_portable(df, num_hashes)
    banded = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")
    return _bucket_self_join(banded)


def simhash_portable(df: DataFrame) -> DataFrame:
    """31-bit SimHash over the portable rolling hash of each token — the
    verifiable twin of :func:`simhash64` (whose xxhash64 has no SQL twin).
    Same shape: token explode → one aggregation of per-bit +1/-1 sums →
    fingerprint assembly. 31 bits because the rolling hash's domain is
    [0, 1e9+7); locality behavior is the same, collision resistance is
    lower — use simhash64 as the production path.
    """
    from .text import rolling_hash

    per_tok = df.select(
        F.col("doc_id").alias("doc"), F.explode(tokens("text")).alias("tok")
    ).select("doc", rolling_hash(F.col("tok")).alias("rh"))
    bit_cols = [
        F.sum(
            F.when(F.shiftright(F.col("rh"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(31)
    ]
    acc = per_tok.groupBy("doc").agg(*bit_cols)
    fp = None
    for i in range(31):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp + term
    return acc.select("doc", fp.alias("simhash31"))


def containment_pairs(
    df: DataFrame,
    n: int = 5,
    threshold: float = 0.6,
    max_df: int | None = 50,
) -> DataFrame:
    """All-pairs ASYMMETRIC n-gram containment >= threshold.

    Jaccard misses subset relationships (a quote, an excerpt, a doc embedded
    in a larger one scores low because the union is large); containment
    |A∩B| / min(|A|, |B|) scores the smaller side's coverage, the standard
    quote/excerpt-detection measure (Broder 1997's second resemblance
    measure). Same scale discipline as the Jaccard path: hashed shingle
    stream (one char fold per doc — never string shingles), hot-shingle
    document-frequency cap via broadcast LEFT ANTI, SHUFFLE_HASH self-join.
    ``direction`` reports which side is (near-)contained: 'a_in_b' when
    |A| <= |B| else 'b_in_a'.

    Output: (doc_a, doc_b, inter, n_a, n_b, containment, direction),
    doc_a < doc_b.
    """
    from .text import shingle_hash_stream

    sh = shingle_hash_stream(ensure_min_parallelism(df), n=n).select(
        F.col("doc_id").alias("doc"), "rh"
    )
    if max_df is not None:
        hot = (
            sh.groupBy("rh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("rh")
        )
        sh = sh.join(F.broadcast(hot), "rh", "left_anti")
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b").hint("shuffle_hash")
    inter = (
        a.join(
            b,
            (F.col("a.rh") == F.col("b.rh")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "containment",
            dround(
                F.col("inter").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                4,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "n_a",
            "n_b",
            "containment",
            F.when(F.col("n_a") <= F.col("n_b"), F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
        )
    )
