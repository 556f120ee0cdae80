"""Mergeable frequency sketches (Count-Min) as plain DataFrames.

A Count-Min sketch is the classic bounded-memory frequency structure for
heavy-hitter queries over unbounded key domains: ``depth`` hash rows ×
``width`` counters, point estimate = min over rows. Represented here AS A
DATAFRAME of (d, bucket, counter) rows, it inherits Spark's execution
properties for free:

  * building is one explode (``depth`` probes per item occurrence) + one
    map-side-combinable aggregation — no per-key state, linear at any
    corpus size, never a vocabulary table;
  * sketches are MERGEABLE by union + re-aggregation (counters are sums),
    so per-partition / per-day sketches combine exactly;
  * estimates never undercount (CM guarantees est >= true), also asserted.

Hashes are affine permutations of ``text.rolling_hash`` over a prime
modulus (the dedup-portable family, operators/dedup.py:298) rather than
xxhash64, so every counter and every estimate is reproducible in ANY
engine — the catalog query ``cms_token_counts`` oracle-checks the sketch
contents bit-for-bit against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import PORTABLE_MOD

# rank_values_pruned histogram width over [0, PORTABLE_MOD) hashes: ~500
# buckets, so each resolve step reads one narrow hash range
HASH_BUCKET_WIDTH = 2_000_000.0
BLOOM_K = 4  # probe positions per item of bloom_build / bloom_maybe_contains


def cms_bucket(rh: Column, i: int, width: int) -> Column:
    """Row-``i`` bucket of an item whose portable rolling hash is ``rh``."""
    return ((F.lit(2 * i + 1) * rh + F.lit(7919 * i + 13)) % PORTABLE_MOD) % width


def cms_sketch(
    df: DataFrame,
    depth: int = 4,
    width: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the (d, bucket, counter) sketch from an item-occurrence stream.

    One row per occurrence in ``df`` (duplicates count); ``weight_col``
    switches to weighted counting. Output: depth × width rows at most.
    """
    from .text import rolling_hash

    item_col = "tok"
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    rh = rolling_hash(item_col)
    probes = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"), cms_bucket(rh, i, width).alias("bucket")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
        w.alias("_w"),
    )
    return probes.groupBy(F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket")).agg(
        F.sum("_w").alias("counter")
    )


def bloom_position(rh: Column, i: int, m_bits: int) -> Column:
    """Probe-``i`` bit position of an item whose portable rolling hash is
    ``rh`` — delegates to :func:`cms_bucket` so the portable
    affine-permutation hash family has exactly ONE definition (a drift in
    either family would silently desynchronize every SQL oracle that
    inlines the constants)."""
    return cms_bucket(rh, i, m_bits)


def bloom_build(
    df: DataFrame,
    item_col: str,
    m_bits: int = 1 << 14,
    hash_col: str | None = None,
) -> DataFrame:
    """Build a Bloom filter over the items as a DataFrame of DISTINCT set
    bit positions (one ``pos`` long column, at most
    ``min(BLOOM_K*|items|, m_bits)``
    rows — bounded by ``m_bits`` regardless of corpus size, hence always
    broadcast-eligible).

    The membership structure the 100 TB decontamination path wants: the
    exact benchmark-shingle set grows with the benchmark suite, but the
    filter is a fixed ``m_bits`` bits chosen for the target false-positive
    rate (BLOOM_K = 4 probes, m/n ≈ 8 bits/item → ~2.4% FP), so the broadcast
    cost is a constant. Building is one explode + one distinct — map-side
    combinable, linear. ``hash_col`` names a column already holding the
    item's rolling hash — callers that materialize a hashed stream skip
    the per-char fold here.
    """
    from .text import rolling_hash

    rh = F.col(hash_col) if hash_col else rolling_hash(item_col)
    return (
        df.select(
            F.explode(
                F.array(*[bloom_position(rh, i, m_bits) for i in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )


def bloom_maybe_contains(
    bloom: DataFrame,
    items: DataFrame,
    item_col: str,
    m_bits: int = 1 << 14,
    hash_col: str | None = None,
) -> DataFrame:
    """Probe each row's ``item_col`` against the filter: ``bloom_hit`` is
    true iff ALL ``BLOOM_K`` probe positions are set (the Bloom "maybe
    present"; false is a certainty). ``BLOOM_K`` chained BROADCAST left
    joins, one per probe position — fully NARROW: the probed stream is
    never exploded, regrouped, or shuffled, each row just does
    ``BLOOM_K`` hash lookups against the
    broadcast position set (the filter is bounded by ``m_bits``, so the
    broadcasts are constant-size at any corpus size). ``hash_col`` as in
    :func:`bloom_build` — without it the per-char hash fold is inlined
    into every join condition, so pass a materialized hash column for
    anything large.
    """
    from .text import rolling_hash

    rh = F.col(hash_col) if hash_col else rolling_hash(item_col)
    k = BLOOM_K
    out = items
    for i in range(k):
        bi = bloom.select(
            F.col("pos").alias(f"_p{i}"), F.lit(1).alias(f"_s{i}")
        )
        out = out.join(
            F.broadcast(bi), bloom_position(rh, i, m_bits) == F.col(f"_p{i}"), "left"
        )
    hit = F.lit(True)
    for i in range(k):
        hit = hit & F.col(f"_s{i}").isNotNull()
    return out.withColumn("bloom_hit", hit).drop(
        *[c for i in range(k) for c in (f"_p{i}", f"_s{i}")]
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate each distinct item in ``items``: min over the depth
    rows of its counters (an absent bucket counts 0). Adds ``cms_est``.

    The sketch is depth × width rows — broadcast-sized by construction at
    any corpus size, so the probe join is a broadcast hash join.
    """
    from .text import rolling_hash

    item_col = "tok"
    rh = rolling_hash(item_col)
    probes = items.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"), cms_bucket(rh, i, width).alias("bucket")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select("*", F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket")).drop("p")
    joined = probes.join(F.broadcast(sketch), ["d", "bucket"], "left").withColumn(
        "_c", F.coalesce(F.col("counter"), F.lit(0).cast("long"))
    )
    others = [c for c in items.columns]
    return joined.groupBy(*others).agg(F.min("_c").alias("cms_est"))


# ---------------------------------------------------------------------------
# Distinct-count sketches: KMV (bottom-k) and portable HLL registers.
#
# Both use portable integer MIX hashes so every register value, k-th
# minimum, and estimate is reproducible bit-for-bit in any engine — the
# catalog queries oracle-check the sketch INTERNALS, not just row counts,
# which is what the Spark-native hll_sketch_agg path
# (approx_distinct_users_rollup) inherently cannot offer.
#
# Hash design: a single affine permutation mod P maps sequential ids to an
# arithmetic progression — KMV then estimates the STRIDE density (measured
# 4x off) and HLL's trailing-zero geometry inherits the progression's
# dyadic structure (measured +80%). Four rounds of (affine mod P, 15-bit
# half-swap) break the structure while staying inside exact int64
# arithmetic in BOTH engines (largest product 2654435769 * (P-1) < 2^62;
# no wrapping multiplies, which ANSI Spark and DuckDB both reject).
# Measured on adversarial sequential-id sets: KMV within +-9% at k=64 and
# HLL raw within 14% at m=256 (~2 sigma) across 640..500k distincts.
# ---------------------------------------------------------------------------

# round constants: classic LCG multipliers, all coprime to P
MIX1_ROUNDS = ((2654435769, 11), (1566083941, 17), (48271, 7), (16807, 3))
MIX2_ROUNDS = ((1103515245, 12345), (69069, 97), (2147483629, 31), (65539, 9))


def mix_expr(x: str, rounds=MIX1_ROUNDS, div: str = "div") -> str:
    """SQL text of the 4-round mix of integer expression ``x`` onto
    [0, PORTABLE_MOD) — generated from the SAME literal round constants
    for the Spark side (``div='div'``) and the DuckDB oracle
    (``div='//'``), the projection.py literal-coefficient discipline.
    The half-swap references its input twice, so the inline text doubles
    per round (2^3 copies of ``x``): all cheap integer ops, chosen over a
    staged projection because CollapseProject would re-inline stages
    anyway."""
    e = f"(CAST({x} AS BIGINT) % {PORTABLE_MOD})"
    for i, (a, b) in enumerate(rounds):
        if i:  # swap 15-bit halves (value < 2^30) between affine rounds
            e = f"((({e}) % 32768) * 32768 + ({e}) {div} 32768)"
        e = f"(({a} * {e} + {b}) % {PORTABLE_MOD})"
    return e


def id_hash(col: str, rounds=MIX1_ROUNDS) -> Column:
    """Portable well-mixed hash of a non-negative integer id column onto
    [0, PORTABLE_MOD)."""
    return F.expr(mix_expr(col, rounds))


def kmv_kth_hash(
    df: DataFrame,
    item_col: str,
    key_col: str,
    k: int,
) -> DataFrame:
    """Per-key KMV sketch state: the k-th smallest distinct item hash.

    KMV / bottom-k (Bar-Yossef et al. 2002): with hashes uniform on
    [0, M), the k-th smallest distinct hash ``h_(k)`` estimates the
    distinct count as ``(k-1) * M / h_(k)`` — the sketch state is just k
    longs, mergeable by union (the union's bottom-k is contained in the
    union of per-part bottom-ks; asserted in tests).

    The k-th minimum is located with :func:`quantiles.rank_values_pruned`
    (rank k = (0*n + k) div 1): histogram → locate → resolve, so no key
    group is ever sorted whole (the CLAUDE.md aggregate-valued-quantile
    invariant — a rank window per key would pin one task per key at
    scale). Output: (key, n_rows = the DISTINCT-HASH count — distinct
    after mixing onto [0, PORTABLE_MOD), which birthday collisions
    (~n^2/2e9) can undercount vs the raw distinct count for large keys;
    callers wanting exact-distinct telemetry should countDistinct the raw
    column, as kmv_distinct_users does — and kth_hash; kth_hash is null
    when the key has < k distinct hashes).
    """
    from .quantiles import rank_values_pruned

    d = df.select(F.col(key_col), id_hash(item_col).alias("_kmv_h")).distinct()
    out = rank_values_pruned(
        d, "_kmv_h", key_col, [("kth_hash", 0, k, 1)], bucket_width=HASH_BUCKET_WIDTH
    )
    return out


def kmv_estimate(k: int) -> Column:
    """Distinct-count estimate from the k-th smallest hash — exact integer
    arithmetic (``(k-1) * M div h_(k)``; true integer ``div``, never a
    double divide + cast, which rounds across integer boundaries — the
    CLAUDE.md shiftright invariant's sibling), so the oracle's ``//`` twin
    is bit-exact."""
    kth_hash_col = "kth_hash"
    num = (k - 1) * PORTABLE_MOD
    return F.when(
        F.col(kth_hash_col).isNotNull(),
        F.expr(f"CAST({num} AS BIGINT) div {kth_hash_col}").cast("long"),
    )


HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
# the rho source value is < 2^30, so trailing zeros <= 29 and rho <= 30;
# a value of 0 caps just above the largest reachable rho.
HLL_RHO_CAP = 31
# alpha_m for m = 256 (Flajolet et al. 2007 eq. 3) — computed ONCE here and
# inlined as the SAME literal into the SQL oracle (the projection.py
# literal-coefficient discipline), so the one double expression matches.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def hll_register_values(df: DataFrame, item_col: str, key_col: str) -> DataFrame:
    """Per-(key, register) HLL state M_j = max over items of rho(item).

    register = mix1(id) mod 256; rho = 1 + (trailing zeros of mix2(id)) —
    an INDEPENDENT mix chain, because max-rho statistics are the
    sketch's tail-sensitive part and reusing mix1's high bits measurably
    correlates register choice with rho on sequential ids. Trailing zeros
    come portably from the binary STRING (``bin(w)`` minus its ``0+$``
    tail — both engines print minimal binary, no libm anywhere).
    max() is idempotent, so the input needs NO distinct pass — the whole
    sketch build is one map-side-combinable aggregate over the raw
    stream, the property that makes HLL the 100 TB distinct-count path.
    """
    hashed = df.select(
        F.col(key_col),
        id_hash(item_col, MIX1_ROUNDS).alias("_h"),
        id_hash(item_col, MIX2_ROUNDS).alias("_w"),
    )
    w = F.col("_w")
    b = F.bin(w)
    # bin(w) appears twice in rho; it is a <=30-char string op per row —
    # cheap enough to let CollapseProject inline (the CLAUDE.md duplicated-
    # expression watch applies to per-char folds, not one bin()).
    rho = F.when(w == F.lit(0), F.lit(HLL_RHO_CAP)).otherwise(
        F.length(b) - F.length(F.regexp_replace(b, "0+$", "")) + F.lit(1)
    )
    return (
        hashed.select(
            F.col(key_col),
            (F.col("_h") % HLL_M).alias("reg"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(key_col, "reg")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_raw_estimate(registers: DataFrame, key_col: str) -> DataFrame:
    """Collapse (key, reg, m_j) register states to the raw HLL estimate.

    The harmonic mean's sum(2^-M_j) is kept EXACT as the scaled integer
    S = sum(2^(32 - M_j)) + (m - hit) * 2^32 (absent registers have
    M_j = 0); the only floating-point step is the final
    alpha * m^2 * 2^32 / S — three correctly-rounded IEEE ops with a
    literal alpha, identical in the oracle. No small-range linear-counting
    correction (it needs ln); the RAW estimate plus the register-state
    columns is the checkable contract, and n_regs_hit lets a caller apply
    any correction downstream.
    """
    two32 = 1 << 32
    per_key = registers.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_regs_hit"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 32 - m_j)")).alias("_s_hit"),
    )
    s = (
        F.col("_s_hit")
        + (F.lit(HLL_M).cast("long") - F.col("n_regs_hit")) * F.lit(two32).cast("long")
    ).alias("reg_harmonic_scaled")
    est = (
        F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) * F.lit(float(two32))
        / F.col("reg_harmonic_scaled").cast("double")
    ).alias("hll_raw_est")
    return per_key.select(key_col, "n_regs_hit", s).select(
        key_col, "n_regs_hit", "reg_harmonic_scaled", est
    )


def kmv_bottomk(
    df: DataFrame,
    item_col: str,
    key_col: str,
    k: int,
) -> DataFrame:
    """Per-key KMV bottom-k SET: the k smallest distinct item hashes as a
    sorted array — the sketch state that supports set OPERATIONS
    (union / intersection / Jaccard via :func:`kmv_pair_overlap`), not
    just cardinality like :func:`kmv_kth_hash`'s single value. The theta-
    sketch shape (Dasgupta et al. 2016): same hash for the same item
    everywhere, so two keys' samples are COMPARABLE.

    Scale shape: the k-th hash is located by :func:`kmv_kth_hash`
    (histogram-pruned — no per-key sort, no content-key window), then one
    equi-join back keeps only hashes <= that threshold; collect_list runs
    on the BOUNDED survivor set (<= k rows per key; a key with < k
    distinct items keeps them all — its sketch is the complete hash set,
    flagged exact downstream). Output: (key, n_rows, sketch array<long>
    sorted ascending)."""
    d = df.select(F.col(key_col), id_hash(item_col).alias("_kmv_h")).distinct()
    kth = kmv_kth_hash(df, item_col, key_col, k)
    kept = d.join(kth, key_col).filter(
        F.col("kth_hash").isNull() | (F.col("_kmv_h") <= F.col("kth_hash"))
    )
    return kept.groupBy(key_col).agg(
        F.first("n_rows").alias("n_rows"),
        F.sort_array(F.collect_list("_kmv_h")).alias("sketch"),
    )


def kmv_pair_overlap(sketches: DataFrame, key_col: str, k: int) -> DataFrame:
    """Pairwise set-operation estimates from KMV bottom-k sketches — the
    theta-sketch intersection/union trick: the bottom-k of a UNION is
    computable from the two bottom-k samples (it is contained in their
    union), and membership of each union-sample hash in both sketches is
    decidable exactly, so

      * ``union_est``  = (k-1) * M div kth(union sample)   [KMV estimator;
        exact size when the union sample has < k hashes — then both
        sketches were complete],
      * ``n_both``     = union-sample hashes present in BOTH sketches,
      * ``inter_est``  = n_both * union_est div |union sample|,
      * ``jaccard_pm`` = n_both * 1000 div |union sample|  (per-mille,
        integer-exact — no float surface).

    The sketch table is one bounded row per key (arrays <= k), so the
    a.key < b.key self-join is over a SMALL dimension regardless of
    corpus size; the per-pair work is one let-bound lambda over the <= 2k
    merged array (array_union dedups; a single in-row pass computes the
    union sample, its kth hash and the both-membership count — no
    re-derivation of the merged array per reference)."""
    a = sketches.select(
        F.col(key_col).alias("key_a"), F.col("sketch").alias("sk_a")
    )
    b = sketches.select(
        F.col(key_col).alias("key_b"), F.col("sketch").alias("sk_b")
    )
    # non-equi pair condition: hint the bounded sketch dimension (one row
    # per key) so the plan is a BNLJ broadcast, never a CartesianProduct
    pairs = a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))
    # let-bind the union sample once (lambda vars are bound VALUES)
    u = F.slice(F.array_sort(F.array_union("sk_a", "sk_b")), 1, k)
    stats = F.get(
        F.transform(
            F.array(u),
            lambda us: F.struct(
                F.size(us).alias("n_u"),
                F.element_at(us, F.size(us)).alias("kth_u"),
                F.size(
                    F.filter(
                        us,
                        lambda h: F.array_contains("sk_a", h)
                        & F.array_contains("sk_b", h),
                    )
                ).alias("n_both"),
            ),
        ),
        0,
    )
    num = (k - 1) * PORTABLE_MOD
    with_stats = pairs.select("key_a", "key_b", stats.alias("_s"))
    union_est = F.when(
        F.col("_s.n_u") < k, F.col("_s.n_u").cast("long")
    ).otherwise(F.expr(f"CAST({num} AS BIGINT) div _s.kth_u"))
    return with_stats.select(
        "key_a",
        "key_b",
        F.col("_s.n_u").cast("long").alias("n_union_sample"),
        F.col("_s.n_both").cast("long").alias("n_both"),
        union_est.alias("union_est"),
    ).select(
        "*",
        F.expr("(n_both * union_est) div n_union_sample").alias("inter_est"),
        F.expr("(n_both * 1000) div n_union_sample").alias("jaccard_pm"),
    )


# ---------------------------------------------------------------------------
# q-digest: the union-MERGEABLE quantile sketch (Shrivastava et al. 2004,
# "Medians and Beyond") — the streaming/rollup percentile path the exact
# batch answer (quantiles.rank_values_pruned) can't serve: per-partition /
# per-day digests merge by count-sum + one recompression, and the whole
# structure is a DETERMINISTIC, ORDER-INDEPENDENT function of the value
# multiset (no sampling, no insertion-order state like GK/KLL), so a SQL
# twin can rebuild it bit-for-bit with unrolled level CTEs — the
# cms_token_counts discipline for quantiles.
# ---------------------------------------------------------------------------
#
# Structure: the complete binary tree over an integer universe [0, 2^bits)
# in heap numbering (root 1; leaf for value v = 2^bits + v); the digest is
# the sparse (node, cnt) multiset after a LEVEL-SYNCHRONOUS bottom-up
# sweep: for depth L = bits..1, each parent absorbs its surviving children
# iff child_sum + parent_cnt <= n // k (one threshold, fixed per digest).
# Absorb decisions are per-parent and independent, so the sweep has no
# tie-break surface at all. Every internal node's count is <= n//k and a
# leaf's rank uncertainty is the mass parked on its <= `bits` ancestors,
# giving the classic q-digest guarantee:
#
#     rank error of any quantile estimate  <=  bits * (n // k)
#
# (asserted empirically in tests/test_sketches.py). Digest size is
# bounded by the universe (2^bits+1 nodes) REGARDLESS of corpus size —
# the 100 TB story: the only corpus-sized operation is the map-side-
# combinable leaf count; compression and queries run on the bounded
# digest. n//k == 0 degenerates to the exact histogram (no compression).


def _qdigest_compress(counts: dict, k: int, bits: int) -> dict:
    """The deterministic level-synchronous sweep (pure Python ints —
    bit-exact with the SQL oracle's unrolled CTE replay)."""
    n = sum(counts.values())
    thr = n // k
    if thr <= 0:
        return counts
    for level in range(bits, 0, -1):
        lo_id, hi_id = 1 << level, 1 << (level + 1)
        by_parent: dict[int, list[int]] = {}
        for m in [m for m in counts if lo_id <= m < hi_id]:
            by_parent.setdefault(m >> 1, []).append(m)
        for p, kids in by_parent.items():
            csum = sum(counts[m] for m in kids)
            pcnt = counts.get(p, 0)
            if csum + pcnt <= thr:
                for m in kids:
                    del counts[m]
                counts[p] = pcnt + csum
    return counts


def _qdigest_rows(counts: dict, bits: int) -> list[tuple]:
    """(node, lvl, cnt, lo, hi) rows; lo/hi = the node's value span."""
    out = []
    for node, cnt in counts.items():
        lvl = node.bit_length() - 1
        side = 1 << (bits - lvl)
        lo = (node - (1 << lvl)) * side
        out.append((node, lvl, cnt, lo, lo + side - 1))
    out.sort()
    return out


def _qdigest_apply(df: DataFrame, group_cols, k: int, bits: int) -> DataFrame:
    """groupBy(group).applyInPandas of the sweep over (node, cnt) rows."""
    import pandas as pd

    gcols = list(group_cols or [])
    grouped = bool(gcols)
    if not grouped:  # one global digest: a synthetic constant group key
        df = df.withColumn("_g", F.lit(0))
        gcols = ["_g"]
    gfields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in gcols
    ) or "_g int"
    schema = gfields + ", node long, lvl int, cnt long, lo long, hi long"

    def compress(pdf: pd.DataFrame) -> pd.DataFrame:
        counts: dict[int, int] = {}
        for node, cnt in zip(pdf["node"], pdf["cnt"]):
            node = int(node)
            if not 1 <= node < (1 << (bits + 1)):
                raise ValueError(
                    f"q-digest node {node} outside universe 2^{bits}"
                )
            counts[node] = counts.get(node, 0) + int(cnt)
        rows = _qdigest_rows(_qdigest_compress(counts, k, bits), bits)
        head = {c: [pdf[c].iloc[0]] * len(rows) for c in gcols}
        body = pd.DataFrame(
            rows, columns=["node", "lvl", "cnt", "lo", "hi"]
        )
        return pd.concat([pd.DataFrame(head), body], axis=1)

    out = df.groupBy(*gcols).applyInPandas(compress, schema)
    return out if grouped else out.drop("_g")


def qdigest_build(df: DataFrame, k: int = 2048, bits: int = 16, group_cols=None) -> DataFrame:
    """Build per-group q-digests over an INTEGER column already mapped
    into [0, 2^bits) (the caller owns the value mapping — e.g. cents =
    floor(value * 100), an IEEE-exact double op). Output: group cols +
    (node, lvl, cnt, lo, hi), one digest per group.

    Scale shape: the ONE corpus-sized operation is the leaf count
    (map-side-combinable groupBy, output bounded by the universe — at
    most 2^bits rows per group no matter how many input rows); the
    sweep then runs per group on that bounded table. Values outside
    the universe RAISE (never silently clamp)."""
    value_col = "v"
    gcols = list(group_cols or [])
    v = F.col(value_col).cast("long")
    leaves = (
        df.groupBy(*gcols, (F.lit(1 << bits) + v).alias("node"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _qdigest_apply(leaves, gcols, k, bits)


def qdigest_merge(
    digests: DataFrame, k: int = 2048, bits: int = 16, group_cols=None
) -> DataFrame:
    """Merge q-digests (any number, stacked in one DataFrame) into one
    digest per ``group_cols`` group (none = one global digest): node
    counts SUM (the mergeable half — commutative/associative, safe for
    per-partition, per-day or streaming micro-batch rollups), then one
    recompression restores the size bound. The absorbed-mass error adds
    across merge inputs plus one compression: still O(bits * n // k)."""
    gcols = list(group_cols or [])
    summed = digests.groupBy(*gcols, "node").agg(F.sum("cnt").alias("cnt"))
    return _qdigest_apply(summed, gcols, k, bits)


def qdigest_quantiles(
    digest: DataFrame, pcts: list[int], bits: int = 16, group_cols=None
) -> DataFrame:
    """Percentile estimates from a digest: rank target r = max(1,
    ceil(pct*n/100)) in pure integers, nodes scanned in (hi, lo) order
    (a total order — (lo, hi) is unique per node), estimate = the hi of
    the first node whose cumulative count reaches r (never an
    interpolation: a value that EXISTS under the digest's uncertainty).
    Output: group cols + (pct, n, est). Runs per group on the bounded
    digest — never touches the corpus."""
    import pandas as pd

    gcols = list(group_cols or [])
    grouped = bool(gcols)
    if not grouped:
        digest = digest.withColumn("_g", F.lit(0))
        gcols = ["_g"]
    gfields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in digest.schema.fields
        if f.name in gcols
    ) or "_g int"
    schema = gfields + ", pct int, n long, est long"

    def extract(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["hi", "lo"], kind="mergesort")
        n = int(pdf["cnt"].sum())
        cum = pdf["cnt"].cumsum()
        rows = []
        for pct in pcts:
            r = max(1, (pct * n + 99) // 100)
            hit = pdf.loc[cum >= r, "hi"]
            rows.append((int(pct), n, int(hit.iloc[0])))
        head = {c: [pdf[c].iloc[0]] * len(rows) for c in gcols}
        body = pd.DataFrame(rows, columns=["pct", "n", "est"])
        return pd.concat([pd.DataFrame(head), body], axis=1)

    out = digest.groupBy(*gcols).applyInPandas(extract, schema)
    return out if grouped else out.drop("_g")
