"""Count-Min sketch: overestimate guarantee, exactness without collisions,
and partitioning-independence."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_assignment_spark.operators.sketches import (
    cms_estimate,
    cms_sketch,
)


def _stream(spark, rows):
    return spark.createDataFrame([(t,) for t in rows], "tok string")


def test_cms_never_undercounts_and_is_exact_when_wide(spark):
    import random

    rng = random.Random(7)
    vocab = ["tok%d" % i for i in range(50)]
    stream = [rng.choice(vocab) for _ in range(2000)] + ["hot"] * 500
    df = _stream(spark, stream)
    exact = {r["tok"]: r["n"] for r in df.groupBy("tok").agg(F.count("*").alias("n")).collect()}

    # narrow sketch: must never undercount
    sk = cms_sketch(df, depth=4, width=32)
    items = df.select("tok").distinct()
    est = {r["tok"]: r["cms_est"] for r in cms_estimate(sk, items, 4, 32).collect()}
    assert all(est[t] >= exact[t] for t in exact)
    assert est["hot"] >= 500

    # wide sketch: with |vocab| << width, the hot key is almost surely
    # collision-free in at least one of 4 rows → exact
    skw = cms_sketch(df, depth=4, width=4096)
    estw = {r["tok"]: r["cms_est"] for r in cms_estimate(skw, items, 4, 4096).collect()}
    assert estw["hot"] == exact["hot"]


def test_cms_partitioning_independent(spark):
    df = _stream(spark, ["a", "b", "a", "c"] * 100)
    s1 = sorted(map(tuple, cms_sketch(df).collect()))
    s2 = sorted(map(tuple, cms_sketch(df.repartition(13)).collect()))
    assert s1 == s2


def test_cms_weighted(spark):
    df = spark.createDataFrame([("a", 5), ("a", 7), ("b", 1)], "tok string, w long")
    sk = cms_sketch(df, depth=2, width=128, weight_col="w")
    est = {
        r["tok"]: r["cms_est"]
        for r in cms_estimate(sk, df.select("tok").distinct(), 2, 128).collect()
    }
    assert est["a"] >= 12 and est["b"] >= 1


def test_bloom_no_false_negatives_and_bounded_fps(spark):
    from data_engineering_assignment_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_contains,
    )

    members = _stream(spark, ["item%d" % i for i in range(200)])
    bloom = bloom_build(members, "tok", m_bits=1 << 12)
    # filter is bounded by min(k*n, m) distinct positions
    assert bloom.count() <= min(4 * 200, 1 << 12)

    # every member must probe true — a false negative is impossible
    hits = bloom_maybe_contains(bloom, members, "tok", m_bits=1 << 12)
    assert hits.filter(~F.col("bloom_hit")).count() == 0

    # non-members: load 800/4096 -> per-bit ~0.18, FP ~ 0.18^4 ~ 0.1%;
    # 500 probes should see only a handful of false positives
    others = _stream(spark, ["other%d" % i for i in range(500)])
    fps = (
        bloom_maybe_contains(bloom, others, "tok", m_bits=1 << 12)
        .filter(F.col("bloom_hit"))
        .count()
    )
    assert fps <= 25


def test_bloom_probe_is_deterministic_and_portable(spark):
    """Positions must be pure functions of the rolling hash — same filter
    from any partitioning, and the exact position set is predictable."""
    from data_engineering_assignment_spark.operators.sketches import bloom_build

    rows = ["alpha", "beta", "gamma"]
    one = bloom_build(_stream(spark, rows).coalesce(1), "tok", m_bits=1 << 10)
    many = bloom_build(_stream(spark, rows).repartition(8), "tok", m_bits=1 << 10)
    assert sorted(r["pos"] for r in one.collect()) == sorted(
        r["pos"] for r in many.collect()
    )

    mod = 1_000_000_007
    def rh(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % mod
        return h
    expect = sorted(
        {(((2 * i + 1) * rh(s) + (7919 * i + 13)) % mod) % (1 << 10)
         for s in rows for i in range(4)}
    )
    assert sorted(r["pos"] for r in one.collect()) == expect


# ---------------------------------------------------------------------------
# KMV bottom-k and portable HLL
# ---------------------------------------------------------------------------

from data_engineering_assignment_spark.operators.dedup import PORTABLE_MOD
from data_engineering_assignment_spark.operators.sketches import (
    MIX1_ROUNDS,
    MIX2_ROUNDS,
)


def _pymix(x, rounds=MIX1_ROUNDS):
    """Python model of sketches.mix_expr (same literal round constants)."""
    h = x % PORTABLE_MOD
    for i, (a, b) in enumerate(rounds):
        if i:
            h = (h % 32768) * 32768 + h // 32768
        h = (a * h + b) % PORTABLE_MOD
    return h


def _ids(spark, ids, key="g"):
    return spark.createDataFrame([(key, i) for i in ids], "k string, item bigint")


def test_mix_expr_matches_python_model(spark):
    from data_engineering_assignment_spark.operators.sketches import id_hash

    ids = [0, 1, 2, 7919, 10**9, 10**12, 10**15]
    df = spark.createDataFrame([(i,) for i in ids], "item bigint")
    got = [r["h"] for r in df.select(id_hash("item").alias("h")).collect()]
    assert got == [_pymix(i) for i in ids]
    got2 = [
        r["h"]
        for r in df.select(id_hash("item", MIX2_ROUNDS).alias("h")).collect()
    ]
    assert got2 == [_pymix(i, MIX2_ROUNDS) for i in ids]


def test_kmv_kth_hash_matches_python_model(spark):
    from data_engineering_assignment_spark.operators.sketches import kmv_kth_hash

    ids = list(range(1, 501))
    df = _ids(spark, ids)
    k = 16
    out = kmv_kth_hash(df, "item", "k", k).collect()
    assert len(out) == 1
    hashes = sorted(_pymix(i) for i in ids)
    assert out[0]["kth_hash"] == hashes[k - 1]
    assert out[0]["n_rows"] == 500


def test_kmv_estimate_within_relative_error(spark):
    from data_engineering_assignment_spark.operators.sketches import (
        kmv_estimate,
        kmv_kth_hash,
    )

    n, k = 5000, 64
    df = _ids(spark, range(1, n + 1))
    kth = kmv_kth_hash(df, "item", "k", k)
    est = kth.select(kmv_estimate(k).alias("e")).collect()[0]["e"]
    # KMV std err ~ 1/sqrt(k-2) = 12.7%; assert a generous 3-sigma band
    assert abs(est - n) / n < 0.4, est


def test_kmv_small_group_yields_null(spark):
    from data_engineering_assignment_spark.operators.sketches import kmv_kth_hash

    df = _ids(spark, range(5))
    row = kmv_kth_hash(df, "item", "k", 64).collect()[0]
    assert row["kth_hash"] is None and row["n_rows"] == 5


def test_kmv_merge_property():
    """The union's bottom-k == bottom-k of (part A's bottom-k ∪ part B's
    bottom-k): any hash among the union's k smallest is among its own
    part's k smallest — the mergeability that makes KMV a rollup sketch."""
    k = 8
    a = [_pymix(i) for i in range(1, 300)]
    b = [_pymix(i) for i in range(200, 600)]
    merged_state = sorted(set(sorted(set(a))[:k] + sorted(set(b))[:k]))[:k]
    whole = sorted(set(a) | set(b))[:k]
    assert merged_state == whole


def test_hll_registers_match_python_model_and_are_duplicate_blind(spark):
    from data_engineering_assignment_spark.operators.sketches import (
        HLL_M,
        HLL_RHO_CAP,
        hll_register_values,
    )

    ids = list(range(1, 401))
    df = _ids(spark, ids)
    dup = _ids(spark, ids * 3)  # duplicates must not move any register

    def model(ids):
        regs = {}
        for i in ids:
            h = _pymix(i)
            w = _pymix(i, MIX2_ROUNDS)
            if w == 0:
                rho = HLL_RHO_CAP
            else:
                rho = 1
                while w % 2 == 0:
                    rho += 1
                    w //= 2
            r = h % HLL_M
            regs[r] = max(regs.get(r, 0), rho)
        return regs

    expect = model(ids)
    got = {r["reg"]: r["m_j"] for r in hll_register_values(df, "item", "k").collect()}
    got_dup = {r["reg"]: r["m_j"] for r in hll_register_values(dup, "item", "k").collect()}
    assert got == expect
    assert got_dup == expect


def test_hll_raw_estimate_within_error_band(spark):
    from data_engineering_assignment_spark.operators.sketches import (
        hll_raw_estimate,
        hll_register_values,
    )

    n = 20000
    df = _ids(spark, range(1, n + 1))
    regs = hll_register_values(df, "item", "k")
    row = hll_raw_estimate(regs, "k").collect()[0]
    # HLL std err ~ 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert abs(row["hll_raw_est"] - n) / n < 0.2, row["hll_raw_est"]
    assert row["n_regs_hit"] <= 256
    assert row["reg_harmonic_scaled"] > 0


# ---------------------------------------------------------------------------
# q-digest
# ---------------------------------------------------------------------------


def _qd_exact_rank_err(vals, rows, pct):
    """Rank distance between the digest estimate and the target rank in
    the exact sorted multiset (0 when the estimate's own rank span covers
    the target)."""
    import bisect

    svals = sorted(vals)
    n = len(svals)
    r = max(1, (pct * n + 99) // 100)
    rows = sorted(rows, key=lambda t: (t["hi"], t["lo"]))
    cum = 0
    for row in rows:
        cum += row["cnt"]
        if cum >= r:
            est = row["hi"]
            break
    lo_r = bisect.bisect_left(svals, est) + 1
    hi_r = bisect.bisect_right(svals, est)
    return 0 if lo_r <= r <= hi_r else min(abs(r - lo_r), abs(r - hi_r))


def test_qdigest_error_bound_and_size(spark):
    """The classic q-digest guarantee: rank error <= bits * (n // k) for
    every percentile, with digest size far below the exact histogram."""
    import random

    from data_engineering_assignment_spark.operators.sketches import (
        qdigest_build,
    )

    random.seed(11)
    vals = [random.randrange(0, 1 << 12) for _ in range(20000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = [r.asDict() for r in qdigest_build(df, k=256, bits=12).collect()]
    n = sum(r["cnt"] for r in rows)
    assert n == len(vals)
    assert len(rows) < len(set(vals))  # genuinely compressed
    bound = 12 * (n // 256)
    for pct in (1, 5, 25, 50, 75, 90, 99):
        assert _qd_exact_rank_err(vals, rows, pct) <= bound


def test_qdigest_partitioning_invariant(spark):
    """The digest is a deterministic function of the value MULTISET:
    any repartitioning produces the identical (node, cnt) set."""
    import random

    from data_engineering_assignment_spark.operators.sketches import (
        qdigest_build,
    )

    random.seed(3)
    vals = [random.randrange(0, 1 << 10) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    a = {
        (r.node, r.cnt)
        for r in qdigest_build(df.repartition(1), k=64, bits=10).collect()
    }
    b = {
        (r.node, r.cnt)
        for r in qdigest_build(df.repartition(17), k=64, bits=10).collect()
    }
    assert a == b


def test_qdigest_merge_preserves_mass_and_bound(spark):
    """Union-mergeability: per-shard digests merged by count-sum + one
    recompression preserve total mass exactly and keep estimates inside
    the (additive) error bound vs the pooled exact values."""
    import random

    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.sketches import (
        qdigest_build,
        qdigest_merge,
    )

    random.seed(5)
    a_vals = [random.randrange(0, 1 << 12) for _ in range(8000)]
    b_vals = [random.randrange(0, 1 << 11) for _ in range(12000)]  # skewed
    df = spark.createDataFrame(
        [(0, v) for v in a_vals] + [(1, v) for v in b_vals], "shard int, v long"
    )
    shards = qdigest_build(df, k=256, bits=12, group_cols=["shard"])
    merged = qdigest_merge(shards.drop("shard"), k=256, bits=12)
    rows = [r.asDict() for r in merged.collect()]
    pooled = a_vals + b_vals
    n = sum(r["cnt"] for r in rows)
    assert n == len(pooled)
    # merge error: two shard compressions + one merge compression
    bound = 3 * 12 * (n // 256)
    for pct in (25, 50, 75, 90, 99):
        assert _qd_exact_rank_err(pooled, rows, pct) <= bound


def test_qdigest_thr_zero_is_exact_histogram(spark):
    from data_engineering_assignment_spark.operators.sketches import (
        qdigest_build,
        qdigest_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in [3, 1, 4, 1, 5]], "v long")
    rows = sorted(
        (r.node, r.cnt) for r in qdigest_build(df, k=2048, bits=8).collect()
    )
    assert rows == [(256 + 1, 2), (256 + 3, 1), (256 + 4, 1), (256 + 5, 1)]
    q = {
        r.pct: r.est
        for r in qdigest_quantiles(
            qdigest_build(df, k=2048, bits=8), [50, 100], bits=8
        ).collect()
    }
    assert q == {50: 3, 100: 5}  # exact medians on an exact histogram


def test_qdigest_out_of_universe_raises(spark):
    import pytest

    from data_engineering_assignment_spark.operators.sketches import (
        qdigest_build,
    )

    df = spark.createDataFrame([(300,)], "v long")
    with pytest.raises(Exception, match="outside universe"):
        qdigest_build(df, k=16, bits=8).collect()


def test_kmv_bottomk_and_pair_overlap(spark):
    """kmv_bottomk keeps the k smallest distinct hashes per key (all of
    them when a key is small); kmv_pair_overlap's union sample, exactness
    fallback and integer estimators behave on planted overlap: sets A and
    B share exactly half their items, C is disjoint from both."""
    from data_engineering_assignment_spark.operators.sketches import (
        kmv_bottomk,
        kmv_pair_overlap,
    )

    k = 16
    rows = (
        [("A", i) for i in range(40)]
        + [("B", i) for i in range(20, 60)]
        + [("C", i) for i in range(1000, 1010)]
    )
    df = spark.createDataFrame(rows, "key string, item long")
    sk = kmv_bottomk(df, "item", "key", k)
    by_key = {r.key: r for r in sk.collect()}
    assert len(by_key["A"].sketch) == k
    assert by_key["A"].sketch == sorted(by_key["A"].sketch)
    # C has 10 < k distinct items: its sketch is complete
    assert len(by_key["C"].sketch) == 10
    out = {
        (r.key_a, r.key_b): r
        for r in kmv_pair_overlap(sk.select("key", "sketch"), "key", k).collect()
    }
    ab = out[("A", "B")]
    assert ab.n_union_sample == k and 0 < ab.n_both < k
    assert ab.inter_est == ab.n_both * ab.union_est // ab.n_union_sample
    assert ab.jaccard_pm == ab.n_both * 1000 // ab.n_union_sample
    # disjoint pairs: zero shared hashes, zero intersection estimate
    for pair in (("A", "C"), ("B", "C")):
        assert out[pair].n_both == 0 and out[pair].inter_est == 0
    # A(40) ∪ C(10) have 50 distinct items and 26 sampled hashes >= k,
    # so the union estimate is the KMV formula, not the exact fallback;
    # sanity: within a loose factor of truth for this tiny k
    assert 10 <= out[("A", "C")].union_est <= 250
