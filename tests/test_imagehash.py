"""Perceptual image hashing (functions/phash.py, operators/imagehash.py):
the exactness invariances the catalog gate relies on, banded-pair
losslessness vs brute force, and the dead-letter path."""

import hashlib
import itertools

import numpy as np
import pytest

from data_engineering_assignment_spark.functions.phash import (
    dhash64,
    phash63,
)


def _base(group: int, side: int = 32) -> np.ndarray:
    n = side * side * 3
    buf = np.frombuffer(
        b"".join(
            hashlib.md5(f"{group}-{i}".encode()).digest()
            for i in range(n // 16 + 1)
        )[:n],
        np.uint8,
    )
    f = np.empty((side, side, 4), np.uint8)
    f[:, :, :3] = 20 + (buf.reshape(side, side, 3) % 196)
    f[:, :, 3] = 255
    return f


def test_phash_brightness_and_upscale_are_exact_invariances():
    """The two planted edits must hash IDENTICALLY (not merely close) —
    the catalog oracle's hamming=0 contract."""
    for g in range(40):
        base = _base(g)
        bright = base.copy()
        bright[:, :, :3] += np.uint8(5 + g % 20)
        up = np.repeat(np.repeat(base, 2, 0), 2, 1)
        assert phash63(base) == phash63(bright) == phash63(up)
        assert dhash64(base) == dhash64(bright) == dhash64(up)


def test_phash_separates_distinct_images():
    hs = [phash63(_base(g)) for g in range(80)]
    dists = [bin(a ^ b).count("1") for a, b in itertools.combinations(hs, 2)]
    assert min(dists) > 8  # radius-2 banding has a wide safety margin
    assert 24 < sum(dists) / len(dists) < 40  # ~31 expected for 63 bits


def test_phash_fits_63_bits_and_dhash_is_a_long():
    for g in range(20):
        assert 0 <= phash63(_base(g)) < (1 << 63)
        assert -(1 << 63) <= dhash64(_base(g)) < (1 << 63)


def test_phash_float_resize_path_is_deterministic():
    """Non-multiple-of-32 sizes route through the integral-image area
    resample; same input -> same hash, and a real edit changes it."""
    rng = np.random.default_rng(7)
    f = np.empty((50, 70, 4), np.uint8)
    f[:, :, :3] = rng.integers(0, 255, (50, 70, 3), dtype=np.uint8)
    f[:, :, 3] = 255
    h1 = phash63(f)
    assert h1 == phash63(f.copy())
    g = f.copy()
    g[:25, :35, :3] = 255 - g[:25, :35, :3]  # large structural edit
    assert bin(h1 ^ phash63(g)).count("1") > 8


def test_banded_pairs_lossless_vs_brute_force(spark):
    """The radius-2 banded plan must recover EXACTLY the brute-force
    Hamming<=2 pair set over hashes with planted 1- and 2-bit flips."""
    from data_engineering_assignment_spark.operators.imagehash import (
        image_phash_pairs,
    )

    rng = np.random.default_rng(11)
    hs = {}
    hid = 0
    for g in range(25):
        h = int(rng.integers(0, 1 << 63))
        hs[hid] = h
        hid += 1
        flips = rng.choice(63, size=g % 3, replace=False)  # 0/1/2-bit dups
        hv = h
        for b in flips:
            hv ^= 1 << int(b)
        hs[hid] = hv
        hid += 1
    df = spark.createDataFrame(
        [(i, h, True) for i, h in hs.items()],  # < 2^63: fits a signed long
        "doc_id long, phash long, parse_ok boolean",
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in image_phash_pairs(df).collect()
    }
    want = {
        (a, b, bin(hs[a] ^ hs[b]).count("1"))
        for a, b in itertools.combinations(sorted(hs), 2)
        if bin(hs[a] ^ hs[b]).count("1") <= 2
    }
    assert got == want and len(want) >= 15


def test_image_hashes_dead_letter(spark):
    """Undecodable bytes survive as parse_ok=false rows, never dropped."""
    from data_engineering_assignment_spark.functions.multimodal import (
        encode_bmp,
    )
    from data_engineering_assignment_spark.operators.imagehash import (
        image_hashes,
    )

    good = encode_bmp(_base(1), 24)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not an image"))],
        "doc_id long, content binary",
    )
    rows = {r.doc_id: r for r in image_hashes(df).collect()}
    assert rows[1].parse_ok and rows[1].phash is not None
    assert not rows[2].parse_ok and rows[2].phash is None
    assert rows[1].phash == phash63(_base(1))


def _clip(group: int, n: int = 2048) -> np.ndarray:
    buf = b"".join(
        hashlib.md5(f"a{group}-{i}".encode()).digest()
        for i in range(n * 2 // 16 + 1)
    )[: n * 2]
    return np.clip(np.frombuffer(buf, "<i2").astype(np.int64), -8191, 8191)


def test_aphash_gain_upsample_stereo_are_exact_invariances():
    """The three planted audio edits must hash IDENTICALLY through the
    real WAV encode/decode roundtrip — the catalog oracle's hamming=0
    contract."""
    from data_engineering_assignment_spark.functions.multimodal import (
        decode_wav,
        encode_wav,
    )
    from data_engineering_assignment_spark.functions.phash import aphash63

    def h(sig):
        samples, _ = decode_wav(encode_wav(sig / 32767.0))
        return aphash63(samples)

    for g in range(30):
        k = _clip(g)
        assert (
            h(k)
            == h(2 * k)
            == h(np.repeat(k, 2))
            == h(np.stack([2 * k, 2 * k], axis=1))
        )


def test_aphash_separates_distinct_clips_and_handles_odd_lengths():
    from data_engineering_assignment_spark.functions.phash import aphash63

    hs = [aphash63(_clip(g) / 32768.0) for g in range(60)]
    dists = [bin(a ^ b).count("1") for a, b in itertools.combinations(hs, 2)]
    assert min(dists) > 8
    # non-multiple-of-1024 lengths route through the float area path
    odd = _clip(7)[:1500] / 32768.0
    h1 = aphash63(odd)
    assert h1 == aphash63(odd.copy())
    assert 0 <= h1 < (1 << 63)


def test_audio_hashes_dead_letter(spark):
    from data_engineering_assignment_spark.functions.multimodal import (
        encode_wav,
    )
    from data_engineering_assignment_spark.functions.phash import aphash63
    from data_engineering_assignment_spark.operators.imagehash import (
        audio_hashes,
    )

    k = _clip(3)
    good = encode_wav(k / 32767.0)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"RIFFjunk"))],
        "doc_id long, content binary",
    )
    rows = {r.doc_id: r for r in audio_hashes(df).collect()}
    assert rows[1].parse_ok and rows[1].aphash is not None
    assert not rows[2].parse_ok and rows[2].aphash is None


def _vclip(group: int, nf: int = 4) -> np.ndarray:
    n = 32 * 32 * 3
    frames = []
    for i in range(nf):
        buf = b"".join(
            hashlib.md5(f"v{group}-{i}-{j}".encode()).digest()
            for j in range(n // 16 + 1)
        )[:n]
        f = np.empty((32, 32, 4), np.uint8)
        f[:, :, :3] = 20 + (np.frombuffer(buf, np.uint8).reshape(32, 32, 3) % 196)
        f[:, :, 3] = 255
        frames.append(f)
    return np.stack(frames)


def test_vphash_brightness_and_framerate_are_exact_invariances():
    from data_engineering_assignment_spark.functions.phash import vphash61

    for g in range(25):
        base = _vclip(g)
        bright = base.copy()
        bright[:, :, :, :3] += np.uint8(5 + g % 20)
        dup = np.repeat(base, 2, axis=0)
        assert vphash61(base) == vphash61(bright) == vphash61(dup)
        assert 0 <= vphash61(base) < (1 << 61)


def test_vphash_sensitive_to_frame_content_order_and_count():
    from data_engineering_assignment_spark.functions.phash import vphash61

    base = _vclip(1)
    assert vphash61(base) != vphash61(base[::-1])  # order matters
    assert vphash61(base) != vphash61(base[:3])  # dropped frame matters
    edited = base.copy()
    edited[2, :16, :16, :3] = 255 - edited[2, :16, :16, :3]
    assert vphash61(base) != vphash61(edited)  # one changed frame matters
    # a clip of one frame vs the same frame repeated collapses equal
    one = base[:1]
    assert vphash61(one) == vphash61(np.repeat(one, 3, axis=0))


def test_video_dup_pairs_enumerates_groups(spark):
    from data_engineering_assignment_spark.operators.imagehash import (
        video_dup_pairs,
    )

    rows = [
        (1, 100, 4, True), (2, 100, 8, True), (3, 100, 4, True),  # trio
        (4, 200, 4, True), (5, 200, 4, True),  # pair
        (6, 300, 4, True),  # singleton
        (7, None, None, False),  # dead letter
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, vphash long, n_frames int, parse_ok boolean"
    )
    got = {(r.doc_a, r.doc_b) for r in video_dup_pairs(df).collect()}
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_incremental_image_dedup_statuses_and_broadcast_side(spark):
    """Delta rows within radius of a corpus fingerprint report
    dup/n_dups/best_hamming; novel rows survive with NULL best; the
    DELTA side is the broadcast (the corpus is never broadcast)."""
    from data_engineering_assignment_spark.operators.imagehash import (
        incremental_image_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, 100, True), (2, 100 ^ 3, True), (3, 500, True), (4, None, False)],
        "doc_id long, phash long, parse_ok boolean",
    )
    delta = spark.createDataFrame(
        [
            (10, 100, True),
            (11, 1 << 40, True),
            (12, 500 ^ 1, True),
            (13, None, False),  # undecodable ingest image
        ],
        "doc_id long, phash long, parse_ok boolean",
    )
    out = incremental_image_dedup(corpus, delta, radius=2)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 4  # the report reconciles 1:1 with the ingest batch
    assert rows[10].status == "dup" and rows[10].n_dups == 2
    assert rows[10].best_hamming == 0  # exact vs 100, hamming 2 vs 100^3
    assert rows[11].status == "novel" and rows[11].n_dups == 0
    assert rows[11].best_hamming is None
    assert rows[12].status == "dup" and rows[12].best_hamming == 1
    assert rows[13].status == "undecodable"  # dead letter, never dropped
    assert rows[13].n_dups is None and rows[13].best_hamming is None
    # plan: exactly one broadcast exchange, fed by the DELTA side
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands"):
        incremental_image_dedup(corpus, delta, radius=3)


def test_phash63_batch_bit_identical_to_per_frame():
    """vphash61's batched frame hashing must be BIT-identical to the
    per-frame phash63 call on every path (exact block-sum sizes, the
    float fallback, empty input) — the planted-invariance oracles assume
    nothing about WHICH code path hashed a frame."""
    import numpy as np

    from data_engineering_assignment_spark.functions.phash import (
        phash63,
        phash63_batch,
    )

    rng = np.random.default_rng(17)
    for shape in [(7, 64, 96, 4), (4, 32, 32, 4), (5, 50, 70, 4)]:
        fr = rng.integers(0, 256, shape, np.uint8)
        want = [phash63(fr[i]) for i in range(shape[0])]
        assert phash63_batch(fr).tolist() == want, shape
    assert phash63_batch(np.empty((0, 32, 32, 4), np.uint8)).shape == (0,)
