"""Perceptual media hashes (image pHash / dHash, audio aphash) for
near-duplicate IMAGE and AUDIO dedup — the multimodal analog of the
text SimHash path (operators/dedup.py simhash_band_pairs). The
reference has no media dedup (its image route stops at color
analytics, Assignment-python.py:710); these are additive operators in
the LLM-training-data set: crawled media corpora are full of
re-encodes, brightness/gain tweaks and resizes of the same asset,
which byte-level exact dedup misses.

pHash (Zauner 2010, "Implementation and Benchmarking of Perceptual
Image Hash Functions"): grayscale → area-downsample to 32x32 → 2D
DCT-II → top-left 8x8 low-frequency block → threshold each AC
coefficient against their median → 63-bit fingerprint. Two images
within a few bit flips are near-duplicates; pairs are generated at
corpus scale by the EXACT bit-band LSH already proven for SimHash
(pigeonhole: radius r needs r+1 bands — zero recall loss).

Exactness-by-construction (what makes the catalog gate deterministic):

* grayscale is the INTEGER BT.601 luma ``299R + 587G + 114B`` (x1000
  scale, no division);
* when the image divides 32 evenly the 32x32 downsample is an exact
  integer BLOCK SUM (never a float mean), and each cell is centered as
  ``N*b - S`` (N = 1024 cells, S = total) — still integer, so a global
  brightness shift (+c on every channel adds a constant per cell)
  cancels EXACTLY before any float appears;
* a 2x pixel-replication upscale multiplies every block sum by
  exactly 4 — a power of two, so the float DCT, the median and every
  comparison scale bit-exactly and the hash is IDENTICAL.

The DCT basis matrix uses libm cos at import time — fine here because
no SQL oracle ever recomputes a hash (the repo's no-transcendentals
rule is about cross-ENGINE value parity); hashes only need to be
self-consistent within the Spark session, and the catalog gate's
oracle predicts PAIRS arithmetically from planted-duplicate structure,
not hash values.
"""

from __future__ import annotations

import numpy as np

_N = 32  # downsample grid


# First 8 rows of the _N-point DCT-II basis, (8, 32): C = _D8 @ X @ _D8.T is
# the low-freq block (orthonormality irrelevant: thresholding against the
# median is scale-invariant).
_D8 = np.cos(
    np.pi
    * np.arange(8, dtype=np.float64)[:, None]
    * (2.0 * np.arange(_N, dtype=np.float64) + 1.0)
    / (2.0 * _N)
)


def gray_scaled(frame: np.ndarray) -> np.ndarray:
    """(h, w, 4) uint8 BGRA -> int32 luma x1000 (exact, alpha ignored;
    max value 255000 << 2^31, and block sums accumulate in int64
    downstream). int32 per-channel upcasts measure ~3.5x faster than an
    int64 whole-frame cast — this is the media-hash hot path (full-res
    pixels; everything after the 32x32 grid is noise)."""
    return (
        299 * frame[:, :, 2].astype(np.int32)
        + 587 * frame[:, :, 1].astype(np.int32)
        + 114 * frame[:, :, 0].astype(np.int32)
    )


def _grid(gray: np.ndarray, n: int) -> np.ndarray:
    """Downsample int64 luma to (n, n): exact integer block SUMS when the
    shape divides n (the invariance-critical path), float area-mean
    otherwise (production images of arbitrary size; no exactness claim).
    A sum instead of a mean is a constant positive scale per image, which
    the median thresholding cancels."""
    h, w = gray.shape
    if h % n == 0 and w % n == 0:
        bh, bw = h // n, w // n
        # int64 accumulator: int32 luma x a multi-megapixel block would
        # overflow 2^31; the int64 dtype keeps the sums exact
        return gray.reshape(n, bh, n, bw).sum(axis=(1, 3), dtype=np.int64)
    ys = np.linspace(0.0, h, n + 1)
    xs = np.linspace(0.0, w, n + 1)
    csum = np.zeros((h + 1, w + 1), np.float64)
    csum[1:, 1:] = gray.astype(np.float64).cumsum(0).cumsum(1)

    def _interp(c: np.ndarray, pos: np.ndarray, axis: int) -> np.ndarray:
        lo = np.clip(pos.astype(np.int64), 0, c.shape[axis] - 1)
        hi = np.clip(lo + 1, 0, c.shape[axis] - 1)
        t = pos - lo
        a = np.take(c, lo, axis=axis)
        b = np.take(c, hi, axis=axis)
        return a + (b - a) * (t.reshape(-1, 1) if axis == 0 else t)

    # bilinear interpolation of the integral image at fractional block
    # corners = exact area sums over fractional-boundary blocks
    cy = _interp(csum, ys, 0)
    cxy = _interp(cy, xs, 1)
    return cxy[1:, 1:] - cxy[:-1, 1:] - cxy[1:, :-1] + cxy[:-1, :-1]


def phash63(frame: np.ndarray) -> int:
    """63-bit perceptual hash of one (h, w, 4) BGRA frame (see module
    docstring). Bit i = (AC coefficient i > median of the 63 ACs), scan
    order over the 8x8 low-frequency block minus DC."""
    g = _grid(gray_scaled(frame), _N)
    if g.dtype == np.int64:
        centered = (g.size * g - g.sum()).astype(np.float64)
    else:
        centered = g - g.mean()
    coef = _D8 @ centered @ _D8.T
    ac = coef.ravel()[1:]  # DC is exactly 0 after centering; drop it
    med = np.median(ac)  # 63 values -> the exact middle order stat
    bits = ac > med
    return _pack(bits)


def phash63_batch(frames: np.ndarray) -> np.ndarray:
    """:func:`phash63` of every frame of a (F, h, w, 4) BGRA stack in one
    vectorized pass — BIT-IDENTICAL to the per-frame call (parity-pinned
    in tests/test_imagehash.py): the same int64 block sums, the same
    centering, and np.matmul's batched GEMM runs the identical per-slice
    float64 products, so thresholds and medians agree exactly. This is
    the video-hash hot path (one DCT per FRAME, not per clip); the
    arbitrary-size fallback loops per frame through the shared
    fractional-boundary grid."""
    nf, h, w = frames.shape[0], frames.shape[1], frames.shape[2]
    if nf == 0:
        return np.empty(0, np.int64)
    if h % _N or w % _N:  # float area-mean path: loop (rare, unplanted)
        return np.array([phash63(frames[i]) for i in range(nf)], np.int64)
    # grid per frame (one frame stays cache-resident; a whole-clip int
    # materialization measured SLOWER), DCT/median/pack batched: the two
    # matmuls run as single GEMMs over column-stacked frames, and each
    # output element is the same 32-term product as the per-frame call
    g = np.stack([_grid(gray_scaled(frames[i]), _N) for i in range(nf)])
    centered = (_N * _N * g - g.sum(axis=(1, 2), keepdims=True)).astype(
        np.float64
    )
    ymat = centered.transpose(1, 0, 2).reshape(_N, nf * _N)
    left = (_D8 @ ymat).reshape(8, nf, _N).transpose(1, 0, 2)  # (F, 8, 32)
    coef = (left.reshape(nf * 8, _N) @ _D8.T).reshape(nf, 8, 8)
    ac = coef.reshape(nf, 64)[:, 1:]
    med = np.median(ac, axis=1, keepdims=True)
    bits = (ac > med).astype(np.uint64)
    vals = (bits << np.arange(63, dtype=np.uint64)).sum(axis=1)
    return vals.astype(np.int64)  # < 2^63: positive longs


def dhash64(frame: np.ndarray) -> int:
    """64-bit difference hash: 8x8 luma grid, bit = cell < its right
    neighbor (wrapping at the row end so the grid stays 8x8 and the
    integer block-sum exactness path applies to sizes divisible by 8;
    the classic 9x8 grid forces fractional blocks on most sizes)."""
    g = _grid(gray_scaled(frame), 8)
    nxt = np.roll(g, -1, axis=1)
    return _pack((g < nxt).ravel())


def _pack(bits: np.ndarray) -> int:
    """bit i -> 2^i, endianness-independent; results stay under 2^63 for
    <= 63 bits, and the 64-bit dhash packs into an unsigned value the
    caller may store in a signed long via the two's-complement view."""
    val = int((bits.astype(np.uint64) << np.arange(len(bits), dtype=np.uint64)).sum())
    return val if val < (1 << 63) else val - (1 << 64)


def aphash63(samples: np.ndarray) -> int:
    """63-bit perceptual AUDIO hash — the waveform analog of
    :func:`phash63` for near-duplicate audio dedup (re-encodes, gain
    changes and resamples of the same clip that byte-exact dedup misses).

    Mono-mix -> per-sample ENERGY (x^2) -> 32x32 coarse energy-envelope
    grid (exact block sums when the length divides 1024, float area-mean
    otherwise) -> 2D DCT -> 8x8 low-frequency block -> each of the 63 AC
    coefficients thresholded against their median.

    Exactness-by-construction (what makes the catalog gate
    deterministic): 16-bit PCM decodes to dyadic rationals k/2^15, so
    x^2 = k^2/2^30 and every block sum is EXACT in float64 (integer
    numerators < 2^53); a 2x gain change scales every energy by exactly
    4 and a 2x sample-duplication upsample scales every block sum by
    exactly 2 — both powers of two, so the float DCT, the median and
    every comparison scale bit-exactly and the hash is IDENTICAL. A
    duplicated channel (mono->stereo) mixes back to the identical mono
    signal ((x + x) / 2 is exact). Energies are non-negative, so no
    centering is needed for an offset invariance (there is none to
    plant) and the DC term is simply dropped with the same ac[1:] cut."""
    if samples.ndim == 2:
        mono = samples.mean(axis=1)  # (x + x) / 2 exact for dup channels
    else:
        mono = samples
    e = np.asarray(mono, np.float64) ** 2
    n = e.shape[0]
    if n >= 1024 and n % 1024 == 0:
        grid = e.reshape(1024, n // 1024).sum(axis=1).reshape(_N, _N)
    else:  # arbitrary lengths: fractional-boundary area sums (float path)
        cs = np.zeros(n + 1, np.float64)
        cs[1:] = e.cumsum()
        pos = np.linspace(0.0, n, 1024 + 1)
        lo = np.clip(pos.astype(np.int64), 0, n)
        t = pos - lo
        hi = np.clip(lo + 1, 0, n)
        vals = cs[lo] + (cs[hi] - cs[lo]) * t
        grid = (vals[1:] - vals[:-1]).reshape(_N, _N)
    coef = _D8 @ grid @ _D8.T
    ac = coef.ravel()[1:]
    med = np.median(ac)
    return _pack(ac > med)


_VP_MOD = (1 << 61) - 1  # Mersenne prime: the fold stays a positive long


def vphash61(frames: np.ndarray) -> int:
    """Clip-level perceptual VIDEO fingerprint: :func:`phash63` per frame,
    consecutive equal hashes COLLAPSED to one (so frame-rate doubling by
    frame duplication — the temporal analog of the image upsample — is an
    exact invariance), then a polynomial fold of the collapsed sequence
    mod 2^61 - 1 (exact integer math, fits a positive long).

    Per-frame edits that are exact :func:`phash63` invariances (global
    brightness shift, 2x pixel-replication upscale) therefore leave the
    clip fingerprint IDENTICAL too. Unlike the image/audio hashes this is
    an equality fingerprint, not a Hamming one: a single changed frame
    changes the fold completely, which is the right contract for
    exact-clip dedup (re-encodes of the same cut); near-miss VIDEO
    retrieval would match per-frame hashes instead (the
    sample_frames -> image route)."""
    fps = phash63_batch(frames).tolist()
    collapsed = [fp for i, fp in enumerate(fps) if i == 0 or fp != fps[i - 1]]
    h = len(collapsed)  # length in the seed: [a] vs [a, a] already differ
    for fp in collapsed:
        h = (h * 1_000_003 + fp) % _VP_MOD
    return h
