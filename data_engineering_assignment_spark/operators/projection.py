"""Johnson–Lindenstrauss random projection for embedding columns.

Dimensionality reduction as a first-class pipeline operator: project
``dim``-d embeddings to ``k`` dims with a deterministic ±1 sign matrix
(Achlioptas 2001 — database-friendly JL: entries in {+1, -1} preserve
pairwise distances in expectation with the same guarantee as Gaussian
matrices, and integer signs keep the arithmetic exact-by-construction).
A 4x dimension cut makes every downstream ANN scan (IVF/PQ/LSH buckets)
4x cheaper per candidate; the JL lemma bounds the distance distortion by
O(sqrt(log n / k)).

Cross-engine exactness discipline (the cosine_topk_lsh pattern): the sign
matrix is generated ONCE in driver Python from a Knuth MMIX LCG — a pure
function of (j, i) under a fixed seed — and inlined as LITERALS into both the Spark
expression tree and the SQL oracle, so there is no cross-engine RNG or
libm surface. Every dot product is a left-to-right ``F.aggregate`` fold
(DuckDB twin: ``list_reduce`` over the same prepend-0 order), so the
non-associative double additions happen in the IDENTICAL order on both
engines — bit-exact without any decimal detour. Per-row work is k*dim
fused multiply-adds inside whole-stage codegen; zero shuffles, zero
Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import dround

_MMIX_MUL = 6364136223846793005
_MMIX_ADD = 1442695040888963407
_MASK = (1 << 64) - 1
_SEED = 42
RP_K = 16  # components rp_norm_stats projects to
RP_DIM = 64  # embedding width rp_norm_stats projects from


def jl_signs(dim: int, row: int) -> list[float]:
    """Deterministic ±1.0 signs for projected dimension ``row`` — a pure
    function of (row, i), identical on every executor and engine."""
    out = []
    state = (_SEED * _MMIX_MUL + row * _MMIX_ADD) & _MASK
    for _ in range(dim):
        state = (state * _MMIX_MUL + _MMIX_ADD) & _MASK
        out.append(1.0 if (state >> 62) & 1 else -1.0)
    return out


def _fold_dot(vec: Column, coeffs: list[float]) -> Column:
    """Left-to-right fold of sum_i coeffs[i]*vec[i] (list_reduce order)."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.array(*[F.lit(c) for c in coeffs]),
            lambda x, w: x.cast("double") * w,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def project(vec: Column, dim: int, k: int) -> Column:
    """array<double> of the k projected components (unscaled ±1 sums;
    divide by sqrt(k) for the isometry-normalized embedding)."""
    return F.array(*[_fold_dot(vec, jl_signs(dim, j)) for j in range(k)])


def rp_norm_stats(df: DataFrame) -> DataFrame:
    """Per-vector JL norm-preservation telemetry, :data:`RP_DIM` to
    k = :data:`RP_K` dims.

    E[||y||^2 / k] = ||x||^2 for the ±1 matrix, so ``distortion`` =
    ||y||^2 / (k ||x||^2) concentrates around 1 — the measured JL
    guarantee, per vector. Columns: id, x_norm2, y_norm2_over_k,
    distortion.
    """
    dim, k = RP_DIM, RP_K
    x = F.col("embedding")
    x_norm2 = F.aggregate(
        F.transform(x, lambda v: v.cast("double") * v.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    y = project(x, dim, k)
    y_norm2 = F.aggregate(
        F.transform(y, lambda v: v * v), F.lit(0.0), lambda acc, v: acc + v
    )
    return df.select(
        F.col("vec_id"),
        x_norm2.alias("_xn"),
        y_norm2.alias("_yn"),
    ).select(
        "vec_id",
        dround(F.col("_xn"), 6).alias("x_norm2"),
        dround(F.col("_yn") / F.lit(float(k)), 6).alias("y_norm2_over_k"),
        dround(F.col("_yn") / (F.lit(float(k)) * F.col("_xn")), 4).alias(
            "distortion"
        ),
    )
