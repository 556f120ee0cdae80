"""Array / higher-order-function queries over the embeddings table.

Covers the reference's array surface (F9-F12: size/filter/HOF lambdas/
array_contains, Assignment-python.py:736-828) and the additive similarity-
search operators (brute-force + LSH cosine top-k)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import dround, o_davg, o_dround
from ..operators.similarity import (
    INC_DUP_COSINE,
    IVF_N_PROBE,
    PQ_CODES,
    PQ_DIM,
    PQ_DIST_SCALE,
    PQ_M,
    PQ_TOP_K,
    SEMDEDUP_CELLS,
    SEMDEDUP_T,
    SIM_SCALE,
    cosine_topk,
    lsh_bucketed_topk,
    sq_norm,
)
from ..tables import load
from . import register

# ANN settings that a query passes to its operator and that its SQL twin
# reads: one value each, so the two engines cannot drift apart (the ones no
# query varies are the operators' own constants, imported above)
_DIM = 64  # embedding width
_TOP_K = 5  # neighbours reported per query
_N_CELLS = 16  # IVF cells
_LSH_PLANES = 4  # hyperplanes of the LSH bucket id
_RP_COARSE_M = 100  # projected-space candidates per query in rp_recall_telemetry

_EMB_STATS_ORACLE = f"""
SELECT vec_id,
       label,
       len(embedding)::BIGINT AS n_dims,
       len(list_filter(embedding, x -> x > 0))::BIGINT AS n_pos,
       {o_dround('CAST(len(list_filter(embedding, x -> x > 0)) AS DOUBLE)'
                 ' / CAST(len(embedding) AS DOUBLE)', 4)} AS pos_ratio,
       CASE WHEN len(list_filter(embedding, x -> abs(x) > 0.3)) > 0
            THEN 1 ELSE 0 END::BIGINT AS has_extreme,
       {o_dround('list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))', 6)}
         AS sq_norm
FROM embeddings
"""


@register(
    "embedding_stats",
    oracle=_EMB_STATS_ORACLE,
    doc="F9-F12 analog (:736-828): size, HOF filter with lambda, exists-membership, fold aggregate.",
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    n_pos = F.size(F.filter(e, lambda x: x > 0)).cast("long")
    return emb.select(
        "vec_id",
        "label",
        F.size(e).cast("long").alias("n_dims"),
        n_pos.alias("n_pos"),
        dround(n_pos.cast("double") / F.size(e).cast("double"), 4).alias("pos_ratio"),
        F.exists(e, lambda x: F.abs(x) > 0.3).cast("long").alias("has_extreme"),
        dround(sq_norm(e), 6).alias("sq_norm"),
    )


_COSINE_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), q AS (SELECT * FROM v WHERE vec_id < 10),
 scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> q.e[i] * c.e[i]))
           / sqrt(list_sum(list_transform(q.e, x -> x * x))
                  * list_sum(list_transform(c.e, x -> x * x))), 4) AS sim
  FROM q CROSS JOIN v c
  WHERE q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         (ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC))::BIGINT AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= 5
"""


@register(
    "cosine_topk",
    oracle=_COSINE_ORACLE,
    doc="Additive similarity search: exact brute-force cosine top-5 per query (broadcast queries, JVM fold dot products).",
)
def cosine_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5)


def _lsh_oracle() -> str:
    """SQL twin of lsh_bucketed_topk: the hyperplane coefficients are literal
    doubles baked into the plan on the Spark side, and ``repr(float)``
    round-trips exactly, so the SAME literals inline into the oracle — the
    'approximate' LSH is a deterministic function of its inputs and is
    therefore exact-oracle-checkable."""
    from ..operators.similarity import _hyperplane

    dim, planes = _DIM, _LSH_PLANES
    bucket_terms = []
    for p in range(planes):
        coeffs = ", ".join(repr(c) for c in _hyperplane(dim, p))
        proj = f"list_sum(list_transform(range(1, {dim + 1}), i -> e[i] * [{coeffs}][i]))"
        bucket_terms.append(f"(CASE WHEN {proj} > 0 THEN 1 ELSE 0 END)::BIGINT * {1 << p}")
    bucket = " + ".join(bucket_terms)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), s AS (
  SELECT vec_id, e, {bucket} AS bucket FROM v
), q AS (SELECT * FROM s WHERE vec_id < 10),
 scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(range(1, {dim + 1}), i -> q.e[i] * c.e[i]))
           / sqrt(list_sum(list_transform(q.e, x -> x * x))
                  * list_sum(list_transform(c.e, x -> x * x))), 4) AS sim
  FROM q JOIN s c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         (ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC))::BIGINT AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= {_TOP_K}
"""


@register(
    "cosine_topk_lsh",
    oracle=_lsh_oracle(),
    doc="Additive similarity search, scale path: random-hyperplane LSH "
    "bucketed cosine top-k — now oracle-gated end to end: the hyperplanes "
    "are literal doubles that round-trip into the SQL twin exactly, and the "
    "projection/dot folds are order-pinned on both engines. Recall vs exact "
    "top-k remains unit-tested.",
)
def cosine_topk_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_bucketed_topk(emb, queries, dim=_DIM, k=_TOP_K, planes=_LSH_PLANES)


_IMG_COLOR_ORACLE = f"""
WITH pp AS (SELECT unnest(range(0, 8)) AS p),
px AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN pp.p < 4 THEN md5(d.text) ELSE md5(d.text || 'x') END AS hx,
         CASE WHEN pp.p < 4 THEN 4 * pp.p + 3 ELSE 4 * (pp.p - 4) + 3 END AS bi
  FROM documents d, pp
), al AS (
  SELECT doc_id, lang,
         (strpos('0123456789abcdef', substr(hx, 2 * bi + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * bi + 2, 1)) - 1) AS alpha
  FROM px
), perdoc AS (
  SELECT doc_id, lang,
         SUM(CASE WHEN alpha >= 128 THEN 1 ELSE 0 END) AS nt
  FROM al GROUP BY doc_id, lang
)
SELECT lang AS "group",
       COUNT(*) AS n_images,
       SUM(nt)::BIGINT AS colored_pixels,
       {o_davg('nt / 8.0', 'avg_color_ratio', 4)}
FROM perdoc GROUP BY lang
"""


@register(
    "image_color_analytics",
    oracle=_IMG_COLOR_ORACLE,
    doc="Advanced-3 surface (Assignment-python.py:705-841) on deterministic "
    "synthetic images: binary BGRA -> per-pixel colors (Arrow-batched UDF) -> "
    "distributed top-colors/red-count/ratio analytics. Oracle-gated: each "
    "doc's 8 BGRA pixels come from its text's two md5 digests, so the "
    "transparency rule (alpha byte < 128 -> 'None') has a closed-form SQL "
    "twin that parses the same alpha bytes out of DuckDB's md5() hex — any "
    "regression in the Arrow-batched decode (byte order, alpha threshold, "
    "ratio arithmetic) breaks the hash. Color-NAME fidelity (the 27-entry "
    "table) stays golden-tested in tests/test_colors.py.",
)
def image_color_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds a deterministic image per document (pixels derived from the
    text's md5 bytes) and runs the color pipeline — exercises the whole
    binary/UDF path under the driver's value-hash check.
    """
    from ..functions.colors import pixel_colors_udf
    from ..operators.aggregates import davg
    from ..pipelines.images import with_color_stats

    docs = load(spark, sf_dir, "documents")
    # 8 BGRA pixels per doc from two md5 digests (32 bytes) — deterministic,
    # with naturally varying alpha bytes so some pixels count as transparent
    imgs = docs.select(
        F.col("doc_id"),
        F.col("lang").alias("group"),
        F.concat(F.unhex(F.md5(F.col("text").cast("binary"))),
                 F.unhex(F.md5(F.concat(F.col("text"), F.lit("x")).cast("binary"))))
        .alias("data"),
    ).withColumn("hexcode", F.col("doc_id").cast("string")).withColumn(
        "annotation", F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
    )
    with_colors = imgs.withColumn("colors", pixel_colors_udf("data"))
    stats = with_color_stats(with_colors)
    return stats.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("nonTransparentCount").cast("long").alias("colored_pixels"),
        davg("colorRatio", "avg_color_ratio", 4),
    )


def _ivf_oracle() -> str:
    """SQL twin of ivf_topk_portable: centroid seeding is pure integer
    arithmetic (Knuth multiplicative hash) and assignment/scoring use the
    same left-to-right dot-product folds as the Spark expressions, so the
    'approximate' IVF is a deterministic function of its inputs and
    exact-oracle-checkable — same argument as the LSH twin."""
    dim, k, n_centroids, n_probe = _DIM, _TOP_K, _N_CELLS, IVF_N_PROBE
    cos = (
        "list_sum(list_transform(range(1, {d}), i -> {a}[i] * {b}[i]))"
        " / sqrt(list_sum(list_transform({a}, x -> x * x))"
        " * list_sum(list_transform({b}, x -> x * x)))"
    )
    assign_cos = cos.format(d=dim + 1, a="v.e", b="c.cent")
    score_cos = cos.format(d=dim + 1, a="p.qe", b="cc.ce")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), seeds AS (
  SELECT vec_id, e, (vec_id * 2654435761) % 4294967296 AS h
  FROM v ORDER BY h, vec_id LIMIT {n_centroids}
), cents AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1)::INT AS cell, e AS cent FROM seeds
), ca AS (
  SELECT v.vec_id, v.e, c.cell,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {assign_cos} DESC, c.cell ASC) AS rn
  FROM v CROSS JOIN cents c
), corpus_cells AS (
  SELECT vec_id AS neighbor_id, e AS ce, cell FROM ca WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, e AS qe, cell FROM ca WHERE rn <= {n_probe} AND vec_id < 10
), scored AS (
  SELECT p.query_id, cc.neighbor_id, ROUND({score_cos}, 4) AS sim
  FROM corpus_cells cc JOIN probes p USING (cell)
  WHERE p.query_id <> cc.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         (ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC))::BIGINT AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= {k}
"""


@register(
    "cosine_topk_ivf",
    oracle=_ivf_oracle(),
    doc="Additive similarity search, IVF variant — now oracle-gated end to "
    "end via the portable twin: Knuth-hash centroid seeding and order-pinned "
    "JVM dot-product folds round-trip into the SQL twin exactly "
    "(ivf_topk_portable).",
)
def cosine_topk_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk_portable

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk_portable(emb, queries, k=_TOP_K, n_centroids=_N_CELLS)


_IVF_RECALL_ORACLE = f"""
WITH appr AS ({_ivf_oracle()}), ex AS ({_COSINE_ORACLE}), s AS (
  SELECT (SELECT COUNT(*) FROM appr) AS n_ivf,
         (SELECT COUNT(*) FROM ex) AS n_exact,
         (SELECT COUNT(*) FROM appr a
          JOIN ex e ON a.query_id = e.query_id
                   AND a.neighbor_id = e.neighbor_id) AS n_found
)
SELECT n_ivf, n_exact, n_found,
       {{recall}} AS recall
FROM s
"""


@register(
    "ivf_recall_telemetry",
    oracle=_IVF_RECALL_ORACLE.format(
        recall="ROUND(CAST(CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE)"
        " AS DECIMAL(27,8)), 4)::DOUBLE"
    ),
    doc="Round-6 stretch: ANN recall telemetry — one row of (n_ivf, n_exact, "
    "n_found, recall) comparing the oracle-gated portable IVF top-5 against "
    "the exact brute-force cosine top-5 over the same query set. n_probe / "
    "n_centroids changes now move a measured recall number instead of only "
    "flipping the oracle; both legs and the recall division have exact SQL "
    "twins, so the telemetry itself is oracle-gated.",
)
def ivf_recall_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk_portable

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    appr = (
        ivf_topk_portable(emb, queries, k=_TOP_K, n_centroids=_N_CELLS)
        .select("query_id", "neighbor_id")
        .withColumn("_c", F.lit(1))
    )
    exact = (
        cosine_topk(emb, queries, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("_t", F.lit(1))
    )
    both = appr.join(exact, ["query_id", "neighbor_id"], "full_outer")
    return both.agg(
        F.count("_c").alias("n_ivf"),
        F.count("_t").alias("n_exact"),
        F.count(
            F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1)
        ).alias("n_found"),
    ).select(
        "n_ivf",
        "n_exact",
        "n_found",
        dround(
            F.col("n_found").cast("double") / F.col("n_exact").cast("double"), 4
        ).alias("recall"),
    )


_NEAR_DUP_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
             / (a.nrm * b.nrm), 4) AS sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ROUND(list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
            / (a.nrm * b.nrm), 4) >= 0.4
"""


@register(
    "embedding_near_dup",
    oracle=_NEAR_DUP_ORACLE,
    doc="North-star embedding-cosine near-dup: exact all-pairs cosine >= 0.4 "
    "via distributed 2-D block matmul (no driver collect, no corpus "
    "broadcast; LSH bucketing is the candidate generator at scale).",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_pairs_grouped

    emb = load(spark, sf_dir, "embeddings")
    return cosine_pairs_grouped(emb, threshold=0.4)


_LABEL_CENTROID_ORACLE = f"""
WITH per_dim AS (
  SELECT label, i.i AS dim,
         {o_davg('CAST(embedding[i.i] AS DOUBLE)', 'mean_val', 6)}
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY label, i.i
)
SELECT label,
       COUNT(*)::BIGINT AS n_dims,
       ROUND(SUM(CAST(mean_val * mean_val AS DECIMAL(27,12))), 6)::DOUBLE AS centroid_sq_norm
FROM per_dim
GROUP BY label
"""


@register(
    "label_centroids",
    oracle=_LABEL_CENTROID_ORACLE,
    doc="Additive: per-label centroid via posexplode + per-dimension avg (vector aggregate decomposed to relational ops).",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import davg

    emb = load(spark, sf_dir, "embeddings")
    # davg (decimal-sum detour), not F.avg: double accumulation order depends
    # on partitioning, so plain avg can flip the 6th decimal between the
    # rehearsal session and the driver's untuned one.
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(davg(F.col("val").cast("double"), "mean_val", 6))
    )
    return per_dim.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(
            F.sum((F.col("mean_val") * F.col("mean_val")).cast("decimal(27,12)")), 6
        )
        .cast("double")
        .alias("centroid_sq_norm"),
    )


_QUANT_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id, label, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS q_scale
  FROM v
), q AS (
  SELECT vec_id, label, q_scale,
         list_transform(e, x -> CASE WHEN q_scale > 0
             THEN greatest(-127, least(127, floor(x / q_scale + 0.5)))::BIGINT
             ELSE 0::BIGINT END) AS qv
  FROM s
)
SELECT vec_id, label,
       {o_dround('q_scale', 8)} AS q_scale,
       list_sum(qv)::BIGINT AS q_sum,
       list_sum(list_transform(qv, x -> x * x))::BIGINT AS q_sq,
       list_max(qv)::BIGINT AS q_max,
       len(list_filter(qv, x -> x = 0))::BIGINT AS n_zero
FROM q
"""


@register(
    "embedding_quantize_stats",
    oracle=_QUANT_ORACLE,
    doc="Additive ANN scale path: symmetric int8 scalar quantization "
    "(operators/similarity.quantize_int8) — one scale per vector, "
    "floor(x/scale + 0.5) code assignment (two correctly-rounded IEEE ops; "
    "engine ROUND midpoint conventions never enter), gated on the exact "
    "integer code sums/squares per vector so any drift in the quantizer "
    "breaks the hash. Narrow projection, zero shuffles; 4x index memory "
    "reduction ahead of the IVF/LSH candidate joins.",
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_int8

    emb = load(spark, sf_dir, "embeddings")
    out = quantize_int8(emb)
    q = F.col("q")
    return out.select(
        "vec_id",
        "label",
        dround(F.col("q_scale"), 8).alias("q_scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x * x).alias("q_sq"),
        F.array_max(q).alias("q_max"),
        F.size(F.filter(q, lambda x: x == 0)).cast("long").alias("n_zero"),
    )


def _pq_oracle() -> str:
    """SQL twin of pq_topk_portable: Knuth-hash sub-codebooks, sqrt
    normalization (IEEE-exact), unrolled left-associated squared-L2 terms
    over full-array indexing, an order-pinned list_sum ADC fold — every
    'approximate' step is a deterministic function of its inputs, same
    argument as the LSH/IVF twins. The Spark side inlines the COLLECTED
    codebook as literals; doubles round-trip exactly, so both engines
    subtract identical values."""
    dim, m, n_codes, k = PQ_DIM, PQ_M, PQ_CODES, PQ_TOP_K
    d_sub = dim // m

    def unrolled(a: str, b_arr: str, b_base: str, j: str) -> str:
        terms = [
            f"({a}[{j}*{d_sub}+{i + 1}] - {b_arr}[{b_base} + {j}*{d_sub}+{i + 1}])"
            f" * ({a}[{j}*{d_sub}+{i + 1}] - {b_arr}[{b_base} + {j}*{d_sub}+{i + 1}])"
            for i in range(d_sub)
        ]
        return " + ".join(terms)

    enc_d = unrolled("nv.e", "c.cent", "0", "s.j")
    adc_d = unrolled("q.e", "f.f", f"cd.codes[j+1]*{dim}", "j")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), nv AS (
  -- zero-norm guard mirrors the Spark twin (divide by 1, keep the zeros)
  SELECT vec_id,
         list_transform(e, x -> x / (CASE WHEN sqrt(list_sum(list_transform(e, y -> y * y))) = 0
                                          THEN 1 ELSE sqrt(list_sum(list_transform(e, y -> y * y))) END)) AS e
  FROM v
), seeds AS (
  SELECT vec_id, e, (vec_id * 2654435761) % 4294967296 AS h
  FROM nv ORDER BY h, vec_id LIMIT {n_codes}
), cents AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1)::INT AS cell, e AS cent FROM seeds
), flat AS (
  SELECT flatten(list(cent ORDER BY cell)) AS f FROM cents
), subs AS (
  SELECT unnest(range(0, {m})) AS j
), enc AS (
  SELECT nv.vec_id, s.j, c.cell,
         ROW_NUMBER() OVER (PARTITION BY nv.vec_id, s.j
                            ORDER BY {enc_d} ASC, c.cell ASC) AS rn
  FROM nv CROSS JOIN subs s CROSS JOIN cents c
), codes AS (
  SELECT vec_id, list(cell ORDER BY j) AS codes FROM enc WHERE rn = 1 GROUP BY vec_id
), scored AS (
  SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
         list_sum(list_transform(range(0, {m}), j -> {adc_d})) AS s
  FROM codes cd
  CROSS JOIN (SELECT vec_id, e FROM nv WHERE vec_id < 10) q
  CROSS JOIN flat f
  WHERE q.vec_id <> cd.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         ROUND(CAST(s AS DECIMAL(27,12)), {PQ_DIST_SCALE})::DOUBLE AS approx_dist,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY s ASC, neighbor_id ASC))::BIGINT AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, approx_dist, rnk FROM ranked WHERE rnk <= {k}
"""


@register(
    "cosine_topk_pq",
    oracle=_pq_oracle(),
    doc="Additive similarity search, product-quantization variant — the "
    "third oracle-gated ANN index (operators/similarity.pq_topk_portable): "
    "normalized vectors split into 32 subvectors, each encoded to its "
    "nearest Knuth-hash sub-codeword via a LITERAL codebook (bounded "
    "driver pull, no join), candidates ranked by the asymmetric "
    "query-to-codeword squared-L2 — one order-pinned fold per candidate "
    "row, every stage narrow except the per-query rank. recall@5 = 0.46 "
    "vs exact cosine at sf0.01 (above the IVF twin's 0.40); codes are "
    "16 bytes/vector, a 16x index-memory cut vs float32. The 100 TB ADC "
    "keeps this exact shape — the distance-table lookup IS the literal "
    "codebook expression.",
)
def cosine_topk_pq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk_portable

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk_portable(emb, queries)


def _ivfpq_oracle() -> str:
    """SQL twin of ivfpq_topk_portable: the IVF twin's normalized-vector
    cell assignment composed with the PQ twin's codebook/encode/ADC —
    the inverted list becomes a cell-id equi-join restricting which codes
    each query scores."""
    dim, m, n_codes, k = PQ_DIM, PQ_M, PQ_CODES, PQ_TOP_K
    n_centroids, n_probe = _N_CELLS, IVF_N_PROBE
    d_sub = dim // m
    cos = (
        "list_sum(list_transform(range(1, {d}), i -> {a}[i] * {b}[i]))"
        " / sqrt(list_sum(list_transform({a}, x -> x * x))"
        " * list_sum(list_transform({b}, x -> x * x)))"
    )
    assign_cos = cos.format(d=dim + 1, a="nv.e", b="c.cent")

    def unrolled(a: str, b_arr: str, b_base: str, j: str) -> str:
        terms = [
            f"({a}[{j}*{d_sub}+{i + 1}] - {b_arr}[{b_base} + {j}*{d_sub}+{i + 1}])"
            f" * ({a}[{j}*{d_sub}+{i + 1}] - {b_arr}[{b_base} + {j}*{d_sub}+{i + 1}])"
            for i in range(d_sub)
        ]
        return " + ".join(terms)

    enc_d = unrolled("nv.e", "c.cent", "0", "s.j")
    adc_d = unrolled("q.e", "f.f", f"cd.codes[j+1]*{dim}", "j")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), nv AS (
  SELECT vec_id,
         list_transform(e, x -> x / (CASE WHEN sqrt(list_sum(list_transform(e, y -> y * y))) = 0
                                          THEN 1 ELSE sqrt(list_sum(list_transform(e, y -> y * y))) END)) AS e
  FROM v
), iseeds AS (
  SELECT vec_id, e, (vec_id * 2654435761) % 4294967296 AS h
  FROM nv ORDER BY h, vec_id LIMIT {n_centroids}
), icents AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1)::INT AS cell, e AS cent FROM iseeds
), ca AS (
  SELECT nv.vec_id, c.cell,
         ROW_NUMBER() OVER (PARTITION BY nv.vec_id
                            ORDER BY {assign_cos} DESC, c.cell ASC) AS rn
  FROM nv CROSS JOIN icents c
), cells AS (
  SELECT vec_id AS neighbor_id, cell FROM ca WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cell FROM ca WHERE rn <= {n_probe} AND vec_id < 10
), pseeds AS (
  SELECT vec_id, e, (vec_id * 2654435761) % 4294967296 AS h
  FROM nv ORDER BY h, vec_id LIMIT {n_codes}
), cents AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1)::INT AS cell, e AS cent FROM pseeds
), flat AS (
  SELECT flatten(list(cent ORDER BY cell)) AS f FROM cents
), subs AS (
  SELECT unnest(range(0, {m})) AS j
), enc AS (
  SELECT nv.vec_id, s.j, c.cell,
         ROW_NUMBER() OVER (PARTITION BY nv.vec_id, s.j
                            ORDER BY {enc_d} ASC, c.cell ASC) AS rn
  FROM nv CROSS JOIN subs s CROSS JOIN cents c
), codes AS (
  SELECT vec_id, list(cell ORDER BY j) AS codes FROM enc WHERE rn = 1 GROUP BY vec_id
), scored AS (
  SELECT p.query_id, cd.vec_id AS neighbor_id,
         list_sum(list_transform(range(0, {m}), j -> {adc_d})) AS s
  FROM codes cd
  JOIN cells cl ON cd.vec_id = cl.neighbor_id
  JOIN probes p ON cl.cell = p.cell
  JOIN nv q ON q.vec_id = p.query_id
  CROSS JOIN flat f
  WHERE p.query_id <> cd.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         ROUND(CAST(s AS DECIMAL(27,12)), {PQ_DIST_SCALE})::DOUBLE AS approx_dist,
         (ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY s ASC, neighbor_id ASC))::BIGINT AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, approx_dist, rnk FROM ranked WHERE rnk <= {k}
"""


@register(
    "cosine_topk_ivfpq",
    oracle=_ivfpq_oracle(),
    doc="Additive similarity search, COMPOSED IVF-PQ index (the FAISS "
    "IVFADC shape, Jegou et al. 2011; operators/similarity."
    "ivfpq_topk_portable): coarse cells bound WHICH candidates each "
    "query scores (n_probe=4 of 16 cells — the inverted list is a "
    "cell-id equi-join, shuffle-partitioned and AQE-splittable), PQ "
    "codes bound the per-candidate cost (literal codebook ADC fold). "
    "Both halves reuse the oracle-gated IVF and PQ twins' exact "
    "arithmetic, so the composition is oracle-gated end to end — the "
    "pairing billion-vector ANN systems actually deploy.",
)
def cosine_topk_ivfpq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_topk_portable

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk_portable(
        emb, queries, n_centroids=_N_CELLS, n_probe=IVF_N_PROBE
    )


def _semdedup_cells_cte() -> str:
    """Shared CTE chain for the SemDeDup oracles: Knuth-hash seed centroids
    + pinned-fold argmax assignment (the _ivf_oracle skeleton), ending in
    cells(vec_id, e, cell)."""
    dim, n_centroids = _DIM, SEMDEDUP_CELLS
    cos = (
        "list_sum(list_transform(range(1, {d}), i -> {a}[i] * {b}[i]))"
        " / sqrt(list_sum(list_transform({a}, x -> x * x))"
        " * list_sum(list_transform({b}, x -> x * x)))"
    )
    assign_cos = cos.format(d=dim + 1, a="v.e", b="c.cent")
    return f"""
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), seeds AS (
  SELECT vec_id, e, (vec_id * 2654435761) % 4294967296 AS h
  FROM v ORDER BY h, vec_id LIMIT {n_centroids}
), cents AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1)::INT AS cell, e AS cent FROM seeds
), ca AS (
  SELECT v.vec_id, v.e, c.cell,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {assign_cos} DESC, c.cell ASC) AS rn
  FROM v CROSS JOIN cents c
), cells AS (
  SELECT vec_id, e, cell FROM ca WHERE rn = 1
)"""


_SEMDEDUP_PAIR_COS = (
    "list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))"
    " / sqrt(list_sum(list_transform(a.e, x -> x * x))"
    " * list_sum(list_transform(b.e, x -> x * x)))"
)


def _semdedup_oracle() -> str:
    return f"""
WITH {_semdedup_cells_cte()}
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell AS cell,
       ROUND({_SEMDEDUP_PAIR_COS}, {SIM_SCALE}) AS sim
FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE ROUND({_SEMDEDUP_PAIR_COS}, {SIM_SCALE}) >= {SEMDEDUP_T}
"""


@register(
    "dedup_semantic",
    oracle=_semdedup_oracle(),
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023), oracle-gated "
    "via the portable twin (operators/similarity.semantic_dup_pairs_"
    "portable): embeddings bucketed into 16 Knuth-seeded spherical cells, "
    "within-cell pairs with rounded cosine >= 0.4 emitted by a cell-keyed "
    "self-join (SHUFFLE_HASH both sides, never all-pairs). The FIXED cell "
    "count makes this the verification twin only — occupancy N/16 grows "
    "with the corpus and the within-cell scan is quadratic in it (r7 sf1 "
    "probe: 19x/decade); the scale path is dedup_semantic_kmeans below, "
    "whose target_cell_rows knob holds occupancy constant. The production "
    "operator (semantic_dup_pairs: k-means training + narrow numpy "
    "assignment) is set-parity-tested against this twin in "
    "tests/test_similarity.py.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dup_pairs_portable

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dup_pairs_portable(emb)


_SEMDEDUP_SURV_ORACLE = f"""
WITH {_semdedup_cells_cte()}, pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell AS cell
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND({_SEMDEDUP_PAIR_COS}, 4) >= 0.4
), occ AS (
  SELECT cell, COUNT(*) AS n_points FROM cells GROUP BY cell
), pc AS (
  SELECT cell, COUNT(*) AS n_dup_pairs, COUNT(DISTINCT id_b) AS n_dropped
  FROM pairs GROUP BY cell
)
SELECT o.cell, o.n_points,
       COALESCE(pc.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(pc.n_dropped, 0) AS n_dropped,
       o.n_points - COALESCE(pc.n_dropped, 0) AS n_kept
FROM occ o LEFT JOIN pc USING (cell)
"""


@register(
    "dedup_semantic_survivors",
    oracle=_SEMDEDUP_SURV_ORACLE,
    doc="SemDeDup keep/drop accounting per cell: a point is dropped iff it "
    "has a smaller-id duplicate neighbor (the min-id variant of the "
    "paper's keep-one-per-ball; dropped ids = distinct id_b of the pair "
    "table — one aggregation, no window). Output is tie-invariant: "
    "(cell, n_points, n_dup_pairs, n_dropped, n_kept).",
)
def dedup_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        portable_cells,
        semantic_dup_pairs_portable,
        semantic_survivor_stats,
    )

    emb = load(spark, sf_dir, "embeddings")
    # one checkpointed assignment shared by the pair join and the
    # occupancy counts; the pair join itself has exactly one definition
    cells = portable_cells(emb, n_centroids=SEMDEDUP_CELLS)
    pairs = semantic_dup_pairs_portable(emb, cells=cells)
    occ = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_points"))
    return semantic_survivor_stats(pairs, occ)


_SEM_RECALL_ORACLE = f"""
WITH sem AS ({_semdedup_oracle()}), ex AS ({_NEAR_DUP_ORACLE}), s AS (
  SELECT (SELECT COUNT(*) FROM sem) AS n_sem,
         (SELECT COUNT(*) FROM ex) AS n_exact,
         (SELECT COUNT(*) FROM sem a
          JOIN ex e ON a.id_a = e.id_a AND a.id_b = e.id_b) AS n_found
)
SELECT n_sem, n_exact, n_found,
       CASE WHEN n_exact > 0 THEN
         ROUND(CAST(CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE)
               AS DECIMAL(27,8)), 4)::DOUBLE
       END AS recall
FROM s
"""


@register(
    "semantic_recall_telemetry",
    oracle=_SEM_RECALL_ORACLE,
    doc="SemDeDup recall telemetry vs the embedding_near_dup exact truth: "
    "one row of (n_sem, n_exact, n_found, recall) comparing the 16-cell "
    "within-cell pair set against exact all-pairs cosine >= 0.4 — the "
    "measured cost of the paper's cross-cell blindness at this cell "
    "count. Both legs and the recall division have exact SQL twins, so "
    "the telemetry itself is oracle-gated (the ivf_recall_telemetry "
    "pattern).",
)
def semantic_recall_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_pairs_grouped, semantic_dup_pairs_portable

    emb = load(spark, sf_dir, "embeddings")
    sem = (
        semantic_dup_pairs_portable(emb)
        .select("id_a", "id_b")
        .withColumn("_c", F.lit(1))
    )
    exact = (
        cosine_pairs_grouped(emb, threshold=0.4)
        .select("id_a", "id_b")
        .withColumn("_t", F.lit(1))
    )
    both = sem.join(exact, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.count("_c").alias("n_sem"),
        F.count("_t").alias("n_exact"),
        F.count(
            F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1)
        ).alias("n_found"),
    ).select(
        "n_sem",
        "n_exact",
        "n_found",
        F.when(
            F.col("n_exact") > 0,
            dround(
                F.col("n_found").cast("double") / F.col("n_exact").cast("double"), 4
            ),
        ).alias("recall"),
    )


@register(
    "dedup_semantic_kmeans",
    doc="SemDeDup production path (Abbas et al. 2023) at the paper's "
    "operating point: spherical k-means cells sized by target occupancy "
    "(target_cell_rows=125 -> n_centroids = max(16, ceil(N/125)); "
    "SemDeDup's 11k clusters for LAION-440M is the same ~constant-"
    "occupancy rule), 2 Lloyd rounds over deterministic farthest-point "
    "seeds, narrow numpy assignment (mapInPandas, Arrow-batched), then a "
    "per-cell numpy pair scan (groupBy(cell).applyInPandas: one block "
    "matmul + upper-triangle cut per cell). Per-cell work stays "
    "O(target^2) as the corpus grows — the r7 sf0.1->sf1 probe is the "
    "measured contrast with the fixed-16-cell twin (SCALE.md). Rows-only "
    "under the driver (k-means cells are not SQL-expressible); "
    "correctness rides the oracle-gated dedup_semantic twin plus the "
    "injected-centroid set-parity test (tests/test_similarity.py) and "
    "the emitted-pair validity floor (cosine recomputed row-wise).",
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dup_pairs

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dup_pairs(emb, threshold=0.4, target_cell_rows=125)


@register(
    "dedup_semantic_hier",
    doc="SemDeDup production path over the TWO-LEVEL cell assignment "
    "(operators/similarity.hierarchical_cells): k = ceil(N/125) total "
    "cells split n_coarse = ceil(sqrt(k)) x n_fine — the flat path's "
    "documented extreme-N fix (its k x dim centroid broadcast is ~0.5 GB "
    "per 1e9 rows; here no stage broadcasts or driver-holds more than "
    "sqrt(k) x dim: coarse centroids broadcast sqrt(k)-sized, fine "
    "centroids live in a (cell1, sub, cvec) DataFrame cogrouped with the "
    "rows, and fine Lloyd runs fully distributed with decimal dimension "
    "sums). Per-cell pair work stays O(target^2) via the same occupancy "
    "rule. Rows-only under the driver (k-means cells are not SQL-"
    "expressible); correctness rides the flat-vs-hier pair-set parity "
    "tests at pinned splits (3x1 and 1x3 both reproduce flat k=3 "
    "exactly; tests/test_similarity.py) and the emitted-pair validity "
    "floor.",
)
def dedup_semantic_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dup_pairs_hier

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dup_pairs_hier(emb, threshold=0.4, target_cell_rows=125)


def _sem_assign_cte(src: str, out: str) -> str:
    """Assignment CTE pair: rows of CTE ``src`` → (vec_id, e, cell) in CTE
    ``out``, argmax cosine over the corpus-seeded `cents` (must be in
    scope), ties to the lower cell index — the portable_cells twin."""
    cos = (
        f"list_sum(list_transform(range(1, {_DIM + 1}), i -> v.e[i] * c.cent[i]))"
        " / sqrt(list_sum(list_transform(v.e, x -> x * x))"
        " * list_sum(list_transform(c.cent, x -> x * x)))"
    )
    return f"""ca_{out} AS (
  SELECT v.vec_id, v.e, c.cell,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY {cos} DESC, c.cell ASC) AS rn
  FROM {src} v CROSS JOIN cents c
), {out} AS (
  SELECT vec_id, e, cell FROM ca_{out} WHERE rn = 1
)"""


_INC_SEM_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), cor AS (SELECT * FROM v WHERE vec_id % 97 <> 0),
del AS (SELECT * FROM v WHERE vec_id % 97 = 0),
seeds AS (
  SELECT vec_id, e, (vec_id * 2654435761) % 4294967296 AS h
  FROM cor ORDER BY h, vec_id LIMIT 16
), cents AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1)::INT AS cell, e AS cent FROM seeds
), {_sem_assign_cte('cor', 'cc')}, {_sem_assign_cte('del', 'cd')},
pairs AS (
  SELECT d.vec_id, ROUND({_SEMDEDUP_PAIR_COS.replace('a.e', 'd.e').replace('b.e', 'c.e')}, 4) AS sim
  FROM cd d JOIN cc c ON d.cell = c.cell
), agg AS (
  SELECT vec_id, MAX(sim) AS best_sim,
         SUM(CASE WHEN sim >= {INC_DUP_COSINE} THEN 1 ELSE 0 END)::BIGINT AS n_dups
  FROM pairs GROUP BY vec_id
)
SELECT d.vec_id, d.cell, a.best_sim,
       COALESCE(a.n_dups, 0)::BIGINT AS n_dups,
       CASE WHEN COALESCE(a.n_dups, 0) > 0 THEN 'dup' ELSE 'novel' END AS status
FROM cd d LEFT JOIN agg a USING (vec_id)
"""


@register(
    "incremental_semantic_dedup",
    oracle=_INC_SEM_ORACLE,
    doc="Incremental SEMANTIC dedup — the embedding-modality twin of the "
    "exact incremental_dedup: the delta batch (vec_id % 97 = 0) is "
    "assigned into the STANDING corpus's cells (corpus-seeded portable "
    "centroids) and judged against same-cell corpus rows. Corpus scanned "
    "in place, never shuffled/broadcast; the bounded delta and the "
    "delta-sized verdict aggregate are the only broadcast sides "
    "(operators/similarity.incremental_semantic_dedup). Output: per-delta "
    "(cell, best_sim, n_dups, dup/novel).",
)
def incremental_semantic_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import incremental_semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    delta = emb.filter(F.col("vec_id") % 97 == 0)
    return incremental_semantic_dedup(corpus, delta, n_centroids=16)


def _rp_oracle() -> str:
    """SQL twin of rp_norm_stats: the ±1 sign rows are LITERAL lists (same
    driver-generated matrix as the Spark expression — no cross-engine RNG),
    every dot product a list_reduce fold in the identical prepend-0 order."""
    from ..operators.projection import RP_DIM, RP_K, jl_signs

    dim, k = RP_DIM, RP_K

    def fold(expr: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, {expr}), (a, b) -> a + b)"
        )

    xn = fold(
        "list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    )
    y_terms = []
    for j in range(k):
        s = "[" + ", ".join(repr(c) for c in jl_signs(dim, j)) + "]"
        yj = fold(
            f"list_transform(range(1, {dim + 1}),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ({s})[i])"
        )
        y_terms.append(f"({yj}) * ({yj})")
    yn = " + ".join(y_terms)
    return f"""
WITH f AS (
  SELECT vec_id, {xn} AS xn, {yn} AS yn FROM embeddings
)
SELECT vec_id,
       {o_dround('xn', 6)} AS x_norm2,
       {o_dround(f'yn / {float(k)!r}', 6)} AS y_norm2_over_k,
       {o_dround(f'yn / ({float(k)!r} * xn)', 4)} AS distortion
FROM f
"""


@register(
    "embedding_rp_stats",
    oracle=_rp_oracle(),
    doc="Johnson-Lindenstrauss random projection (Achlioptas 2001 ±1 "
    "database-friendly JL; operators/projection.rp_norm_stats): 64d -> "
    "16d with a driver-literal sign matrix, reporting per-vector norm "
    "preservation (distortion = ||y||²/(k||x||²), concentrated at 1 by "
    "the JL lemma). Every dot product is a left-fold in list_reduce "
    "order on BOTH engines, so the non-associative double sums are "
    "bit-identical with no decimal detour; zero shuffles, zero Python, "
    "k*dim fused multiply-adds per row inside codegen. The 4x dimension "
    "cut is the standard pre-ANN step (cheaper IVF/PQ/LSH candidate "
    "scans at a bounded distance distortion).",
)
def embedding_rp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.projection import rp_norm_stats

    return rp_norm_stats(load(spark, sf_dir, "embeddings"))


def _rp_recall_oracle() -> str:
    """SQL twin of rp_recall_telemetry: projected components from the same
    literal ±1 folds as _rp_oracle, then the cosine_topk ranking shape on
    both the projected and the original space, compared as pair sets."""
    from ..operators.projection import RP_K, jl_signs

    dim, kproj, topk, coarse_m = _DIM, RP_K, _TOP_K, _RP_COARSE_M

    def fold(expr: str) -> str:
        return f"list_reduce(list_prepend(0.0, {expr}), (a, b) -> a + b)"

    ys = []
    for j in range(kproj):
        s = "[" + ", ".join(repr(c) for c in jl_signs(dim, j)) + "]"
        ys.append(
            fold(
                f"list_transform(range(1, {dim + 1}),"
                f" i -> CAST(embedding[i] AS DOUBLE) * ({s})[i])"
            )
        )
    ylist = "[" + ", ".join(ys) + "]"
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         {ylist} AS y
  FROM embeddings
), q AS (SELECT * FROM v WHERE vec_id < 10),
ps AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(range(1, {kproj + 1}), i -> q.y[i] * c.y[i]))
               / sqrt(list_sum(list_transform(q.y, x -> x * x))
                      * list_sum(list_transform(c.y, x -> x * x))), 4) AS sim
  FROM q CROSS JOIN v c WHERE q.vec_id <> c.vec_id
), pr AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM ps
), cand AS (SELECT query_id, neighbor_id FROM pr WHERE rnk <= {coarse_m}),
ts AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(range(1, {dim + 1}), i -> q.e[i] * c.e[i]))
               / sqrt(list_sum(list_transform(q.e, x -> x * x))
                      * list_sum(list_transform(c.e, x -> x * x))), 4) AS sim
  FROM q CROSS JOIN v c WHERE q.vec_id <> c.vec_id
), tr AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM ts
), truth AS (SELECT query_id, neighbor_id FROM tr WHERE rnk <= {topk}),
s AS (
  SELECT (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates,
         (SELECT COUNT(*) FROM truth)::BIGINT AS n_true_pairs,
         (SELECT COUNT(*) FROM cand c JOIN truth t
          ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id)::BIGINT AS n_found
)
SELECT n_candidates, n_true_pairs, n_found,
       {o_dround("CAST(n_found AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)", 4)} AS recall
FROM s
"""


@register(
    "rp_recall_telemetry",
    oracle=_rp_recall_oracle(),
    doc="Retrieval-recall telemetry for the JL coarse-then-rerank "
    "pipeline (compressed paths are MEASURED — the lsh/ivf/semantic/"
    "winnow discipline): the 16d projected space keeps a top-100 coarse "
    "candidate set (5%% of the corpus at 4x cheaper per-candidate cost), "
    "scored against exact 64d top-5 truth as one (n_candidates, "
    "n_true_pairs, n_found, recall) row. Every leg — the literal ±1 "
    "folds, both cosine rankings, the set intersection — has an exact "
    "SQL twin. On these SYNTHETIC isotropic embeddings neighbor "
    "structure is noise-dominated (all cosines near 0), so the coarse "
    "filter needs ~5%% width for ~0.8 recall — which is precisely the "
    "per-corpus tradeoff this telemetry exists to measure; clustered "
    "real embeddings concentrate far tighter (JL sigma ~ sqrt(2/k)).",
)
def rp_recall_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.projection import RP_K, project
    from ..operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    proj = emb.select(
        "vec_id", project(F.col("embedding"), _DIM, RP_K).alias("embedding")
    )
    cand = (
        cosine_topk(proj, proj.filter(F.col("vec_id") < 10), k=_RP_COARSE_M)
        .select("query_id", "neighbor_id")
        .withColumn("_c", F.lit(1))
    )
    truth = (
        cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=_TOP_K)
        .select("query_id", "neighbor_id")
        .withColumn("_t", F.lit(1))
    )
    both = cand.join(truth, ["query_id", "neighbor_id"], "full_outer")
    return both.agg(
        F.count("_c").alias("n_candidates"),
        F.count("_t").alias("n_true_pairs"),
        F.count(
            F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1)
        ).alias("n_found"),
    ).select(
        "n_candidates",
        "n_true_pairs",
        "n_found",
        dround(
            F.col("n_found").cast("double") / F.col("n_true_pairs").cast("double"),
            4,
        ).alias("recall"),
    )
