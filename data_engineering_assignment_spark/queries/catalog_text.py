"""Text-analysis / dedup queries over the documents table (north-star
operators: token stats, language ID, quality scoring, exact + n-gram
near-dedup, MinHash-LSH candidates, SimHash fingerprints)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import davg, dround, o_davg, o_dround
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash64,
)
from ..operators.text import with_text_stats
from ..tables import load
from . import register

_STOP_SQL = "('a','the','of','and','to','in','is','it')"

_TOKEN_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, lang, n_chars,
         len(toks)::BIGINT AS token_count,
         len(list_distinct(toks))::BIGINT AS uniq_tokens,
         {o_dround(f'CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)'
                   ' / CAST(len(toks) AS DOUBLE)', 4)} AS stop_ratio,
         {o_dround('CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)'
                   ' / CAST(len(toks) AS DOUBLE)', 4)} AS avg_token_len
  FROM t
)
SELECT doc_id, lang, n_chars, token_count, uniq_tokens, stop_ratio, avg_token_len,
       ROUND(CAST(LEAST(1.0, CAST(token_count AS DOUBLE) / 100.0)
                  * LEAST(1.0, stop_ratio * 10.0) AS DECIMAL(27,8)), 4)::DOUBLE AS quality,
       CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang
FROM s
"""


@register(
    "doc_token_stats",
    oracle=_TOKEN_STATS_ORACLE,
    doc="North-star text analysis (replaces driver-side Counter, :781-805): token counts, stopword ratio, quality score, heuristic language ID — all JVM-side HOFs.",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return with_text_stats(docs).select(
        "doc_id", "lang", "n_chars", "token_count", "uniq_tokens",
        "stop_ratio", "avg_token_len", "quality", "pred_lang",
    )


_QUALITY_BY_SOURCE_ORACLE = f"""
WITH t AS (
  SELECT lang, source, n_chars, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT lang, source, n_chars,
         ROUND(CAST(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                    * LEAST(1.0, {o_dround(f'CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)'
                                           ' / CAST(len(toks) AS DOUBLE)', 4)} * 10.0) AS DECIMAL(27,8)), 4)::DOUBLE AS quality
  FROM t
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       {o_davg('n_chars', 'avg_chars', 2)},
       {o_davg('quality', 'avg_quality', 4)}
FROM s
GROUP BY lang, source
"""


@register(
    "quality_by_source",
    oracle=_QUALITY_BY_SOURCE_ORACLE,
    doc="North-star corpus triage: per-(lang, source) doc counts and mean quality.",
)
def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_text_stats(load(spark, sf_dir, "documents"))
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars", "avg_chars", 2),
        davg("quality", "avg_quality", 4),
    )


_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register(
    "dedup_exact",
    oracle=_DEDUP_EXACT_ORACLE,
    doc="North-star exact dedup: content-hash groups with deterministic min-id survivor.",
)
def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"))


_CROSS_SOURCE_DUP_ORACLE = """
WITH fp AS (
  SELECT md5(text) AS h, source, COUNT(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, SUM(a.c * b.c)::BIGINT AS n_pairs
  FROM fp a JOIN fp b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
  UNION ALL
  SELECT source, source, SUM(c * (c - 1) / 2)::BIGINT
  FROM fp WHERE c >= 2 GROUP BY 1, 2
)
SELECT source_a, source_b, SUM(n_pairs)::BIGINT AS n_pairs
FROM pairs GROUP BY 1, 2 HAVING SUM(n_pairs) > 0
"""


@register(
    "cross_source_dup_matrix",
    oracle=_CROSS_SOURCE_DUP_ORACLE,
    doc="Provenance analytics: which sources duplicate which — exact-"
    "duplicate PAIR counts per ordered source pair, computed from per-"
    "(fingerprint, source) COUNTS (n_pairs = c_a*c_b across sources, "
    "C(c,2) within) so no row-level pair is ever materialized: a hot "
    "fingerprint shared by a million docs contributes one arithmetic "
    "row per source pair, not 10^12 join rows. Two map-side-combinable "
    "aggregations + a self-join of the bounded (fingerprint, source) "
    "count table.",
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = docs.groupBy(
        F.md5(F.col("text").cast("binary")).alias("h"), F.col("source")
    ).agg(F.count(F.lit(1)).alias("c"))
    a, b = fp.alias("a"), fp.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("n_pairs"))
    )
    within = (
        fp.filter(F.col("c") >= 2)
        .groupBy(F.col("source").alias("source_a"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("n_pairs"))
        .select("source_a", F.col("source_a").alias("source_b"), "n_pairs")
    )
    return (
        cross.unionByName(within)
        .groupBy("source_a", "source_b")
        .agg(F.sum("n_pairs").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


JACC = o_dround(
    "CAST(i.inter AS DOUBLE)"
    " / CAST(sa.n_shingles + sb.n_shingles - i.inter AS DOUBLE)",
    4,
)

_NGRAM_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), sh AS (
  SELECT DISTINCT a.doc_id AS doc, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
), sizes AS (
  SELECT doc, COUNT(*) AS n_shingles FROM sh GROUP BY doc
), inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT i.doc_a, i.doc_b, i.inter,
       {JACC} AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc = i.doc_a
JOIN sizes sb ON sb.doc = i.doc_b
WHERE {JACC} >= 0.005
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    doc="North-star near-dedup, exact variant: word-3-gram Jaccard pairs via shingle self-join.",
)
def dedup_ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.005)


@register(
    "dedup_survivors",
    oracle="""
SELECT doc_id, lang, n_chars FROM (
  SELECT d.doc_id, d.lang, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY md5(d.text)
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d
) WHERE rn = 1
""",
    doc="North-star survivor selection: one doc per exact-dup cluster under a "
    "total (quality, id) order — operators/dedup.keep_best.",
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import keep_best

    docs = load(spark, sf_dir, "documents")
    return keep_best(
        docs.withColumn("_cluster", F.md5(F.col("text").cast("binary"))),
        "_cluster",
        [F.desc("n_chars"), F.asc("doc_id")],
        keep_cols=["doc_id", "lang", "n_chars"],
    )


@register(
    "dedup_clusters_lsh",
    oracle=None,  # probabilistic candidates — correctness via unit tests
    doc="North-star dedup clustering: connected components (graphs.cc_star "
    "star contraction) over MinHash-LSH candidate pairs.",
)
def dedup_clusters_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import cc_star

    pairs = minhash_lsh_candidates(load(spark, sf_dir, "documents"))
    return cc_star(pairs)


@register(
    "dedup_minhash_lsh",
    oracle=None,  # probabilistic bucketing — validated by unit tests vs exact jaccard
    doc="North-star near-dedup, scale path: MinHash signatures banded into LSH buckets; candidate pairs via bucket equi-join.",
)
def dedup_minhash_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_candidates(load(spark, sf_dir, "documents"))


@register(
    "doc_simhash",
    oracle=None,  # xxhash64 has no DuckDB twin — validated by unit tests
    doc="North-star fingerprinting: 64-bit SimHash per document (JVM-side bit accumulation).",
)
def doc_simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash64(load(spark, sf_dir, "documents"))


@register(
    "doc_normalized_fingerprint",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS norm_hash,
       length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                  ' +', ' ', 'g'))) AS n_chars_norm
FROM documents
""",
    doc="North-star text normalization: lowercase, strip punctuation, collapse "
    "whitespace, fingerprint — the canonical pre-dedup cleanup, all JVM-side.",
)
def doc_normalized_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    # project the normalized text ONCE: inlining it into both md5 and length
    # doubles the regex work per row (Catalyst keeps this projection because
    # the expression is non-cheap and multiply-referenced — plan-verified
    # 2 regexp_replace in the physical plan vs 4 inlined)
    return docs.select("doc_id", norm.alias("_norm")).select(
        "doc_id",
        F.md5(F.col("_norm").cast("binary")).alias("norm_hash"),
        F.length("_norm").cast("long").alias("n_chars_norm"),
    )


_REGEX_TOKENS_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+$')))::BIGINT AS n_word,
       len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))::BIGINT AS n_num,
       len(list_filter(toks, x -> NOT regexp_matches(x, '^[A-Za-z0-9]')))::BIGINT AS n_punct,
       len(list_distinct(toks))::BIGINT AS n_uniq
FROM t
"""


@register(
    "doc_regex_tokens",
    oracle=_REGEX_TOKENS_ORACLE,
    doc="North-star BPE-style token counting: regexp_extract_all pre-tokenizer "
    "with per-class counts, all JVM-side.",
)
def doc_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import regex_tokens

    docs = load(spark, sf_dir, "documents")
    toks = regex_tokens()
    is_word = lambda x: x.rlike("^[A-Za-z]+$")  # noqa: E731
    is_num = lambda x: x.rlike("^[0-9]+$")  # noqa: E731
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, is_word)).cast("long").alias("n_word"),
        F.size(F.filter(toks, is_num)).cast("long").alias("n_num"),
        F.size(F.filter(toks, lambda x: ~x.rlike("^[A-Za-z0-9]")))
        .cast("long")
        .alias("n_punct"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    )


_ROLLING_HASH_ORACLE = """
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(range(1, length(text) + 1),
                          i -> ascii(substr(text, i, 1))::BIGINT)),
         (a, b) -> (a * 31 + b) % 1000000007
       ) AS rhash
FROM documents
"""


@register(
    "doc_rolling_hash",
    oracle=_ROLLING_HASH_ORACLE,
    doc="North-star document fingerprinting: polynomial rolling hash "
    "(h*31+ascii mod 1e9+7) as a JVM-side fold — engine-independent, unlike xxhash.",
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import rolling_hash

    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_hash("text").alias("rhash"))


_TOP_TOKENS_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT lang, tok, COUNT(*) AS n FROM tok GROUP BY lang, tok
), ranked AS (
  SELECT lang, tok, n,
         (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC))::BIGINT AS rnk
  FROM counts
)
SELECT lang, tok, n, rnk FROM ranked WHERE rnk <= 3
"""


@register(
    "top_tokens_per_lang",
    oracle=_TOP_TOKENS_ORACLE,
    doc="A13/D3 replacement (:781-805): top-3-by-frequency per group as explode → count → window top-k (the engine-native Counter.most_common).",
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import top_k_by_freq

    docs = load(spark, sf_dir, "documents")
    exploded = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    return top_k_by_freq(exploded, group_cols=["lang"], item_col="tok", k=3)


_SHINGLE_CTE = """toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), shs AS (
  SELECT DISTINCT a.doc_id AS doc, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
)"""

_O_RH_SHINGLE = """list_reduce(
     list_prepend(0::BIGINT,
       list_transform(range(1, length(shingle) + 1),
                      i -> ascii(substr(shingle, i, 1))::BIGINT)),
     (a, b) -> (a * 31 + b) % 1000000007
   )"""

_PORTABLE_K, _PORTABLE_BANDS = 12, 4
_PORTABLE_R = _PORTABLE_K // _PORTABLE_BANDS

_PORTABLE_MINS = ",\n".join(
    f"MIN(({2 * i + 1} * rh + {7919 * i + 13}) % 1000000007) AS h{i}"
    for i in range(_PORTABLE_K)
)
_PORTABLE_BANDED = " UNION ALL ".join(
    f"SELECT doc, {b} AS band, "
    + " || ',' || ".join(f"h{b * _PORTABLE_R + r}::VARCHAR" for r in range(_PORTABLE_R))
    + " AS bucket FROM sig"
    for b in range(_PORTABLE_BANDS)
)

_LSH_PORTABLE_ORACLE = f"""
WITH {_SHINGLE_CTE}, rhs AS (
  SELECT doc, {_O_RH_SHINGLE} AS rh FROM shs
), sig AS (
  SELECT doc, {_PORTABLE_MINS} FROM rhs GROUP BY doc
), banded AS ({_PORTABLE_BANDED})
SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_bands
FROM banded a
JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
GROUP BY 1, 2
"""


@register(
    "dedup_lsh_portable",
    oracle=_LSH_PORTABLE_ORACLE,
    doc="North-star near-dedup, VERIFIABLE variant: MinHash over affine "
    "permutations of the portable rolling hash, banded into string buckets — "
    "every intermediate value has an exact SQL twin, so the full "
    "signature→band→bucket-join pipeline is oracle-gated (xxhash64's "
    "fast path, dedup_minhash_lsh, is checked against this in tests). Same "
    "one-shuffle signature shape as the fast path.",
)
def dedup_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_candidates_portable

    return minhash_lsh_candidates_portable(load(spark, sf_dir, "documents"))


_LSH_RECALL_ORACLE = f"""
WITH {_SHINGLE_CTE}, rhs AS (
  SELECT doc, {_O_RH_SHINGLE} AS rh FROM shs
), sig AS (
  SELECT doc, {_PORTABLE_MINS} FROM rhs GROUP BY doc
), banded AS ({_PORTABLE_BANDED}),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
), sizes AS (
  SELECT doc, COUNT(*) AS n_shingles FROM shs GROUP BY doc
), i AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
), truth AS (
  SELECT i.doc_a, i.doc_b FROM i
  JOIN sizes sa ON sa.doc = i.doc_a
  JOIN sizes sb ON sb.doc = i.doc_b
  WHERE {JACC} >= 0.5
), s AS (
  SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
         (SELECT COUNT(*) FROM truth) AS n_true_pairs,
         (SELECT COUNT(*) FROM cand c
          JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_found
)
SELECT n_candidates, n_true_pairs, n_found,
       {o_dround("CAST(n_found AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)", 4)} AS recall
FROM s
"""


@register(
    "lsh_recall_telemetry",
    oracle=_LSH_RECALL_ORACLE,
    doc="Round-6 stretch: candidate-generation telemetry for the LSH family — "
    "one row of (n_candidates, n_true_pairs, n_found, recall) comparing the "
    "oracle-gated portable LSH candidates against exact 3-gram Jaccard >= 0.5 "
    "on the same corpus. Banding-parameter changes now have a quantitative "
    "regression signal beyond 'oracle still green' (recall drops the moment "
    "bands/rows drift). The full-outer pair join keeps everything "
    "distributed; the result is a single aggregated row, and every leg "
    "(signatures, banding, truth set, the recall division) has an exact SQL "
    "twin, so the telemetry itself is oracle-gated.",
)
def lsh_recall_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import dround
    from ..operators.dedup import minhash_lsh_candidates_portable

    docs = load(spark, sf_dir, "documents")
    cand = (
        minhash_lsh_candidates_portable(docs)
        .select("doc_a", "doc_b")
        .withColumn("_c", F.lit(1))
    )
    truth = (
        ngram_jaccard_pairs(docs, threshold=0.5)
        .select("doc_a", "doc_b")
        .withColumn("_t", F.lit(1))
    )
    both = cand.join(truth, ["doc_a", "doc_b"], "full_outer")
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
            F.col("n_found").cast("double") / F.col("n_true_pairs").cast("double"), 4
        ).alias("recall"),
    )


_CLUSTERS_JACCARD_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTE}, sizes AS (
  SELECT doc, COUNT(*) AS n_shingles FROM shs GROUP BY doc
), inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
), pairs AS (
  SELECT doc_a, doc_b FROM inter i
  JOIN sizes sa ON sa.doc = i.doc_a
  JOIN sizes sb ON sb.doc = i.doc_b
  WHERE {JACC} >= 0.5
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT node, MIN(r) AS cluster FROM reach GROUP BY node
"""


@register(
    "dedup_clusters_jaccard",
    oracle=_CLUSTERS_JACCARD_ORACLE,
    doc="North-star dedup clustering, oracle-gated: connected components "
    "(graphs.cc_star) over EXACT 3-gram Jaccard >= 0.5 pairs, checked "
    "against a recursive-CTE transitive closure in the oracle engine; the "
    "recursive closure is the small-data cross-check, not the scale "
    "algorithm. Builds the same plan as dedup_clusters_star (the name "
    "stays for the query catalog).",
)
def dedup_clusters_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters_star(spark, sf_dir)


@register(
    "dedup_clusters_star",
    oracle=_CLUSTERS_JACCARD_ORACLE,
    doc="The SCALE path for dedup clustering: alternating large-star / "
    "small-star connected components (Kiveris et al. 2014) over the same "
    "exact 3-gram Jaccard >= 0.5 pairs, checked against the same "
    "recursive-CTE transitive closure. Min-label propagation needs "
    "O(component diameter) rounds — fine for clique-ish near-dup "
    "clusters, a wall on chain-shaped components; the two-rule star "
    "contraction converges in O(log n) rounds on any shape (adversarial "
    "200-node chain pinned in tests/test_graphs.py).",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graphs import cc_star

    pairs = ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5)
    return cc_star(pairs)


_O_RH_TOK = """list_reduce(
     list_prepend(0::BIGINT,
       list_transform(range(1, length(tok) + 1),
                      i -> ascii(substr(tok, i, 1))::BIGINT)),
     (a, b) -> (a * 31 + b) % 1000000007
   )"""

_SIMHASH_BITS = 31
_SIMHASH_BIT_SUMS = ",\n".join(
    f"SUM(CASE WHEN (rh >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(_SIMHASH_BITS)
)
_SIMHASH_ASSEMBLE = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN 1 ELSE 0 END)::BIGINT * {1 << i}"
    for i in range(_SIMHASH_BITS)
)

_SIMHASH_PORTABLE_ORACLE = f"""
WITH t AS (
  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS tok FROM documents
), rhs AS (
  SELECT doc, {_O_RH_TOK} AS rh FROM t
), bits AS (
  SELECT doc, {_SIMHASH_BIT_SUMS} FROM rhs GROUP BY doc
)
SELECT doc, {_SIMHASH_ASSEMBLE} AS simhash31 FROM bits
"""


@register(
    "doc_simhash_portable",
    oracle=_SIMHASH_PORTABLE_ORACLE,
    doc="North-star fingerprinting, VERIFIABLE variant: 31-bit SimHash over "
    "portable rolling-hashed tokens, hash-matched bit-for-bit against the "
    "SQL twin (simhash64's xxhash64 fast path keeps locality tests). Token "
    "explode + one aggregation, JVM-side bit arithmetic.",
)
def doc_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_portable

    return simhash_portable(load(spark, sf_dir, "documents"))


_SIMHASH_PAIRS_ORACLE = f"""
WITH t AS (
  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS tok FROM documents
), rhs AS (
  SELECT doc, {_O_RH_TOK} AS rh FROM t
), bits AS (
  SELECT doc, {_SIMHASH_BIT_SUMS} FROM rhs GROUP BY doc
), fp AS (
  SELECT doc, {_SIMHASH_ASSEMBLE} AS f FROM bits
)
SELECT CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming,
       COUNT(*) AS n_pairs
FROM fp a JOIN fp b ON a.doc < b.doc
WHERE bit_count(xor(a.f, b.f)) <= 1
GROUP BY 1
"""


@register(
    "simhash_hamming_pairs",
    oracle=_SIMHASH_PAIRS_ORACLE,
    doc="North-star near-dup candidates, EXACT variant "
    "(operators/dedup.simhash_band_pairs): Hamming-ball pairs (radius 1) "
    "over the portable 31-bit SimHash via 2-band bit-LSH — the pigeonhole "
    "guarantee (any pair within r flips shares one of r+1 disjoint bands) "
    "makes the banded candidate join + popcount verify EXACT, so the "
    "banded plan is gated by an ALL-PAIRS oracle: the scale path provably "
    "loses nothing vs brute force. Output is the per-distance pair census; "
    "the oracle's O(n^2) join is the small-data cross-check, never the "
    "engine plan. The census collapses to DISTINCT fingerprints with "
    "multiplicities before banding (simhash_hamming_census), so "
    "exact-duplicate documents never inflate the banded join's buckets.",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_hamming_census, simhash_portable

    fps = simhash_portable(load(spark, sf_dir, "documents"))
    return simhash_hamming_census(fps)


_O_RH_SHINGLE = """list_reduce(
     list_prepend(0::BIGINT,
       list_transform(range(1, length(shingle) + 1),
                      i -> ascii(substr(shingle, i, 1))::BIGINT)),
     (a, b) -> (a * 31 + b) % 1000000007
   )"""

_PREFIX_JACC = o_dround(
    "CAST(i.inter AS DOUBLE)"
    " / CAST(sa.n + sb.n - i.inter AS DOUBLE)",
    4,
)

_JACCARD_PREFIX_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), shs AS (
  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 3)
), sh AS (
  SELECT DISTINCT doc_id AS doc, {_O_RH_SHINGLE} AS rh FROM shs
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
), inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.rh = b.rh AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter, {_PREFIX_JACC} AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc = i.doc_a
JOIN sizes sb ON sb.doc = i.doc_b
WHERE {_PREFIX_JACC} >= 0.5
"""


@register(
    "dedup_jaccard_prefix",
    oracle=_JACCARD_PREFIX_ORACLE,
    doc="North-star near-dedup, EXACT-at-scale variant "
    "(operators/dedup.jaccard_prefix_join): Jaccard >= 0.5 pairs via "
    "prefix filtering (Bayardo et al. AllPairs) — documents' shingle sets "
    "sorted by global rarity; only each set's |S|-ceil(t|S|)+1 rarest "
    "elements enter the candidate self-join, so hot boilerplate shingles "
    "never join. Deterministically IDENTICAL to the full shingle "
    "self-join (the oracle IS the full join, over the same composed "
    "hashes) — the exact complement to the probabilistic MinHash-LSH "
    "path. Jaccard is over distinct 3-gram rolling hashes; "
    "dedup_ngram_jaccard keeps the string-equality reference.",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_prefix_join

    return jaccard_prefix_join(load(spark, sf_dir, "documents"), threshold=0.5, n=3)


def _winnow_fp_cte(k: int, w: int) -> str:
    """Shared winnowing-fingerprint CTE chain: toks -> pos -> sel -> fp.

    Mirrors operators.winnow.winnow_fingerprints exactly: positional k-gram
    rolling hashes (the engine-shared hash family), then a rightmost-minimum
    window pick expressed as a lexicographic struct MIN over (rh, -pos).
    """
    from .catalog_llm import _o_rhash

    rh = _o_rhash(f"array_to_string(t[j + 1 : j + {k}], ' ')")
    return f"""
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, j, {rh} AS rh
  FROM toks, unnest(range(0, len(t) - {k} + 1)) AS r(j)
  WHERE len(t) >= {k}
), sel AS (
  SELECT doc_id,
         MIN({{'rh': rh, 'np': -j}}) OVER win AS m,
         COUNT(*) OVER win AS c
  FROM pos
  WINDOW win AS (PARTITION BY doc_id ORDER BY j
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
), fp AS (
  SELECT DISTINCT doc_id, struct_extract(m, 'rh') AS rh,
         -struct_extract(m, 'np') AS pos
  FROM sel WHERE c = {w}
)"""


_WINNOW_K, _WINNOW_W = 4, 4

_WINNOW_STATS_ORACLE = f"""
WITH {_winnow_fp_cte(_WINNOW_K, _WINNOW_W)}, agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_fp,
         COUNT(DISTINCT rh)::BIGINT AS n_fp_hashes,
         MIN(rh)::BIGINT AS fp_min, MAX(rh)::BIGINT AS fp_max
  FROM fp GROUP BY doc_id
), base AS (
  SELECT doc_id,
         (len(string_split(text, ' ')) - {_WINNOW_K + _WINNOW_W - 2})::BIGINT
           AS n_windows
  FROM documents
)
SELECT b.doc_id, b.n_windows, a.n_fp, a.n_fp_hashes, a.fp_min, a.fp_max,
       {o_dround('CAST(a.n_fp AS DOUBLE) / CAST(b.n_windows AS DOUBLE)', 4)}
         AS density
FROM base b JOIN agg a USING (doc_id)
WHERE b.n_windows >= 1
"""


@register(
    "doc_winnow_stats",
    oracle=_WINNOW_STATS_ORACLE,
    doc="Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 "
    "— the MOSS algorithm; operators/winnow.winnow_fingerprints): per "
    "document, the selected-fingerprint counts, hash extrema and measured "
    "density vs the ~2/(w+1) expectation, for k=4-gram hashes winnowed "
    "with w=4. One positional hash stream (single char fold per doc, "
    "oracle-shared hash family) + ONE entity-keyed window whose "
    "lexicographic struct MIN over (rh, -pos) IS the rightmost-minimum "
    "tie rule — no content-key window, no second argmax pass.",
)
def doc_winnow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.winnow import winnow_stats

    return winnow_stats(
        load(spark, sf_dir, "documents"), k=_WINNOW_K, w=_WINNOW_W
    )


_WINNOW_PAIRS_ORACLE = f"""
WITH {_winnow_fp_cte(_WINNOW_K, _WINNOW_W)}, fph AS (
  SELECT DISTINCT doc_id, rh FROM fp
), kept AS (
  SELECT doc_id, rh FROM fph
  WHERE rh IN (SELECT rh FROM fph GROUP BY rh HAVING COUNT(*) <= 50)
), sizes AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n FROM kept GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS shared_fp
  FROM kept a JOIN kept b ON a.rh = b.rh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT p.doc_a, p.doc_b, p.shared_fp, sa.n AS n_a, sb.n AS n_b,
       {o_dround('CAST(p.shared_fp AS DOUBLE)'
                 ' / CAST(LEAST(sa.n, sb.n) AS DOUBLE)', 4)} AS coverage
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
"""


@register(
    "winnow_dup_pairs",
    oracle=_WINNOW_PAIRS_ORACLE,
    doc="Winnowing-fingerprint duplicate pairs (MOSS match step; operators/"
    "winnow.winnow_dup_pairs): documents sharing >= 2 winnowed k-gram "
    "hashes, with the containment-style coverage score over the smaller "
    "fingerprint set. The join runs on the ~2/(w+1)-density fingerprint "
    "stream — the winnowing guarantee (any shared run >= k+w-1 tokens "
    "still collides) bounds the recall cost of the sparsification. "
    "Boilerplate fingerprints (df > 50) dropped via broadcast LEFT ANTI "
    "against the small hot set; SHUFFLE_HASH on both sides of the "
    "self-join — the corpus is never broadcast.",
)
def winnow_dup_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.winnow import winnow_dup_pairs

    return winnow_dup_pairs(
        load(spark, sf_dir, "documents"), k=_WINNOW_K, w=_WINNOW_W
    )


# shingle width, df cap and containment cut of dedup_containment_pairs and
# its oracle
_CONTAINMENT_N, _CONTAINMENT_MAX_DF, _CONTAINMENT_T = 5, 50, 0.6


def _containment_oracle() -> str:
    from .catalog_llm import _o_rhash

    n, max_df, threshold = _CONTAINMENT_N, _CONTAINMENT_MAX_DF, _CONTAINMENT_T
    rh = _o_rhash(f"array_to_string(t[j + 1 : j + {n}], ' ')")
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, {rh} AS rh
  FROM toks, unnest(range(0, len(t) - {n} + 1)) AS r(j)
  WHERE len(t) >= {n}
), kept AS (
  SELECT doc_id, rh FROM sh
  WHERE rh IN (SELECT rh FROM sh GROUP BY rh HAVING COUNT(*) <= {max_df})
), sizes AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_sh FROM kept GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS inter
  FROM kept a JOIN kept b ON a.rh = b.rh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT i.doc_a, i.doc_b, i.inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
         {o_dround('CAST(i.inter AS DOUBLE)'
                   ' / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)', 4)}
           AS containment,
         CASE WHEN sa.n_sh <= sb.n_sh THEN 'a_in_b' ELSE 'b_in_a' END
           AS direction
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
)
SELECT * FROM scored WHERE containment >= {threshold}
"""


@register(
    "dedup_containment_pairs",
    oracle=_containment_oracle(),
    doc="Asymmetric n-gram containment pairs (Broder 1997's second "
    "resemblance measure — quote/excerpt detection Jaccard misses because "
    "a subset's union is large; operators/dedup.containment_pairs): "
    "|A∩B| / min(|A|,|B|) >= 0.6 over distinct hashed 5-gram shingles, "
    "with the contained direction reported. Hashed shingle stream (one "
    "char fold per doc, oracle-shared hash family), df > 50 boilerplate "
    "cap via broadcast LEFT ANTI on the hot side, SHUFFLE_HASH both "
    "sides of the self-join. The exact verifier counterpart to "
    "winnow_dup_pairs' sparsified coverage join.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        load(spark, sf_dir, "documents"),
        n=_CONTAINMENT_N,
        threshold=_CONTAINMENT_T,
        max_df=_CONTAINMENT_MAX_DF,
    )


def _winnow_recall_oracle() -> str:
    from .catalog_llm import _o_rhash

    rh4 = _o_rhash("array_to_string(t[j + 1 : j + 4], ' ')")
    return f"""
WITH {_winnow_fp_cte(_WINNOW_K, _WINNOW_W)}, fph AS (
  SELECT DISTINCT doc_id, rh FROM fp
), wkept AS (
  SELECT doc_id, rh FROM fph
  WHERE rh IN (SELECT rh FROM fph GROUP BY rh HAVING COUNT(*) <= 50)
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM wkept a JOIN wkept b ON a.rh = b.rh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), csh AS (
  SELECT DISTINCT doc_id, {rh4} AS rh
  FROM toks, unnest(range(0, len(t) - 3)) AS r(j)
  WHERE len(t) >= 4
), ckept AS (
  SELECT doc_id, rh FROM csh
  WHERE rh IN (SELECT rh FROM csh GROUP BY rh HAVING COUNT(*) <= 50)
), csizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM ckept GROUP BY doc_id
), cinter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM ckept a JOIN ckept b ON a.rh = b.rh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT i.doc_a, i.doc_b FROM cinter i
  JOIN csizes sa ON i.doc_a = sa.doc_id
  JOIN csizes sb ON i.doc_b = sb.doc_id
  WHERE {o_dround('CAST(i.inter AS DOUBLE)'
                  ' / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)', 4)} >= 0.6
), s AS (
  SELECT (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates,
         (SELECT COUNT(*) FROM truth)::BIGINT AS n_true_pairs,
         (SELECT COUNT(*) FROM cand c
          JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)::BIGINT
           AS n_found
)
SELECT n_candidates, n_true_pairs, n_found,
       {o_dround("CAST(n_found AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)", 4)}
         AS recall
FROM s
"""


@register(
    "winnow_recall_telemetry",
    oracle=_winnow_recall_oracle(),
    doc="Candidate-generation telemetry for the winnowing family (the "
    "lsh_recall_telemetry discipline — sparsified paths are MEASURED, not "
    "assumed): winnow_dup_pairs candidates (k=4, w=4, shared >= 2, df cap "
    "50) vs exact 4-gram containment >= 0.6 ground truth on the same "
    "corpus and hash family. One aggregated row; every leg has an exact "
    "SQL twin, so the telemetry itself is oracle-gated. The winnowing "
    "guarantee (any shared run of >= k+w-1 tokens still collides) shows "
    "up as recall stability under the ~2/(w+1) stream sparsification.",
)
def winnow_recall_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import dround
    from ..operators.dedup import containment_pairs
    from ..operators.winnow import winnow_dup_pairs

    docs = load(spark, sf_dir, "documents")
    cand = (
        winnow_dup_pairs(docs, k=_WINNOW_K, w=_WINNOW_W)
        .select("doc_a", "doc_b")
        .withColumn("_c", F.lit(1))
    )
    truth = (
        containment_pairs(docs, n=4, threshold=0.6, max_df=50)
        .select("doc_a", "doc_b")
        .withColumn("_t", F.lit(1))
    )
    both = cand.join(truth, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.count("_c").alias("n_candidates"),
        F.count("_t").alias("n_true_pairs"),
        F.count(F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1)).alias(
            "n_found"
        ),
    ).select(
        "n_candidates",
        "n_true_pairs",
        "n_found",
        dround(
            F.col("n_found").cast("double") / F.col("n_true_pairs").cast("double"),
            4,
        ).alias("recall"),
    )


_COLLOCATION_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), bg AS (
  SELECT ts[i] AS w1, ts[i+1] AS w2
  FROM toks, UNNEST(range(1, len(ts))) AS t(i)
), c12a AS (
  SELECT w1, w2, COUNT(*)::BIGINT AS n12 FROM bg GROUP BY 1, 2
), uni AS (
  SELECT w1 AS w, SUM(n12)::BIGINT AS n FROM c12a GROUP BY 1
), tot AS (SELECT SUM(n12)::BIGINT AS nb FROM c12a)
SELECT w1, w2, n12,
       ROUND(CAST((CAST(nb AS DOUBLE) * n12) / (CAST(u1.n AS DOUBLE) * u2.n)
                  AS DECIMAL(27,8)), 6)::DOUBLE AS lift
FROM c12a JOIN uni u1 ON w1 = u1.w JOIN uni u2 ON w2 = u2.w CROSS JOIN tot
WHERE n12 >= 5
ORDER BY lift DESC, n12 DESC, w1, w2 LIMIT 25
"""


@register(
    "token_collocations",
    oracle=_COLLOCATION_ORACLE,
    doc="Collocation extraction: top-25 adjacent token bigrams by LIFT "
    "(N*c12/(c1*c2) — the log-free PMI monotone twin; ranking by lift "
    "orders identically to PMI = log lift, with no libm surface, "
    "CLAUDE.md transcendental invariant). Bigrams are built IN-ROW with "
    "zip_with over two slices of one split (no per-element HOF "
    "re-derivation; the single explode is the Generate boundary), then "
    "ONE aggregation; the unigram marginals and the corpus total derive "
    "from the checkpointed bigram AGGREGATE, never from a second pass "
    "over the token stream (first-position marginal convention, same on "
    "both engines). Content-keyed work is all aggregate-then-equi-join "
    "(tfidf discipline — no token-keyed windows); the 3-op IEEE lift "
    "expression mirrors the oracle's association exactly; top-25 on the "
    "rounded lift under a total tie order plans as "
    "TakeOrderedAndProject.",
)
def token_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    pairs = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = docs.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    c12a = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n12"))
        .localCheckpoint(eager=False)
    )
    uni = c12a.groupBy("w1").agg(F.sum("n12").alias("n"))
    tot = c12a.agg(F.sum("n12").alias("nb"))
    u1 = uni.select(F.col("w1").alias("_u1w"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("w1").alias("_u2w"), F.col("n").alias("n2"))
    lift = (F.col("nb").cast("double") * F.col("n12")) / (
        F.col("n1").cast("double") * F.col("n2")
    )
    return (
        c12a.filter(F.col("n12") >= 5)
        .join(u1, F.col("w1") == F.col("_u1w"))
        .join(u2, F.col("w2") == F.col("_u2w"))
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n12", dround(lift, 6).alias("lift"))
        .orderBy(
            F.desc("lift"), F.desc("n12"), F.asc("w1"), F.asc("w2")
        )
        .limit(25)
    )
