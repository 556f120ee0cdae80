"""Corpus-level queries (operators/corpus.py), every one gated by a DuckDB
oracle: TF-IDF-style salient terms, fixed-stride chunking, boilerplate n-gram
detection, and table profiling."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import o_dround
from ..operators.corpus import (
    DUP_SPAN_N,
    boilerplate_ngrams,
    profile_table,
    tfidf_top_terms,
    token_chunks,
)
from ..tables import load
from . import register

_TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
), wd AS (
  SELECT doc_id, tok, tf, COUNT(*) OVER (PARTITION BY tok) AS df FROM tf
), n AS (
  SELECT COUNT(*)::DOUBLE AS nd FROM documents
), scored AS (
  SELECT doc_id, tok, tf, df,
         (CAST(tf AS DOUBLE) * nd * nd) / (CAST(df AS DOUBLE) * df) AS score
  FROM wd, n
), ranked AS (
  SELECT doc_id, tok, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
  FROM scored
)
SELECT doc_id, tok AS top_term, tf, df, {o_dround('score', 4)} AS rarity
FROM ranked WHERE rn = 1
"""


@register(
    "doc_tfidf_top_terms",
    oracle=_TFIDF_ORACLE,
    doc="LLM-prep: most corpus-salient term per document by the log-free "
    "squared-idf weight tf*(n_docs/df)^2 (IEEE mul/div only, so the oracle "
    "is bit-exact; ln differs in the last ulp across libms). One (doc,token) "
    "agg + one token-keyed analytic count; corpus size broadcast.",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load(spark, sf_dir, "documents"))


_CHUNKS_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 48)) AS start
  FROM t
)
SELECT doc_id,
       (start // 48)::BIGINT AS chunk_id,
       len(toks[start + 1:start + 64])::BIGINT AS n_chunk_tokens,
       md5(array_to_string(toks[start + 1:start + 64], ' ')) AS chunk_md5
FROM c
"""


@register(
    "doc_chunks",
    oracle=_CHUNKS_ORACLE,
    doc="LLM-prep: fixed-stride token chunking (64-token chunks, stride 48 "
    "→ 16-token overlap), the RAG/context-window packing primitive. Narrow "
    "sequence+explode per row, zero shuffles.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_chunks(load(spark, sf_dir, "documents"), size=64, stride=48)


_BOILER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i + 2], ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 3)
), w AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY shingle) AS df_sh FROM sh
)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       SUM(CASE WHEN df_sh >= 10 THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
       {o_dround('CAST(SUM(CASE WHEN df_sh >= 10 THEN 1 ELSE 0 END) AS DOUBLE)'
                 ' / CAST(COUNT(*) AS DOUBLE)', 4)} AS boiler_ratio
FROM w
GROUP BY doc_id
"""


@register(
    "corpus_boilerplate_3gram",
    oracle=_BOILER_ORACLE,
    doc="LLM-prep: CCNet-style boilerplate signal — per document, the "
    "fraction of its distinct 3-gram shingles appearing in ≥10 documents "
    "corpus-wide. One shingle-keyed analytic count (no frequency-table "
    "join), then a per-doc agg.",
)
def corpus_boilerplate_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_ngrams(load(spark, sf_dir, "documents"), min_docs=10)


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct FROM orders"""
    for c in _PROFILE_COLS
)


@register(
    "orders_profile",
    oracle=_PROFILE_ORACLE,
    doc="Ingest QA: one-scan table profile of orders — per-column row/null/"
    "distinct counts, unpivoted to long form without touching the driver. "
    "Exact count_distinct plans one Expand; approx_count_distinct is the "
    "no-Expand variant at extreme scale.",
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_table(load(spark, sf_dir, "orders"), _PROFILE_COLS)


_CMS_ORACLE = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, COUNT(*) AS exact_n FROM tok GROUP BY tok
), rh AS (
  SELECT tok, exact_n,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(range(1, length(tok) + 1),
                            i -> ascii(substr(tok, i, 1))::BIGINT)),
           (a, b) -> (a * 31 + b) % 1000000007
         ) AS rh
  FROM counts
), probes AS (
  SELECT tok, exact_n, d.d AS d,
         (((2 * d.d + 1) * rh + (7919 * d.d + 13)) % 1000000007) % 256 AS bucket
  FROM rh CROSS JOIN (SELECT unnest(range(0, 4)) AS d) d
), sketch AS (
  SELECT d, bucket, SUM(exact_n) AS counter FROM probes GROUP BY d, bucket
), ranked AS (
  SELECT tok, exact_n,
         (ROW_NUMBER() OVER (ORDER BY exact_n DESC, tok ASC))::BIGINT AS rnk
  FROM counts
)
SELECT t.tok, t.exact_n, t.rnk, CAST(MIN(s.counter) AS BIGINT) AS cms_est
FROM ranked t
JOIN probes p ON p.tok = t.tok
JOIN sketch s ON s.d = p.d AND s.bucket = p.bucket
WHERE t.rnk <= 20
GROUP BY t.tok, t.exact_n, t.rnk
"""


@register(
    "cms_token_counts",
    oracle=_CMS_ORACLE,
    doc="Count-Min sketch heavy hitters (operators/sketches.py): token "
    "frequencies sketched into a 4x256 counter table (one explode + one "
    "map-side-combinable aggregation, no vocabulary state), then the top-20 "
    "exact tokens point-estimated from the sketch (min over depth rows, "
    "broadcast probe join). Portable-hash buckets make every counter and "
    "estimate reproducible in SQL, so the oracle rebuilds the identical "
    "sketch in DuckDB and the comparison is bit-exact — est >= exact "
    "visible in the result wherever buckets collide at width 256.",
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.sketches import cms_estimate, cms_sketch
    from ..operators.text import tokens

    from ..operators.parallelism import ensure_min_parallelism

    docs = ensure_min_parallelism(load(spark, sf_dir, "documents"))
    stream = docs.select(F.explode(tokens("text")).alias("tok"))
    counts = stream.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    # Build the sketch FROM the aggregated counts (exactly the oracle's
    # probes-from-counts CTE): SUM(exact_n) per (d, bucket) == the
    # occurrence-stream count, bit-for-bit, while the per-char rolling-hash
    # fold and the 4-way probe explode now run once per DISTINCT token
    # instead of once per token occurrence — and the corpus explode feeds
    # ONE aggregation instead of two (guide §2.3 "aggregate before you
    # shuffle"; the counts exchange is shared via ReusedExchange).
    sketch = cms_sketch(counts, depth=4, width=256, weight_col="exact_n")
    # bound the rank's input first: orderBy+limit plans as a distributed
    # TakeOrderedAndProject over the vocabulary, so the unpartitioned
    # row_number window only ever sees a 100-row superset of the top 20
    # (the (exact_n DESC, tok ASC) total order makes ranks identical to
    # ranking the full vocabulary)
    cand = counts.orderBy(F.desc("exact_n"), F.asc("tok")).limit(100)
    w = Window.orderBy(F.desc("exact_n"), F.asc("tok"))
    top = (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 20)
    )
    return cms_estimate(sketch, top, depth=4, width=256)


_VOCAB_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), td AS (
  SELECT token, doc_id, COUNT(*) AS c FROM tok GROUP BY token, doc_id
), counts AS (
  SELECT token, SUM(c)::BIGINT AS n_occ, COUNT(*) AS n_docs FROM td GROUP BY token
), ranked AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY n_occ DESC, token ASC))::BIGINT - 1 AS token_id,
         token, n_occ, n_docs
  FROM counts
)
SELECT token_id, token, n_occ, n_docs FROM ranked WHERE token_id < 64
"""


@register(
    "vocab_top64",
    oracle=_VOCAB_ORACLE,
    doc="LLM-prep: tokenizer-style vocabulary construction "
    "(operators/corpus.build_vocab) — top-64 tokens by corpus frequency "
    "with contiguous deterministic ids under (count DESC, token ASC). "
    "Two map-side-combinable aggregations + a distributed "
    "TakeOrderedAndProject; the id-assigning window sees only the bounded "
    "V-row set (cms_token_counts pattern, never a vocabulary-wide sort).",
)
def vocab_top64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import build_vocab

    return build_vocab(load(spark, sf_dir, "documents"), top_v=64)


_ENCODE_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), td AS (
  SELECT token, doc_id, COUNT(*) AS c FROM tok GROUP BY token, doc_id
), counts AS (
  SELECT token, SUM(c)::BIGINT AS n_occ, COUNT(*) AS n_docs FROM td GROUP BY token
), ranked AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY n_occ DESC, token ASC))::BIGINT - 1 AS token_id,
         token
  FROM counts
), vocab AS (
  SELECT token, token_id FROM ranked WHERE token_id < 32
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       SUM(COALESCE(v.token_id, -1))::BIGINT AS id_sum
FROM tok t LEFT JOIN vocab v USING (token)
GROUP BY t.doc_id
"""


@register(
    "vocab_encode_stats",
    oracle=_ENCODE_ORACLE,
    doc="LLM-prep: text-to-ids encoding (operators/corpus.encode_tokens) — "
    "every document's token stream becomes an array of top-32 vocabulary "
    "ids (OOV = -1), order-preserving via posexplode + per-doc positional "
    "sort; the bounded vocab broadcasts legitimately. Gated on per-doc "
    "(n_tokens, n_oov, id_sum); array ORDER is asserted in "
    "tests/test_corpus.py (a sum cannot see order).",
)
def vocab_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import build_vocab, encode_tokens

    docs = load(spark, sf_dir, "documents")
    vocab = build_vocab(docs, top_v=32)
    encoded = encode_tokens(docs.select("doc_id", "text"), vocab)
    ids = F.col("token_ids")
    return encoded.filter(ids.isNotNull()).select(
        "doc_id",
        F.size(ids).cast("long").alias("n_tokens"),
        F.size(F.filter(ids, lambda x: x == -1)).cast("long").alias("n_oov"),
        F.aggregate(ids, F.lit(0).cast("long"), lambda a, x: a + x).alias("id_sum"),
    )


_DUP_SPAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, array_to_string(t[i:i+{DUP_SPAN_N - 1}], ' ') AS shingle
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {DUP_SPAN_N - 2})) AS i
        FROM toks WHERE len(t) >= {DUP_SPAN_N})
), dfreq AS (
  SELECT shingle, COUNT(DISTINCT doc_id) AS nd FROM pos GROUP BY shingle
)
SELECT p.doc_id,
       COUNT(*) AS n_positions,
       SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_positions,
       {o_dround('CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)'
                 ' / CAST(COUNT(*) AS DOUBLE)', 4)} AS dup_ratio
FROM pos p JOIN dfreq d USING (shingle)
GROUP BY p.doc_id
"""


@register(
    "doc_dup_span_stats",
    oracle=_DUP_SPAN_ORACLE,
    doc="LLM-prep: exact-substring-dedup signal (operators/corpus."
    "dup_span_stats) — per document, the fraction of word 8-gram positions "
    "whose span also appears in another document, at full positional "
    "multiplicity (the n-gram approximation of suffix-array substring "
    "dedup; complements boilerplate_ngrams' distinct-shingle template "
    "ratio). Planted near-duplicate docs surface with high dup_ratio, "
    "independent text sits at ~0. Single materialized positional stream, "
    "hash-keyed shuffles only.",
)
def doc_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import dup_span_stats

    return dup_span_stats(load(spark, sf_dir, "documents"))


def _dup_spans_merged_oracle() -> str:
    from .catalog_llm import _o_rhash

    n = DUP_SPAN_N
    rh = _o_rhash(f"array_to_string(t[j + 1 : j + {n}], ' ')")
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, j, {rh} AS rh
  FROM toks, unnest(range(0, len(t) - {n} + 1)) AS r(j)
  WHERE len(t) >= {n}
), dupk AS (
  SELECT rh FROM (SELECT DISTINCT doc_id, rh FROM pos)
  GROUP BY rh HAVING COUNT(*) >= 2
), dpos AS (
  SELECT p.doc_id, p.j FROM pos p JOIN dupk USING (rh)
), isl AS (
  SELECT doc_id, j,
         CASE WHEN LAG(j) OVER w IS NULL OR j > LAG(j) OVER w + {n}
              THEN 1 ELSE 0 END AS ni
  FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY j)
), isl2 AS (
  SELECT doc_id, j,
         SUM(ni) OVER (PARTITION BY doc_id ORDER BY j
                       ROWS UNBOUNDED PRECEDING) AS grp
  FROM isl
), spans AS (
  SELECT doc_id, grp, MIN(j) AS s, MAX(j) + {n - 1} AS e
  FROM isl2 GROUP BY 1, 2
), agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_spans,
         SUM(e - s + 1)::BIGINT AS dup_tokens,
         MAX(e - s + 1)::BIGINT AS longest_span
  FROM spans GROUP BY doc_id
), tot AS (
  SELECT doc_id, (COUNT(*) + {n - 1})::BIGINT AS n_tokens FROM pos
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       COALESCE(a.n_spans, 0)::BIGINT AS n_spans,
       COALESCE(a.dup_tokens, 0)::BIGINT AS dup_tokens,
       COALESCE(a.longest_span, 0)::BIGINT AS longest_span,
       {o_dround('CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE)'
                 ' / CAST(t.n_tokens AS DOUBLE)', 4)} AS removal_ratio
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


@register(
    "doc_dup_spans_merged",
    oracle=_dup_spans_merged_oracle(),
    doc="LLM-prep: span-MERGED exact-substring dedup accounting (Lee et "
    "al. 2022's deduplicate-text-datasets output shape; operators/corpus."
    "dup_span_merged_stats) — per document, maximal duplicated regions "
    "from merged overlapping/contiguous duplicated 8-gram extents, with "
    "span counts, covered-token mass, longest span, and the removal "
    "ratio cut-the-spans dedup would delete. Positional hashed shingle "
    "stream (one char fold per doc, oracle-shared hash family), "
    "checkpointed once; interval merge via two entity-keyed windows over "
    "duplicated positions only. Oracle: SQL islands-and-gaps twin.",
)
def doc_dup_spans_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import dup_span_merged_stats

    return dup_span_merged_stats(load(spark, sf_dir, "documents"), n=DUP_SPAN_N)


_BM25_TERMS = ("spark", "query", "merge", "vector")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH dl AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl FROM documents
), stats AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(dl)::BIGINT AS sumdl FROM dl
), tf AS (
  SELECT doc_id, tok, COUNT(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, tok
), dfq AS (
  SELECT tok, COUNT(*)::BIGINT AS df FROM tf GROUP BY tok
), scored AS (
  SELECT t.doc_id,
         ((s.n - d.df + 0.5) / (d.df + 0.5))
         * ((t.tf * 2.2)
            / (t.tf + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                 / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))) AS ts
  FROM tf t JOIN dl l USING (doc_id) JOIN dfq d USING (tok) CROSS JOIN stats s
), perdoc AS (
  SELECT doc_id, SUM(CAST(ts AS DECIMAL(27,12))) AS s,
         COUNT(*) AS n_terms_matched
  FROM scored GROUP BY doc_id
), ranked AS (
  SELECT doc_id, s, n_terms_matched,
         ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM perdoc
)
SELECT rank::BIGINT AS rank, doc_id, n_terms_matched,
       ROUND(s, 6)::DOUBLE AS score
FROM ranked WHERE rank <= 20
"""


_RRF_ORACLE = f"""
WITH dl AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl FROM documents
), stats AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(dl)::BIGINT AS sumdl FROM dl
), tf AS (
  SELECT doc_id, tok, COUNT(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, tok
), dfq AS (
  SELECT tok, COUNT(*)::BIGINT AS df FROM tf GROUP BY tok
), scored AS (
  SELECT t.doc_id,
         ((s.n - d.df + 0.5) / (d.df + 0.5))
         * ((t.tf * 2.2)
            / (t.tf + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                 / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))) AS ts
  FROM tf t JOIN dl l USING (doc_id) JOIN dfq d USING (tok) CROSS JOIN stats s
), perdoc AS (
  SELECT doc_id, SUM(CAST(ts AS DECIMAL(27,12))) AS s
  FROM scored GROUP BY doc_id
), lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS r_lex
  FROM perdoc QUALIFY r_lex <= 20
), v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), qv AS (SELECT * FROM v WHERE vec_id = 0),
semscored AS (
  SELECT c.vec_id AS doc_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> q.e[i] * c.e[i]))
           / sqrt(list_sum(list_transform(q.e, x -> x * x))
                  * list_sum(list_transform(c.e, x -> x * x))), 4) AS sim
  FROM qv q CROSS JOIN v c WHERE q.vec_id <> c.vec_id
), sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC)::BIGINT AS r_sem
  FROM semscored QUALIFY r_sem <= 20
), fused AS (
  SELECT COALESCE(l.doc_id, m.doc_id) AS doc_id, l.r_lex, m.r_sem,
         {o_dround('COALESCE(1.0 / (60.0 + l.r_lex), 0.0)'
                   ' + COALESCE(1.0 / (60.0 + m.r_sem), 0.0)', 6)} AS rrf
  FROM lex l FULL OUTER JOIN sem m ON l.doc_id = m.doc_id
), ranked AS (
  SELECT doc_id, r_lex, r_sem, rrf,
         ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC)::BIGINT AS rnk
  FROM fused
)
SELECT doc_id, r_lex, r_sem, rrf, rnk FROM ranked WHERE rnk <= 10
"""


@register(
    "hybrid_retrieval_rrf",
    oracle=_RRF_ORACLE,
    doc="RAG retrieval: hybrid lexical+semantic fusion via Reciprocal Rank "
    "Fusion (Cormack et al. 2009; operators/corpus.hybrid_rrf) — BM25 "
    "top-20 for the literal 4-term query fused with exact-cosine top-20 "
    "for doc 0's embedding by rrf = sum 1/(60+rank). Rank-based fusion "
    "needs no cross-space score calibration and each term is one "
    "correctly-rounded IEEE division, so the fused ordering is bit-"
    "identical cross-engine; fusion itself is a full-outer join of two "
    "bounded top-k frames.",
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import hybrid_rrf

    return hybrid_rrf(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        list(_BM25_TERMS),
        k_each=20,
        k=10,
    )


@register(
    "bm25_topk",
    oracle=_BM25_ORACLE,
    doc="Retrieval: log-free BM25 top-20 (operators/corpus.bm25_topk) for "
    "a literal 4-term query — the classic weighting minus the ln() around "
    "the idf ratio (IEEE +-*/ only, bit-identical cross-engine; the "
    "transcendental-free discipline of tfidf_top_terms). The token stream "
    "is filtered to the query terms BEFORE aggregation; df and corpus "
    "stats broadcast; ranking compares the EXACT decimal sum of per-term "
    "scores (FP sum order varies with partitioning, decimal addition does "
    "not) and cuts via distributed TakeOrderedAndProject.",
)
def bm25_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bm25_topk

    return bm25_topk(load(spark, sf_dir, "documents"), list(_BM25_TERMS), k=20)


_BPE_ORACLE = """
WITH words AS (
  SELECT tok, COUNT(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
), pairs AS (
  SELECT substr(tok, i, 2) AS pair, freq
  FROM words, unnest(range(1, length(tok))) AS r(i)
  WHERE length(tok) >= 2
), agg AS (
  SELECT pair, SUM(freq)::BIGINT AS n FROM pairs GROUP BY pair
), ranked AS (
  SELECT pair, n, (ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC))::BIGINT AS rnk
  FROM agg
)
SELECT pair, n, rnk FROM ranked WHERE rnk <= 32
"""


@register(
    "bpe_merge_top32",
    oracle=_BPE_ORACLE,
    doc="Tokenizer training: the BPE merge-step primitive (Sennrich et al. "
    "2016) — corpus-frequency-weighted adjacent symbol-pair counts over "
    "the distinct-word table, top-32 merge candidates "
    "(operators/corpus.bpe_merge_pairs). One corpus pass (word-frequency "
    "aggregation), vocabulary-sized pair explode, TakeOrderedAndProject "
    "cut before ranking.",
)
def bpe_merge_top32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bpe_merge_pairs

    return bpe_merge_pairs(load(spark, sf_dir, "documents"), k=32)


def _bpe_chain_ctes(k: int) -> str:
    """The shared step-unrolled BPE CTE chain: ``k`` blocks, each
    recounting adjacent pairs, taking the (n DESC, lhs, rhs) argmax, and
    applying the merge with the gaps-and-islands parity trick — in a run
    of consecutive match positions, the left-to-right non-overlapping
    merges are exactly the ODD island offsets (aaaa -> positions 1,3;
    aaa -> position 1), the same greedy-left semantics as the engine's
    fold. Exposes t1..tk (the merge rows) and s{k} (the final per-word
    symbol state) for the train and encode oracles."""
    ctes = ["""
WITH w AS (
  SELECT tok, COUNT(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE length(tok) >= 2 GROUP BY tok
), s0 AS (
  SELECT tok AS wid, freq, string_split(tok, '') AS syms FROM w
)"""]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        ctes.append(f"""p{i} AS (
  SELECT syms[j] AS lhs, syms[j + 1] AS rhs, SUM(freq)::BIGINT AS n
  FROM {prev}, unnest(range(1, len(syms))) AS rr(j)
  GROUP BY 1, 2
), t{i} AS (
  SELECT lhs, rhs, n FROM p{i} ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1
), u{i} AS (
  SELECT wid, freq, j, syms[j] AS s,
         (j < len(syms) AND syms[j] = t.lhs AND syms[j + 1] = t.rhs) AS m
  FROM {prev}, unnest(range(1, len(syms) + 1)) AS rr(j), t{i} AS t
), g{i} AS (
  SELECT *, j - ROW_NUMBER() OVER (PARTITION BY wid, m ORDER BY j) AS grp
  FROM u{i}
), h{i} AS (
  SELECT *, (m AND ROW_NUMBER() OVER (PARTITION BY wid, m, grp ORDER BY j) % 2 = 1) AS mg
  FROM g{i}
), x{i} AS (
  SELECT wid, freq, j, s, mg,
         COALESCE(LAG(mg) OVER (PARTITION BY wid ORDER BY j), FALSE) AS pmg,
         LEAD(s) OVER (PARTITION BY wid ORDER BY j) AS ns
  FROM h{i}
), s{i} AS (
  SELECT wid, freq, list(CASE WHEN mg THEN s || ns ELSE s END ORDER BY j) AS syms
  FROM x{i} WHERE NOT pmg GROUP BY wid, freq
)""")
    return ",\n".join(ctes)


_BPE_MERGES = 6  # bpe_train_merges, bpe_encode_stats and their oracles


def _bpe_train_oracle() -> str:
    k = _BPE_MERGES
    unions = "\nUNION ALL ".join(
        f"SELECT {i}::BIGINT AS rnk, lhs, rhs, lhs || rhs AS pair, n FROM t{i}"
        for i in range(1, k + 1)
    )
    return _bpe_chain_ctes(k) + "\n" + unions


def _bpe_encode_oracle() -> str:
    k = _BPE_MERGES
    return f"""{_bpe_chain_ctes(k)},
wsyms AS (
  SELECT wid AS tok, len(syms)::BIGINT AS ns FROM s{k}
), stream AS (
  SELECT doc_id, u.tok AS tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u
), agg AS (
  SELECT s.doc_id,
         COUNT(*)::BIGINT AS n_tokens,
         SUM(length(s.tok))::BIGINT AS n_chars,
         SUM(COALESCE(w.ns, length(s.tok)))::BIGINT AS n_syms
  FROM stream s LEFT JOIN wsyms w USING (tok)
  GROUP BY s.doc_id
)
SELECT doc_id, n_tokens, n_chars, n_syms,
       CASE WHEN n_chars > 0 THEN
         {o_dround('CAST(n_chars AS DOUBLE) / CAST(n_syms AS DOUBLE)', 4)}
       END AS chars_per_sym
FROM agg
"""


@register(
    "bpe_train_merges",
    oracle=_bpe_train_oracle(),
    doc="Tokenizer training: the ITERATED BPE loop (Sennrich et al. 2016) "
    "— 6 merge steps, pair counts recounted after every merge, greedy "
    "left-to-right non-overlapping application per word "
    "(operators/corpus.bpe_train). One corpus pass builds the distinct-"
    "word table; every iteration runs on that bounded state with a "
    "TakeOrderedAndProject argmax and localCheckpoint lineage (the "
    "cc_star discipline). Oracle: step-unrolled gaps-and-islands "
    "SQL, odd-island-offset merge parity.",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bpe_train

    return bpe_train(load(spark, sf_dir, "documents"), k=_BPE_MERGES)


@register(
    "bpe_encode_stats",
    oracle=_bpe_encode_oracle(),
    doc="Tokenizer training: the BPE ENCODE step (operators/corpus."
    "bpe_encode_stats) — apply the 6 learned merges and report per-doc "
    "chars-per-symbol compression telemetry. Merges fold on the bounded "
    "distinct-word table only (the training loop's final state); the "
    "per-word symbol count joins back to the token stream by equality "
    "(AQE-splittable, never per-token Python). Oracle re-derives the "
    "same merges via the shared step-unrolled CTE chain, so any "
    "divergence in merge OR application semantics breaks the gate.",
)
def bpe_encode_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bpe_encode_stats

    return bpe_encode_stats(load(spark, sf_dir, "documents"), k=_BPE_MERGES)


_BIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)),
                i -> {'w1': l[i], 'bg': l[i] || ' ' || l[i+1]})) AS b
  FROM toks WHERE len(l) >= 2
), occ AS (
  SELECT doc_id, b.w1 AS w1, b.bg AS bg, COUNT(*)::BIGINT AS n_occ
  FROM big GROUP BY 1, 2, 3
), c2 AS (
  SELECT b.bg AS bg, COUNT(*)::BIGINT AS c2 FROM big GROUP BY 1
), c1 AS (
  SELECT b.w1 AS w1, COUNT(*)::BIGINT AS c1 FROM big GROUP BY 1
), sc AS (
  SELECT doc_id, n_occ, (c2 * 1000000) // c1 AS pq
  FROM occ JOIN c2 USING (bg) JOIN c1 USING (w1)
), ag AS (
  SELECT doc_id,
         SUM(n_occ)::BIGINT AS n_bigrams,
         SUM(n_occ * pq)::BIGINT AS lm_score_sum,
         (SUM(n_occ * pq) // SUM(n_occ))::BIGINT AS lm_score_avg
  FROM sc GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(ag.n_bigrams, 0) AS n_bigrams,
       COALESCE(ag.lm_score_sum, 0) AS lm_score_sum,
       ag.lm_score_avg
FROM documents d LEFT JOIN ag USING (doc_id)
"""


@register(
    "doc_bigram_lm_quality",
    oracle=_BIGRAM_LM_ORACLE,
    doc="CCNet-style LM quality scoring, log-free (operators/corpus.py "
    "bigram_lm_scores): a bigram model trained on the corpus itself "
    "scores every document by its average scaled conditional bigram "
    "probability, p_q = (count(bigram) * 1e6) div count(prefix) — all "
    "integer floor division (Spark `div` == DuckDB `//`, positive "
    "operands), so the perplexity-filter shape lands with ZERO float or "
    "libm surface and the oracle replays it exactly. Monotone in the "
    "true conditional probability, which is all a rank-and-drop filter "
    "needs; repetitive boilerplate scores high, garbled text low. "
    "Scale: per-(doc,bigram) pre-aggregation before two content-key "
    "EQUI-joins (AQE-splittable; no windows, no vocabulary broadcast); "
    "<2-token docs survive as (0, 0, NULL) rows.",
)
def doc_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bigram_lm_scores

    return bigram_lm_scores(load(spark, sf_dir, "documents"))


_QD_BITS = 16
_QD_K = 2048
_QD_PCTS = (25, 50, 75, 90, 99)


def _qd_sweep_sql(pref: str, tot: str, bits: int) -> str:
    """The q-digest level-synchronous sweep as unrolled CTEs (one
    ch/dc/state triple per level, {pref}{bits} -> {pref}0) — the
    PageRank unrolled-iteration-CTE discipline: DuckDB replays the
    EXACT integer algorithm of operators/sketches._qdigest_compress,
    so every absorb decision is pinned cross-engine."""
    parts = []
    for lvl in range(bits, 0, -1):
        lo = 1 << lvl
        parts.append(
            f"""{pref}ch{lvl} AS MATERIALIZED (
  SELECT grp, node // 2 AS p, SUM(cnt)::BIGINT AS csum
  FROM {pref}{lvl} WHERE node >= {lo} GROUP BY 1, 2
), {pref}dc{lvl} AS MATERIALIZED (
  SELECT c.grp, c.p, c.csum, COALESCE(q.cnt, 0)::BIGINT AS pcnt,
         (c.csum + COALESCE(q.cnt, 0)) <= t.thr AS ab
  FROM {pref}ch{lvl} c
  JOIN {tot} t ON t.grp = c.grp
  LEFT JOIN {pref}{lvl} q ON q.grp = c.grp AND q.node = c.p
), {pref}{lvl - 1} AS MATERIALIZED (
  SELECT s.grp, s.node, s.cnt
  FROM {pref}{lvl} s
  WHERE s.node < {lo}
    AND NOT EXISTS (SELECT 1 FROM {pref}dc{lvl} d
                    WHERE d.grp = s.grp AND d.p = s.node)
  UNION ALL
  SELECT s.grp, s.node, s.cnt
  FROM {pref}{lvl} s
  JOIN {pref}dc{lvl} d ON d.grp = s.grp AND d.p = s.node // 2
  WHERE s.node >= {lo} AND NOT d.ab
  UNION ALL
  SELECT d.grp, d.p AS node,
         (d.pcnt + CASE WHEN d.ab THEN d.csum ELSE 0 END)::BIGINT AS cnt
  FROM {pref}dc{lvl} d
  WHERE d.pcnt + CASE WHEN d.ab THEN d.csum ELSE 0 END > 0
)"""
        )
    return ",\n".join(parts)


def _qdigest_oracle() -> str:
    bits, k = _QD_BITS, _QD_K
    leaf0 = 1 << bits
    lvl_case = " ".join(
        f"WHEN node >= {1 << lvl} THEN {lvl}" for lvl in range(bits, -1, -1)
    )
    pcts = ", ".join(f"({p})" for p in _QD_PCTS)
    return f"""
WITH src AS MATERIALIZED (
  SELECT event_type AS grp, CAST(FLOOR(value * 100) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
), s{bits} AS MATERIALIZED (
  SELECT grp, {leaf0} + v AS node, COUNT(*)::BIGINT AS cnt
  FROM src GROUP BY 1, 2
), tot AS MATERIALIZED (
  SELECT grp, SUM(cnt)::BIGINT AS n,
         (SUM(cnt)::BIGINT // {k})::BIGINT AS thr
  FROM s{bits} GROUP BY 1
),
{_qd_sweep_sql('s', 'tot', bits)},
m{bits} AS MATERIALIZED (
  SELECT 'ALL' AS grp, node, SUM(cnt)::BIGINT AS cnt FROM s0 GROUP BY 2
), mtot AS MATERIALIZED (
  SELECT grp, SUM(cnt)::BIGINT AS n,
         (SUM(cnt)::BIGINT // {k})::BIGINT AS thr
  FROM m{bits} GROUP BY 1
),
{_qd_sweep_sql('m', 'mtot', bits)},
dig AS MATERIALIZED (
  SELECT grp, node, cnt FROM s0
  UNION ALL
  SELECT grp, node, cnt FROM m0
), lv AS MATERIALIZED (
  SELECT grp, node, cnt, CASE {lvl_case} END AS lvl FROM dig
), geo AS MATERIALIZED (
  SELECT grp, node, cnt, lvl,
         ((node - (1::BIGINT << lvl)) * (1::BIGINT << ({bits} - lvl)))::BIGINT AS lo,
         ((node - (1::BIGINT << lvl) + 1) * (1::BIGINT << ({bits} - lvl)) - 1)::BIGINT AS hi
  FROM lv
), stats AS (
  SELECT grp, COUNT(*)::BIGINT AS digest_size,
         SUM(node * cnt)::BIGINT AS node_moment,
         SUM(lvl * cnt)::BIGINT AS lvl_moment
  FROM geo GROUP BY 1
), r AS (
  SELECT grp, cnt, lo, hi,
         (SUM(cnt) OVER (PARTITION BY grp ORDER BY hi, lo
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum,
         (SUM(cnt) OVER (PARTITION BY grp))::BIGINT AS n
  FROM geo
), p AS (
  SELECT pct FROM (VALUES {pcts}) AS t(pct)
), sel AS (
  SELECT r.grp, p.pct, r.n,
         MIN(r.hi) FILTER (
           WHERE r.cum >= GREATEST(1, (p.pct * r.n + 99) // 100)
         )::BIGINT AS est_cents
  FROM r CROSS JOIN p
  GROUP BY 1, 2, 3
)
SELECT sel.grp, sel.pct::INT AS pct, sel.n, sel.est_cents,
       st.digest_size, st.node_moment, st.lvl_moment
FROM sel JOIN stats st ON st.grp = sel.grp
"""


@register(
    "qdigest_event_quantiles",
    oracle=_qdigest_oracle(),
    doc="q-digest — the union-MERGEABLE quantile sketch "
    "(operators/sketches.py qdigest_build/merge/quantiles; Shrivastava "
    "et al. 2004), the streaming/rollup percentile path beside the "
    "exact batch answer (quantiles.rank_values_pruned): event values "
    "map to integer cents (floor(value*100), an IEEE-exact double op), "
    "one map-side-combinable leaf count per event_type bounds state by "
    "the 2^16 UNIVERSE regardless of corpus size, then the "
    "deterministic level-synchronous sweep compresses each digest "
    "(every absorb decision integer-exact, no sampling/order state "
    "like GK/KLL), the five per-type digests MERGE into an 'ALL' "
    "rollup digest (count-sum + one recompression — the mergeability "
    "contract), and p25/50/75/90/99 estimates extract in pure integer "
    "rank math. The oracle replays the identical algorithm as 16 "
    "unrolled level CTEs per digest (the PageRank discipline) and the "
    "output carries digest size + node/level moments, so every absorb "
    "decision of BOTH sweeps sits under the hash; rank error <= "
    "16*(n//2048), asserted vs exact quantiles in tests.",
)
def qdigest_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        qdigest_build,
        qdigest_merge,
        qdigest_quantiles,
    )

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        F.col("event_type").alias("grp"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    per_type = qdigest_build(
        cents, k=_QD_K, bits=_QD_BITS, group_cols=["grp"]
    )
    merged = qdigest_merge(
        per_type.withColumn("grp", F.lit("ALL")),
        k=_QD_K,
        bits=_QD_BITS,
        group_cols=["grp"],
    )
    # consumed by the quantile extraction AND the stats agg (and merged
    # re-reads per_type): one lazy checkpoint materializes the corpus
    # scan + sweeps once (the crawl_to_wet fan-out pattern)
    dig = per_type.unionByName(merged).localCheckpoint(eager=False)
    quant = qdigest_quantiles(
        dig, list(_QD_PCTS), bits=_QD_BITS, group_cols=["grp"]
    ).withColumnRenamed("est", "est_cents")
    stats = dig.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("digest_size"),
        F.sum(F.col("node") * F.col("cnt")).cast("long").alias("node_moment"),
        F.sum(F.col("lvl") * F.col("cnt")).cast("long").alias("lvl_moment"),
    )
    return quant.join(stats, "grp").select(
        "grp", F.col("pct").cast("int").alias("pct"), "n", "est_cents",
        "digest_size", "node_moment", "lvl_moment",
    )


# Deterministic planted pages (identical expressions in both engines) so
# every C4 rule fires both ways: unique body lines, a five-sentence line,
# a corpus-wide duplicated footer, short/punctuation-less/javascript junk
# lines, and brace / lorem-ipsum / too-few-sentences page classes.
_C4_ORACLE = """
WITH t AS (
  SELECT doc_id AS d, source,
    'Document ' || doc_id || ' body line one.' || chr(10) ||
    CASE WHEN doc_id % 7 = 3 THEN 'only one sentence here.'
         ELSE 'S' || doc_id ||
              ' one. Two three. Four five. Six seven. Eight nine.' END ||
    CASE WHEN doc_id % 3 = 0
         THEN chr(10) || 'Common boilerplate footer line.' ELSE '' END ||
    chr(10) || 'too short.' ||
    chr(10) || 'no terminal punctuation line' ||
    CASE WHEN doc_id % 11 = 5
         THEN chr(10) || 'beware javascript popup ads.' ELSE '' END ||
    CASE WHEN doc_id % 13 = 0
         THEN chr(10) || 'curly { bracket rejects page.' ELSE '' END ||
    CASE WHEN doc_id % 17 = 3
         THEN chr(10) || 'classic lorem ipsum filler text.' ELSE '' END
      AS t2
  FROM documents
), f AS (
  SELECT d, source, t2, len(string_split(t2, chr(10))) AS n_lines,
    list_filter(string_split(t2, chr(10)),
      x -> (x LIKE '%.' OR x LIKE '%!' OR x LIKE '%?' OR x LIKE '%"')
           AND len(string_split(x, ' ')) >= 3
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM t
), p AS (
  SELECT d, source, kept, n_lines - len(kept) AS n_dropped,
    (NOT contains(t2, '{') AND NOT contains(lower(t2), 'lorem ipsum')
     AND list_sum(list_transform(kept,
           x -> len(regexp_extract_all(x, '[.!?]')))) >= 5) AS page_ok
  FROM f
), ex AS (
  SELECT d, source, kept[i + 1] AS line, i AS idx
  FROM (SELECT d, source, kept, unnest(range(0, len(kept))) AS i
        FROM p WHERE page_ok)
), fi AS (
  SELECT line, MIN({'d': d, 'i': idx}) AS fst FROM ex GROUP BY line
), sv AS (
  SELECT e.d,
         (SUM(length(e.line)) + COUNT(*) - 1)::BIGINT AS clean_len,
         COUNT(*)::BIGINT AS n_surv
  FROM ex e JOIN fi ON e.line = fi.line
  WHERE e.d = fi.fst.d AND e.idx = fi.fst.i
  GROUP BY 1
), res AS (
  SELECT p.source, p.page_ok,
    CASE WHEN p.page_ok THEN len(p.kept) ELSE 0 END AS n_kept,
    p.n_dropped,
    CASE WHEN p.page_ok THEN len(p.kept) - COALESCE(sv.n_surv, 0)
         ELSE 0 END AS n_dup,
    CASE WHEN p.page_ok THEN COALESCE(sv.clean_len, 0) END AS clean_len
  FROM p LEFT JOIN sv ON sv.d = p.d
)
SELECT source, COUNT(*) AS n_pages,
       SUM(page_ok::INT)::BIGINT AS n_pages_ok,
       SUM(n_kept)::BIGINT AS kept_sum,
       SUM(n_dropped)::BIGINT AS dropped_sum,
       SUM(n_dup)::BIGINT AS dup_dropped_sum,
       SUM(clean_len)::BIGINT AS clean_len_sum
FROM res GROUP BY 1
"""


@register(
    "c4_clean_stats",
    oracle=_C4_ORACLE,
    doc="C4 cleaning gate (operators/corpus.py c4_line_clean — the "
    "published Raffel et al. 2020 §2.2 recipe: terminal-punctuation / "
    "min-words / javascript line filters, brace / lorem-ipsum / "
    "min-sentences page filters, plus cross-document LINE dedup at "
    "first occurrence, the CCNet/RefinedWeb variant of C4's span rule): "
    "pages planted per doc_id moduli carry every rule's pass AND fail "
    "branch, a corpus-wide duplicated footer pins the arg-min dedup "
    "(min(struct) per line content + equi-join back — never a window "
    "over the hot line key), and reassembled clean-text lengths pin "
    "line order. Filtered pages survive as page_ok=false rows (the "
    "dead-letter census); per-source page/kept/dropped/dup/length sums "
    "sit under one hash.",
)
def c4_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import c4_line_clean

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    d = F.col("doc_id")
    ds = d.cast("string")
    line2 = F.when(d % 7 == 3, F.lit("only one sentence here.")).otherwise(
        F.concat(
            F.lit("S"),
            ds,
            F.lit(" one. Two three. Four five. Six seven. Eight nine."),
        )
    )
    text2 = F.concat(
        F.lit("Document "), ds, F.lit(" body line one.\n"),
        line2,
        F.when(
            d % 3 == 0, F.lit("\nCommon boilerplate footer line.")
        ).otherwise(F.lit("")),
        F.lit("\ntoo short.\nno terminal punctuation line"),
        F.when(
            d % 11 == 5, F.lit("\nbeware javascript popup ads.")
        ).otherwise(F.lit("")),
        F.when(
            d % 13 == 0, F.lit("\ncurly { bracket rejects page.")
        ).otherwise(F.lit("")),
        F.when(
            d % 17 == 3, F.lit("\nclassic lorem ipsum filler text.")
        ).otherwise(F.lit("")),
    )
    planted = docs.select("doc_id", "source", text2.alias("text"))
    cleaned = c4_line_clean(planted).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return cleaned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.col("page_ok").cast("int")).cast("long").alias("n_pages_ok"),
        F.sum("n_lines_kept").cast("long").alias("kept_sum"),
        F.sum("n_lines_dropped").cast("long").alias("dropped_sum"),
        F.sum("n_dup_dropped").cast("long").alias("dup_dropped_sum"),
        F.sum(F.length("clean_text")).cast("long").alias("clean_len_sum"),
    )


_CCNET_SPLIT_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)),
                i -> {'w1': l[i], 'bg': l[i] || ' ' || l[i+1]})) AS b
  FROM toks WHERE len(l) >= 2
), occ AS (
  SELECT doc_id, b.w1 AS w1, b.bg AS bg, COUNT(*)::BIGINT AS n_occ
  FROM big GROUP BY 1, 2, 3
), c2 AS (
  SELECT b.bg AS bg, COUNT(*)::BIGINT AS c2 FROM big GROUP BY 1
), c1 AS (
  SELECT b.w1 AS w1, COUNT(*)::BIGINT AS c1 FROM big GROUP BY 1
), sc AS (
  SELECT doc_id, n_occ, (c2 * 1000000) // c1 AS pq
  FROM occ JOIN c2 USING (bg) JOIN c1 USING (w1)
), ag AS (
  SELECT doc_id, (SUM(n_occ * pq) // SUM(n_occ))::BIGINT AS lm_score_avg
  FROM sc GROUP BY 1
), s AS (
  SELECT d.source, ag.lm_score_avg
  FROM documents d LEFT JOIN ag USING (doc_id)
), n AS (
  SELECT COUNT(*) AS n FROM s WHERE lm_score_avg IS NOT NULL
), t1 AS (
  SELECT lm_score_avg AS v FROM s WHERE lm_score_avg IS NOT NULL
  ORDER BY lm_score_avg LIMIT 1 OFFSET (SELECT n // 3 - 1 FROM n)
), t2 AS (
  SELECT lm_score_avg AS v FROM s WHERE lm_score_avg IS NOT NULL
  ORDER BY lm_score_avg LIMIT 1 OFFSET (SELECT (2 * n) // 3 - 1 FROM n)
)
SELECT source,
       CASE WHEN lm_score_avg IS NULL THEN 'unscoreable'
            WHEN lm_score_avg <= (SELECT v FROM t1) THEN 'tail'
            WHEN lm_score_avg <= (SELECT v FROM t2) THEN 'middle'
            ELSE 'head' END AS bucket,
       COUNT(*) AS n_docs,
       SUM(COALESCE(lm_score_avg, 0))::BIGINT AS score_sum
FROM s GROUP BY 1, 2
"""


@register(
    "ccnet_bucket_split",
    oracle=_CCNET_SPLIT_ORACLE,
    doc="CCNet head/middle/tail split (the signature move of the CCNet "
    "pipeline: bucket the corpus by LM quality terciles and train on "
    "the head) composed from operators/corpus.py bigram_lm_scores + "
    "quantiles.rank_values_pruned: global tercile thresholds are the "
    "values at ranks n div 3 and 2n div 3 — located by histogram "
    "pruning over ONE constant key (splittable aggregates; the corpus "
    "is never sorted) and broadcast as one row; bucket membership is "
    "tie-invariant (<= threshold value), scoreless docs land in an "
    "'unscoreable' census bucket. Integer-exact end to end; the oracle "
    "replays the LM and picks thresholds by ORDER BY LIMIT/OFFSET.",
)
def ccnet_bucket_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import bigram_lm_scores
    from ..operators.quantiles import rank_values_pruned

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # the score table feeds BOTH the threshold scan and the re-bucket;
    # do NOT checkpoint it — the two consumers are identical subtrees
    # and ReusedExchange already runs the LM once, while a checkpoint
    # breaks that reuse and LOST partitioning forces extra shuffles
    # (measured: 10.8 s -> 19.5 s at sf1 with a checkpoint here)
    scores = bigram_lm_scores(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    scoreable = scores.filter(F.col("lm_score_avg").isNotNull()).select(
        F.lit(1).alias("_g"), "lm_score_avg"
    )
    thr = rank_values_pruned(
        scoreable,
        "lm_score_avg",
        "_g",
        [("t1", 1, 0, 3), ("t2", 2, 0, 3)],
        bucket_width=1000.0,
    ).select("t1", "t2")
    bucketed = scores.crossJoin(F.broadcast(thr)).select(
        "source",
        F.when(F.col("lm_score_avg").isNull(), F.lit("unscoreable"))
        .when(F.col("lm_score_avg") <= F.col("t1"), F.lit("tail"))
        .when(F.col("lm_score_avg") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("bucket"),
        "lm_score_avg",
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce("lm_score_avg", F.lit(0)))
        .cast("long")
        .alias("score_sum"),
    )
