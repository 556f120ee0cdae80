"""LLM training-data pipeline queries (operators/llmprep.py), every one
gated by a DuckDB oracle: deterministic sampling, source mixing,
decontamination, PII redaction, sequence packing, repetition stats.

The portable content hash is ``operators.text.rolling_hash`` (already
oracle-proven by ``doc_rolling_hash``); its SQL twin is `_o_rhash`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.llmprep import (
    EMAIL_PATTERN,
    PHONE_PATTERN,
    QUALITY_KEEP_PCT,
    decontaminate,
    hash_sample,
    mix_sources,
    pack_sequences,
    redact_pii,
    repetition_stats,
)
from ..operators.aggregates import o_dround
from ..operators.sketches import BLOOM_K
from ..tables import load
from . import register


def _o_rhash(col: str) -> str:
    """DuckDB twin of operators.text.rolling_hash (h*31+ascii mod 1e9+7)."""
    return f"""list_reduce(
         list_prepend(0::BIGINT,
           list_transform(range(1, length({col}) + 1),
                          i -> ascii(substr({col}, i, 1))::BIGINT)),
         (a, b) -> (a * 31 + b) % 1000000007
       )"""


_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source, ({_o_rhash('text')} % 100)::BIGINT AS bucket
FROM documents
WHERE {_o_rhash('text')} % 100 < 10
"""


@register(
    "docs_hash_sample",
    oracle=_SAMPLE_ORACLE,
    doc="LLM-prep: deterministic ~10% corpus sample by content-hash bucket "
    "— the reproducible substitute for rand() sampling (same doc → same "
    "bucket on every engine/run/partitioning). Narrow filter, zero shuffle.",
)
def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import hash_bucket

    docs = load(spark, sf_dir, "documents")
    return hash_sample(docs, 10).select(
        "doc_id", "lang", "source", hash_bucket().alias("bucket")
    )


_MIX_RATES = {"src0": 50, "src1": 25, "src2": 10, "src3": 0}
_MIX_DEFAULT = 20

_MIX_ORACLE = f"""
WITH rates(source, rate_pct) AS (
  VALUES ('src0', 50), ('src1', 25), ('src2', 10), ('src3', 0)
), kept AS (
  SELECT d.source
  FROM documents d LEFT JOIN rates r USING (source)
  WHERE {_o_rhash('d.text')} % 100 < COALESCE(r.rate_pct, {_MIX_DEFAULT})
)
SELECT source, COUNT(*) AS n_kept
FROM kept
GROUP BY source
"""


@register(
    "data_mix_by_source",
    oracle=_MIX_ORACLE,
    doc="LLM-prep: deterministic per-source mixing — each source keeps its "
    "configured percentage by content-hash bucket (src0 50%, src1 25%, "
    "src2 10%, src3 dropped, rest 20%). Rate table broadcast; corpus never "
    "shuffles for the filter.",
)
def data_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    mixed = mix_sources(docs, _MIX_RATES, default_pct=_MIX_DEFAULT)
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), shs AS (
  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
        FROM toks WHERE len(t) >= 5)
), sh AS (
  -- shingle identity by the portable rolling hash, matching the Spark
  -- side's composed-hash stream (a collision merges identically)
  SELECT DISTINCT doc_id, {_o_rhash('s')} AS shingle FROM shs
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
)
SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared_shingles
FROM sh s JOIN bench b USING (shingle)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""


@register(
    "decontaminate_ngram",
    oracle=_DECON_ORACLE,
    doc="LLM-prep: benchmark decontamination — train docs sharing any word "
    "5-gram with the benchmark subset (doc_id % 97 = 0 stands in for an "
    "eval set), with shared-shingle counts. Shingle equi-join, benchmark "
    "side distinct + broadcast.",
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench)


_PII_ORACLE = f"""
WITH withpii AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or 555-' ||
           lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_PATTERN}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '{PHONE_PATTERN}'))::BIGINT AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                          '{PHONE_PATTERN}', '<PHONE>', 'g')) AS redacted_md5
FROM withpii
"""


@register(
    "pii_redaction",
    oracle=_PII_ORACLE,
    doc="LLM-prep: PII redaction — emails/phones replaced with typed "
    "placeholders, with per-doc match counts; patterns restricted to the "
    "Java-regex ∩ RE2 dialect so both engines match identically. Synthetic "
    "PII is appended deterministically so the fixture corpus exercises the "
    "patterns.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    withpii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    red = redact_pii(withpii)
    return red.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_phones").cast("long").alias("n_phones"),
        F.md5(F.col("redacted").cast("binary")).alias("redacted_md5"),
    )


_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       (COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        // 2048)::BIGINT AS pack_id
FROM t
"""


@register(
    "seq_packing",
    oracle=_PACK_ORACLE,
    doc="LLM-prep: contiguous sequence packing — per-language running token "
    "total binned into 2048-token packs (the deterministic, distributable "
    "variant of greedy packing; one window sort per language shard).",
)
def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return pack_sequences(docs, 2048).select("doc_id", "lang", "n_tokens", "pack_id")


_STOP_SQL = "('a','the','of','and','to','in','is','it')"

_CORPUS_BUILD_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents
), q AS (
  SELECT doc_id, source, text,
         ROUND(CAST(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                    * LEAST(1.0, ROUND(CAST(CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
                                            / CAST(len(toks) AS DOUBLE) AS DECIMAL(27,8)), 4)::DOUBLE * 10.0)
                    AS DECIMAL(27,8)), 4)::DOUBLE AS quality
  FROM t
), survivors AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q
)
SELECT doc_id, source, quality
FROM survivors
WHERE rn = 1
  AND quality >= 0.3
  AND {_o_rhash('text')} % 100 < 50
"""


@register(
    "training_corpus_build",
    oracle=_CORPUS_BUILD_ORACLE,
    doc="LLM-prep pipeline composition, end to end: quality scoring → "
    "quality gate → exact-dedup survivor selection (first doc per content "
    "fingerprint) → deterministic 50% hash sample. One narrow stats pass, "
    "one fingerprint-keyed window, one narrow sample filter — the shape of "
    "a production corpus build, stacked from the individually-proven "
    "operators.",
)
def training_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.llmprep import hash_bucket
    from ..operators.text import fingerprint, with_text_stats

    docs = load(spark, sf_dir, "documents")
    stats = with_text_stats(docs).select("doc_id", "source", "text", "quality")
    w = Window.partitionBy(fingerprint("text")).orderBy("doc_id")
    return (
        stats.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("quality") >= 0.3)
            & (hash_bucket() < 50)
        )
        .select("doc_id", "source", "quality")
    )


_REP_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), per_tok AS (
  SELECT doc_id, tok, COUNT(*) AS n FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
       SUM(n)::BIGINT AS n_tokens,
       COUNT(*) AS n_uniq,
       ROUND(CAST(COUNT(*)::DOUBLE / SUM(n)::DOUBLE AS DECIMAL(27,8)), 4)::DOUBLE AS uniq_ratio,
       ROUND(CAST(MAX(n)::DOUBLE / SUM(n)::DOUBLE AS DECIMAL(27,8)), 4)::DOUBLE AS top_tok_share
FROM per_tok
GROUP BY doc_id
"""


@register(
    "repetition_stats",
    oracle=_REP_ORACLE,
    doc="LLM-prep: Gopher-style repetition signals — distinct-token ratio "
    "and most-frequent-token share per document (two map-side-combinable "
    "aggregations keyed by doc id).",
)
def repetition_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load(spark, sf_dir, "documents"))


_INTRA_REP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, length(text)::BIGINT AS tc, string_split(text, ' ') AS t
  FROM documents
), paras AS (
  SELECT doc_id, array_to_string(t[s + 1 : s + 16], ' ') AS blk
  FROM toks, unnest(range(0, len(t), 16)) AS u(s)
), pc AS (
  SELECT doc_id, blk, length(blk)::BIGINT AS chars, COUNT(*)::BIGINT AS n
  FROM paras GROUP BY doc_id, blk
), pagg AS (
  SELECT doc_id,
         SUM(n)::BIGINT AS n_paras,
         SUM(CASE WHEN n >= 2 THEN n ELSE 0 END)::BIGINT AS dup_n,
         SUM(CASE WHEN n >= 2 THEN n * chars ELSE 0 END)::BIGINT AS dup_chars,
         SUM(n * chars)::BIGINT AS pchars
  FROM pc GROUP BY doc_id
), g2 AS (
  SELECT doc_id, array_to_string(t[s + 1 : s + 2], ' ') AS g
  FROM toks, unnest(range(0, len(t) - 1)) AS u(s) WHERE len(t) >= 2
), g2c AS (
  SELECT doc_id, MAX(cnt * chars)::BIGINT AS top2
  FROM (SELECT doc_id, g, COUNT(*) AS cnt, length(g) AS chars
        FROM g2 GROUP BY doc_id, g) GROUP BY doc_id
), g3 AS (
  SELECT doc_id, array_to_string(t[s + 1 : s + 3], ' ') AS g
  FROM toks, unnest(range(0, len(t) - 2)) AS u(s) WHERE len(t) >= 3
), g3c AS (
  SELECT doc_id, MAX(cnt * chars)::BIGINT AS top3
  FROM (SELECT doc_id, g, COUNT(*) AS cnt, length(g) AS chars
        FROM g3 GROUP BY doc_id, g) GROUP BY doc_id
)
SELECT t.doc_id, p.n_paras,
       CASE WHEN p.n_paras > 0 THEN
         {o_dround('CAST(p.dup_n AS DOUBLE) / CAST(p.n_paras AS DOUBLE)', 4)}
       ELSE 0.0 END AS dup_para_frac,
       CASE WHEN p.pchars > 0 THEN
         {o_dround('CAST(p.dup_chars AS DOUBLE) / CAST(p.pchars AS DOUBLE)', 4)}
       ELSE 0.0 END AS dup_para_char_frac,
       CASE WHEN t.tc > 0 THEN
         {o_dround('CAST(COALESCE(c2.top2, 0) AS DOUBLE) / CAST(t.tc AS DOUBLE)', 4)}
       ELSE 0.0 END AS top_bigram_char_frac,
       CASE WHEN t.tc > 0 THEN
         {o_dround('CAST(COALESCE(c3.top3, 0) AS DOUBLE) / CAST(t.tc AS DOUBLE)', 4)}
       ELSE 0.0 END AS top_trigram_char_frac
FROM toks t
JOIN pagg p USING (doc_id)
LEFT JOIN g2c c2 USING (doc_id)
LEFT JOIN g3c c3 USING (doc_id)
"""


@register(
    "intra_doc_repetition",
    oracle=_INTRA_REP_ORACLE,
    doc="LLM-prep: Gopher-style INTRA-document repetition filters (Rae et "
    "al. 2021 Table A1; operators/llmprep.intra_doc_repetition) — "
    "duplicate 16-token-paragraph fraction and char mass within the same "
    "doc, plus most-frequent word 2-/3-gram char fractions. Entirely "
    "narrow: blocks and grams are built, sorted and run-folded inside "
    "each row, zero shuffles — the signal that catches looping "
    "generations without touching corpus context.",
)
def intra_doc_repetition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import intra_doc_repetition

    return intra_doc_repetition(load(spark, sf_dir, "documents"))


_BUDGETS = {"src0": 500, "src1": 800, "src2": 10_000_000, "src3": 0}
_BUDGET_DEFAULT = 300

_BUDGET_CASE = (
    "CASE "
    + " ".join(f"WHEN source = '{s}' THEN {b}" for s, b in _BUDGETS.items())
    + f" ELSE {_BUDGET_DEFAULT} END"
)

_TOKEN_BUDGET_ORACLE = f"""
WITH e AS (
  SELECT source, doc_id,
         len(string_split(text, ' '))::BIGINT AS nt,
         {_o_rhash('text')} AS h,
         ({_BUDGET_CASE})::BIGINT AS budget
  FROM documents
), c AS (
  SELECT *, (SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id
             ROWS UNBOUNDED PRECEDING) - nt) AS cumb
  FROM e
)
SELECT source, ANY_VALUE(budget)::BIGINT AS budget,
       COUNT(*)::BIGINT AS n_docs,
       SUM(nt)::BIGINT AS tokens_total,
       SUM(CASE WHEN cumb < budget THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       SUM(CASE WHEN cumb < budget THEN nt ELSE 0 END)::BIGINT AS tokens_kept
FROM c GROUP BY source
"""


@register(
    "token_budget_mix",
    oracle=_TOKEN_BUDGET_ORACLE,
    doc="LLM-prep: token-BUDGET data mixing (operators/llmprep."
    "token_budget_sample) — per source, keep documents in deterministic "
    "content-hash order until the source's token budget fills (the 'N "
    "tokens of web, M of code' pretraining recipe; the crossing doc is "
    "kept, so the kept set is an exact prefix). Never a cumulative "
    "window over the source content key: hash-bucket histogram locates "
    "the crossing bucket, only that bucket's rows get the exact window "
    "(the quality_percentile_gate discipline). Exercises partial fills, "
    "an always-full budget, a zero budget, and the default rate.",
)
def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import token_budget_sample

    return token_budget_sample(
        load(spark, sf_dir, "documents"), _BUDGETS, default_budget=_BUDGET_DEFAULT
    )


_STRATIFIED_ORACLE = f"""
WITH h AS (
  SELECT doc_id, lang, {_o_rhash('text')} AS rh FROM documents
), r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rh, doc_id) AS rn,
         CAST(CEIL(COUNT(*) OVER (PARTITION BY lang) / 10.0) AS BIGINT) AS strata_quota
  FROM h
)
SELECT doc_id, lang, rn, strata_quota FROM r WHERE rn <= strata_quota
"""


@register(
    "docs_stratified_sample",
    oracle=_STRATIFIED_ORACLE,
    doc="LLM-prep: EXACT-size stratified sample — per language, precisely "
    "ceil(10%) of documents, chosen by content-hash order (deterministic, "
    "partitioning-independent). Complements the rate-based hash_sample: "
    "rate sampling drifts per stratum on small strata; quota sampling "
    "guarantees the mix. One window per stratum, no driver involvement.",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.text import rolling_hash

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", rolling_hash("text").alias("rh")
    )
    w = Window.partitionBy("lang").orderBy("rh", "doc_id")
    quota = F.ceil(
        F.count(F.lit(1)).over(Window.partitionBy("lang")) / 10.0
    ).cast("long")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("strata_quota", quota)
        .filter(F.col("rn") <= F.col("strata_quota"))
        .select("doc_id", "lang", "rn", "strata_quota")
    )


_QGATE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, source,
         ROUND(CAST(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                    * LEAST(1.0, ROUND(CAST(CAST(len(list_filter(toks,
                          x -> x IN ('a','the','of','and','to','in','is','it'))) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE) AS DECIMAL(27,8)), 4)::DOUBLE * 10.0)
                    AS DECIMAL(27,8)), 4)::DOUBLE AS quality
  FROM t
), r AS (
  SELECT source, quality,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM s
)
SELECT source,
       COUNT(*) AS n_docs,
       SUM(CASE WHEN rn * 100 <= n * {QUALITY_KEEP_PCT} THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       MIN(CASE WHEN rn * 100 <= n * {QUALITY_KEEP_PCT} THEN quality END) AS min_kept_quality
FROM r GROUP BY source
"""


@register(
    "quality_percentile_gate",
    oracle=_QGATE_ORACLE,
    doc="LLM-prep: per-source percentile quality gate — keep the top 80% of "
    "documents by quality score within each source; the cut is integer "
    "arithmetic (k = n*80 div 100), never a floating-point percentile. "
    "Histogram-pruned (quantiles.py pattern): no per-row window over the "
    "source content key — splittable aggs locate the k-th largest quality.",
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import quality_percentile_gate as qgate
    from ..operators.text import with_text_stats

    docs = with_text_stats(load(spark, sf_dir, "documents"))
    return qgate(docs)


_BLOOM_M = 1 << 16

_BLOOM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, array_to_string(t[i:i+4], ' ') AS shingle
  FROM (SELECT doc_id, source, t, unnest(range(1, len(t) - 3)) AS i
        FROM toks WHERE len(t) >= 5)
), bench_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
), bench_rh AS (
  SELECT shingle, {_o_rhash('shingle')} AS rh FROM bench_sh
), bloom AS (
  SELECT DISTINCT (((2 * k.k + 1) * rh + (7919 * k.k + 13)) % 1000000007)
                  % {_BLOOM_M} AS pos
  FROM bench_rh CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS k) k
), train_sh AS (
  SELECT doc_id, source, shingle FROM sh WHERE doc_id % 97 <> 0
), train_rh AS (
  SELECT doc_id, source, shingle, {_o_rhash('shingle')} AS rh FROM train_sh
), probes AS (
  SELECT doc_id, source, shingle,
         (((2 * k.k + 1) * rh + (7919 * k.k + 13)) % 1000000007)
         % {_BLOOM_M} AS pos
  FROM train_rh CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS k) k
), hits AS (
  SELECT doc_id, source, shingle, COUNT(b.pos) = {BLOOM_K} AS bloom_hit
  FROM probes p LEFT JOIN bloom b USING (pos)
  GROUP BY doc_id, source, shingle
), perdoc AS (
  SELECT doc_id, source,
         MAX(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS b
  FROM hits GROUP BY doc_id, source
), exact AS (
  SELECT DISTINCT t.doc_id
  FROM train_rh t JOIN (SELECT DISTINCT rh FROM bench_rh) b USING (rh)
), flags AS (
  SELECT p.doc_id, p.source, p.b,
         CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS x
  FROM perdoc p LEFT JOIN exact e USING (doc_id)
), src AS (
  SELECT source, COUNT(*) AS n_docs FROM documents
  WHERE doc_id % 97 <> 0 GROUP BY source
)
SELECT s.source, s.n_docs,
       COALESCE(SUM(f.x), 0)::BIGINT AS n_exact_flagged,
       COALESCE(SUM(f.b), 0)::BIGINT AS n_bloom_flagged,
       COALESCE(SUM(CASE WHEN f.b = 1 AND f.x = 0 THEN 1 ELSE 0 END), 0)::BIGINT
         AS n_false_pos
FROM src s LEFT JOIN flags f USING (source)
GROUP BY s.source, s.n_docs
"""


@register(
    "bloom_decontaminate",
    oracle=_BLOOM_ORACLE,
    doc="LLM-prep: Bloom-filter decontamination telemetry "
    "(operators/sketches.bloom_build/bloom_maybe_contains) — per source, "
    "train docs flagged by a 2^16-bit k=4 Bloom filter over the benchmark "
    "5-gram shingles vs the exact shingle join, with the false-positive "
    "count measured (false negatives are impossible by construction, "
    "visible as n_bloom >= n_exact in every row). The 100 TB shape: the "
    "exact broadcast grows with the benchmark suite, the filter is a FIXED "
    "m-bit broadcast chosen for the target FP rate — constant cost per "
    "probe join regardless of suite size. Portable-hash positions make the "
    "filter SQL-rebuildable, so the telemetry is oracle-gated end to end.",
)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_build, bloom_maybe_contains
    from ..operators.text import shingle_hash_stream

    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)

    # shingle strings are never built: the composed-hash stream
    # (text.shingle_hash_stream) folds each char once per doc, and the
    # whole corpus is hashed in ONE materialized pass shared by all three
    # consumers (bloom build, bloom probe leg, exact leg) — the
    # boilerplate_ngrams single-pass discipline on 8-byte rows
    all_sh = shingle_hash_stream(
        docs, 5, ("doc_id", "source"), out_col="_rh"
    ).localCheckpoint(eager=True)
    t_pairs = all_sh.filter(F.col("doc_id") % 97 != 0)
    b_rh = all_sh.filter(F.col("doc_id") % 97 == 0).select("_rh").distinct()
    # the filter is <= m_bits rows; checkpointing it keeps the k probe
    # broadcasts from re-aggregating the bench stream once each
    bloom = bloom_build(
        b_rh, "_rh", m_bits=_BLOOM_M, hash_col="_rh"
    ).localCheckpoint(eager=True)

    # probe is k narrow broadcast lookups per row — no explode, no regroup
    probed = bloom_maybe_contains(
        bloom,
        t_pairs.select("doc_id", "source", "_rh"),
        "_rh",
        m_bits=_BLOOM_M,
        hash_col="_rh",
    )
    perdoc = probed.groupBy("doc_id", "source").agg(
        F.max(F.col("bloom_hit").cast("int")).alias("_b")
    )

    # "exact" = shares a shingle ROLLING HASH with the benchmark (31-bit;
    # both engines join the same hashes, so the oracle is bit-exact — for
    # true string-equality decontamination see decontaminate_ngram)
    exact = (
        t_pairs.join(F.broadcast(b_rh), on="_rh")
        .select("doc_id")
        .distinct()
        .withColumn("_x", F.lit(1))
    )
    flags = perdoc.join(exact, on="doc_id", how="left").withColumn(
        "_x", F.coalesce("_x", F.lit(0))
    )
    src = train.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    agg = flags.groupBy("source").agg(
        F.sum("_x").alias("n_exact_flagged"),
        F.sum("_b").alias("n_bloom_flagged"),
        F.sum(((F.col("_b") == 1) & (F.col("_x") == 0)).cast("long")).alias(
            "n_false_pos"
        ),
    )
    return src.join(agg, on="source", how="left").select(
        "source",
        "n_docs",
        F.coalesce("n_exact_flagged", F.lit(0)).alias("n_exact_flagged"),
        F.coalesce("n_bloom_flagged", F.lit(0)).alias("n_bloom_flagged"),
        F.coalesce("n_false_pos", F.lit(0)).alias("n_false_pos"),
    )


_INCR_ORACLE = f"""
WITH newdocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
), corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
), corpus_md5 AS (
  SELECT DISTINCT md5(text) AS h FROM corpus
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), shs AS (
  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
        FROM toks WHERE len(t) >= 5)
), sh AS (
  -- shingle identity by the portable rolling hash (the Spark side streams
  -- composed hashes, never shingle strings); a collision merges the same
  -- two shingles on both engines
  SELECT DISTINCT doc_id, {_o_rhash('s')} AS shingle FROM shs
), corpus_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0
), overlap AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM sh s JOIN corpus_sh USING (shingle)
  WHERE s.doc_id % 10 = 0
  GROUP BY s.doc_id
)
SELECT n.doc_id,
       CASE WHEN c.h IS NULL THEN 0 ELSE 1 END AS exact_dup,
       COALESCE(o.n_shared, 0)::BIGINT AS n_shared_shingles,
       CASE WHEN c.h IS NOT NULL THEN 'exact'
            WHEN COALESCE(o.n_shared, 0) >= 8 THEN 'near'
            ELSE 'novel' END AS status
FROM newdocs n
LEFT JOIN corpus_md5 c ON md5(n.text) = c.h
LEFT JOIN overlap o ON o.doc_id = n.doc_id
"""


@register(
    "incremental_dedup",
    oracle=_INCR_ORACLE,
    doc="LLM-prep: incremental (delta) dedup — an incoming batch (doc_id % "
    "10 = 0 stands in for today's crawl) deduplicated against the standing "
    "corpus: exact via content-hash join, near via shared word-5-gram "
    "count, per-doc status novel/near/exact. The 100 TB shape inverts the "
    "usual broadcast: the DELTA side is broadcast (bounded by ingest "
    "batch size) and the corpus is scanned in place — the corpus is never "
    "shuffled, collected, or broadcast, so daily ingest cost is "
    "O(corpus scan + batch size), not O(corpus shuffle). Shingle identity "
    "is the portable rolling hash streamed via composed token hashes (r7: "
    "the corpus-side 5-gram STRING build was the dominant phase, 2x the "
    "hash stream); the oracle hashes the same strings, so the gate stays "
    "exact.",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import shingle_hash_stream

    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    new = docs.filter(is_new)
    corpus = docs.filter(~is_new)

    # exact: the batch's md5 set is the broadcast side of a LEFT SEMI-style
    # mark against the corpus — realized as corpus-side aggregation joined
    # back to the batch (corpus never broadcast)
    new_md5 = new.select("doc_id", F.md5(F.col("text").cast("binary")).alias("_h"))
    corpus_md5 = (
        corpus.select(F.md5(F.col("text").cast("binary")).alias("_h"))
        .distinct()
        .withColumn("_e", F.lit(1))
    )
    exact = new_md5.join(
        corpus_md5.join(
            F.broadcast(new_md5.select("_h").distinct()), "_h", "left_semi"
        ),
        "_h",
        "left",
    ).select("doc_id", F.coalesce("_e", F.lit(0)).alias("exact_dup"))

    # near: batch shingle hashes broadcast, corpus shingle-hash stream
    # filtered by them (LEFT SEMI), then the surviving corpus set (bounded
    # by the batch's vocabulary) joins back to count per-batch-doc overlap.
    # Hashes, not strings: the corpus-side 5-gram STRING build was the
    # query's dominant phase (measured 1.35 s vs 0.69 s for the composed
    # hash stream at sf0.1 — shingle_hash_stream folds each char once per
    # doc); the oracle hashes the same strings with the same rolling hash,
    # so a collision merges identically on both engines
    new_sh = shingle_hash_stream(new, n=5)
    corpus_sh = (
        shingle_hash_stream(corpus, n=5)
        .select("rh")
        .join(F.broadcast(new_sh.select("rh").distinct()), "rh", "left_semi")
        .distinct()
    )
    overlap = (
        new_sh.join(F.broadcast(corpus_sh), "rh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )

    return (
        exact.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
            F.when(F.col("exact_dup") == 1, F.lit("exact"))
            .when(F.coalesce("n_shared_shingles", F.lit(0)) >= 8, F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )


_PARA_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), paras AS (
  SELECT doc_id, (s // 16)::BIGINT AS para_idx,
         md5(array_to_string(t[s + 1 : s + 16], ' ')) AS key,
         length(array_to_string(t[s + 1 : s + 16], ' '))::BIGINT AS chars
  FROM toks, unnest(range(0, len(t), 16)) AS u(s)
), firsts AS (
  SELECT key, MIN(doc_id * 1048576 + para_idx) AS code, MIN(chars) AS chars
  FROM paras GROUP BY key
), kept AS (
  SELECT code // 1048576 AS doc_id, COUNT(*)::BIGINT AS n_kept,
         SUM(chars)::BIGINT AS kept_chars
  FROM firsts GROUP BY 1
), totals AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_paras, SUM(chars)::BIGINT AS total_chars
  FROM paras GROUP BY doc_id
)
SELECT t.doc_id, t.n_paras,
       COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
       (t.n_paras - COALESCE(k.n_kept, 0))::BIGINT AS n_dropped,
       CASE WHEN t.total_chars > 0 THEN
         {o_dround('CAST(COALESCE(k.kept_chars, 0) AS DOUBLE)'
                   ' / CAST(t.total_chars AS DOUBLE)', 4)}
       END AS kept_char_ratio
FROM totals t LEFT JOIN kept k USING (doc_id)
"""


@register(
    "paragraph_dedup_stats",
    oracle=_PARA_DEDUP_ORACLE,
    doc="CCNet-style paragraph-level exact dedup (Wenzek et al. 2020; "
    "MassiveText's repeated-paragraph filter): md5-keyed 16-token blocks, "
    "keep the globally first occurrence by (doc_id, para_idx), per-doc "
    "survival accounting. Integer-argmin firsts (no content-key window), "
    "checkpointed keyed stream, kept mass re-attributed by entity-key "
    "join — operators/corpus.paragraph_dedup_stats.",
)
def paragraph_dedup_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import paragraph_dedup_stats

    docs = load(spark, sf_dir, "documents")
    return paragraph_dedup_stats(docs, size=16)


_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
), uni AS (
  SELECT doc_id, source, ({_o_rhash('u.tok')} % 1024)::INT AS bucket
  FROM toks, unnest(t) AS u(tok)
), bi AS (
  SELECT doc_id, source,
         ({_o_rhash("(t[s + 1] || ' ' || t[s + 2])")} % 1024)::INT AS bucket
  FROM toks, unnest(range(0, len(t) - 1)) AS r(s)
), feats AS (
  SELECT * FROM uni UNION ALL SELECT * FROM bi
), tot AS (
  SELECT COUNT(*)::BIGINT AS t_raw,
         (COUNT(*) FILTER (WHERE source IN ('src0', 'src1')))::BIGINT AS t_tgt
  FROM feats
), rawb AS (
  SELECT bucket, COUNT(*)::BIGINT AS raw_n FROM feats GROUP BY 1
), tgtb AS (
  SELECT bucket, COUNT(*)::BIGINT AS tgt_n
  FROM feats WHERE source IN ('src0', 'src1') GROUP BY 1
), w AS (
  SELECT r.bucket,
         CASE WHEN t.t_tgt > 0 THEN
           CAST(COALESCE(g.tgt_n, 0) * t.t_raw AS DOUBLE)
           / CAST((r.raw_n + 1) * t.t_tgt AS DOUBLE)
         END AS wt
  FROM rawb r LEFT JOIN tgtb g USING (bucket) CROSS JOIN tot t
), db AS (
  SELECT doc_id, bucket, COUNT(*)::BIGINT AS c FROM feats GROUP BY 1, 2
), scores AS (
  SELECT doc_id,
         ROUND(SUM(CAST(db.c * w.wt AS DECIMAL(27,6))), 6)::DOUBLE AS affinity
  FROM db JOIN w USING (bucket) GROUP BY doc_id
), ranked AS (
  SELECT doc_id, affinity,
         (ROW_NUMBER() OVER (ORDER BY affinity DESC, doc_id ASC))::BIGINT AS rnk
  FROM scores
)
SELECT doc_id, affinity, rnk FROM ranked WHERE rnk <= 64
"""


@register(
    "dsir_affinity_top64",
    oracle=_DSIR_ORACLE,
    doc="DSIR-inspired data selection (Xie et al. 2023): rank the corpus "
    "by hashed unigram+bigram affinity to a target domain (sources src0/"
    "src1) and keep the top 64 — the log-free linear analog of DSIR's "
    "importance weights (operators/llmprep.dsir_affinity_topk). "
    "Checkpointed feature stream, bounded 1024-row broadcast weight "
    "table, TakeOrderedAndProject cut before ranking.",
)
def dsir_affinity_top64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import dsir_affinity_topk

    docs = load(spark, sf_dir, "documents")
    return dsir_affinity_topk(docs, ["src0", "src1"], k=64)


# fastText-shape classifier weights: trained OFFLINE in this story, shipped
# as fixed-point literals (micro-units) exactly like the JL projection
# coefficients — generated once with a seeded RNG at import time and
# inlined into BOTH engines, so the arrays cannot drift apart.
def _classifier_weights() -> list[int]:
    import random

    rng = random.Random(1234)
    return [rng.randint(-1000, 1000) for _ in range(64)]


_CLF_WEIGHTS = _classifier_weights()

_CLF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), rh AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(range(1, length(tok) + 1),
                            i -> ascii(substr(tok, i, 1))::BIGINT)),
           (a, b) -> (a * 31 + b) % 1000000007
         ) AS rh
  FROM tok
), w AS (
  SELECT doc_id,
         ([{", ".join(str(w) for w in _CLF_WEIGHTS)}])[(rh % {len(_CLF_WEIGHTS)}) + 1]::BIGINT AS wt
  FROM rh
), s AS (
  SELECT doc_id, SUM(wt)::BIGINT AS score FROM w GROUP BY 1
)
SELECT CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS verdict,
       COUNT(*) AS n_docs, SUM(score)::BIGINT AS score_sum,
       MIN(score) AS min_score, MAX(score) AS max_score
FROM s GROUP BY 1
"""


@register(
    "quality_classifier_gate",
    oracle=_CLF_ORACLE,
    doc="fastText-shape model-based quality filter "
    "(operators/llmprep.hashed_linear_scores) — completes the "
    "CCNet/RefinedWeb quality triple beside the heuristic gates "
    "(operators/text.py) and the bigram-LM perplexity score "
    "(operators/corpus.py): tokens hash into 64 buckets via the "
    "portable rolling hash and each document scores as the exact "
    "INTEGER sum of fixed-point bucket weights (offline-trained "
    "literals, the JL-coefficient discipline), so the keep/drop margin "
    "is deterministic under any partitioning — no float-accumulation "
    "order surface. One explode + one map-side-combinable integer "
    "aggregation on the document id; the oracle replays hash, lookup "
    "and sum with the identical inlined literal array.",
)
def quality_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import hashed_linear_scores

    docs = load(spark, sf_dir, "documents")
    scores = hashed_linear_scores(docs, _CLF_WEIGHTS)
    verdict = F.when(F.col("score") >= 0, F.lit("keep")).otherwise(
        F.lit("drop")
    )
    return scores.groupBy(verdict.alias("verdict")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").cast("long").alias("score_sum"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


# Deterministic plant variants (applied identically in Spark and SQL) so
# every Gopher rule exercises BOTH branches on this clean corpus: symbol
# spam, bullet walls, ellipsis walls, one-char-word dilution, truncation.
_GOPHER_ORACLE = """
WITH t AS (
  SELECT source,
    CASE doc_id % 6
      WHEN 0 THEN text || repeat(' #', GREATEST(n_chars // 10, 5))
      WHEN 1 THEN repeat('- x' || chr(10), 10) || text
      WHEN 2 THEN repeat('of and y...' || chr(10), 4) || text
      WHEN 3 THEN text || repeat(' a b', n_chars // 4)
      WHEN 4 THEN substr(text, 1, 30)
      ELSE text END AS t2
  FROM documents
), m AS (
  SELECT source,
    len(list_filter(string_split(replace(t2, chr(10), ' '), ' '),
                    w -> w <> '')) AS n_words,
    length(replace(replace(t2, chr(10), ''), ' ', '')) AS wchars,
    length(t2) - length(replace(t2, '#', '')) AS n_hash,
    (length(t2) - length(replace(t2, '...', ''))) // 3 AS n_ell,
    len(string_split(t2, chr(10))) AS n_lines,
    len(list_filter(string_split(t2, chr(10)),
                    l -> l LIKE '-%' OR l LIKE '•%')) AS n_bullet,
    len(list_filter(string_split(t2, chr(10)),
                    l -> l LIKE '%...')) AS n_ell_lines,
    len(list_filter(string_split(replace(t2, chr(10), ' '), ' '),
                    w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
    list_contains(string_split(replace(t2, chr(10), ' '), ' '), 'the')::INT
    + list_contains(string_split(replace(t2, chr(10), ' '), ' '), 'be')::INT
    + list_contains(string_split(replace(t2, chr(10), ' '), ' '), 'to')::INT
    + list_contains(string_split(replace(t2, chr(10), ' '), ' '), 'of')::INT
    + list_contains(string_split(replace(t2, chr(10), ' '), ' '), 'and')::INT
    + list_contains(string_split(replace(t2, chr(10), ' '), ' '), 'that')::INT
    + list_contains(string_split(replace(t2, chr(10), ' '), ' '), 'have')::INT
    + list_contains(string_split(replace(t2, chr(10), ' '), ' '), 'with')::INT
      AS n_stop
  FROM t
), r AS (
  SELECT source,
    (n_words >= 50 AND n_words <= 100000) AS r1,
    (3 * n_words <= wchars AND wchars <= 10 * n_words) AS r2,
    ((n_hash + n_ell) * 10 <= n_words) AS r3,
    (n_bullet * 10 <= 9 * n_lines) AS r4,
    (n_ell_lines * 10 <= 3 * n_lines) AS r5,
    (n_alpha * 5 >= 4 * n_words) AS r6,
    (n_stop >= 2) AS r7
  FROM m
)
SELECT source, COUNT(*) AS n_docs,
  SUM((r1 AND r2 AND r3 AND r4 AND r5 AND r6 AND r7)::INT)::BIGINT AS n_pass,
  SUM((NOT r1)::INT)::BIGINT AS f_word_count,
  SUM((NOT r2)::INT)::BIGINT AS f_mean_word_len,
  SUM((NOT r3)::INT)::BIGINT AS f_symbol_ratio,
  SUM((NOT r4)::INT)::BIGINT AS f_bullet_lines,
  SUM((NOT r5)::INT)::BIGINT AS f_ellipsis_lines,
  SUM((NOT r6)::INT)::BIGINT AS f_alpha_words,
  SUM((NOT r7)::INT)::BIGINT AS f_stopwords
FROM r GROUP BY 1
"""


@register(
    "gopher_quality_stats",
    oracle=_GOPHER_ORACLE,
    doc="Gopher heuristic rule-set gate (operators/llmprep."
    "gopher_quality_flags — the published Rae et al. 2021 appendix "
    "A1.1 rule table, the third heuristic layer beside the engine's "
    "length/stopword gates and the bigram-LM/classifier scores): the "
    "clean corpus is doctored per doc_id%6 with identical expressions "
    "in BOTH engines (symbol spam scaled to the doc, a 10-line bullet "
    "wall, a 4-line ellipsis wall carrying required stopwords, "
    "one-char-word dilution, a 30-char truncation, one untouched "
    "class) so every rule fails somewhere and passes somewhere; all "
    "seven rules are integer cross-multiplications over one JVM "
    "expression pass — zero Python, zero extra shuffle, no float "
    "surface — and per-source pass/per-rule-failure counts sit under "
    "one hash.",
)
def gopher_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import gopher_quality_flags

    docs = load(spark, sf_dir, "documents")
    n = F.col("n_chars")
    planted = docs.select(
        "source",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.col("text"),
                F.repeat(
                    F.lit(" #"),
                    F.greatest(F.floor(n / 10).cast("int"), F.lit(5)),
                ),
            ),
        )
        .when(
            F.col("doc_id") % 6 == 1,
            F.concat(F.repeat(F.lit("- x\n"), 10), F.col("text")),
        )
        .when(
            F.col("doc_id") % 6 == 2,
            F.concat(F.repeat(F.lit("of and y...\n"), 4), F.col("text")),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(
                F.col("text"),
                F.repeat(F.lit(" a b"), F.floor(n / 4).cast("int")),
            ),
        )
        .when(F.col("doc_id") % 6 == 4, F.substring("text", 1, 30))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    flags = gopher_quality_flags(planted)
    fail = lambda r: F.sum((~F.col(r)).cast("int")).cast("long")  # noqa: E731
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("gopher_pass").cast("int")).cast("long").alias("n_pass"),
        fail("rule_word_count").alias("f_word_count"),
        fail("rule_mean_word_len").alias("f_mean_word_len"),
        fail("rule_symbol_ratio").alias("f_symbol_ratio"),
        fail("rule_bullet_lines").alias("f_bullet_lines"),
        fail("rule_ellipsis_lines").alias("f_ellipsis_lines"),
        fail("rule_alpha_words").alias("f_alpha_words"),
        fail("rule_stopwords").alias("f_stopwords"),
    )


from ..operators.sketches import MIX1_ROUNDS as _MX1, mix_expr as _mix_expr

_CAP_HASH_SQL = _mix_expr("doc_id", _MX1, "//")

_CAPPED_ORACLE = f"""
WITH t AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 0::BIGINT
              WHEN doc_id < 20 THEN 90 + doc_id
              ELSE doc_id % 7 END AS host_id,
         {_CAP_HASH_SQL} AS h
  FROM documents
), r AS (
  SELECT host_id, h,
         ROW_NUMBER() OVER (PARTITION BY host_id ORDER BY h) AS rn
  FROM t
), k AS (
  SELECT host_id, MAX(CASE WHEN rn = 50 THEN h END) AS kth FROM r GROUP BY 1
), kept AS (
  SELECT t.host_id, t.h
  FROM t JOIN k USING (host_id)
  WHERE k.kth IS NULL OR t.h <= k.kth
), tot AS (
  SELECT host_id, COUNT(*) AS n_total FROM t GROUP BY 1
)
SELECT tot.host_id, tot.n_total,
       COUNT(kept.h) AS n_kept,
       SUM(kept.h)::BIGINT AS kept_hash_sum
FROM tot JOIN kept USING (host_id)
GROUP BY 1, 2
"""


@register(
    "host_capped_sample_stats",
    oracle=_CAPPED_ORACLE,
    doc="Per-key contribution cap gate (operators/llmprep."
    "capped_per_key_sample — the C4/Dolma per-host cap as a "
    "DETERMINISTIC content function, the kmv_bottomk trick generalized "
    "to sampling): keep the <=50 smallest portable doc hashes per host "
    "with the threshold located by histogram pruning — no per-host "
    "sort, no window over the HOT host key (host 0 holds over half the "
    "corpus by construction); singleton hosts (doc_id < 20, odd) pin "
    "the keep-everything NULL-threshold branch. Per-host totals, kept "
    "counts and kept-hash sums (the selection itself, not just its "
    "size) sit under one hash; the oracle replays with a rank window, "
    "which the engine side deliberately avoids.",
)
def host_capped_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import capped_per_key_sample
    from ..operators.sketches import id_hash

    docs = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    t = docs.select(
        F.when(d % 2 == 0, F.lit(0).cast("long"))
        .when(d < 20, (90 + d).cast("long"))
        .otherwise(d % 7)
        .alias("host_id"),
        id_hash("doc_id").alias("h"),
    )
    kept = capped_per_key_sample(t, "host_id", 50)
    tot = t.groupBy("host_id").agg(F.count(F.lit(1)).alias("n_total"))
    agg = kept.groupBy("host_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("h").cast("long").alias("kept_hash_sum"),
    )
    return tot.join(agg, "host_id")


_DOMAIN_CAP_ORACLE = f"""
WITH t AS (
  SELECT doc_id AS d, {_CAP_HASH_SQL} AS h,
         CASE WHEN doc_id % 11 = 7 THEN 'only' || doc_id || '.com'
              ELSE 'site' || (doc_id % 5) || '.co.uk' END AS reg
  FROM documents
), r AS (
  SELECT reg, h, ROW_NUMBER() OVER (PARTITION BY reg ORDER BY h) AS rn
  FROM t
), k AS (
  SELECT reg, MAX(CASE WHEN rn = 100 THEN h END) AS kth FROM r GROUP BY 1
), kept AS (
  SELECT t.reg, t.h FROM t JOIN k USING (reg)
  WHERE k.kth IS NULL OR t.h <= k.kth
), cls AS (
  SELECT CASE WHEN reg LIKE 'site%' THEN reg ELSE 'unique' END AS domain_class,
         reg, h
  FROM kept
), tot AS (
  SELECT CASE WHEN reg LIKE 'site%' THEN reg ELSE 'unique' END AS domain_class,
         COUNT(*) AS n_total
  FROM t GROUP BY 1
)
SELECT tot.domain_class, tot.n_total,
       COUNT(cls.h) AS n_kept,
       SUM(cls.h)::BIGINT AS kept_hash_sum
FROM tot JOIN cls USING (domain_class)
GROUP BY 1, 2
"""


@register(
    "domain_capped_corpus_stats",
    oracle=_DOMAIN_CAP_ORACLE,
    doc="Cross-module composition gate: per-REGISTERED-DOMAIN "
    "contribution caps — crawl.registered_domain (PSL eTLD+1) feeds "
    "llmprep.capped_per_key_sample, the cap production pipelines "
    "actually want (capping by HOST would leak: thirteen subdomains "
    "per site here share one site{k}.co.uk registered domain, and the "
    "multi-label co.uk suffix means naive last-two-label grouping "
    "would collapse ALL sites to 'co.uk'). Five hot domains bind the "
    "100-row cap via the histogram-pruned threshold; doc_id%11=7 "
    "plants singleton domains on the keep-everything branch; kept-hash "
    "sums pin the selection itself.",
)
def domain_capped_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crawl import registered_domain
    from ..operators.llmprep import capped_per_key_sample
    from ..operators.sketches import id_hash

    docs = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    host = F.when(
        d % 11 == 7,
        F.concat(F.lit("only"), d.cast("string"), F.lit(".com")),
    ).otherwise(
        F.concat(
            F.lit("sub"),
            (d % 13).cast("string"),
            F.lit(".site"),
            (d % 5).cast("string"),
            F.lit(".co.uk"),
        )
    )
    t = docs.select(host.alias("url_host"), id_hash("doc_id").alias("h"))
    reg = registered_domain(t)
    kept = capped_per_key_sample(reg, "registered_domain", 100)
    cls = lambda c: F.when(  # noqa: E731
        c.startswith("site"), c
    ).otherwise(F.lit("unique"))
    tot = reg.groupBy(
        cls(F.col("registered_domain")).alias("domain_class")
    ).agg(F.count(F.lit(1)).alias("n_total"))
    agg = kept.groupBy(
        cls(F.col("registered_domain")).alias("domain_class")
    ).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("h").cast("long").alias("kept_hash_sum"),
    )
    return tot.join(agg, "domain_class")


# Per-class weight arrays for the multi-class language-ID gate: one
# seeded stream PER CLASS (the _classifier_weights discipline), inlined
# identically into both engines.
def _lang_weights() -> dict[str, list[int]]:
    import random

    out = {}
    for i, cls in enumerate(("de", "en", "unk")):
        rng = random.Random(4000 + i)
        out[cls] = [rng.randint(-1000, 1000) for _ in range(64)]
    return out


_LANG_WEIGHTS = _lang_weights()


def _lang_oracle() -> str:
    n = len(_LANG_WEIGHTS["en"])
    lookups = ",\n         ".join(
        f"([{', '.join(str(w) for w in _LANG_WEIGHTS[c])}])"
        f"[(rh % {n}) + 1]::BIGINT AS w_{c}"
        for c in sorted(_LANG_WEIGHTS)
    )
    structs = ", ".join(
        f"{{'s': s_{c}, 'c': '{c}'}}" for c in sorted(_LANG_WEIGHTS)
    )
    sums = ", ".join(
        f"SUM(w_{c})::BIGINT AS s_{c}" for c in sorted(_LANG_WEIGHTS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), rh AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(range(1, length(tok) + 1),
                            i -> ascii(substr(tok, i, 1))::BIGINT)),
           (a, b) -> (a * 31 + b) % 1000000007
         ) AS rh
  FROM tok
), w AS (
  SELECT doc_id,
         {lookups}
  FROM rh
), s AS (
  SELECT doc_id, {sums} FROM w GROUP BY 1
), lbl AS (
  SELECT doc_id, s_de, s_en, s_unk,
         list_max([{structs}]).c AS label
  FROM s
)
SELECT label, COUNT(*) AS n_docs,
       SUM(s_de)::BIGINT AS sum_de, SUM(s_en)::BIGINT AS sum_en,
       SUM(s_unk)::BIGINT AS sum_unk
FROM lbl GROUP BY 1
"""


@register(
    "lang_classifier_gate",
    oracle=_lang_oracle(),
    doc="Multi-class language-ID gate (operators/llmprep."
    "hashed_multiclass_scores — the fastText lid.176 SHAPE: one "
    "fixed-point linear scorer per label over shared hashed "
    "bag-of-words buckets, generalizing the binary "
    "quality_classifier_gate): every document scores one exact integer "
    "per class (ONE rolling-hash per token, let-bound across the three "
    "element_at lookups) and labels by argmax with the max-of-struct "
    "lexicographic tie rule — identical semantics in Spark and DuckDB, "
    "so per-label counts AND all three per-class score sums sit under "
    "one hash. One explode + one map-side-combinable integer "
    "aggregation on the doc id; weight tables are plan literals, "
    "never a join.",
)
def lang_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import hashed_multiclass_scores

    docs = load(spark, sf_dir, "documents")
    scored = hashed_multiclass_scores(docs, _LANG_WEIGHTS)
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score_de").cast("long").alias("sum_de"),
        F.sum("score_en").cast("long").alias("sum_en"),
        F.sum("score_unk").cast("long").alias("sum_unk"),
    )


# --- char-n-gram (CJK-capable) language ID ---------------------------------
# Weights trained BY CONSTRUCTION (no RNG): each class's weight array
# marks the hashed char-2/3-gram buckets its script's fixture corpus
# (the k=0..99 digit range the fixture texts actually span) occupies
# with +400 and everything else with -100 — the same arrays inline into
# both engines as literals. tests/test_llmprep.py proves the point of
# the feature family: on held-out digit ranges the WORD-bucket model
# mislabels ~half the unsegmented-script docs (one giant unseen token
# per line) while the char model stays perfect.


def _cjk_fixture_text(k: int, cls: str) -> str:
    return {
        "zh": f"中文网页内容第{k}页",
        "th": f"หน้าเว็บไทย {k}",
        "en": f"english web page {k}",
    }[cls]


def _cjk_weights() -> dict[str, list[int]]:
    n = 256  # hash buckets
    p = 1_000_000_007

    def rh(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % p
        return h

    def grams(text: str):
        t2 = text.replace(" ", "_")
        for nn in (2, 3):
            for i in range(len(t2) - nn + 1):
                yield rh(" ".join(t2[i : i + nn])) % n

    out = {}
    for cls in ("en", "th", "zh"):
        hit = {
            b
            for k in range(100)
            for b in grams(_cjk_fixture_text(k, cls))
        }
        out[cls] = [400 if b in hit else -100 for b in range(n)]
    return out


_CJK_WEIGHTS = _cjk_weights()


def _cjk_oracle() -> str:
    n = len(_CJK_WEIGHTS["en"])
    classes = sorted(_CJK_WEIGHTS)
    lookups = ",\n         ".join(
        f"([{', '.join(str(w) for w in _CJK_WEIGHTS[c])}])"
        f"[(rh % {n}) + 1]::BIGINT AS w_{c}"
        for c in classes
    )
    structs = ", ".join(f"{{'s': s_{c}, 'c': '{c}'}}" for c in classes)
    sums = ", ".join(f"SUM(w_{c})::BIGINT AS s_{c}" for c in classes)
    outs = ", ".join(f"SUM(s_{c})::BIGINT AS sum_{c}" for c in classes)
    return f"""
WITH t AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN '中文网页内容第' || (doc_id % 100)::VARCHAR || '页'
           WHEN 1 THEN 'หน้าเว็บไทย ' || (doc_id % 100)::VARCHAR
           ELSE 'english web page ' || (doc_id % 100)::VARCHAR
         END AS text
  FROM documents
), c AS (
  SELECT doc_id, replace(text, ' ', '_') AS t2 FROM t
), rh AS (
  SELECT doc_id, unnest(list_concat(
    list_transform(range(1, length(t2)), i ->
      ((ascii(substr(t2, i, 1))::BIGINT * 31 + 32) * 31
        + ascii(substr(t2, i + 1, 1))) % 1000000007),
    list_transform(range(1, length(t2) - 1), i ->
      ((((ascii(substr(t2, i, 1))::BIGINT * 31 + 32) * 31
          + ascii(substr(t2, i + 1, 1))) * 31 + 32) * 31
          + ascii(substr(t2, i + 2, 1))) % 1000000007)
  )) AS rh FROM c
), w AS (
  SELECT doc_id,
         {lookups}
  FROM rh
), s AS (
  SELECT doc_id, {sums} FROM w GROUP BY 1
), lbl AS (
  SELECT doc_id, s_en, s_th, s_zh,
         list_max([{structs}]).c AS label
  FROM s
)
SELECT label, COUNT(*) AS n_docs, {outs}
FROM lbl GROUP BY 1
"""


@register(
    "lang_classifier_cjk_gate",
    oracle=_cjk_oracle(),
    doc="Char-n-gram language-ID gate (operators/llmprep."
    "hashed_multiclass_scores features='char' over operators/text."
    "char_shingle_hash_stream — fastText lid.176's ACTUAL feature "
    "set): documents become mixed-script fixtures (Chinese / Thai / "
    "English by doc_id%3, digits varying by doc_id%100) that "
    "whitespace-tokenize as ONE giant word per CJK line — the word-"
    "bucket model is structurally blind to them (tests/test_llmprep.py "
    "pins ~half the held-out CJK docs mislabeled) while the char "
    "2/3-gram stream separates the scripts perfectly. Per-label doc "
    "counts and all three per-class exact-integer score sums replay in "
    "SQL from the closed-form n-gram hash (BMP contract: Spark ascii "
    "reads the first UTF-16 unit, DuckDB the code point — equal where "
    "CJK/Thai live). One explode (the Generate boundary the composed "
    "shingle arrays need), one map-side-combinable integer agg on the "
    "doc id; weight tables are plan literals.",
)
def lang_classifier_cjk_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llmprep import hashed_multiclass_scores

    d = F.col("doc_id")
    k = (d % 100).cast("string")
    text = (
        F.when(d % 3 == 0, F.concat(F.lit("中文网页内容第"), k, F.lit("页")))
        .when(d % 3 == 1, F.concat(F.lit("หน้าเว็บไทย "), k))
        .otherwise(F.concat(F.lit("english web page "), k))
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", text.alias("text"))
    scored = hashed_multiclass_scores(docs, _CJK_WEIGHTS, features="char")
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score_en").cast("long").alias("sum_en"),
        F.sum("score_th").cast("long").alias("sum_th"),
        F.sum("score_zh").cast("long").alias("sum_zh"),
    )
