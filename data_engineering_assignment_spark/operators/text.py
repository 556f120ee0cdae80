"""Text-analysis operators for large-scale document pipelines.

All hot-path logic uses built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs — so these scale linearly with
partitions and never cross the Python boundary. Tokenization is plain
whitespace split; higher-order functions do per-token work in place of the
reference's driver-side ``Counter`` post-processing
(Assignment-python.py:781-805, replaced per SURVEY.md section 2.4 A13).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import dround

# Tiny deterministic English stopword list used by the heuristics.
STOPWORDS = ["a", "the", "of", "and", "to", "in", "is", "it"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of a single-space-separated text column."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count() -> Column:
    """Number of whitespace tokens of ``text``."""
    return F.size(tokens("text")).cast("long")


def stopword_ratio() -> Column:
    """Fraction of the tokens of ``text`` that are stopwords (language-ID
    signal).

    dround, not plain F.round: these ratios feed oracle-gated queries, and
    integer quotients land on exact .xxxx5 midpoints where Spark's
    round-exact-binary diverges from DuckDB's multiply-then-round.
    """
    toks = tokens("text")
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    return dround(stops / F.size(toks).cast("double"), 4)


def predict_lang() -> Column:
    """N-gram-free language ID heuristic over ``text``: English iff
    stopword density high."""
    return F.when(stopword_ratio() >= 0.05, F.lit("en")).otherwise(F.lit("unk"))


def fingerprint(text: Column | str) -> Column:
    """Stable 128-bit content fingerprint (hex) for exact dedup / lineage."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c.cast("binary"))


# BPE-style pre-tokenization classes: letter runs, digit runs, single
# non-space symbols (the GPT-2 pre-tokenizer shape, minus contractions —
# chosen so Java and RE2 regex dialects agree exactly).
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def regex_tokens() -> Column:
    """Regex (BPE-ish) tokens of ``text`` — JVM-side regexp_extract_all."""
    return F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)


ROLLING_BASE = 31
ROLLING_MOD = 1_000_000_007


def rolling_hash(text: Column | str) -> Column:
    """Polynomial rolling hash of the character stream:
    ``h = (h*31 + ascii(char)) mod 1e9+7`` — a deterministic 31-bit document
    fingerprint computable identically in any engine (unlike xxhash64).
    JVM-side fold; values stay < 2^35 so ANSI arithmetic never overflows.
    """
    c = F.col(text) if isinstance(text, str) else text
    # fold over split-to-chars: one pass per document. (A sequence(1, len) +
    # substring(c, i, 1) formulation is quadratic — each substring re-seeks
    # from the string start.) ascii('') = 0, so the empty-text edge matches
    # the oracle's empty-range fold (hash 0).
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * ROLLING_BASE + F.ascii(ch)) % ROLLING_MOD,
    )


def shingle_hash_stream(
    df: DataFrame,
    n: int = 3,
    id_cols: tuple[str, ...] = ("doc_id",),
    text_col: str = "text",
    out_col: str = "rh",
    distinct: bool = True,
    with_pos: bool = False,
) -> DataFrame:
    """(*id_cols, ``out_col``) stream — one row per word ``n``-gram shingle
    — carrying the shingle's rolling hash, WITHOUT building the shingle
    strings. Per-token (hash, 31^len mod p) pairs are computed in one pass
    over the document's characters, then each shingle's hash is COMPOSED
    by pure modular arithmetic —

        h(s + ' ' + t) = ((h(s)*31 + 32) % p * 31^len(t) + h(t)) % p

    — which equals ``rolling_hash(concat_ws(' ', slice(toks, i, n)))``
    exactly (asserted in tests), so every SQL oracle written against the
    string formulation stays valid. The point is cost: the string path
    folds ~n*len(token) chars per POSITION (each char visited n times
    across overlapping shingles) and builds a ~6n-char string per shingle;
    this path folds each char ONCE per document and does n-1 fused
    multiply-adds per shingle — measured 3x faster at n=5, and the gap
    widens with n. All intermediates stay < 2^60, so ANSI bigint
    arithmetic never overflows.

    This is deliberately a DataFrame transformer that EXPLODES, not a
    Column expression: the per-token arrays MUST sit behind an optimizer
    boundary, because as inline expressions Catalyst substitutes the whole
    array-building transform into every ``element_at`` inside the
    composition lambda — re-deriving the token hashes once per (position,
    offset), a measured ~100x blowup (the ``withColumn(expensive)``
    inlining trap from CLAUDE.md, in lambda form; a plain two-Project
    formulation re-collapses into the same trap). Generate is the one
    boundary CollapseProject cannot cross, so the helper emits the stream
    every consumer wants anyway; pinned by a plan test.

    Hashes are per-doc-distinct by default (matching
    ``dedup.word_shingles``); documents with < n tokens emit no rows.
    """
    step1 = _token_hash_projection(df, id_cols, text_col, need_pow=n > 1)
    sh = _composed_shingles(n)
    if with_pos:
        # positional stream: (ids, pos, rh) with pos the 0-based shingle
        # START token index — the exact-substring-dedup span input.
        # Incompatible with distinct (positions are inherently multiset).
        if distinct:
            raise ValueError("with_pos requires distinct=False")
        out = F.when(F.col("__nt") >= n, sh).otherwise(
            F.array().cast("array<long>")
        )
        return step1.select(
            *id_cols, F.posexplode(out).alias("pos", out_col)
        )
    if distinct:
        sh = F.array_distinct(sh)
    out = F.when(F.col("__nt") >= n, sh).otherwise(F.array().cast("array<long>"))
    return step1.select(*id_cols, F.explode(out).alias(out_col))


def _token_hash_projection(
    df: DataFrame, id_cols: tuple[str, ...], text_col: str, need_pow: bool = True
) -> DataFrame:
    """The one-char-fold-per-document projection shared by the shingle
    streams: per-token rolling hashes ``__hs``, per-token 31^len powers
    ``__pw`` (skipped for unigram-only callers), and the token count
    ``__nt``. Callers MUST put a Generate (explode) between this Project
    and any element_at over the arrays — see shingle_hash_stream."""
    p = ROLLING_MOD
    toks = tokens(text_col)
    hs = F.transform(
        toks,
        lambda t: F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * ROLLING_BASE + F.ascii(ch)) % p,
        ),
    )
    cols = [hs.alias("__hs")]
    if need_pow:
        pw = F.transform(
            toks,
            lambda t: F.when(F.length(t) == 0, F.lit(1).cast("long")).otherwise(
                F.aggregate(
                    F.split(t, ""),
                    F.lit(1).cast("long"),
                    lambda acc, ch: (acc * ROLLING_BASE) % p,
                )
            ),
        )
        cols.append(pw.alias("__pw"))
    return df.select(*id_cols, *cols, F.size(toks).alias("__nt"))


def _composed_shingles(n: int) -> Column:
    """Array of composed shingle hashes for one ``n`` over the
    ``_token_hash_projection`` columns (``__hs``/``__pw``/``__nt``)."""
    p = ROLLING_MOD
    HS, NT = F.col("__hs"), F.col("__nt")

    def compose(i):
        # i is the 0-based shingle start; element_at is 1-based
        first = F.element_at(HS, i + 1)
        if n == 1:
            return first
        PW = F.col("__pw")
        rest = F.sequence(i + F.lit(2), i + F.lit(n))
        return F.aggregate(
            rest,
            first,
            lambda acc, j: (
                (acc * ROLLING_BASE + 32) % p * F.element_at(PW, j)
                + F.element_at(HS, j)
            )
            % p,
        )

    return F.transform(F.sequence(F.lit(0), NT - n), compose)


def multi_shingle_hash_stream(
    df: DataFrame,
    ns: tuple[int, ...],
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Fused multi-order shingle stream: one row per word ``n``-gram for
    EVERY ``n`` in ``ns``, all composed from a SINGLE per-document character
    fold. Calling ``shingle_hash_stream`` once per order folds every
    document's characters len(ns) times — the char fold dominates (it is
    the DSIR profile's whole cost), so the fused emitter is ~len(ns)× less
    per-doc CPU for multi-order consumers (hashed unigram+bigram features).
    Values are bit-identical to concatenating the per-order streams with
    ``distinct=False`` (asserted in tests), so oracles written against the
    string hash family stay valid. Emission is multiset (no per-doc
    distinct): the fused consumers count occurrences."""
    step1 = _token_hash_projection(
        df, id_cols, "text", need_pow=max(ns) > 1
    )
    NT = F.col("__nt")
    parts = [
        F.when(NT >= n, _composed_shingles(n)).otherwise(
            F.array().cast("array<long>")
        )
        for n in ns
    ]
    out = parts[0] if len(parts) == 1 else F.concat(*parts)
    return step1.select(*id_cols, F.explode(out).alias("rh"))


def char_shingle_hash_stream(df: DataFrame) -> DataFrame:
    """Character n-gram hash stream — the unsegmented-script feature
    family (fastText's ACTUAL lid.176 features are char n-grams, not
    words: Chinese/Japanese/Thai pages whitespace-tokenize as one giant
    "word" per line, so any word-bucket model is structurally blind to
    them). One row per char ``n``-gram for every ``n`` in ``ns``, value
    = the rolling hash of the n-gram's chars joined by ' ' — i.e. the
    stream is bit-identical to ``multi_shingle_hash_stream`` run over a
    text whose every character is its own token (spaces first replaced
    by ``_`` so word boundaries stay a feature), which is
    exactly how it is built: each char-token's hash is its code point
    (BMP contract: Spark's ``ascii`` reads the first UTF-16 unit and
    DuckDB's the code point — equal on the Basic Multilingual Plane,
    where CJK/Thai live; astral chars would diverge, the documented
    rolling-hash boundary) and every 31^len power is the constant 31,
    so the per-token char folds collapse away and only the shingle
    composition remains. Emission is multiset (no per-doc distinct);
    documents shorter than min(ns) chars emit no rows."""
    ns = (2, 3)
    chars = F.split(
        F.regexp_replace(F.col("text"), " ", "_"), ""
    )
    hs = F.transform(chars, lambda ch: F.ascii(ch).cast("long"))
    pw = F.transform(chars, lambda ch: F.lit(ROLLING_BASE).cast("long"))
    step1 = df.select(
        "doc_id",
        hs.alias("__hs"),
        *([pw.alias("__pw")] if max(ns) > 1 else []),
        F.size(chars).alias("__nt"),
    )
    NT = F.col("__nt")
    parts = [
        F.when(NT >= n, _composed_shingles(n)).otherwise(
            F.array().cast("array<long>")
        )
        for n in ns
    ]
    out = parts[0] if len(parts) == 1 else F.concat(*parts)
    return step1.select("doc_id", F.explode(out).alias("rh"))


def with_text_stats(df: DataFrame) -> DataFrame:
    """Attach the full text-statistics column set (narrow, no shuffle).

    The token array is projected ONCE and every stat derives from it —
    composing the per-stat helpers directly would re-split the text ~8×
    per row (each helper inlines its own ``tokens(text)``); same values,
    half the row work. Downstream arithmetic is kept bit-identical to the
    helpers (rounded stop_ratio feeds quality and pred_lang, as before).
    """
    toks = F.col("_toks")
    n = F.size(toks)
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    sr = dround(stops / n.cast("double"), 4)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    )
    out = (
        df.withColumn("_toks", tokens("text"))
        .withColumn("token_count", n.cast("long"))
        .withColumn("uniq_tokens", F.size(F.array_distinct(toks)).cast("long"))
        .withColumn("stop_ratio", sr)
        .withColumn("avg_token_len", dround(total_len.cast("double") / n.cast("double"), 4))
    )
    tc = F.col("token_count").cast("double")
    length_credit = F.least(F.lit(1.0), tc / F.lit(100.0))
    stop_credit = F.least(F.lit(1.0), F.col("stop_ratio") * F.lit(10.0))
    return (
        out.withColumn("quality", dround(length_credit * stop_credit, 4))
        .withColumn(
            "pred_lang",
            F.when(F.col("stop_ratio") >= 0.05, F.lit("en")).otherwise(F.lit("unk")),
        )
        .drop("_toks")
    )
