"""Training-data preparation operators for LLM-scale corpora: deterministic
sampling / source mixing, benchmark decontamination, PII redaction, sequence
packing, and repetition statistics.

Every operator is engine-portable column arithmetic (so a SQL oracle can
reproduce it bit-for-bit) and shuffle-disciplined:

  * sampling/mixing — narrow per-row predicate on a portable content hash
    (``text.rolling_hash``; xxhash64 has no cross-engine twin). Zero
    shuffles; the mixing-rate table is broadcast.
  * decontamination — shingle explode + equi-join on the shingle, the same
    linear-scale shape as the n-gram dedup verifier. The benchmark side is
    orders of magnitude smaller than the corpus and is broadcast.
  * PII redaction — one regexp pass per pattern, JVM-side.
  * sequence packing — a per-group running token total (one window sort)
    binned by capacity: the contiguous-greedy packing used by large
    pretraining pipelines (exact first-fit is inherently sequential; the
    contiguous variant is the deterministic, distributable one).
  * repetition stats — token explode + two-level aggregation (per-token
    counts, then per-doc max), the Gopher-style repetition signal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import dround
from .sketches import HASH_BUCKET_WIDTH
from .text import char_shingle_hash_stream, rolling_hash, tokens

# Engine-portable PII patterns: a regex subset valid in both Java regex
# (Spark) and RE2 (DuckDB) — no backrefs, no lookaround.
EMAIL_PATTERN = r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b555-[0-9]{2,8}\b"
# percent of each source quality_percentile_gate keeps, read by its oracle
QUALITY_KEEP_PCT = 80


def hash_bucket() -> Column:
    """Deterministic [0, 100) bucket from document content — the
    reproducible substitute for ``rand()`` sampling: the same document lands
    in the same bucket on every engine, every run, every partitioning.
    Reads ``text``."""
    return rolling_hash("text") % 100


def hash_sample(df: DataFrame, rate_pct: int) -> DataFrame:
    """Keep ~rate_pct% of rows by content-hash bucket (narrow, no shuffle)."""
    return df.filter(hash_bucket() < rate_pct)


def capped_per_key_sample(df: DataFrame, key_col: str, cap: int) -> DataFrame:
    """Keep at most ``cap`` rows per key, chosen as the rows with the
    smallest values of ``h`` — the per-DOMAIN contribution cap
    every production corpus applies (C4/Dolma bound how much one host
    contributes) as a deterministic function of content, not a random
    sample: the same rows survive on every engine, every run, every
    partitioning. ``h`` is a caller-computed deterministic order
    value (``sketches.id_hash`` for integer ids, ``text.rolling_hash``
    for strings).

    Scale shape (the kmv_bottomk trick generalized to sampling): the
    cap-th smallest hash per key is located by
    ``quantiles.rank_values_pruned`` (histogram → locate → resolve — no
    per-key sort, no window over the hot host key), then ONE equi-join
    back keeps rows at or below the threshold. Keys with fewer than
    ``cap`` rows keep everything (NULL threshold). Ties AT the
    threshold value all survive (a deterministic superset — both the
    operator and any SQL replay use value-threshold semantics, so a
    boundary hash collision cannot diverge engines)."""
    from .quantiles import rank_values_pruned

    hash_col = "h"
    kth = rank_values_pruned(
        df.select(key_col, hash_col),
        hash_col,
        key_col,
        [("_cap_kth", 0, cap, 1)],
        bucket_width=HASH_BUCKET_WIDTH,
    )
    return (
        df.join(kth.select(key_col, "_cap_kth"), key_col)
        .filter(
            F.col("_cap_kth").isNull()
            | (F.col(hash_col) <= F.col("_cap_kth"))
        )
        .drop("_cap_kth")
    )


def mix_sources(
    df: DataFrame,
    rates: dict[str, int],
    default_pct: int = 0,
) -> DataFrame:
    """Per-source sampling rates (data mixing): source s keeps ~rates[s]% of
    its documents, deterministically. The rate table is a literal map lookup
    in the filter itself (rates are configuration, not data) — zero joins,
    zero shuffles, and the content-hash fold is evaluated exactly once per
    row. (An earlier broadcast-join formulation let Catalyst inline the
    ``_bucket`` projection into three consumers, tripling the per-char fold;
    a rates table too large for a literal map would want that join back.)"""
    mapping = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    rate = F.coalesce(mapping[F.col("source")], F.lit(default_pct))
    return df.filter(hash_bucket() < rate)


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    default_budget: int = 0,
) -> DataFrame:
    """Token-BUDGET data mixing: per source, keep documents in
    deterministic content-hash order until the source's token budget is
    filled — the "N billion tokens of web, M of code" recipe every
    pretraining mix specifies, as opposed to :func:`mix_sources`' rate
    percentages. A document is kept iff the token mass of every document
    BEFORE it (in (rolling_hash(text), id) order) is still under budget,
    so the crossing document is included and the kept set is an exact
    deterministic prefix on every engine and partitioning.

    Scale shape (the quality_percentile_gate discipline): the per-source
    cumulative is NEVER a row window over the source (a content key — one
    dominant source would pin its whole history in one sort task).
    Instead: (1) histogram — token/doc sums per (source, hash-bucket),
    map-side combinable; (2) locate — cumulative over the per-source
    BUCKET table (≤ 4096 rows per source) finds the bucket where the
    budget crossing lands; (3) resolve — only that bucket's rows
    (expected corpus/4096) get the exact within-bucket window.
    Bucket boundaries are monotone in the hash, so the bucket-prefix +
    within-bucket order equals the global (hash, id) order.

    Output: (source, budget, n_docs, tokens_total, n_kept, tokens_kept).
    Budgets over the source total keep everything; non-positive budgets
    keep nothing."""
    from .text import ROLLING_MOD, rolling_hash

    width = -(-ROLLING_MOD // 4096)
    mapping = F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])
    budget = F.coalesce(mapping[F.col("_src")], F.lit(int(default_budget))).cast(
        "long"
    )
    e = df.select(
        F.col("source").alias("_src"),
        F.col("doc_id").alias("_id"),
        F.size(tokens("text")).cast("long").alias("_nt"),
        rolling_hash("text").alias("_h"),
    ).withColumn("_b", F.floor(F.col("_h") / F.lit(width)).cast("int"))
    hist = e.groupBy("_src", "_b").agg(
        F.sum("_nt").alias("_bt"), F.count(F.lit(1)).alias("_bc")
    )
    wb = (
        Window.partitionBy("_src")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    located = (
        hist.withColumn("_tokb", F.coalesce(F.sum("_bt").over(wb), F.lit(0)))
        .withColumn("_docb", F.coalesce(F.sum("_bc").over(wb), F.lit(0)))
        .withColumn("_budget", budget)
    )
    target = located.filter(
        (F.col("_tokb") < F.col("_budget"))
        & (F.col("_tokb") + F.col("_bt") >= F.col("_budget"))
    ).select("_src", "_b", "_tokb", "_docb", "_budget")
    wr = (
        Window.partitionBy("_src")
        .orderBy(F.col("_h").asc(), F.col("_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    resolved = (
        e.join(target, ["_src", "_b"])
        .withColumn("_win", F.coalesce(F.sum("_nt").over(wr), F.lit(0)))
        .withColumn("_keep", (F.col("_tokb") + F.col("_win")) < F.col("_budget"))
        .groupBy("_src")
        .agg(
            F.max("_tokb").alias("_tokb"),
            F.max("_docb").alias("_docb"),
            F.sum(F.col("_keep").cast("long")).alias("_kin"),
            F.sum(F.when(F.col("_keep"), F.col("_nt")).otherwise(F.lit(0))).alias(
                "_tin"
            ),
        )
    )
    totals = hist.groupBy("_src").agg(
        F.sum("_bc").alias("n_docs"), F.sum("_bt").alias("tokens_total")
    )
    return (
        totals.withColumn("_budget", budget)
        .join(resolved, "_src", "left")
        .select(
            F.col("_src").alias("source"),
            F.col("_budget").alias("budget"),
            "n_docs",
            "tokens_total",
            F.when(F.col("_budget") <= 0, F.lit(0))
            .otherwise(
                F.coalesce(F.col("_docb") + F.col("_kin"), F.col("n_docs"))
            )
            .cast("long")
            .alias("n_kept"),
            F.when(F.col("_budget") <= 0, F.lit(0))
            .otherwise(
                F.coalesce(F.col("_tokb") + F.col("_tin"), F.col("tokens_total"))
            )
            .cast("long")
            .alias("tokens_kept"),
        )
    )


def decontaminate(train: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: train docs sharing any word ``n``-gram with
    the benchmark set → (doc_id, n_shared_shingles). Both sides stream the
    shingle's PORTABLE rolling hash (text.shingle_hash_stream — one char
    fold per doc, never an n-word string per position: the corpus-side
    string build was measured 2x the composed-hash stream, r7), so the
    broadcast map holds 8-byte longs and the SQL oracle hashes the same
    strings with the same family — a collision merges identically on both
    engines instead of hiding behind a string-vs-xxhash64 asymmetry.
    The benchmark side is deduplicated to distinct hashes and broadcast when
    small."""
    from .parallelism import ensure_min_parallelism
    from .text import shingle_hash_stream

    n = 5
    t_sh = shingle_hash_stream(ensure_min_parallelism(train), n=n).withColumnRenamed(
        "doc_id", "doc"
    )
    b_sh = shingle_hash_stream(benchmark, n=n, id_cols=()).select(
        "rh"
    ).distinct()
    # plain count, not count_distinct: the stream is per-doc-distinct and
    # the benchmark side is distinct — (doc, rh) pairs are unique, so the
    # distinct-expansion shuffle would be pure waste
    return (
        t_sh.join(F.broadcast(b_sh), on="rh")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def redact_pii(df: DataFrame) -> DataFrame:
    """Replace emails/phone numbers with typed placeholder tokens, keeping
    match counts for audit. Adds: n_emails, n_phones, redacted."""
    c = F.col("text")
    return (
        df.withColumn("n_emails", F.regexp_count(c, F.lit(EMAIL_PATTERN)))
        .withColumn("n_phones", F.regexp_count(c, F.lit(PHONE_PATTERN)))
        .withColumn(
            "redacted",
            F.regexp_replace(
                F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>"),
                PHONE_PATTERN,
                "<PHONE>",
            ),
        )
    )


# The Gopher required-stopword set (Rae et al. 2021, appendix A1.1 —
# the published heuristic-filter rule table reproduced by Dolma/DataTrove).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """Append the Gopher quality-filter rule flags (Rae et al. 2021,
    appendix A1.1 — the published heuristic rule set every modern
    pretraining pipeline starts from; Dolma and DataTrove reproduce the
    same table). One boolean per rule plus the conjunction
    ``gopher_pass``:

    * ``rule_word_count`` — word count in [50, 100000];
    * ``rule_mean_word_len`` — mean word length in [3, 10];
    * ``rule_symbol_ratio`` — (# + ellipsis) per word <= 0.1;
    * ``rule_bullet_lines`` — <= 90% of lines start with a bullet;
    * ``rule_ellipsis_lines`` — <= 30% of lines end with '...';
    * ``rule_alpha_words`` — >= 80% of words contain a letter;
    * ``rule_stopwords`` — >= 2 distinct required stopwords present.

    Scale shape: every rule is ONE pass of JVM column expressions over
    the text (split / filter / translate / replace — whole-stage
    codegen, zero Python, zero shuffle). All fraction thresholds are
    integer CROSS-MULTIPLICATIONS (``10*symbols <= words``), so there is
    no float surface and a SQL oracle replays the rules bit-for-bit.
    Words split on spaces AND newlines with EMPTY tokens dropped (runs
    of whitespace / blank lines are separators, not zero-length
    "words" — matching the published Gopher whitespace tokenization);
    lines split on newlines."""
    c = F.col("text")
    words = F.filter(
        F.split(F.replace(c, F.lit("\n"), F.lit(" ")), " "),
        lambda w: w != "",
    )
    lines = F.split(c, "\n")
    n_words = F.size(words).cast("long")
    n_lines = F.size(lines).cast("long")
    # total word chars == length with separators removed (one translate,
    # no per-token fold)
    word_chars = F.length(F.translate(c, " \n", "")).cast("long")
    n_hash = (
        F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ).cast("long")
    # non-overlapping left-to-right replace in both engines; the length
    # difference is an exact multiple of 3, so the division is exact
    n_ellipsis = (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.startswith("-") | l.startswith("•"))
    ).cast("long")
    n_ell_lines = F.size(F.filter(lines, lambda l: l.endswith("..."))).cast(
        "long"
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast(
        "long"
    )
    n_stop = sum(
        F.array_contains(words, F.lit(s)).cast("int")
        for s in GOPHER_STOPWORDS
    )
    sym = n_hash + n_ellipsis
    return df.select(
        "*",
        n_words.alias("n_words"),
        ((n_words >= 50) & (n_words <= 100_000)).alias(
            "rule_word_count"
        ),
        (
            (3 * n_words <= word_chars) & (word_chars <= 10 * n_words)
        ).alias("rule_mean_word_len"),
        (sym * 10 <= n_words).alias("rule_symbol_ratio"),
        (n_bullet * 10 <= 9 * n_lines).alias("rule_bullet_lines"),
        (n_ell_lines * 10 <= 3 * n_lines).alias("rule_ellipsis_lines"),
        (n_alpha * 5 >= 4 * n_words).alias("rule_alpha_words"),
        (n_stop >= 2).alias("rule_stopwords"),
    ).withColumn(
        "gopher_pass",
        F.col("rule_word_count")
        & F.col("rule_mean_word_len")
        & F.col("rule_symbol_ratio")
        & F.col("rule_bullet_lines")
        & F.col("rule_ellipsis_lines")
        & F.col("rule_alpha_words")
        & F.col("rule_stopwords"),
    )


def pack_sequences(
    df: DataFrame, capacity: int, shards_per_group: int | None = None
) -> DataFrame:
    """Contiguous sequence packing: within each group (ordered
    deterministically), assign docs to fixed-capacity packs by running token
    count — ``pack_id = floor(cumulative_tokens_before / capacity)``.

    Contiguous packing is inherently sequential per group (each doc's pack
    depends on every earlier doc's length), so the group key bounds the
    unsplittable work. A language/source group key is a CONTENT key: at
    corpus scale one dominant language would pin its entire history in a
    single sort task. ``shards_per_group`` makes the key shardable — docs
    are packed within ``(group, rolling_hash(doc_id) % shards)``
    subgroups, each a deterministic, capacity-exact packing of its own doc
    subset, and ``pack_id`` is offset by ``shard * 2^40`` so ids stay
    unique across shards (2^40 packs ≈ 10^12 × capacity tokens per shard,
    unreachable). Training-data packing is order-agnostic across packs, so
    sharding only changes WHICH docs pack together, never the capacity
    discipline.

    Oversized docs (> capacity) still get a pack of their own rather than
    being dropped — filter upstream if truncation is the policy.
    """
    group_col = "lang"
    n_tok = F.size(tokens("text")).cast("long")
    with_tok = df.withColumn("n_tokens", n_tok)
    part_cols: list = [group_col]
    if shards_per_group is not None:
        with_tok = with_tok.withColumn(
            "_shard",
            F.pmod(rolling_hash(F.col("doc_id").cast("string")), F.lit(int(shards_per_group))),
        )
        part_cols.append("_shard")
    w = (
        Window.partitionBy(*part_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_pack = (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / capacity).cast("long")
    if shards_per_group is None:
        return with_tok.withColumn("pack_id", local_pack)
    return with_tok.withColumn(
        "pack_id", F.col("_shard") * F.lit(1 << 40) + local_pack
    ).drop("_shard")


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: token count, distinct
    tokens, distinct ratio, and the most-frequent token's share.

    Entirely narrow — zero shuffles. The most-frequent token's count is the
    longest run of equal elements in the SORTED token array, computed by a
    JVM-side fold (struct accumulator: previous token, current run, max
    run). The earlier explode → (doc, token) agg → per-doc agg formulation
    computed the same values through two shuffles of every token in the
    corpus; at 100 TB that shuffle IS the job, while this version is a pure
    map over documents."""
    toks = tokens("text")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mx"),
    )

    def step(acc, x):
        new_run = F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc.getField("mx"), new_run).alias("mx"),
        )

    # project the token array once; every stat derives from the reference
    # (tokenizing per-stat would re-split the text several times per row)
    t = df.select(F.col("doc_id"), toks.alias("_toks"))
    counted = t.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("long").alias("n_uniq"),
        F.aggregate(F.array_sort("_toks"), init, step, lambda acc: acc.getField("mx")).alias(
            "_top_tok_n"
        ),
    )
    return counted.select(
        "doc_id",
        "n_tokens",
        "n_uniq",
        dround(F.col("n_uniq").cast("double") / F.col("n_tokens").cast("double"), 4).alias(
            "uniq_ratio"
        ),
        dround(F.col("_top_tok_n").cast("double") / F.col("n_tokens").cast("double"), 4).alias(
            "top_tok_share"
        ),
    )


def _dup_run_fold(arr: Column) -> Column:
    """Fold a SORTED array of (key, chars) structs into duplicate-run
    totals: (dup_n, dup_chars, top_prod) where dup_n counts every
    occurrence belonging to a key seen >= 2 times, dup_chars weights those
    occurrences by their char length, and top_prod = max over keys of
    occurrences x chars (the Gopher "most frequent n-gram" mass). One
    JVM-side pass; equal keys are equal strings, so chars is constant
    within a run."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("pc"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dn"),
        F.lit(0).cast("long").alias("dc"),
        F.lit(0).cast("long").alias("top"),
    )

    def flush(acc):
        # totals if the current run ended here
        run, pc = acc.getField("run"), acc.getField("pc")
        is_dup = run >= 2
        return (
            F.when(is_dup, acc.getField("dn") + run).otherwise(acc.getField("dn")),
            F.when(is_dup, acc.getField("dc") + run * pc).otherwise(acc.getField("dc")),
            F.greatest(acc.getField("top"), run * pc),
        )

    def step(acc, x):
        same = x.getField("key") == acc.getField("prev")
        dn, dc, top = flush(acc)
        return F.struct(
            x.getField("key").alias("prev"),
            x.getField("chars").cast("long").alias("pc"),
            F.when(same, acc.getField("run") + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc.getField("dn")).otherwise(dn).alias("dn"),
            F.when(same, acc.getField("dc")).otherwise(dc).alias("dc"),
            F.when(same, acc.getField("top")).otherwise(top).alias("top"),
        )

    def finish(acc):
        dn, dc, top = flush(acc)
        return F.struct(dn.alias("dup_n"), dc.alias("dup_chars"), top.alias("top_prod"))

    return F.aggregate(arr, init, step, finish)


def intra_doc_repetition(df: DataFrame, para_tokens: int = 16) -> DataFrame:
    """Gopher-style INTRA-document repetition signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher" Table A1's repetition filters):
    per document, the fraction of duplicate paragraphs (16-token blocks
    repeated within the SAME doc, counting every occurrence), the char
    mass those duplicates cover, and the "most frequent n-gram" char
    fractions for word 2- and 3-grams — the quality-filter family that
    catches looping generations and boilerplate-stuffed pages.

    Entirely narrow — ZERO shuffles: blocks and n-grams are built, sorted
    and run-folded inside each row (the repetition_stats discipline;
    cross-doc paragraph dedup is :func:`corpus.paragraph_dedup_stats`'s
    job). Block strings partition the doc (O(chars)); overlapping 2/3-gram
    strings cost a bounded 2-3x char factor. Complements the cross-doc
    operators: a doc repeating ITSELF never needs corpus context.

    Output: (id, n_paras, dup_para_frac, dup_para_char_frac,
    top_bigram_char_frac, top_trigram_char_frac) — fractions dround(4);
    n-gram fractions are 0 for docs too short to form the gram."""
    # HOFs evaluate INTERPRETED (no codegen CSE), and CollapseProject
    # inlines a projected expression into every consumer — the naive
    # formulation rebuilt the token split ~8x and the block array ~5x per
    # row. Two counter-moves (measured ~3x wall on sf0.1): LET-BINDING via
    # a single-element transform (a lambda variable is a bound VALUE;
    # every reference reuses it, unlike an inlined expression), and the
    # one boundary CollapseProject cannot cross — Generate — between the
    # packed struct and the per-column field reads (the
    # text.shingle_hash_stream pattern).
    def build(tk: Column) -> Column:
        nt = F.size(tk)

        def blocks() -> Column:
            idx = F.sequence(F.lit(0), F.floor((nt - 1) / para_tokens).cast("int"))
            return F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.slice(tk, i * para_tokens + 1, para_tokens)
                ),
            )

        def grams(n: int) -> Column:
            return F.when(
                nt >= n,
                F.transform(
                    F.sequence(F.lit(0), nt - n),
                    lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))

        def keyed(arr: Column) -> Column:
            return F.array_sort(
                F.transform(
                    arr,
                    lambda x: F.struct(x.alias("key"), F.length(x).alias("chars")),
                )
            )

        para = F.get(
            F.transform(
                F.array(blocks()),  # let-bind the block array: built ONCE
                lambda blk: F.struct(
                    _dup_run_fold(keyed(blk)).alias("p"),
                    F.size(blk).cast("long").alias("n_paras"),
                    F.aggregate(
                        F.transform(blk, lambda b: F.length(b).cast("long")),
                        F.lit(0).cast("long"),
                        lambda a, x: a + x,
                    ).alias("pchars"),
                ),
            ),
            0,
        )
        return F.struct(
            para.alias("para"),
            _dup_run_fold(keyed(grams(2))).alias("g2"),
            _dup_run_fold(keyed(grams(3))).alias("g3"),
        )

    packed = F.get(F.transform(F.array(tokens("text")), build), 0)
    d = df.select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("_tc"),
        F.explode(F.array(packed)).alias("_s"),  # Generate: collapse-proof
    )
    s = F.col("_s")
    frac = lambda num, den: F.when(  # noqa: E731
        den > 0, dround(num.cast("double") / den.cast("double"), 4)
    ).otherwise(F.lit(0.0))
    para = s.getField("para")
    return d.select(
        "doc_id",
        para.getField("n_paras").alias("n_paras"),
        frac(
            para.getField("p").getField("dup_n"), para.getField("n_paras")
        ).alias("dup_para_frac"),
        frac(
            para.getField("p").getField("dup_chars"), para.getField("pchars")
        ).alias("dup_para_char_frac"),
        frac(s.getField("g2").getField("top_prod"), F.col("_tc")).alias(
            "top_bigram_char_frac"
        ),
        frac(s.getField("g3").getField("top_prod"), F.col("_tc")).alias(
            "top_trigram_char_frac"
        ),
    )


def quality_percentile_gate(df: DataFrame) -> DataFrame:
    """Per-group percentile quality gate: within each ``source``, keep the
    top :data:`QUALITY_KEEP_PCT`% of documents by ``quality`` score. The
    cut is pure integer arithmetic — ``n_kept = (n * QUALITY_KEEP_PCT)
    div 100`` — never a
    floating-point percentile, so the kept set is identical on every engine
    and partitioning.

    This is the relative counterpart to an absolute quality threshold:
    production filters cut the worst X% *per source* so a uniformly-noisy
    source is trimmed rather than deleted.

    Scale shape (the ``quantiles.rank_values_pruned`` pattern): the
    output depends only on each group's quality MULTISET — ``n_kept`` is a
    count and ``min_kept_quality`` is the k-th largest quality — so no
    per-row rank is needed. A per-row window partitioned by ``source``
    (a low-cardinality content key) would pin one unsplittable sort task
    per source at corpus scale; instead:

      1. histogram — groupBy (group, floor(quality / 0.01)):
         splittable, map-side combinable;
      2. locate — descending cumulative counts over the per-group BUCKET
         table (a window, but over the aggregate: rows per group =
         quality-range / 0.01, not the corpus) finds the bucket
         holding the k-th largest quality;
      3. resolve — join back only that bucket's rows, aggregate per
         (group, quality) value, and take the first descending crossing
         (window bounded by the bucket's distinct-value count).

    The outputs are tie-invariant, so no id tiebreak is needed.
    NULL-quality documents are excluded — from ``n_docs``,
    the cut computation, and the kept set (the old window formulation's
    MIN skipped NULLs implicitly; unexcluded, a NULL bucket could absorb
    the target rank and then silently drop out of the resolve join). The
    exclusion happens on the AGGREGATED histogram (drop the NULL bucket),
    not as a corpus-level pre-filter: ``quality`` is typically an
    expensive derived expression (with_text_stats inlines token splits),
    and a separate Filter operator evaluates it once more per row on top
    of the projection — codegen subexpression elimination shares the
    evaluation within one Project, but not across Filter + Project (the
    r6 pre-filter measured ~1.8x on the catalog query; probed solo,
    uncontended). The resolve join on ``_qb`` drops NULL rows for free
    (equi-join never matches NULL). Output: (source, n_docs, n_kept,
    min_kept_quality)."""
    keep_pct = QUALITY_KEEP_PCT
    bw = F.lit(0.01)
    e = df.select(
        F.col("source").alias("_g"),
        F.col("quality").alias("_q"),
        F.floor(F.col("quality") / bw).alias("_qb"),
    )
    hist = (
        e.groupBy("_g", "_qb")
        .agg(F.count(F.lit(1)).alias("_bc"))
        .filter(F.col("_qb").isNotNull())
    )
    wdesc = (
        Window.partitionBy("_g")
        .orderBy(F.col("_qb").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    located = hist.select(
        "_g",
        "_qb",
        "_bc",
        F.coalesce(F.sum("_bc").over(wdesc), F.lit(0)).alias("_before"),
        F.sum("_bc").over(Window.partitionBy("_g")).alias("_n"),
    ).withColumn("_k", F.expr(f"(_n * {int(keep_pct)}) div 100"))
    # the bucket containing the k-th largest quality (absent when k = 0)
    target = located.filter(
        (F.col("_before") < F.col("_k"))
        & (F.col("_before") + F.col("_bc") >= F.col("_k"))
    ).select("_g", "_qb", "_before", "_k")

    per_val = (
        e.join(target, ["_g", "_qb"])
        .groupBy("_g", "_q", "_before", "_k")
        .agg(F.count(F.lit(1)).alias("_vc"))
    )
    wval = (
        Window.partitionBy("_g")
        .orderBy(F.col("_q").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    qstar = (
        per_val.withColumn("_cum", F.sum("_vc").over(wval) + F.col("_before"))
        .filter(F.col("_cum") >= F.col("_k"))
        .groupBy("_g")
        .agg(F.max("_q").alias("min_kept_quality"))
    )
    totals = (
        hist.groupBy("_g")
        .agg(F.sum("_bc").alias("n_docs"))
        .withColumn("n_kept", F.expr(f"(n_docs * {int(keep_pct)}) div 100"))
    )
    return totals.join(qstar, "_g", "left").select(
        F.col("_g").alias("source"), "n_docs", "n_kept", "min_kept_quality"
    )


def dsir_affinity_topk(
    docs: DataFrame,
    target_sources: list[str],
    k: int = 64,
) -> DataFrame:
    """DSIR-inspired data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how much its hashed n-gram profile resembles a TARGET domain (here:
    the documents whose ``source`` is in ``target_sources``), and return
    the top-``k``. DSIR proper resamples by exp(sum of log-ratios); this
    engine is log-free by invariant (libm last-ulp drift breaks oracle
    gates), so the score is the linear analog — the count-weighted sum of
    smoothed frequency ratios

        affinity(d) = sum_b  c_d[b] * (tgt[b] * T_raw) / (T_tgt * (raw[b]+1))

    over 1024 hashed unigram+bigram buckets — rank-equivalent to
    DSIR's estimator under a first-order expansion and exactly
    SQL-expressible. Hashes are the portable rolling hash via
    text.multi_shingle_hash_stream: ONE char fold per document feeds both
    the n=1 and n=2 streams (multiset counts). The r7 formulation called
    shingle_hash_stream twice and folded every character twice — the fold
    was the whole profile (4.32×/decade CPU-bound, SCALE.md r7); the fused
    stream halves it.

    Shape: the feature stream is aggregated to (doc, source, bucket,
    count) FIRST — map-side combinable, the only shuffle of corpus-sized
    data — and THAT bounded table (≤ 1024 rows per doc) is
    localCheckpointed for its four consumers (per-doc-bucket counts,
    per-bucket raw and target counts, the two scalar totals). The r7
    formulation checkpointed the raw per-shingle stream and re-scanned it
    per consumer — 3 extra passes over ~2×tokens rows. Per-bucket weights
    are a BOUNDED table (1024 rows) — broadcast to the per-doc
    counts; the corpus never shuffles on a content key beyond the one
    bucket-count aggregation (1024 keys, never a window). Top-k
    is bounded FIRST (orderBy + limit = TakeOrderedAndProject), then
    ranked on the k-row set. The weight numerators/denominators are int64
    products kept < 2^53 so their double casts are exact on both engines
    (at 1e15+ features, lift them to DECIMAL(38) — documented headroom);
    per-element products are quantized to DECIMAL(27,6) and summed
    exactly (dsum), so scores are partitioning-independent.

    Output: (doc_id, affinity, rnk), rnk 1..k, ties broken by doc_id.
    """
    from .aggregates import dsum
    from .text import multi_shingle_hash_stream

    stream = multi_shingle_hash_stream(
        docs, ns=(1, 2), id_cols=("doc_id", "source")
    )
    feats = (
        stream.select(
            "doc_id",
            "source",
            (F.col("rh") % 1024).cast("int").alias("bucket"),
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    is_tgt = F.col("source").isin(list(target_sources))
    totals = feats.agg(
        F.sum("c").alias("t_raw"),
        F.sum(F.when(is_tgt, F.col("c")).otherwise(F.lit(0))).alias("t_tgt"),
    )
    raw_b = feats.groupBy("bucket").agg(F.sum("c").alias("raw_n"))
    tgt_b = feats.filter(is_tgt).groupBy("bucket").agg(F.sum("c").alias("tgt_n"))
    num = (F.coalesce("tgt_n", F.lit(0)) * F.col("t_raw")).cast("double")
    den = ((F.col("raw_n") + 1) * F.col("t_tgt")).cast("double")
    weights = (
        raw_b.join(tgt_b, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            # CaseWhen guard: ANSI division would error on an empty target
            # set even though callers never pass one (CLAUDE.md invariant)
            F.when(F.col("t_tgt") > 0, num / den).alias("wt"),
        )
    )
    # doc_id determines source, so (doc_id, bucket) is already unique in feats
    db = feats.select("doc_id", "bucket", "c")
    scores = db.join(F.broadcast(weights), "bucket").groupBy("doc_id").agg(
        dsum(F.col("c") * F.col("wt"), "affinity", 6)
    )
    bounded = scores.orderBy(F.desc("affinity"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("affinity"), F.asc("doc_id"))
    return bounded.withColumn("rnk", F.row_number().over(w).cast("long"))


def hashed_linear_scores(df: DataFrame, weights: list[int]) -> DataFrame:
    """fastText-shape document quality classifier, engine-native: the
    model-based filter of the CCNet/RefinedWeb triple (beside the
    heuristic gates in operators/text.py and the bigram-LM perplexity
    score in operators/corpus.py). Each token hashes into one of
    ``len(weights)`` buckets via the portable rolling hash (the CMS
    family — reproducible in any engine) and the document score is the
    exact INTEGER sum of its tokens' bucket weights — a hashed
    bag-of-words linear model with FIXED-POINT weights (scaled ints,
    e.g. micro-units), trained offline and shipped as literals like the
    JL projection coefficients (operators/projection.py discipline).

    Fixed-point rather than float is what makes the score exact and
    order-free: an integer sum is identical under any partitioning and
    any engine, so the keep/drop margin (score >= 0) is deterministic —
    no float-accumulation-order surface at 1000 executors. Output:
    (doc_id, score). One explode + one map-side-combinable integer
    aggregation keyed by the document id (entity key, AQE-splittable);
    the weight table is a literal array in the plan, never a join."""
    n = len(weights)
    warr = F.array(*[F.lit(int(w)).cast("long") for w in weights])
    tok = df.select("doc_id", F.explode(tokens("text")).alias("tok"))
    scored = tok.select(
        "doc_id",
        F.element_at(
            warr, (rolling_hash("tok") % n + 1).cast("int")
        ).alias("wt"),
    )
    return scored.groupBy("doc_id").agg(
        F.sum("wt").cast("long").alias("score")
    )


def hashed_multiclass_scores(
    df: DataFrame,
    class_weights: dict[str, list[int]],
    features: str = "word",
) -> DataFrame:
    """Multi-class fastText-shape classifier — the language-ID /
    domain-ID generalization of :func:`hashed_linear_scores` (fastText's
    actual lid.176 shape: one linear scorer per label over shared
    hashed bag-of-words features). Each class contributes one
    fixed-point weight array over the SAME token-hash buckets; a
    document gets one exact integer score per class (``score_<c>``
    columns) and ``label`` = the argmax class, ties to the
    lexicographically GREATEST class name — max-of-struct, identical
    lexicographic semantics in Spark and DuckDB (the winnow tie-rule
    discipline), so the label is deterministic under any partitioning
    and fully oracle-replayable.

    ``features`` selects the hashed feature family: ``"word"`` (the
    default — whitespace tokens, fine for space-segmented scripts) or
    ``"char"`` — character 2- and 3-gram hashes via
    :func:`~.text.char_shingle_hash_stream`, fastText lid.176's actual
    feature set and the one that works on UNSEGMENTED scripts
    (Chinese/Japanese/Thai whitespace-tokenize as one giant "word" per
    line, making every word-bucket model structurally blind to them;
    the char stream sees their script's n-grams directly). Char mode
    emits no rows for documents shorter than 2 chars, so
    such documents are absent from the output — mirror that in oracles.

    Scale shape: one explode, ONE rolling-hash evaluation per feature
    (word mode let-binds it via the single-element-transform idiom — k
    ``element_at`` lookups share the bucket value instead of re-hashing
    per class; char mode's explode already materializes the hash), one
    map-side-combinable integer aggregation on the document id. Weight
    tables are literal arrays in the plan."""
    classes = sorted(class_weights)
    if not classes:
        raise ValueError("class_weights is empty")
    n = len(class_weights[classes[0]])
    if any(len(class_weights[c]) != n for c in classes):
        raise ValueError("all classes need equally sized weight arrays")
    arrs = {
        c: F.array(*[F.lit(int(w)).cast("long") for w in class_weights[c]])
        for c in classes
    }
    if features == "char":
        stream = char_shingle_hash_stream(df)
        bucket = (F.col("rh") % n + 1).cast("int")
        scored = stream.select(
            "doc_id",
            F.struct(
                *[F.element_at(arrs[c], bucket).alias(c) for c in classes]
            ).alias("wt"),
        )
    elif features == "word":
        bucket = (rolling_hash("tok") % n + 1).cast("int")
        lookups = F.get(
            F.transform(
                F.array(bucket),
                lambda b: F.struct(
                    *[F.element_at(arrs[c], b).alias(c) for c in classes]
                ),
            ),
            0,
        )
        tok = df.select("doc_id", F.explode(tokens("text")).alias("tok"))
        scored = tok.select("doc_id", lookups.alias("wt"))
    else:
        raise ValueError(f"unknown feature family {features!r}")
    agg = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.col(f"wt.{c}")).cast("long").alias(f"score_{c}")
            for c in classes
        ]
    )
    label = F.greatest(
        *[F.struct(F.col(f"score_{c}").alias("s"), F.lit(c).alias("c")) for c in classes]
    )["c"] if len(classes) > 1 else F.lit(classes[0])
    return agg.select("doc_id", *[f"score_{c}" for c in classes],
                      label.alias("label"))
