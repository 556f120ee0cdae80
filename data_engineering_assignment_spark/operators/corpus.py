"""Corpus-level text operators: TF-IDF-style term weighting, fixed-stride
token chunking, boilerplate n-gram detection, and table profiling.

These extend the per-document statistics in ``operators/text.py`` with the
cross-document signals a training-data pipeline needs (RAG chunking, CCNet/
RefinedWeb-style boilerplate removal, salient-term extraction, ingest QA).

Shuffle discipline:

  * ``tfidf_top_terms`` — one (doc, token) aggregation, a partially-
    aggregated (token, df) table equi-joined back (AQE-skew-splittable,
    unlike a token-partitioned window), one window keyed by doc for the
    top-1; the corpus size joins in as a broadcast single row.
  * ``token_chunks`` — narrow: sequence + explode per row, zero shuffles.
    Chunk fan-out is bounded by ``ceil(n_tokens / stride)`` per document.
  * ``boilerplate_ngrams`` — shingle explode, a filtered boiler-key marker
    table left-joined back (size-decided, AQE-skew-splittable — a
    boilerplate shingle is by definition a hot key), ONE full shuffle
    keyed by doc.
  * ``profile_table`` — single full-scan aggregation; the multi-column
    ``count_distinct`` plans as one Expand pass (rows × columns). At
    100 TB swap ``exact=False`` in: ``approx_count_distinct`` drops the
    Expand for one HLL sketch per column.

The arithmetic is deliberately log-free: the rarity weight is
``tf * (n_docs/df)^2`` (squared idf) rather than ``tf * ln(n_docs/df)`` —
natural-log implementations differ in the last ulp across engines/libms,
and two mathematically-equal scores computed via ``ln`` can land on
different adjacent doubles per engine, silently flipping a rank ahead of
the deterministic tie-break. Multiplication and division are correctly
rounded IEEE ops, so the same expression tree is bit-identical everywhere.
The square keeps the idf term dominant: a corpus-unique term beats a
ubiquitous one even when the latter repeats within the document (a linear
``tf * n_docs/df`` scores tf=3,df=n_docs equal to tf=1,df=1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import dround
from .dedup import word_shingles
from .parallelism import ensure_min_parallelism
from .text import tokens


def tfidf_top_terms(df: DataFrame) -> DataFrame:
    """Most corpus-salient term per document: the token maximizing
    ``tf * (n_docs/df)^2`` (ties broken by token, so the result is
    total-order deterministic). Output: (id, top_term, tf, df, rarity)."""
    tok = df.select(F.col("doc_id").alias("doc"), F.explode(tokens("text")).alias("tok"))
    tf = tok.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # (doc, tok) rows are unique post-aggregation, so a per-token row count
    # IS the document frequency. Aggregate it into a (tok, df) table and
    # equi-join back rather than an unbounded window partitioned by token:
    # the aggregation gets a map-side partial combine, and AQE can split a
    # hot stop-word key in the join — a window partition is unsplittable, so
    # at corpus scale one stop-word token would pin a whole straggler task.
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    df_w = tf.join(dfreq, "tok")
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    # all-double chain (not long multiplication): overflow-free at any corpus
    # size, and IEEE mul/div make it bit-identical to the SQL twin
    nd = F.col("n_docs").cast("double")
    scored = df_w.crossJoin(F.broadcast(n_docs)).withColumn(
        "_score",
        (F.col("tf").cast("double") * nd * nd)
        / (F.col("df").cast("double") * F.col("df")),
    )
    top = Window.partitionBy("doc").orderBy(F.col("_score").desc(), F.col("tok"))
    return (
        scored.withColumn("_rn", F.row_number().over(top))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("doc").alias("doc_id"),
            F.col("tok").alias("top_term"),
            "tf",
            "df",
            dround(F.col("_score"), 4).alias("rarity"),
        )
    )


def token_chunks(df: DataFrame, size: int = 64, stride: int = 48) -> DataFrame:
    """Fixed-stride token chunks with overlap (``size - stride`` tokens),
    the RAG / context-window packing primitive. Narrow per-row explode —
    zero shuffles; every token lands in ≥1 chunk when ``stride <= size``.

    Output: (id, chunk_id, n_chunk_tokens, chunk_md5)."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    toks = tokens("text")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, size)
    return (
        df.select(
            F.col("doc_id"), toks.alias("_toks"), F.explode(starts).alias("_start")
        )
        .select(
            "doc_id",
            (F.col("_start") / stride).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_md5"),
        )
    )


def paragraph_dedup_stats(df: DataFrame, size: int = 16) -> DataFrame:
    """CCNet-style paragraph-level exact dedup accounting (Wenzek et al.
    2020, "CCNet: Extracting high quality monolingual datasets from web
    crawl data" — dedup at paragraph granularity by content hash, keep the
    first occurrence; also MassiveText/Gopher's repeated-paragraph filter).
    The synthetic corpus has no layout, so a "paragraph" is a
    non-overlapping ``size``-token block — the segmentation is a
    parameter, the dedup semantics are the point.

    Keep rule (deterministic, tie-invariant): a paragraph key survives at
    its globally first occurrence, ordered by (doc_id, para_idx); every
    later occurrence is dropped. Keys are md5 of the block text — the
    same hash-key dedup CCNet ships (their sha1-64), and the SQL oracle
    hashes identically so the gate is exact.

    Shape: the exploded (doc, para) stream carries only (ids, 32-char key,
    chars) and is MATERIALIZED (eager localCheckpoint, the
    boilerplate_ngrams discipline) because two branches consume it: the
    per-doc totals aggregation and the per-key firsts aggregation. The
    firsts winner is min(doc_id*2^20 + para_idx) — an integer argmin, no
    window over the content key (a viral paragraph would pin an
    unsplittable sorted partition; the aggregate is map-side-combinable
    and AQE-splittable). Kept mass is then attributed by grouping the
    ALREADY-AGGREGATED firsts by winner doc and equi-joining back on
    doc_id, an entity key. Bounds: para_idx < 2^20 by construction (a doc
    would need 16M tokens to overflow; lineage: _PIDX_CAP) and the encode
    needs doc_id < 2^43 to stay in bigint (ANSI mode errors loudly past
    it); the decode is an exact shiftright, never a double divide.

    Output: (doc_id, n_paras, n_kept, n_dropped, kept_char_ratio) —
    kept_char_ratio is this doc's surviving-paragraph chars over its total
    paragraph chars, the per-doc shrink a corpus-wide paragraph dedup
    would inflict.
    """
    stream = paragraph_stream(df, size).localCheckpoint(
        eager=True
    )
    totals = stream.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum("chars").alias("_total_chars"),
    )
    firsts = stream.groupBy("key").agg(
        F.min(F.col("doc_id") * _PIDX_CAP + F.col("para_idx")).alias("_code"),
        F.min("chars").alias("_chars"),  # chars is a function of the key
    )
    kept = (
        # exact long decode (shiftright = floor-div by 2^20 for the
        # non-negative code): a double divide would round doc_ids >= 2^33
        # before the cast and diverge from the oracle's integer //
        firsts.withColumn("doc_id", F.shiftright(F.col("_code"), 20))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n_kept"),
            F.sum("_chars").alias("_kept_chars"),
        )
    )
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_paras",
            F.coalesce("_n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_paras") - F.coalesce("_n_kept", F.lit(0))).alias("n_dropped"),
            F.when(
                F.col("_total_chars") > 0,
                dround(
                    F.coalesce("_kept_chars", F.lit(0)).cast("double")
                    / F.col("_total_chars").cast("double"),
                    4,
                ),
            ).alias("kept_char_ratio"),
        )
    )


DUP_SPAN_N = 8  # word n-gram width of the dup-span queries
_PIDX_CAP = 1 << 20  # paragraph-index headroom in the integer argmin code


def paragraph_stream(df: DataFrame, size: int = 16) -> DataFrame:
    """The (doc_id, para_idx, key, chars) paragraph-key stream — one row
    per ``size``-token block, md5-keyed. Checkpoint-free: the batch
    accounting (:func:`paragraph_dedup_stats`) materializes it for its
    two-consumer fan-out."""
    toks = tokens("text")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(F.col("_toks")) - 1, F.lit(0)), F.lit(size)
    )
    para = F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_start") + 1, size))
    return (
        df.select("doc_id", toks.alias("_toks"))
        .select("doc_id", F.col("_toks"), F.explode(starts).alias("_start"))
        .select(
            "doc_id",
            (F.col("_start") / size).cast("long").alias("para_idx"),
            F.md5(para.cast("binary")).alias("key"),
            F.length(para).cast("long").alias("chars"),
        )
    )


def boilerplate_ngrams(df: DataFrame, min_docs: int = 10) -> DataFrame:
    """CCNet-style boilerplate signal: per document, the fraction of its
    distinct word ``n``-grams that appear in ≥ ``min_docs`` documents
    corpus-wide (navigation chrome, license headers, templated text).

    Shape: the document-frequency aggregation is FILTERED to just the
    boiler keys (df >= min_docs — the small set of template shingles) and
    left-joined back as a marker; counting markers in the per-doc
    aggregation yields n_boiler. The full (doc, shingle) stream therefore
    shuffles exactly once (by doc) — never a window partitioned by shingle,
    where a boilerplate shingle (by definition present in most documents)
    would pin an unsplittable hot partition; the marker join is
    size-decided and AQE-skew-splittable. The hashed (doc, shingle) stream
    is MATERIALIZED (eager localCheckpoint) before fan-out so the explode
    runs exactly once — both consumers (df-aggregation branch and marker
    join probe side) read the checkpointed 16-byte rows instead of
    re-scanning and re-exploding the corpus. The xxhash64 is projected
    map-side BEFORE the checkpoint so the stored rows carry 8-byte longs,
    not n-word strings (a 64-bit collision would need ~2³² distinct
    shingles; the cross-engine oracle would catch one). On a cluster with
    preemptible executors swap localCheckpoint for
    ``persist(StorageLevel.DISK_ONLY)`` — same single-explode shape.
    Documents with < n tokens have no shingles and are absent from the
    output.

    Output: (id, n_shingles, n_boiler, boiler_ratio)."""
    n = 3
    sh = (
        ensure_min_parallelism(df).select(
            F.col("doc_id").alias("doc"),
            F.explode(word_shingles("text", n)).alias("shingle"),
        )
        .select("doc", F.xxhash64("shingle").alias("sh_h"))
        .localCheckpoint(eager=True)
    )
    boiler_keys = (
        sh.groupBy("sh_h")
        .agg(F.count(F.lit(1)).alias("df_sh"))
        .filter(F.col("df_sh") >= min_docs)
        .select("sh_h", F.lit(1).alias("_boiler"))
    )
    marked = sh.join(boiler_keys, "sh_h", "left")
    return (
        marked.groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_boiler").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            dround(
                F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double"), 4
            ).alias("boiler_ratio"),
        )
    )


def dup_span_stats(df: DataFrame) -> DataFrame:
    """Exact-substring-dedup signal (the n-gram approximation of Lee et
    al. 2022's suffix-array dedup): per document, the fraction of its word
    ``n``-gram START POSITIONS whose shingle also appears in at least one
    OTHER document — "how much of this doc is copied from elsewhere in the
    corpus", counting repeated spans at full multiplicity (unlike
    :func:`boilerplate_ngrams`, which scores DISTINCT shingles against a
    df >= min_docs template threshold).

    Shape mirrors boilerplate_ngrams: the positional (doc, shingle-hash)
    stream — explode WITHOUT array_distinct, one row per position — is
    materialized once (eager localCheckpoint, 8-byte hashed rows), then
    (a) reduced to distinct (doc, hash) for the cross-doc document
    frequency and (b) marker-joined against the df >= 2 key set. Both
    shuffles are hash-keyed equi-joins/aggregations (AQE-splittable);
    never a window over the shingle content key. Documents with < n
    tokens have no positions and are absent from the output.

    Output: (id, n_positions, n_dup_positions, dup_ratio)."""
    n = DUP_SPAN_N
    # token split LET-BOUND (word_shingles rationale): an inline `toks`
    # inside the lambda re-splits the text once per position
    sh_pos = F.get(
        F.transform(
            F.array(tokens("text")),
            lambda tk: F.when(
                F.size(tk) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - n),
                    lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        0,
    )
    stream = (
        ensure_min_parallelism(df)
        .select(F.col("doc_id").alias("doc"), F.explode(sh_pos).alias("shingle"))
        .select("doc", F.xxhash64("shingle").alias("sh_h"))
        .localCheckpoint(eager=True)
    )
    dup_keys = (
        stream.distinct()
        .groupBy("sh_h")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("sh_h", F.lit(1).alias("_dup"))
    )
    marked = stream.join(dup_keys, "sh_h", "left")
    return (
        marked.groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.count("_dup").alias("n_dup_positions"),
        )
        .select(
            "doc_id",
            "n_positions",
            "n_dup_positions",
            dround(
                F.col("n_dup_positions").cast("double")
                / F.col("n_positions").cast("double"),
                4,
            ).alias("dup_ratio"),
        )
    )


def dup_span_merged_stats(df: DataFrame, n: int = 8) -> DataFrame:
    """Span-MERGED exact-substring dedup accounting (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    deduplicate-text-datasets output shape): per document, the maximal
    duplicated REGIONS, not just the per-position sharing fraction that
    :func:`dup_span_stats` reports. A duplicated n-gram start position j
    covers tokens [j, j+n-1]; overlapping or contiguous covered ranges
    merge into one span (gap rule: a new span starts when j exceeds the
    previous start by more than ``n`` — i.e. at least one uncovered token
    between regions).

    Shape: the POSITIONAL hashed shingle stream (text.shingle_hash_stream
    with_pos — one char fold per doc, same hash family as the SQL oracle)
    is checkpointed once for its two consumers; duplicated keys (document
    frequency >= 2 over distinct (doc, hash)) mark positions by equi-join;
    the interval merge is two windows PARTITIONED BY THE ENTITY KEY
    (doc_id) over only the duplicated positions — bounded by doc length,
    never a content-key window. Docs with < n tokens emit no positions
    and are absent (the dup_span_stats convention).

    Output: (id, n_tokens, n_spans, dup_tokens, longest_span,
    removal_ratio) — removal_ratio = dup_tokens / n_tokens, what
    cut-the-spans removal would delete."""
    from .parallelism import ensure_min_parallelism
    from .text import shingle_hash_stream

    stream = shingle_hash_stream(
        ensure_min_parallelism(df),
        n=n,
        distinct=False,
        with_pos=True,
    ).withColumnRenamed("doc_id", "doc").localCheckpoint(eager=True)
    dup_keys = (
        stream.select("doc", "rh")
        .distinct()
        .groupBy("rh")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("rh")
    )
    dup_pos = stream.join(dup_keys, "rh").select("doc", "pos")
    w = Window.partitionBy("doc").orderBy("pos")
    islanded = (
        dup_pos.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") > F.col("_prev") + n),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_isl",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    spans = islanded.groupBy("doc", "_isl").agg(
        F.min("pos").alias("_s"), (F.max("pos") + (n - 1)).alias("_e")
    )
    span_len = F.col("_e") - F.col("_s") + 1
    per_doc = spans.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(span_len).alias("dup_tokens"),
        F.max(span_len).alias("longest_span"),
    )
    totals = stream.groupBy("doc").agg(
        (F.count(F.lit(1)) + (n - 1)).alias("n_tokens")
    )
    return (
        totals.join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce("longest_span", F.lit(0)).cast("long").alias("longest_span"),
            dround(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                4,
            ).alias("removal_ratio"),
        )
    )


def hybrid_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    terms: list[str],
    k_each: int = 20,
    k: int = 10,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused with Reciprocal Rank Fusion
    (Cormack et al. 2009): the BM25 top-``k_each`` for a literal term set
    and the exact-cosine top-``k_each`` for a query embedding are merged by

        rrf(d) = sum over legs of 1 / (k0 + rank_leg(d)),   k0 = 60

    — the standard production pattern for RAG retrieval (rank-based fusion
    needs no score calibration between the two spaces, and each 1/(k0+r)
    term is a single correctly-rounded IEEE division, so the fused score
    is bit-identical on any engine). Both legs are already bounded top-k
    tables, so the fusion is a full-outer join of two ≤ k_each-row frames
    and a TakeOrderedAndProject — driver-free and trivially scalable; the
    heavy lifting lives in the legs, each with its own scale discipline
    (bm25_topk, similarity.cosine_topk).

    Output: (doc_id, r_lex, r_sem, rrf, rnk) — ranks NULL for docs absent
    from a leg, rrf rounded to 6, rnk 1..k under (rrf DESC, doc_id ASC).
    """
    from .similarity import cosine_topk

    query_vec_id = 0
    lex = bm25_topk(docs, terms, k=k_each).select(
        F.col("doc_id").alias("_id"), F.col("rank").alias("r_lex")
    )
    q = embeddings.filter(F.col("vec_id") == query_vec_id)
    sem = cosine_topk(
        embeddings, q, k=k_each
    ).select(F.col("neighbor_id").alias("_id"), F.col("rnk").alias("r_sem"))
    kk = F.lit(60.0)
    rrf = F.coalesce(F.lit(1.0) / (kk + F.col("r_lex")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (kk + F.col("r_sem")), F.lit(0.0)
    )
    fused = lex.join(sem, "_id", "full_outer").select(
        F.col("_id").alias("doc_id"), "r_lex", "r_sem", dround(rrf, 6).alias("rrf")
    )
    bounded = fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return bounded.withColumn("rnk", F.row_number().over(w).cast("long"))


def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """Ingest-QA profile: one row per column with row/null/distinct counts.

    Single scan: all counts evaluate in one aggregation, then the one result
    row unpivots to long form driver-free (explode of a literal struct
    array). Exact ``count_distinct`` over k columns plans as an Expand
    (k× the scan rows); at extreme scale prefer ``approx_count_distinct``
    (one HLL per column, no Expand) and accept the ±2% estimate.

    Output: (column_name, n_rows, n_nulls, n_distinct)."""
    columns = columns or df.columns
    distinct = F.count_distinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in columns:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(distinct(c).alias(f"_nd_{c}"))
    one = df.agg(*aggs)
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.col("_rows").alias("n_rows"),
                    (F.col("_rows") - F.col(f"_nn_{c}")).alias("n_nulls"),
                    F.col(f"_nd_{c}").alias("n_distinct"),
                )
                for c in columns
            ]
        )
    )
    return one.select(stacked.alias("p")).select("p.*")


def build_vocab(df: DataFrame, top_v: int = 64) -> DataFrame:
    """Tokenizer-style vocabulary: the ``top_v`` most frequent tokens with
    contiguous ids 0..V-1 under the deterministic (count DESC, token ASC)
    total order. Output: (token_id, token, n_occ, n_docs).

    Scale shape: one (token, doc) aggregation then one (token) aggregation —
    both map-side combinable — feed an ``orderBy().limit(top_v)`` that plans
    as a distributed TakeOrderedAndProject over the vocabulary (each task
    keeps its local top-V; the driver merges V-sized heaps, never the
    vocabulary). Ids are then assigned by a row_number window whose input is
    the ALREADY-BOUNDED V-row set — the cms_token_counts pattern, not a
    global sort of the corpus vocabulary.
    """
    tok = df.select(
        F.col("doc_id").alias("doc"), F.explode(tokens("text")).alias("token")
    )
    td = tok.groupBy("token", "doc").agg(F.count(F.lit(1)).alias("_c"))
    counts = td.groupBy("token").agg(
        F.sum("_c").alias("n_occ"), F.count(F.lit(1)).alias("n_docs")
    )
    cand = counts.orderBy(F.desc("n_occ"), F.asc("token")).limit(top_v)
    w = Window.orderBy(F.desc("n_occ"), F.asc("token"))
    return cand.select(
        (F.row_number().over(w).cast("long") - 1).alias("token_id"),
        "token",
        "n_occ",
        "n_docs",
    )


def bpe_merge_pairs(df: DataFrame, k: int = 32) -> DataFrame:
    """The BPE merge-step primitive (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units"): count adjacent symbol
    pairs across the corpus, weighted by word frequency, and rank the
    top-``k`` merge candidates. Symbols here are the step-0 state
    (characters — each pair is a 2-char substring); iterating the training
    loop re-runs pair counting over the merged symbol sequences, which is
    work on the BOUNDED distinct-word table, not another corpus pass.

    Scale shape: the corpus is touched exactly once, by the word-frequency
    aggregation (map-side combinable); pair counting then runs on the
    vocabulary-sized distinct-word table with a per-word explode bounded
    by word length; top-k is bounded FIRST (orderBy + limit =
    TakeOrderedAndProject) and ranked on the k-row set (the
    cms_token_counts pattern). Words shorter than 2 symbols contribute no
    pairs and are filtered before the explode (also dodging Spark's
    DESCENDING sequence(1, 0) surprise).

    Output: (pair, n, rnk), rnk 1..k under (n DESC, pair ASC).
    """
    words = (
        df.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("tok") >= 2)
    )
    pairs = (
        words.select(
            "tok",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i"),
        )
        .select(F.col("tok").substr(F.col("i"), F.lit(2)).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    cand = pairs.orderBy(F.desc("n"), F.asc("pair")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return cand.withColumn("rnk", F.row_number().over(w).cast("long"))


def _merge_adjacent(sym_col, left: str, right: str):
    """Left-to-right non-overlapping merge of the adjacent symbol pair
    (``left``, ``right``) within one symbol array — the per-word step of a
    BPE merge (Sennrich et al. 2016's ``(?<!\\S)l r(?!\\S)`` replace,
    re-expressed as a JVM-side fold). Greedy-left semantics fall out of the
    accumulator shape: the merged symbol is ``left+right``, which can never
    equal ``left`` (``right`` is non-empty), so a freshly-merged tail can
    never seed an overlapping second merge. Array-append folds are O(len²)
    per word, bounded by token length."""
    merged = left + right

    def step(acc, x):
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right))
        )
        return F.when(
            can,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(sym_col, F.array().cast("array<string>"), step)


def bpe_train(df: DataFrame, k: int = 8, return_state: bool = False):
    """Iterated BPE training (Sennrich et al. 2016): run ``k`` merge steps,
    RECOUNTING adjacent symbol pairs after every merge, and return the
    ordered merge table — the artifact a tokenizer build ships. Extends the
    single-step ``bpe_merge_pairs`` primitive with the actual training loop.

    Per iteration: (1) count adjacent symbol pairs over the distinct-word
    table, weighted by word frequency; (2) take the argmax under the
    deterministic (n DESC, lhs ASC, rhs ASC) order; (3) merge that pair in
    every word's symbol sequence left-to-right non-overlapping
    (``_merge_adjacent``); (4) ``localCheckpoint`` the new state so lineage
    stays flat across iterations (the cc_star discipline).

    Scale shape: the corpus is touched exactly ONCE (the word-frequency
    aggregation); all ``k`` iterations run on the BOUNDED distinct-word
    table. The per-iteration argmax is ``orderBy().limit(1)`` — a
    distributed TakeOrderedAndProject; the driver holds one (lhs, rhs, n)
    row per iteration, never the vocabulary. Words of < 2 symbols carry no
    pairs and never change, so they are filtered from the state up front
    (identical outputs, smaller state).

    Output: (rnk 1..k, lhs, rhs, pair, n) — the merge table in training
    order. Stops early if the pair supply is exhausted. With
    ``return_state=True`` returns (merge table, final word state
    (tok, syms, freq)) — the encode step's input.
    """
    spark = df.sparkSession
    state = (
        df.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("tok") >= 2)
        .select("tok", F.split("tok", "").alias("syms"), "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(1, k + 1):
        pairs = (
            # size >= 2 guard: a word can shrink to one symbol after merges,
            # and sequence(1, 0) is DESCENDING in Spark (the bpe_merge_pairs
            # dodge), with element_at(syms, 0) an ANSI runtime error
            state.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(F.sequence(F.lit(1), F.size("syms") - 1)).alias("j"),
                "syms",
            )
            .select(
                F.element_at("syms", F.col("j")).alias("lhs"),
                F.element_at("syms", F.col("j") + 1).alias("rhs"),
                "freq",
            )
            .groupBy("lhs", "rhs")
            .agg(F.sum("freq").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), F.asc("lhs"), F.asc("rhs")).limit(1).collect()
        if not top:
            break
        lhs, rhs, n = top[0]["lhs"], top[0]["rhs"], top[0]["n"]
        merges.append((i, lhs, rhs, lhs + rhs, int(n)))
        state = state.select(
            "tok", _merge_adjacent(F.col("syms"), lhs, rhs).alias("syms"), "freq"
        ).localCheckpoint(eager=True)
    table = spark.createDataFrame(
        merges, "rnk bigint, lhs string, rhs string, pair string, n bigint"
    )
    return (table, state) if return_state else table


def bpe_encode_stats(df: DataFrame, k: int = 6) -> DataFrame:
    """BPE ENCODE step over trained merges: train ``k`` merges
    (:func:`bpe_train`), then measure per document how the learned
    subword inventory compresses its character stream — the
    chars-per-symbol telemetry a tokenizer build reports.

    The encode applies merges to the DISTINCT-WORD table only (the
    standard trick: one fold per word per merge, already done by the
    training loop's final state) and joins the per-word symbol count back
    to the token stream by equality — an AQE-splittable hash join against
    the bounded word table, never a per-token Python pass. Words shorter
    than 2 symbols never merge, so their symbol count is their character
    count (the left-join fallback).

    Output: (id, n_tokens, n_chars, n_syms, chars_per_sym) — chars_per_sym
    NULL for documents with no characters."""
    _, state = bpe_train(df, k, return_state=True)
    wsyms = state.select(F.col("tok"), F.size("syms").cast("long").alias("_ns"))
    stream = df.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("tok")
    )
    joined = stream.join(wsyms, "tok", "left").select(
        "doc_id",
        F.length("tok").cast("long").alias("_nc"),
        F.coalesce(F.col("_ns"), F.length("tok").cast("long")).alias("_ns"),
    )
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("_nc").alias("n_chars"),
        F.sum("_ns").alias("n_syms"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "n_syms",
        F.when(
            F.col("n_chars") > 0,
            dround(
                F.col("n_chars").cast("double") / F.col("n_syms").cast("double"), 4
            ),
        ).alias("chars_per_sym"),
    )


def encode_tokens(df: DataFrame, vocab: DataFrame) -> DataFrame:
    """Encode each document's token stream as an array of vocabulary ids
    (order-preserving; out-of-vocabulary tokens become -1) — the
    text→ids step every training pipeline runs after vocab construction.
    Output: df columns + ``token_ids array<long>``.

    Scale shape: the vocabulary is bounded by construction (top-V), so the
    id lookup is a legitimate broadcast join against the exploded
    (doc, pos, token) stream; the array is reassembled by one doc-keyed
    aggregation (collect positions+ids, sort by position) — a single
    shuffle keyed by the entity id, no content-key windows.
    """
    pos_tok = df.select(
        F.col("doc_id"),
        F.posexplode(tokens("text")).alias("_pos", "_tok"),
    )
    looked = (
        pos_tok.join(
            F.broadcast(vocab.select(F.col("token").alias("_tok"), "token_id")),
            "_tok",
            "left",
        )
        .select(
            "doc_id",
            "_pos",
            F.coalesce(F.col("token_id"), F.lit(-1).cast("long")).alias("_id"),
        )
    )
    encoded = looked.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_id"))),
            lambda s: s.getField("_id"),
        ).alias("token_ids")
    )
    return df.join(encoded, "doc_id", "left")


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Log-free BM25 retrieval: top-``k`` documents for a literal term set
    under the rational BM25 weighting

        score = sum_t ((N - df + 0.5)/(df + 0.5))
                      * (tf * (k1+1)) / (tf + k1*(1 - b + b*dl/avdl)),
        k1 = 1.2,  b = 0.75

    — the classic formula minus the ln() around the idf ratio (ln differs
    in the last ulp across libms; every operation here is IEEE +-*/ and
    reproduces bit-exactly in any engine). Ranking compares the EXACT
    decimal sum of per-term scores (FP summation order varies with
    partitioning; decimal addition doesn't), tie-broken by id.

    Shape: ONE pass over the text — per doc, the token count plus the
    matched-term occurrences (tokens filtered to the query terms before
    the explode, so the stream is corpus_occurrences(terms) + one row per
    doc, tiny) — materialized for its three consumers (tf, document
    lengths, corpus stats); document frequencies and corpus stats are
    bounded aggregates broadcast by the optimizer; the final cut is a
    distributed TakeOrderedAndProject over per-doc scores.

    Output: (rank, id, n_terms_matched, score) — score rounded to 6.
    """
    from pyspark.sql import Window

    from .text import tokens

    toks = tokens("text")
    base = df.select(
        F.col("doc_id"),
        F.size(toks).alias("_dl"),
        F.explode_outer(
            F.filter(toks, lambda t: t.isin(*terms))
        ).alias("_t"),
    ).localCheckpoint(eager=True)
    dl = base.groupBy("doc_id").agg(F.first("_dl").alias("_dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_dl").alias("_sumdl")
    )
    tf = (
        base.filter(F.col("_t").isNotNull())
        .groupBy("doc_id", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    k1, b = 1.2, 0.75
    kp1 = k1 + 1.0
    one_b = 1.0 - b
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "_t")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_ts",
            (
                (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            )
            * (
                (F.col("_tf") * kp1)
                / (
                    F.col("_tf")
                    + k1
                    * (
                        one_b
                        + b
                        * (
                            F.col("_dl").cast("double")
                            / (
                                F.col("_sumdl").cast("double")
                                / F.col("_n").cast("double")
                            )
                        )
                    )
                )
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(F.col("_ts").cast("decimal(27,12)")).alias("_s"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    bounded = per_doc.orderBy(F.desc("_s"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("_s"), F.asc("doc_id"))
    return (
        bounded.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            "doc_id",
            "n_terms_matched",
            F.round(F.col("_s"), 6).cast("double").alias("score"),
        )
    )


LM_SCALE = 1_000_000  # fixed-point scale for the integer LM probability


def bigram_lm_scores(df: DataFrame) -> DataFrame:
    """CCNet-style language-model quality scoring, LOG-FREE: train a
    bigram LM on the corpus itself (occurrence counts) and score each
    document by its average scaled bigram probability — the perplexity
    filter of crawl pipelines (CCNet scores docs with a KenLM and drops
    the worst tail) re-derived without transcendentals so a SQL oracle
    is exact. Per bigram occurrence b = (w1, w2):

        p_q(b) = (count(b) * LM_SCALE) // count_prefix(w1)

    with count_prefix(w1) = bigram occurrences starting with w1 — all
    integer FLOOR division (the PageRank scaled-long discipline: zero
    float drift, no libm surface; monotone in the true conditional
    probability, which is all a rank-and-drop filter needs). Repetitive
    boilerplate scores HIGH, rare/garbled text scores LOW — callers
    gate both tails.

    Scale shape: bigrams are pre-aggregated per (doc, bigram) before the
    count joins, the LM tables are map-side-combinable groupBys, and
    both joins are content-key EQUI-joins (AQE-splittable; never a
    window over a content key, never a broadcast of the vocabulary).

    Output: (id, n_bigrams, lm_score_sum, lm_score_avg) — avg is the
    floor mean, NULL for docs with < 2 tokens."""
    from .parallelism import ensure_min_parallelism
    from .text import tokens

    toks = tokens("text")
    # bigram building is the concat_ws word-shingle class the parallelism
    # guard was measured to help (operators/parallelism.py): narrow from
    # the scan, one task at small-file scale, per-bigram string building —
    # fan the docs out before the explode
    # zip_with over two slices of ONE split (the token_collocations
    # pattern): the lambda vars are bound VALUES, so the split evaluates
    # a constant ~4x per ROW. The previous transform(sequence, i ->
    # element_at(toks, i)) formulation captured `toks` inside the lambda,
    # re-deriving the whole split per element_at PER ELEMENT (~3 splits
    # per token position — the CLAUDE.md HOF-inlining trap; r16 sf1
    # profile billed the bigram map stage 72 s of the query's 86 s CPU).
    big = ensure_min_parallelism(df).select(
        F.col("doc_id"),
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"),
                        F.concat_ws(" ", a, b).alias("bigram"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,bigram:string>>"))
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.bigram")
    # per-doc occurrence pre-aggregation shrinks the join input (map-side
    # combine) before the corpus-count equi-joins — and BOTH count tables
    # derive from it, so the tokenize+explode subtree runs ONCE, not
    # three times (measured 5.2 -> 4.4 s at sf0.1; the no-checkpoint variant re-runs the explode and measures 5.0 s), with c1 rolling up
    # from the much smaller distinct-bigram table
    occ = big.groupBy("doc_id", "w1", "bigram").agg(
        F.count(F.lit(1)).alias("n_occ")
    ).localCheckpoint(eager=False)
    c2 = occ.groupBy("w1", "bigram").agg(F.sum("n_occ").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    c2 = c2.drop("w1")
    scored = (
        occ.join(c2, "bigram")
        .join(c1, "w1")
        .select(
            F.col("doc_id"),
            "n_occ",
            # `div`, not `/`+cast: integer floor division stays EXACT and
            # matches DuckDB's `//` (a double quotient within an ulp of an
            # integer can truncate to the wrong side — the CLAUDE.md
            # scaled-long rule)
            F.expr(f"(c2 * {LM_SCALE}L) div c1").alias("pq"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("n_occ").cast("long").alias("n_bigrams"),
        F.sum(F.col("n_occ") * F.col("pq")).cast("long").alias("lm_score_sum"),
        F.expr(f"sum(n_occ * pq) div sum(n_occ)").alias("lm_score_avg"),
    )
    # docs with < 2 tokens form no bigram: keep them (0, 0, NULL) — the
    # never-a-dropped-row contract callers reconcile row counts against
    return (
        df.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("lm_score_sum", F.lit(0)).alias("lm_score_sum"),
            F.col("lm_score_avg"),
        )
    )


def c4_line_clean(df: DataFrame) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2 — the published
    Common Crawl cleaning recipe T5 trained on) plus cross-document LINE
    dedup (the CCNet/RefinedWeb variant of C4's three-sentence-span
    rule, which ``dup_span_stats`` covers at span granularity):

    * line filters — keep lines ending in terminal punctuation
      (``. ! ? "``), with >= 3 whitespace words, and not
      mentioning ``javascript`` (case-insensitive);
    * page filters — drop pages containing ``{`` or ``lorem ipsum``
      (raw text), or whose KEPT lines carry < 5 sentence
      enders;
    * cross-doc dedup — each surviving line is kept only at its FIRST
      occurrence corpus-wide (lexicographic min (doc, line-index): one
      min(struct) per line content, the arg-min invariant), then pages
      reassemble in original line order.

    Output: one row per input page (dead-letter discipline — filtered
    pages survive with ``page_ok = false`` and NULL ``clean_text``):
    (id, page_ok, n_lines_kept, n_lines_dropped, n_dup_dropped,
    clean_text).

    Scale shape: line filtering is one JVM HOF pass; the dedup is an
    explode + map-side-combinable min(struct) per line content +
    equi-join back (AQE-splittable; NEVER a window over the line key — a
    boilerplate line is by definition a hot key); reassembly is a
    per-doc collect of the BOUNDED surviving lines. Page text crosses
    the shuffle once, as lines."""
    c = F.col("text")
    lines = F.split(c, "\n")
    line_ok = (
        lambda l: (
            l.endswith(".") | l.endswith("!") | l.endswith("?")
            | l.endswith('"')
        )
        & (F.size(F.split(l, " ")) >= 3)
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, line_ok)
    base = df.select(
        F.col("doc_id"),
        kept.alias("_kept"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_lines_dropped"),
        (
            ~c.contains("{")
            & ~F.lower(c).contains("lorem ipsum")
            & (
                F.aggregate(
                    kept,
                    F.lit(0).cast("long"),
                    lambda acc, l: acc + F.regexp_count(l, F.lit(r"[.!?]")),
                )
                >= 5
            )
        ).alias("page_ok"),
    )
    # the filtered line pass feeds the explode AND the final stats join —
    # checkpoint (lazy) so the HOF pass runs once
    base = base.localCheckpoint(eager=False)
    exploded = base.filter("page_ok").select(
        "doc_id", F.posexplode("_kept").alias("idx", "line")
    )
    first = exploded.groupBy("line").agg(
        F.min(F.struct("doc_id", "idx")).alias("_first")
    )
    survivors = (
        exploded.join(first, "line")
        .filter(
            (F.col("doc_id") == F.col("_first.doc_id"))
            & (F.col("idx") == F.col("_first.idx"))
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("idx", "line"))).alias("_s")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform("_s", lambda s: s.getField("line")), "\n"
            ).alias("clean_text"),
            F.size("_s").cast("long").alias("_n_survive"),
        )
    )
    out = (
        base.join(survivors, "doc_id", "left")
        .select(
            "doc_id",
            "page_ok",
            F.when(F.col("page_ok"), F.size("_kept"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_lines_kept"),
            "n_lines_dropped",
            F.when(
                F.col("page_ok"),
                F.size("_kept") - F.coalesce("_n_survive", F.lit(0)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_dup_dropped"),
            F.when(F.col("page_ok"), F.coalesce("clean_text", F.lit("")))
            .alias("clean_text"),
        )
    )
    return out
