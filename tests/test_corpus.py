"""Corpus-operator tests: TF-IDF salient terms, token chunking, boilerplate
n-gram detection, table profiling."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_assignment_spark.operators.corpus import (
    boilerplate_ngrams,
    profile_table,
    tfidf_top_terms,
    token_chunks,
)


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_tfidf_prefers_rare_terms(spark):
    # "zebra" appears once in one doc; "common" appears everywhere
    df = docs(
        spark,
        [
            (1, "common common zebra common"),
            (2, "common common common words"),
            (3, "common words words other"),
        ],
    )
    out = {r["doc_id"]: r for r in tfidf_top_terms(df).collect()}
    # squared idf: zebra scores 1*(3/1)^2 = 9 > common's 3*(3/3)^2 = 3
    assert out[1]["top_term"] == "zebra"
    assert out[1]["tf"] == 1 and out[1]["df"] == 1
    assert out[1]["rarity"] == 9.0


def test_tfidf_tie_breaks_by_token(spark):
    # both tokens unique to the doc with tf=1 → identical scores; tie-break asc
    df = docs(spark, [(1, "beta alpha"), (2, "filler filler")])
    out = {r["doc_id"]: r["top_term"] for r in tfidf_top_terms(df).collect()}
    assert out[1] == "alpha"


def test_token_chunks_cover_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))
    df = docs(spark, [(1, text)])
    out = sorted(
        (r["chunk_id"], r["n_chunk_tokens"]) for r in token_chunks(df, size=4, stride=3).collect()
    )
    # starts 0,3,6,9 → sizes 4,4,4,1
    assert out == [(0, 4), (1, 4), (2, 4), (3, 1)]


def test_token_chunks_single_short_doc(spark):
    df = docs(spark, [(1, "only two")])
    rows = token_chunks(df, size=64, stride=48).collect()
    assert len(rows) == 1 and rows[0]["n_chunk_tokens"] == 2 and rows[0]["chunk_id"] == 0


def test_boilerplate_ngrams_flags_shared_shingles(spark):
    shared = "all rights reserved"
    rows = [(i, f"{shared} unique{i} tail{i} end{i}") for i in range(5)]
    rows.append((99, "completely fresh content here today"))
    df = docs(spark, rows)
    out = {r["doc_id"]: r for r in boilerplate_ngrams(df, min_docs=5).collect()}
    assert out[0]["n_boiler"] == 1  # only the shared 3-gram crosses min_docs
    assert out[0]["n_shingles"] == 4
    assert out[0]["boiler_ratio"] == 0.25
    assert out[99]["n_boiler"] == 0


def test_boilerplate_short_docs_absent(spark):
    df = docs(spark, [(1, "just two"), (2, "one two three")])
    ids = {r["doc_id"] for r in boilerplate_ngrams(df, min_docs=1).collect()}
    assert ids == {2}  # doc 1 has < n tokens → no shingles → absent


def test_profile_table_counts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "k bigint, v string"
    )
    out = {r["column_name"]: r for r in profile_table(df).collect()}
    assert out["k"]["n_rows"] == 3 and out["k"]["n_nulls"] == 0 and out["k"]["n_distinct"] == 2
    assert out["v"]["n_nulls"] == 1 and out["v"]["n_distinct"] == 2


def test_repetition_and_chunks_are_narrow(spark):
    """The per-row corpus ops must plan without a single Exchange."""
    from data_engineering_assignment_spark.operators.llmprep import repetition_stats

    df = docs(spark, [(1, "a b c")])
    for frame in (token_chunks(df), repetition_stats(df)):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_token_chunks_cover_every_token(spark):
    """Property: with stride <= size every token index lands in >= 1 chunk,
    and consecutive chunks overlap by exactly size - stride (except the
    tail)."""
    texts = [" ".join(f"t{j}" for j in range(n)) for n in (1, 2, 47, 48, 49, 64, 100, 200)]
    df = docs(spark, list(enumerate(texts)))
    out = token_chunks(df, size=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["n_chunk_tokens"]))
    for i, text in enumerate(texts):
        n = len(text.split(" "))
        chunks = sorted(by_doc[i])
        # chunk c starts at 48*c; union of [start, start+len) must cover [0, n)
        covered = set()
        for cid, clen in chunks:
            covered.update(range(48 * cid, 48 * cid + clen))
        assert covered == set(range(n)), (i, n, chunks)


def test_build_vocab_and_encode_tokens_order(spark):
    """Vocab ids follow (count DESC, token ASC); encode_tokens preserves
    token ORDER in the id array (the oracle's id_sum cannot see order) and
    maps OOV to -1."""
    from data_engineering_assignment_spark.operators.corpus import (
        build_vocab,
        encode_tokens,
    )

    rows = [
        (1, "b b b a a c"),
        (2, "a b zz a"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    vocab = build_vocab(df, top_v=3)
    v = {r["token"]: r for r in vocab.collect()}
    # counts: b=4, a=4, c=1, zz=1 → ties broken by token: a=0, b=1, c=2
    assert (v["a"]["token_id"], v["b"]["token_id"], v["c"]["token_id"]) == (0, 1, 2)
    assert v["a"]["n_occ"] == 4 and v["a"]["n_docs"] == 2
    enc = {r["doc_id"]: r["token_ids"] for r in encode_tokens(df, vocab).collect()}
    assert enc[1] == [1, 1, 1, 0, 0, 2]
    assert enc[2] == [0, 1, -1, 0]  # zz is OOV
    # stable under repartitioning
    enc2 = {
        r["doc_id"]: r["token_ids"]
        for r in encode_tokens(df.repartition(5), vocab).collect()
    }
    assert enc2 == enc


def test_vocab_plans_take_ordered(spark, sf_dir):
    """The vocabulary cut must plan as TakeOrderedAndProject (distributed
    per-task heaps), never a global sort of the corpus vocabulary."""
    from data_engineering_assignment_spark import plans
    from data_engineering_assignment_spark.operators.corpus import build_vocab
    from data_engineering_assignment_spark.tables import load

    df = build_vocab(load(spark, sf_dir, "documents"), top_v=64)
    plan = plans.simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plans.has_partial_aggregation(df)


def test_dup_span_stats_counts_positions_with_multiplicity(spark):
    from data_engineering_assignment_spark.operators.corpus import dup_span_stats

    copied = "a b c d e f g h"          # 8 tokens -> 1 position
    rows = [
        (1, copied + " x1 x2 x3"),      # 4 positions, 1 shared with doc 2
        (2, copied),                    # 1 position, shared with doc 1
        (3, "p q r s t u v w y z"),     # 3 positions, unique
        (4, "a b c d e f g h a b c d e f g h"),  # internal repeat AND cross-doc
        (5, "too short"),               # < 8 tokens -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dup_span_stats(df).collect()}

    assert set(got) == {1, 2, 3, 4}
    assert (got[1]["n_positions"], got[1]["n_dup_positions"]) == (4, 1)
    assert (got[2]["n_positions"], got[2]["n_dup_positions"]) == (1, 1)
    assert got[2]["dup_ratio"] == 1.0
    assert (got[3]["n_positions"], got[3]["n_dup_positions"]) == (3, 0)
    # doc 4: 9 positions; those equal to the copied 8-gram (positions 0 and
    # 8) are cross-doc dups — every position counts at multiplicity
    assert got[4]["n_positions"] == 9
    assert got[4]["n_dup_positions"] == 2


def test_bm25_topk_hand_computed(spark):
    """BM25 on a 3-doc corpus against hand math; rank order must favor the
    doc where the query term is dense and the doc short."""
    from data_engineering_assignment_spark.operators.corpus import bm25_topk

    rows = [
        (1, "spark spark spark"),             # dense, short
        (2, "spark filler filler filler filler filler filler filler"),
        (3, "nothing here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["rank"]: r for r in bm25_topk(df, ["spark"], k=10).collect()}
    assert [got[r]["doc_id"] for r in sorted(got)] == [1, 2]  # doc 3 absent

    # hand-compute doc 1: N=3, df=2, dl=3, avdl=5
    n, dfq, k1, b = 3, 2, 1.2, 0.75
    idf = (n - dfq + 0.5) / (dfq + 0.5)
    def s(tf, dl):
        return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * (dl / 5.0)))
    assert abs(got[1]["score"] - round(s(3, 3), 6)) < 1e-9
    assert abs(got[2]["score"] - round(s(1, 8), 6)) < 1e-9
    assert got[1]["n_terms_matched"] == 1


def test_paragraph_dedup_keep_first_semantics(spark):
    """Hand-built corpus: paragraph P repeated across docs and within a
    doc survives only at its globally first (doc_id, para_idx); per-doc
    accounting and char ratios follow."""
    from data_engineering_assignment_spark.operators.corpus import (
        paragraph_dedup_stats,
    )

    p1 = "a b c d"  # 4 tokens = one paragraph at size=4
    p2 = "e f g h"
    p3 = "i j k l"
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {p2}"),       # both first occurrences -> all kept
            (2, f"{p2} {p3}"),       # p2 dup (first in doc 1), p3 kept
            (3, f"{p1} {p1} {p3}"),  # everything already seen -> 0 kept
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["n_dropped"], r["kept_char_ratio"])
        for r in paragraph_dedup_stats(docs, size=4).collect()
    }
    assert got[1] == (2, 2, 0, 1.0)
    assert got[2] == (2, 1, 1, 0.5)
    assert got[3] == (3, 0, 3, 0.0)


def test_paragraph_dedup_partitioning_independent(spark, sf_dir):
    """Same result regardless of input partitioning (integer-argmin keep
    rule is deterministic; no window order dependence)."""
    from data_engineering_assignment_spark.operators.corpus import (
        paragraph_dedup_stats,
    )
    from data_engineering_assignment_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    base = {tuple(r) for r in paragraph_dedup_stats(docs, size=16).collect()}
    reparted = {
        tuple(r) for r in paragraph_dedup_stats(docs.repartition(7), size=16).collect()
    }
    assert base == reparted
    assert base  # non-trivial fixture


def test_bpe_merge_pairs_hand_computed(spark):
    """Frequency-weighted adjacent-pair counts on a corpus small enough to
    count by hand; single-char words contribute nothing."""
    from data_engineering_assignment_spark.operators.corpus import bpe_merge_pairs

    docs = spark.createDataFrame(
        [(1, "low low lower a"), (2, "low newest a b")],
        "doc_id long, text string",
    )
    # words: low x3, lower x1, newest x1 (a, b dropped: length < 2)
    # pairs: lo 3+1, ow 3+1, we 1+1, er 1, ne 1, ew 1, es 1, st 1
    got = {r["pair"]: (r["n"], r["rnk"]) for r in bpe_merge_pairs(docs, k=10).collect()}
    assert got["lo"] == (4, 1)
    assert got["ow"] == (4, 2)  # tie with lo broken by pair text
    assert got["we"][0] == 2
    assert got["er"][0] == 1 and got["st"][0] == 1
    assert len(got) == 8


def test_paragraph_dedup_large_doc_ids_exact_decode(spark):
    """The keep-first argmin code decodes with exact long arithmetic
    (shiftright), never a double divide — pinned with doc_ids past 2^40,
    where the code exceeds double's 2^53 exact-integer range."""
    from data_engineering_assignment_spark.operators.corpus import (
        paragraph_dedup_stats,
    )

    a, b = (1 << 42) + 3, (1 << 42) + 4
    docs = spark.createDataFrame(
        [(a, "p q r s"), (b, "p q r s t u")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["n_dropped"])
        for r in paragraph_dedup_stats(docs, size=2).collect()
    }
    assert got[a] == (2, 2, 0)          # both paragraphs first here
    assert got[b] == (3, 1, 2)          # "p q"/"r s" dup, "t u" novel


def test_bpe_train_hand_computed_multistep(spark):
    """Sennrich et al. 2016 semantics hand-checked over 4 merge steps:
    pair counts are RECOUNTED after every merge, merges are left-to-right
    non-overlapping (aaaa -> [aa, aa], aaa -> [aa, a]), and the loop
    stops early when the pair supply is exhausted."""
    from data_engineering_assignment_spark.operators.corpus import bpe_train

    # words: aaaa x2, abab x1, ab x3
    docs = spark.createDataFrame(
        [(1, "aaaa abab ab"), (2, "aaaa ab ab")], "doc_id long, text string"
    )
    got = [
        (r["rnk"], r["lhs"], r["rhs"], r["pair"], r["n"])
        for r in bpe_train(docs, k=6).orderBy("rnk").collect()
    ]
    # iter1: (a,a) 3*2 + 1 = 6 wait — abab has (a,b)x2,(b,a)x1 only;
    #        (a,a) = 3 adjacencies * freq 2 = 6 -> merge aaaa -> [aa,aa]
    # iter2: (a,b) = 2*1 + 1*3 = 5 -> merge abab -> [ab,ab], ab -> [ab]
    # iter3: (aa,aa) = 1*2 = 2 -> merge -> [aaaa]
    # iter4: (ab,ab) = 1*1 = 1 -> merge -> [abab]
    # iter5: no pairs left -> early stop
    assert got == [
        (1, "a", "a", "aa", 6),
        (2, "a", "b", "ab", 5),
        (3, "aa", "aa", "aaaa", 2),
        (4, "ab", "ab", "abab", 1),
    ]


def test_bpe_merge_adjacent_greedy_left(spark):
    """The per-word merge fold is left-to-right non-overlapping, including
    runs (aaa) and merged symbols that could re-match later symbols."""
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.corpus import _merge_adjacent

    rows = [(1, ["a", "a", "a"]), (2, ["a", "a", "a", "a"]),
            (3, ["b", "a", "a"]), (4, ["aa", "a"]), (5, ["a"]), (6, [])]
    df = spark.createDataFrame(rows, "id long, syms array<string>")
    got = {
        r["id"]: r["m"]
        for r in df.select(
            "id", _merge_adjacent(F.col("syms"), "a", "a").alias("m")
        ).collect()
    }
    assert got[1] == ["aa", "a"]
    assert got[2] == ["aa", "aa"]
    assert got[3] == ["b", "aa"]
    assert got[4] == ["aa", "a"]  # pre-existing 'aa' symbol never re-matches 'a'
    assert got[5] == ["a"] and got[6] == []


def test_dup_span_merged_hand_computed(spark):
    """Interval-merge semantics pinned by hand: overlapping duplicated
    3-gram extents merge into maximal regions; a gap of one uncovered
    token splits spans; clean docs report zero spans."""
    from data_engineering_assignment_spark.operators.corpus import (
        dup_span_merged_stats,
    )

    # Shared 4-token phrase "p q r s" gives both docs duplicated 3-gram
    # starts at its two positions (overlapping -> ONE merged span of 4
    # tokens). Doc 1 additionally repeats the phrase later, separated by
    # unique tokens -> a SECOND span. Doc 3 is fully unique.
    d1 = "p q r s u1 u2 u3 u4 p q r s"     # 12 tokens
    d2 = "z1 z2 p q r s z3 z4"             # 8 tokens
    d3 = "a b c d e f"                     # 6 tokens
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_spans"], r["dup_tokens"],
            r["longest_span"], r["removal_ratio"],
        )
        for r in dup_span_merged_stats(docs, n=3).collect()
    }
    # doc 1: dup starts at 0,1 (span [0,3]) and 8,9 (span [8,11])
    assert got[1] == (12, 2, 8, 4, 0.6667)
    # doc 2: dup starts at 2,3 -> one span [2,5], 4 tokens
    assert got[2] == (8, 1, 4, 4, 0.5)
    assert got[3] == (6, 0, 0, 0, 0.0)


def test_dup_span_merged_gap_rule(spark):
    """Adjacent coverage (next start == prev start + n) merges; a start
    one past that (one uncovered token) does not."""
    from data_engineering_assignment_spark.operators.corpus import (
        dup_span_merged_stats,
    )

    # n=2: doc A has dup starts 0 and 2 (coverage [0,1] + [2,3]:
    # contiguous -> merge to one 4-token span); doc B has starts 0 and 3
    # (coverage [0,1] + [3,4]: token 2 uncovered -> two spans).
    rows = [
        (1, "x y x y a b"),      # "x y" dup'd; starts 0 and 2
        (2, "u v c u v d e"),    # "u v" dup'd; starts 0 and 3
        (3, "x y u v x y u v"),  # donor doc sharing both phrases
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["longest_span"])
        for r in dup_span_merged_stats(docs, n=2).collect()
    }
    assert got[1] == (1, 4, 4)
    assert got[2] == (2, 4, 2)


def test_bpe_encode_stats_hand_computed(spark):
    """Encode telemetry on the hand-computed trainer fixture: after the 4
    exhausting merges, every word collapses to one symbol, so n_syms =
    n_tokens and chars_per_sym = n_chars / n_tokens."""
    from data_engineering_assignment_spark.operators.corpus import bpe_encode_stats

    docs = spark.createDataFrame(
        [(1, "aaaa abab ab"), (2, "aaaa ab ab")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chars"], r["n_syms"], r["chars_per_sym"])
        for r in bpe_encode_stats(docs, k=6).collect()
    }
    # doc 1: tokens aaaa(4) abab(4) ab(2) -> 10 chars, each word 1 symbol
    assert got[1] == (3, 10, 3, 3.3333)
    # doc 2: aaaa(4) ab(2) ab(2) -> 8 chars
    assert got[2] == (3, 8, 3, 2.6667)


def test_bpe_encode_partial_merges(spark):
    """With fewer merges than needed to exhaust, symbol counts reflect
    exactly the applied prefix of the merge table (k=1: only (a,a))."""
    from data_engineering_assignment_spark.operators.corpus import bpe_encode_stats

    docs = spark.createDataFrame(
        [(1, "aaaa abab ab"), (2, "aaaa ab ab")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n_syms"] for r in bpe_encode_stats(docs, k=1).collect()
    }
    # merge (a,a): aaaa -> [aa,aa] (2), abab unchanged (4), ab unchanged (2)
    assert got[1] == 2 + 4 + 2
    assert got[2] == 2 + 2 + 2


def test_hybrid_rrf_fusion_rules(spark):
    """RRF fusion semantics on a constructed corpus: docs in both legs
    outrank docs in one leg at similar ranks; ranks are NULL for the
    missing leg; scores match the hand formula 1/(60+r)."""
    from data_engineering_assignment_spark.operators.corpus import hybrid_rrf

    # doc 0 is the query embedding owner; doc 1 matches the term AND is
    # nearest to doc 0; doc 2 only matches the term; doc 3 only semantic.
    docs = spark.createDataFrame(
        [
            (0, "nothing relevant here at all"),
            (1, "spark spark spark is here"),
            (2, "spark appears once here today"),
            (3, "completely unrelated text body"),
            (4, "also unrelated filler words entirely"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.99, 0.1, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal: outside the sem top-3
            (3, [0.9, 0.4, 0.0, 0.0]),
            (4, [0.8, 0.5, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["doc_id"]: (r["r_lex"], r["r_sem"], r["rrf"], r["rnk"])
        for r in hybrid_rrf(docs, emb, ["spark"], k_each=3, k=5).collect()
    }
    # doc 1: lex rank 1 (tf 3) + sem rank 1 -> rrf = 2/61
    assert out[1][:2] == (1, 1)
    assert abs(out[1][2] - round(2 / 61, 6)) < 1e-9
    assert out[1][3] == 1  # both-legs doc wins
    # doc 2: lex only (rank 2); doc 3: sem only (rank 2)
    assert out[2][0] == 2 and out[2][1] is None
    assert out[3][0] is None and out[3][1] == 2
    assert abs(out[2][2] - round(1 / 62, 6)) < 1e-9


def test_bigram_lm_scores_hand_model(spark):
    """Scores match a hand-computed bigram model; <2-token docs survive
    as (0, 0, NULL) rows."""
    from data_engineering_assignment_spark.operators.corpus import (
        bigram_lm_scores,
    )

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "z"), (4, "c a b")],
        "doc_id long, text string",
    )
    # corpus bigrams: "a b" x4, "b a" x1, "b c" x1, "c a" x1
    # prefix counts: a->4, b->2, c->1
    # pq: "a b"=1e6, "b a"=5e5, "b c"=5e5, "c a"=1e6
    out = {
        r.doc_id: (r.n_bigrams, r.lm_score_sum, r.lm_score_avg)
        for r in bigram_lm_scores(df).collect()
    }
    assert out == {
        1: (4, 3_000_000, 750_000),
        2: (1, 1_000_000, 1_000_000),
        3: (0, 0, None),
        4: (2, 2_000_000, 1_000_000),
    }


def test_c4_line_clean_rules_and_cross_doc_dedup(spark):
    """C4 line rules (terminal punctuation, min words, javascript),
    page rules (brace, lorem ipsum, min sentences), and the cross-doc
    first-occurrence line dedup with in-order reassembly."""
    from data_engineering_assignment_spark.operators.corpus import (
        c4_line_clean,
    )

    good = "One two three. Two three four. Five. Six. Seven. Eight."
    good3 = "Alpha beta gamma. Delta five. Six. Seven. Eight. Nine."
    docs = [
        # doc 1: all rules pass; shares the footer with doc 3
        (1, good + "\nShared footer line text.\nno punct\nhi."),
        # doc 2: lorem ipsum -> page dropped despite good lines
        (2, good + "\nclassic lorem ipsum inside."),
        # doc 3: unique body, loses the duplicated footer to doc 1
        (3, good3 + "\nShared footer line text.\nBeware javascript ads."),
        # doc 4: curly brace -> page dropped
        (4, good + "\nhas { brace."),
        # doc 5: too few sentences
        (5, "Only one two sentence here."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_line_clean(df).collect()}
    assert got[1].page_ok and got[3].page_ok
    assert not got[2].page_ok and not got[4].page_ok and not got[5].page_ok
    # doc 1 keeps both lines ('no punct' fails punctuation, 'hi.' fails
    # min-words); doc 3's footer is a cross-doc dup of doc 1's
    assert got[1].clean_text == good + "\nShared footer line text."
    assert got[1].n_lines_kept == 2 and got[1].n_lines_dropped == 2
    assert got[1].n_dup_dropped == 0
    assert got[3].clean_text == good3  # footer deduped, javascript dropped
    assert got[3].n_lines_kept == 2 and got[3].n_lines_dropped == 1
    assert got[3].n_dup_dropped == 1
    for dead in (2, 4, 5):
        assert got[dead].clean_text is None
        assert got[dead].n_lines_kept == 0 and got[dead].n_dup_dropped == 0
    # dropped-line counts are census data even for dropped pages
    assert got[5].n_lines_dropped == 0 and got[2].n_lines_dropped == 0
