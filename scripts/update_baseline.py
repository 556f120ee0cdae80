"""Regenerate BASELINE.md's standing per-query table from a bench JSON line.

Usage:
    python bench.py                            # run ALONE (JVM contention);
                                               # also writes BENCH_LOCAL.json
    python scripts/update_baseline.py BASELINE_STANDING.json [round-label]

BASELINE_STANDING.json is the committed source of the standing table (the
per-query min across marker-verified solo runs plus side-probe entries for
queries added after a re-record); edit it and re-run this script so
BASELINE.md stays exactly regenerable. Passing a raw BENCH_LOCAL.json
works too but replaces the whole table with that single run.

Replaces everything from the '## Standing per-query baseline' heading down;
the intro keeps the cross-round comparison notes.
"""

from __future__ import annotations

import json
import sys

BASELINE = "BASELINE.md"
HEADING = "## Standing per-query baseline"

INTRO_NOTES = """Measurement policy: every standing entry is the per-query
MIN across at least two marker-verified solo bench runs (bench.py:
min-of-2 executions per query through the noop sink, clearCache between
passes, `marker_st`/`marker_mt` contention markers embedded — never
recorded in a contended window). Single future runs should expect 1-2
roaming multi-second transients that survive min-of-2 (the burst moves
between queries run-to-run; 5-rep-probe before believing any single-run
flag) plus sub-second ambient scatter on the cheapest queries;
`dedup_minhash_lsh` is the one documented repeat-transient (5-rep probes
span 2.2-7.7 s around its 1.16 s plan-cost min with no plan change).
`events_anomaly_zscore_bucketed` drifted to ~2.1-2.6 s across every r11
calm-window probe (11 reps, markers fast) against its r7-era 1.398 s
min — within the 2x bar and oracle-green; the standing min is kept per
policy, but treat ~1.5x readings on it as the new ambient, not a flag.
`robots_crawl_filter` reads ~3.5 s inside some FULL bench runs
(r11 3.63, early-r12 3.54) but 1.2-1.3 s steady in every probe outside
them (r12: 5-rep solo [3.465, 1.418, 1.334, 1.306, 1.568] AND a
bench-order 9-query context replay at 1.231 s, markers fast
throughout) — a full-run measurement artifact (mid-run ambient or
accumulated session state), not a plan cost; its standing 1.155 s min
is the probe-verified truth and full-run ~3x readings on it are not
flags. CLOSED late r12: three marker-fast full benches in one session
read it 2.03x / 1.6x / 1.38x with every other r11-flagged query
<= 1.5x — the r11 3.14x flag was the documented roaming transient.
`mixed_crawl_extract_stats` ADJUDICATED r13 (the one open r12 flag,
2.44x in BENCH_r12): 5-rep solo probe [2.552, 1.744, 1.705, 1.721,
1.813], markers fast (st 0.067/0.075, mt 0.093/0.087) — steady ~1.7 s
vs its 1.65 s baseline = 1.04x. The 4.03 s full-run reading was the
documented roaming transient; plan unchanged, not weak. The same r13
probe read `robots_crawl_filter` [2.912, 1.320, 1.037, 0.960, 0.992]
(at baseline, flag stays closed) and `crawl_link_pagerank` [6.082,
3.162, 3.015, 3.271, 3.125] — ~1.2x its 2.623 s entry, within
ambient; the JVM URL fast path landed later in r13 and the standing
entries re-verified under it (r13 run A: whole 225-query board with
ZERO entries over 2x baseline, markers fast).
History (full per-round narrative in git: this file's log): rounds 1-9
grew the set 36 -> 157 queries while per-query mins fell or held —
re-records happened only when a query's implementation changed (each is
noted in the adding round's commit) or when ambient shifted uniformly
(r4 ~1.8x, r7 ~1.25x — re-measured whole-table under the then-current
policy). Round 12 grew the set 204 -> 221 (crawl discovery/recrawl,
sitemaps, Gopher + C4 + CCNet quality, KMV set ops, HITS, TAR,
rank-function suite, registered domains, per-key caps, WARC revisit
dedup both directions) with every addition two-run-verified in calm
windows and 30+ standing mins improved by the round's three
marker-fast full benches. Round 13 grew the set 221 -> 225 (WARC
request/response pairing, multi-class language-ID classifier, the
model-based crawl language composition, ISO 28500 segment
reassembly), two marker-fast full benches folding the new entries
and re-verifying every standing one under the round's operator
changes (Gopher tokenization, JVM URL fast path, PDF 1.5 + filter
chains, warc_records schema growth). The three PDF-fixture gates
(`pdf_text_extract_stats` 2.214 -> 3.444, `doc_extract_dispatch_stats`
1.588 -> 2.249, `mixed_crawl_extract_stats` 1.65 -> 2.433) were
RE-RECORDED late r13 after their fixtures gained the filter-chain +
RC4-encryption axes (an implementation change: the extra per-doc
decode work is real plan cost, profiled at ~0.6 ms/doc
single-threaded); the new entries are the MINIMUM across one
marker-fast full bench and a 5-rep probe whose window was mt-contended
(contention only inflates, so they are upper bounds of steady cost).
CLOSED same round: a marker-FAST 5-rep probe (st 0.073/0.079, mt
0.174/0.112) read pdf_text_extract_stats [4.392, 3.558, 4.017, 4.226,
4.182], doc_extract_dispatch_stats [2.857, 2.561, 2.187, 2.151,
2.202] and mixed_crawl_extract_stats [3.280, 2.545, 2.359, 2.612,
2.330] — consistent with the entries; the lower calm mins were folded
(2.249 -> 2.151, 2.433 -> 2.330) and the three entries now rest on
two marker-verified sources per policy.
`video_phash_dups` ADJUDICATED r14 (the one open r13 flag — elevated
in BOTH r13 full runs, 4.28 s fast / 14.59 s contended vs its 2.533 s
entry): marker-fast 5-rep solo probe (st 0.080/0.084, mt 0.196/0.142;
scripts/solo_probe.py) read [3.603, 3.105, 3.768, 3.439, 3.966] =
min 3.105 s, 1.23x — and the two sibling BLAS-heavy gates probed in
the same window at the same mild uniform elevation
(audio_phash_pairs min 3.225 / 1.34x, image_phash_pairs min 3.115 /
1.23x). The whole pHash/DCT family moves together with the ambient
BLAS marker (recorded at mt ~0.112, probed at mt 0.142-0.196), the
phash code is untouched since r10, and steady is well under the 2x
re-record bar: ambient drift, entries KEPT, flag closed. Treat
~1.2-1.4x readings on the phash family as the current ambient.
Round 14 grew the set 225 -> 228 (char-n-gram CJK language ID, the
mixed HTML+PDF link-graph capstone, MP4/ISO-BMFF container metadata).
The session's ambient was persistently bursty (every full-bench main
loop read mt 0.33-0.73 with st flat); bench.py's NEW contention-retry
pass (any query >2x its standing entry gets one more min-of-2 in a
later window, that window's markers recorded as marker_retry) ran
marker-FAST retry windows in both full benches (0.072/0.137 and
0.069/0.092, 19 + 25 queries retried) and the A-union-B per-query min
board has ZERO entries over 2x standing (median 1.26x — today's
uniform ambient, the phash-family class). The three new entries are
per-query MINs across the two full benches and a 5-rep probe whose
post-marker was fast (st 0.076/0.071, mt 0.278/0.144):
lang_classifier_cjk_gate 2.178 (first executions run 2-3x steady —
one-time codegen of the 3x256-literal weight arrays; min-of-2
absorbs it), pdf_link_pagerank 4.118, mp4_container_stats 0.526.
LATE r14 grew the set 228 -> 235 (WebP, AVIF/HEIC, fragmented MP4
and MP3 container gates, RSS/Atom feeds, in-page robots directives,
rel-canonical dedup) — entries are per-query MINs across a third
full bench (markers st 0.079/0.072, mt 0.164/0.298, retry window
0.081/0.125, 10 retried) and a 5-rep probe with a fast closing
marker (st 0.077/0.084, mt 0.554/0.156). That bench's one residual
>2x reading, cdx_index_stats 1.362 vs 0.677, probed [2.290, 0.947,
0.952, 0.863, 0.998] = 1.27x steady in the same session — the
roaming-transient/ambient class, entry KEPT, not a flag.
`pdf_text_extract_stats` RE-RECORDED late r14, 3.444 -> 4.702 (the
r13 precedent: its fixtures gained the AES-128/AES-256 encryption
axes — an implementation change with real plan cost, measured 2.05 s
single-threaded for the 223 AES docs at sf0.1, i.e. ~9 ms/doc of
Algorithm-2.B hashing + AES-CBC on a near-single-partition base; at
100 TB input splits parallelize this away, which the probe can't
show). New entry = min across a marker-fast 5-rep probe (st
0.081/0.073, mt 0.199/0.127: [6.654, 4.870, 4.929, 4.702, 4.895])
and the marker-fast full bench (6.788) — two sources per policy; the
contended run A upper bound (5.232) is consistent. Its siblings
doc_extract_dispatch_stats (probe min 2.485 = 1.16x) and
mixed_crawl_extract_stats (2.650 = 1.14x) sit inside ambient with a
smaller AES share — entries KEPT.
`decontaminate_ngram` RE-RECORDED r15, 0.504 -> 0.828: two
independent marker-fast 5-rep probes (the r14 judge's [2.281, 1.145,
0.896, 0.898, 0.828] and r15's [2.735, 1.173, 0.98, 0.907, 0.902],
markers st 0.081/0.079 mt 0.173/0.094) both read steady 1.6-1.8x the
0.504 entry with code untouched since r12 — the old min is
unreproducible in ANY calm window (likely a one-off lucky
cache/placement), so per policy the entry moves to the better probe
min; treat ~1.1x readings on the new 0.828 as ambient. Flag CLOSED.
R15 grew the set 235 -> 241 (SVG census, FLAC/Ogg containers,
JSON-LD/OpenGraph structured data, SRT/WebVTT subtitles, HLS
playlists) — entries are per-query MINs across two full benches
(both with hot mt end-markers on a bursty day: totals 348.7/346.6 s)
and a 5-rep probe whose window closed fast (st 0.066/0.075, mt
0.36/0.115). The touched-query sweep in the same session (marker-fast
windows st ~0.07 mt 0.10-0.14): robots_meta_gate 1.122 = 1.03x,
pdf_link_pagerank 4.127 = 1.00x, crawl_link_pagerank 2.766 = 1.05x,
doc_extract_dispatch_stats 2.319 = 1.08x, mixed_crawl_extract_stats
2.645 = 1.14x, webp_container_stats 0.477 = 0.97x (the ICC axis is
free), html_charset_stats 0.548 = 1.19x — all KEPT; the full-run
1.4-1.8x readings on them were the uniform contended-day class.
Three RE-RECORDS with implementation causes: `zip_archive_stats`
0.650 -> 0.849 (every 3rd doc gained a force_zip64 member — real
fixture-build + walk cost, probed [1.487, 1.010, 0.878, 0.849,
0.900]); `sitemap_frontier_stats` 0.984 -> 1.408 (Google image/video
extension parse + three media aggregates, probed 1.408-1.84 steady);
`binary_media_inventory` 0.040 -> 0.076 (two SVG fixture files
joined the scan; sub-100ms listing-bound query).
LATE r15 grew the set 241 -> 244 (MIME e-mail, Markdown
normalization, PNG ancillary metadata) — entries are mins across a
third full bench (362.9 s total in the same hot-ambient day; markers
st 0.071/0.077, mt 0.147/0.201, retry 0.074/0.156) and marker-fast
5-rep probes. eml_message_stats first probed **31-35 s steady**:
email.policy.default + email.generator cost 5.7 ms/doc; rewritten on
compat32 with explicit encoded-word decode + a hand-rolled builder
(0.30 ms/doc, 21x — SCALE.md has the breakdown) before its 1.484 s
entry was recorded. The 4th-batch `ics_calendar_stats` entry (0.840)
is a min across a marker-fast 5-rep probe and the scale probe's
sf0.1 leg (0.849) — the side-probe path for queries added after the
round's full benches."""

EXCLUDED = {
    "ivf_recall_telemetry": "diagnostic: recall telemetry, not a user query",
    "lsh_recall_telemetry": "diagnostic: recall telemetry, not a user query",
    "semantic_recall_telemetry": "diagnostic: recall telemetry, not a user query",
    "rp_recall_telemetry": "diagnostic: recall telemetry, not a user query",
    "winnow_recall_telemetry": "diagnostic: recall telemetry, not a user query",
    "cosine_topk_pq": "interpreted-HOF portable oracle twin; production PQ benched via cosine_topk_ivfpq",
    "dedup_semantic": "portable oracle twin of the benched dedup_semantic_kmeans",
    "dedup_semantic_survivors": "portable oracle twin of the benched dedup_semantic_kmeans",
    "events_anomaly_zscore": "flat-window cross-proof; the bucketed scale formulation is benched (demoted r7, SCALE.md 5.40x vs 1.41x/decade)",
    "dedup_clusters_lsh": "cc_star over MinHash-LSH candidates, the CC operator of dedup_clusters_star, which is benched",
    "dedup_clusters_jaccard": "same cc_star plan as dedup_clusters_star, which is benched",
    "ml_energy_report": "MLlib TRAINING pipeline (8 RF fits, ~28 s dominated by fitting); bench measures query/operator throughput - the eval-query surface is benched via ml_eval_metrics",
    "ml_peak_classification": "MLlib TRAINING pipeline (RF fit); eval-query surface benched via ml_eval_metrics",
}



def main() -> None:
    bench = json.load(open(sys.argv[1]))
    label = sys.argv[2] if len(sys.argv) > 2 else "round 4"
    # Baseline-contract guards (r15 verdict finding #3): the driver's
    # 8-core scaling rerun overwrites BENCH_LOCAL.json, and a
    # faster-at-8-cores map (or a contention-inflated one) must never be
    # folded into the standing table. Inputs that predate the `cpus` key
    # (BASELINE_STANDING.json itself) pass through.
    if "cpus" in bench and bench["cpus"] != 32:
        sys.exit(
            f"refusing {sys.argv[1]}: recorded at cpus={bench['cpus']} "
            "(standing baseline is a 32-core contract)"
        )
    mt = bench.get("marker_mt")
    if mt and max(mt) > 0.35 and "--allow-hot" not in sys.argv:
        sys.exit(
            f"refusing {sys.argv[1]}: marker_mt={mt} reads contended "
            "(>0.35 s vs the ~0.10-0.19 s fast band); re-run in a calm "
            "window or pass --allow-hot after per-query adjudication"
        )
    qs = sorted(bench["queries"].items(), key=lambda kv: -kv[1])
    half = (len(qs) + 1) // 2
    lines = ["| query | sec | query | sec |", "|---|---|---|---|"]
    for i in range(half):
        left = qs[i]
        right = qs[i + half] if i + half < len(qs) else ("", "")
        rv = f"{right[1]}" if right[0] else ""
        lines.append(f"| {left[0]} | {left[1]} | {right[0]} | {rv} |")
    excl = [
        "",
        "### Catalog queries deliberately NOT in the headline set",
        "",
        "Every catalog query not listed above is excluded for one of the",
        "reasons below (audited round 10; a new catalog query must either",
        "join the headline set or this table):",
        "",
        "| query | why it is not benched |",
        "|---|---|",
    ]
    excl += [f"| {q} | {why} |" for q, why in sorted(EXCLUDED.items())]
    text = open(BASELINE).read()
    head, _, _ = text.partition(HEADING)
    section = (
        f"{HEADING} ({label}, sf={bench['sf']}, local[32])\n\n"
        f"Recorded wall-clock — **{bench['value']} s total over "
        f"{len(qs)}\nheadline queries**, solo run (no concurrent JVMs).\n\n"
        f"{INTRO_NOTES}\n\n"
        + "\n".join(lines)
        + "\n"
        + "\n".join(excl)
        + "\n"
    )
    open(BASELINE, "w").write(head + section)
    print(f"BASELINE.md: {bench['value']} s over {len(qs)} queries ({label})")


if __name__ == "__main__":
    main()
