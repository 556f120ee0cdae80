"""Input-parallelism guard for CPU-heavy narrow stages.

A parquet scan's parallelism is bounded by the file's row groups: a small-SF
table written as ONE file with ONE row group scans as ONE task, no matter how
many cores the cluster has (byte-range splits below a row group produce empty
tasks, so ``maxPartitionBytes`` / ``openCostInBytes`` tuning cannot help).
That single task then serializes every downstream narrow operator — shingle
explodes, per-token folds — on one core: measured at sf0.1, the whole MinHash
shingle explode ran as 1 task on a 32-core box and dominated the query.

:func:`ensure_min_parallelism` repartitions ONLY when the input's partition
count is below the session's default parallelism. At production scale a
100 TB table has thousands of row groups, the guard is a no-op, and no
shuffle is added where the scan already parallelizes; at small scale it
costs one shuffle of the compact input rows (kilobytes here) to unlock
every core for the expensive narrow stage that follows.

Call it on NARROW (pre-shuffle) inputs only: converting a post-shuffle plan
to an RDD to count partitions can trigger adaptive stage execution.

Apply it ONLY where the guarded stage's per-row CPU dominates the guard's
overhead (one extra shuffle + an RDD partition-count probe, ~0.2-0.7 s at
bench scale). Measured A/B at sf0.1: word-SHINGLE pipelines (concat_ws
string building per n-gram — minhash signatures, boilerplate, benchmark
decontamination) drop 30-60%, while cheap whitespace-token explodes
(tfidf, vocab build/encode, simhash) get 1.5-2x SLOWER with the guard —
their narrow stage was never the bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Partition-count probe memo. The ``df.rdd.getNumPartitions()`` probe costs
# ~0.17 s per call (a full Catalyst->RDD conversion), and the r15 fixture
# gates probe the SAME scan (documents at one sf_dir) dozens of times per
# bench session. The memo caches the PROBE RESULT (a plan-shape fact: how
# many splits the file layout yields under the current session), never any
# query result — the same class of metadata AQE caches. Keyed on
# (app id, caller key, target) so a different session, path or parallelism
# re-probes.
_PART_COUNT_MEMO: dict[tuple, int] = {}


def small_scan(df: DataFrame, memo_key: str | None = None) -> bool:
    """True in the small-scan regime: a SCAN-ROOTED (or checkpointed) frame
    has fewer partitions than the session's default parallelism. The one
    regime probe every "small scan" vs "at scale" branch goes through. The
    partition count is memoized under the contract of
    :func:`ensure_min_parallelism` (stable scans only; the probe converts
    the plan to an RDD, so never call it on a frame that still contains
    exchanges)."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if memo_key is None:
        return df.rdd.getNumPartitions() < par
    key = (sc.applicationId, memo_key, par)
    n = _PART_COUNT_MEMO.get(key)
    if n is None:
        n = _PART_COUNT_MEMO[key] = df.rdd.getNumPartitions()
    return n < par


def ensure_min_parallelism(df: DataFrame, memo_key: str | None = None) -> DataFrame:
    """Repartition ``df`` to the session default parallelism iff its current
    partitioning is narrower — the row-group-bound small-file guard. The
    round-robin repartition is deterministic (Spark sorts within input
    partitions before distributing) and every caller's downstream
    aggregation is partitioning-independent, so results never change.

    ``memo_key``: callers probing a STABLE scan (same path, same session)
    many times pass a key naming it, and the partition-count probe runs
    once per session instead of once per query build. The memo is never
    invalidated within a session, so the contract is STABLE SCANS ONLY:
    a path whose files are rewritten mid-session (e.g. make_scale_data
    regenerating .scale/sf1) must not be probed through a memo_key —
    pass none (per-build probe) for anything regenerable. The _doc_ids
    driver-fixture scan is the only sanctioned memoized caller.

    Probe constraint (either path): call on SCAN-ROOTED or checkpointed
    frames only — ``.rdd`` on a plan that still contains exchanges
    materializes those shuffle stages eagerly at DataFrame-BUILD time
    under AQE, turning a plan probe into real job cost."""
    if not small_scan(df, memo_key):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
