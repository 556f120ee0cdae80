"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline: broadcast the (small) query
set, compute dot products with JVM-side higher-order functions (zip_with +
aggregate fold — no Python boundary), rank per query. Cost is
O(|queries| × |corpus|) with the corpus never shuffled — each partition scans
once, so it parallelizes perfectly; the constraint at 100 TB is |queries|
staying broadcast-sized.

The scale path is :func:`lsh_bucketed_topk`: random-hyperplane signs bucket
the corpus so each query only scans its bucket (recall < 1, tunable by
``planes``/probing). Hyperplanes are derived deterministically from a seed so
runs are reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources import map_batches

SIM_SCALE = 4  # decimal places every reported cosine similarity keeps
PQ_DIST_SCALE = 6  # decimal places of the PQ / IVF-PQ approximate distances
IVF_N_PROBE = 4  # IVF cells each query scores in ivf_topk_portable
PQ_TOP_K = 5  # neighbours the PQ / IVF-PQ twins report per query
PQ_M = 32  # PQ sub-spaces
PQ_CODES = 16  # codewords per PQ sub-space
PQ_DIM = 64  # embedding width the PQ twins split into PQ_M sub-spaces
SEMDEDUP_T = 0.4  # cosine threshold of semantic_dup_pairs_portable
SEMDEDUP_CELLS = 16  # seed cells of semantic_dup_pairs_portable
INC_DUP_COSINE = 0.4  # incremental_semantic_dedup counts corpus rows at or above it


def _fold_sum(arr: Column) -> Column:
    """Left-fold double sum of an array (deterministic order)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def sq_norm(a: Column) -> Column:
    return _fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(sq_norm(a) * sq_norm(b))


def cents_array(cents: DataFrame) -> DataFrame:
    """One-row frame holding a BOUNDED (cell, cent) centroid table as a
    cell-ascending array<struct> column ``_cents`` — broadcast-crossJoined
    onto the corpus so :func:`argmax_cell` runs IN-ROW. The old shape
    (crossJoin the 16-row table, cosine per fanned row, per-id row_number
    window) multiplied the corpus n_centroids-fold and shuffled the fanned
    rows for the window; this shape shuffles NOTHING on the corpus side."""
    return cents.agg(
        F.sort_array(F.collect_list(F.struct("cell", "cent"))).alias("_cents")
    )


def argmax_cell(vec: Column, cents_arr: Column) -> Column:
    """In-row argmax-cosine cell id over the centroid array — replicates
    ``ROW_NUMBER() OVER (PARTITION BY id ORDER BY cosine DESC, cell ASC)
    = 1`` EXACTLY: a strict-greater scan in cell-ascending order keeps the
    lowest cell on float-equal ties, and the explicit NaN arm reproduces
    the sort semantics both engines give NaN (greater than every double —
    a zero centroid makes cosine NaN, and the window ranked such a cell
    first, so the fold must too). The per-element cosine is let-bound
    (single-element transform) so the three references in the comparison
    cost one fold evaluation."""
    start = F.struct(
        F.lit(None).cast("double").alias("cs"),
        F.lit(None).cast("int").alias("cell"),
    )

    def step(acc, c):
        return F.get(
            F.transform(
                F.array(cosine(vec, c["cent"])),
                lambda cs: F.when(
                    acc["cell"].isNull()
                    | (cs > acc["cs"])
                    | (F.isnan(cs) & ~F.isnan(acc["cs"])),
                    F.struct(
                        cs.alias("cs"), c["cell"].cast("int").alias("cell")
                    ),
                ).otherwise(acc),
            ),
            0,
        )

    return F.aggregate(cents_arr, start, step)["cell"]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Ranking uses the rounded similarity with the neighbor id as tiebreak so
    results are engine- and partitioning-independent.
    Output: (query_id, neighbor_id, sim, rnk).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    sim = F.round(cosine(F.col("q_vec"), F.col("c_vec")), SIM_SCALE)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def cosine_pairs(corpus: DataFrame, threshold: float) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b), a < b, with rounded
    cosine ≥ threshold.

    Exact all-pairs (quadratic) — the verification path. At corpus scale,
    generate candidates with :func:`lsh_bucketed_topk`'s bucketing first and
    feed only candidate pairs through this filter. Norms are computed once
    per side before the join, so the joined row does only the dot product.
    """
    prepped = corpus.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        F.sqrt(sq_norm(F.col("embedding"))).alias("norm"),
    )
    a = prepped.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = prepped.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    sim = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), SIM_SCALE)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def cosine_pairs_grouped(
    corpus: DataFrame,
    threshold: float,
    n_blocks: int = 16,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, fully distributed (no driver
    collect, no corpus broadcast) — identical output to :func:`cosine_pairs`.

    2-D block decomposition: vectors are hash-assigned to ``n_blocks``
    blocks; each row is replicated to every unordered block pair its block
    participates in (narrow explode, ``n_blocks`` copies), grouped by block
    pair (ONE shuffle), and each group does one numpy matmul of its two
    blocks, emitting only surviving pairs.

    Scale: shuffle volume is ``n_blocks × |corpus|`` rows and per-task memory
    is two blocks (``2·N/n_blocks`` vectors), so ``n_blocks ≈ √(N·dim·8 /
    task_mem)`` keeps tasks bounded at any corpus size. The compute is
    inherently quadratic (it is exact all-pairs): at real corpus scale,
    generate candidates with MinHash/LSH bucketing first and verify only
    candidate pairs — this operator is the dense verifier/oracle path.
    """
    import numpy as np
    import pandas as pd

    prepped = corpus.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # every unordered block pair (min(blk,j), max(blk,j)) this row's block is in
    pair_structs = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("pa"),
                F.greatest(F.col("blk"), F.lit(j)).alias("pb"),
            )
            for j in range(n_blocks)
        ]
    )
    exploded = prepped.select(
        "id", "v", "blk", F.explode(pair_structs).alias("p")
    ).select("id", "v", "blk", F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "sim": np.array([], dtype=np.float64),
            }
        )

    def compute(key, pdf):
        ka, kb = key

        def mat(sub):
            ids = sub["id"].to_numpy(dtype=np.int64)
            m = np.stack(sub["v"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(m, axis=1, keepdims=True)
            return ids, m / np.where(n == 0, 1.0, n)

        if ka == kb:
            ids_a, a = mat(pdf)
            ids_b, b = ids_a, a
        else:
            in_a = pdf["blk"] == ka
            if not in_a.any() or in_a.all():  # one side empty → no cross pairs
                return _empty()
            ids_a, a = mat(pdf[in_a])
            ids_b, b = mat(pdf[~in_a])
        sims = np.round(a @ b.T, SIM_SCALE)
        mask = sims >= threshold
        if ka == kb:
            mask &= ids_a[:, None] < ids_b[None, :]
        i, j = np.nonzero(mask)
        if not len(i):
            return _empty()
        return pd.DataFrame(
            {
                "id_a": np.minimum(ids_a[i], ids_b[j]),
                "id_b": np.maximum(ids_a[i], ids_b[j]),
                "sim": sims[i, j],
            }
        )

    return exploded.groupBy("pa", "pb").applyInPandas(
        compute, "id_a bigint, id_b bigint, sim double"
    )


def _id_vec(df: DataFrame) -> DataFrame:
    """(id, vec array<double>) of an embeddings frame."""
    return df.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("vec")
    )


def _normed(m):
    import numpy as np

    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0, 1.0, n)


def _cell_mapper(b_cents):
    """mapInPandas factory: append the nearest-centroid index (cosine; the
    first of tied centroids) to each row of (id, vec) batches."""
    import numpy as np

    def mapper(batches):
        cmat = b_cents.value
        for pdf in batches:
            block = np.array(pdf["vec"].tolist(), dtype=np.float64)
            sims = _normed(block) @ cmat.T
            yield pdf.assign(cell=np.argsort(-sims, axis=1)[:, 0])

    return mapper


_VEC_SCHEMA = "id bigint, vec array<double>, cell int"


def _seed_centroids(prep: DataFrame, n_centroids: int):
    """Deterministic corpus sample: the ``n_centroids`` rows with smallest
    ``xxhash64(id)`` — uniform and seedless-reproducible."""
    import numpy as np

    rows = prep.orderBy(F.xxhash64(F.col("id")), F.col("id")).limit(n_centroids).collect()
    return _normed(np.array([r["vec"] for r in rows], dtype=np.float64))


def _farthest_point_seeds(prep: DataFrame, n_centroids: int):
    """Deterministic k-means++-style init: pull a hash-ordered sample of
    ``16 × n_centroids`` rows (bounded, never the corpus), then
    greedily pick seeds by farthest-point (max-min cosine distance). A
    plain uniform sample routinely drops two seeds into one cluster and
    leaves another cluster unserved — Lloyd cannot split a merged cell, so
    the init must spread; greedy max-min does, and stays bit-deterministic
    (ties broken by sample order)."""
    import numpy as np

    sample = (
        prep.orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(max(256, 16 * n_centroids))
        .collect()
    )
    pts = _normed(np.array([r["vec"] for r in sample], dtype=np.float64))
    if len(pts) <= n_centroids:
        return pts
    chosen = [0]
    # best_sim[i] = similarity of point i to its nearest chosen seed
    best_sim = pts @ pts[0]
    for _ in range(n_centroids - 1):
        nxt = int(np.argmin(best_sim))  # farthest from every chosen seed
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, pts @ pts[nxt])
    return pts[chosen]


def kmeans_centroids(corpus: DataFrame, n_centroids: int = 16, n_iter: int = 2):
    """Distributed Lloyd refinement of the IVF centroids (spherical-k-means
    variant: cosine assignment, per-cell raw mean, renormalized each round).

    Per iteration: one narrow assignment pass (broadcast centroids, numpy
    argmax per batch) and one aggregation of (cell, dim, value) —
    posexplode fans each row out ``dim``-fold, but the per-(cell, dim) sum
    partial-aggregates map-side, so the shuffle carries at most
    ``n_centroids × dim`` rows per task regardless of corpus size. Only the
    k×dim centroid matrix ever reaches the driver. Dimension sums go
    through the decimal detour, so centroids (and therefore every
    downstream assignment) are independent of partitioning.

    Returns the normalized (n_centroids × dim) numpy matrix; empty cells
    keep their previous centroid.
    """
    import numpy as np

    from .aggregates import DEC

    spark = corpus.sparkSession
    prep = _id_vec(corpus)
    cents = _farthest_point_seeds(prep, n_centroids)
    for _ in range(n_iter):
        b = spark.sparkContext.broadcast(cents)
        assigned = map_batches(prep, _cell_mapper(b), _VEC_SCHEMA)
        stats = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("val").cast(DEC)).cast("double").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = cents.copy()
        by_cell: dict[int, list] = {}
        for r in stats:
            by_cell.setdefault(r["cell"], []).append(r)
        for cell, rs in by_cell.items():
            vec = np.zeros(cents.shape[1])
            for r in rs:
                vec[r["pos"]] = r["s"] / r["n"]
            new[cell] = vec
        cents = _normed(new)
        b.unpersist()
    return cents


def ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
) -> DataFrame:
    """IVF top-k whose every step is SQL-expressible, so the operator is
    exact-oracle-checkable end to end (mirroring the ``dedup_minhash_lsh``
    / ``dedup_lsh_portable`` split).

    What makes it checkable, where a numpy/k-means path would not be:

      * seeding — the ``n_centroids`` corpus rows with smallest Knuth
        multiplicative hash ``(id * 2654435761) % 2^32`` (pure integer
        arithmetic, identical in any engine), cells indexed in hash order;
      * assignment — argmax cosine over the broadcast centroid rows via
        JVM ``aggregate``/``zip_with`` folds, whose left-to-right order is
        pinned and matches DuckDB's ``list_sum`` bit-for-bit (ties broken
        by cell index), instead of numpy matmul whose pairwise/SIMD
        summation order is engine-private.

    The candidate join stays the linear-scale equi-join on cell id. The
    assignment uses a per-id window over a ``n_centroids``-fold fan-out —
    fine at oracle scale.
    """
    from .parallelism import ensure_min_parallelism

    # the per-row interpreted cosine folds below (corpus x n_centroids)
    # are narrow from the scan — one task at small-file scale without the
    # guard (operators/parallelism.py); queries are a bounded set, cheap
    c_prep = ensure_min_parallelism(_id_vec(corpus))
    q_prep = _id_vec(queries)
    h = (F.col("id") * F.lit(2654435761)) % F.lit(4294967296)
    seeds = (
        c_prep.select("id", "vec", h.alias("h")).orderBy("h", "id").limit(n_centroids)
    )
    w_seed = Window.orderBy("h", "id")  # n_centroids rows: single task is fine
    cents = seeds.select(
        (F.row_number().over(w_seed) - 1).alias("cell"), F.col("vec").alias("cent")
    )

    def assign(df: DataFrame, n_take: int) -> DataFrame:
        w = Window.partitionBy("id").orderBy(F.desc("_csim"), F.asc("cell"))
        return (
            df.crossJoin(F.broadcast(cents))
            .withColumn("_csim", cosine(F.col("vec"), F.col("cent")))
            .withColumn("_crn", F.row_number().over(w))
            .filter(F.col("_crn") <= n_take)
            .drop("_csim", "_crn", "cent")
        )

    # corpus side: IN-ROW argmax (argmax_cell == the window's rn=1, NaN
    # and tie semantics included) — the old n_centroids-fold crossJoin +
    # per-id window shuffled corpus x 16 rows EACH CARRYING the 64-double
    # vector; this is a zero-shuffle projection. The bounded query side
    # keeps the window (it needs top-IVF_N_PROBE, and 10 rows cost nothing).
    assigned = c_prep.crossJoin(F.broadcast(cents_array(cents))).select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        argmax_cell(F.col("vec"), F.col("_cents")).alias("cell"),
    )
    probed = assign(q_prep, IVF_N_PROBE).select(
        F.col("id").alias("query_id"), F.col("vec").alias("q_vec"), "cell"
    )
    # corpus rows live in exactly one cell, so (query, neighbor) is unique
    scored = assigned.join(F.broadcast(probed), on="cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = F.round(cosine(F.col("q_vec"), F.col("c_vec")), SIM_SCALE)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def semantic_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_centroids: int = 16,
    n_iter: int = 2,
    centroids=None,
    target_cell_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings into ``n_centroids`` spherical
    k-means cells, then emit within-cell pairs with rounded cosine >=
    ``threshold`` — cross-cell duplicates are deliberately out of scope
    (the paper's trade: the quadratic all-pairs scan shrinks to per-cell
    scans, and semantically-close points overwhelmingly co-locate).

    Production path: :func:`kmeans_centroids` training (``n_iter`` Lloyd
    rounds; deterministic farthest-point seeding) + one narrow numpy
    argmax assignment pass per row, then a per-cell numpy pair scan
    (``groupBy(cell).applyInPandas``): each cell's block is one normalized
    matmul and an upper-triangle threshold cut. The r7 rewrite replaced a
    cell-keyed self-join whose cosine ran as an interpreted HOF fold per
    CANDIDATE pair — measured ~25x slower than the block matmul at equal
    pair counts (134 s vs ~5 s for 12.5M pairs) — and with it the
    localCheckpoint the two-sided join consumption required.

    Scale: the join is an equi-join on cell id — linear shuffle,
    AQE-skew-splittable — but work within a cell is quadratic in cell
    occupancy, so ``n_centroids`` must grow with the corpus to keep cells
    bounded (SemDeDup uses 11k clusters for LAION-440M; occupancy
    N/n_centroids is the knob, exactly the LSH bucket-width discipline).
    ``target_cell_rows`` turns that discipline on: one count action sizes
    ``n_centroids = max(n_centroids, ceil(N / target_cell_rows))``, so
    expected occupancy — and with it the per-cell quadratic term — stays
    CONSTANT as the corpus grows (pair work O(N × target), assignment
    O(N × k × dim) numpy flops: both linear in N for fixed target; the r7
    sf0.1→sf1 probe measured 1.67×/decade at 10× rows vs the fixed-k
    twin's 19×, and sf1 wall fell 103.7 s → 3.2 s vs the HOF-join draft).
    At extreme N the k × dim centroid broadcast is the next bound
    (~0.5 GB per 1e9 rows at target 125, dim 64) — raise the target or
    assign hierarchically before that bites.

    ``centroids`` injects a precomputed (k x dim) matrix (parity tests);
    ``n_iter=0`` uses the hash-sample seeds unrefined.
    Output: (id_a, id_b, cell, sim), id_a < id_b, sim >= threshold.
    """
    spark = corpus.sparkSession
    c_prep = _id_vec(corpus)
    if target_cell_rows is not None and centroids is None:
        n_rows = c_prep.count()
        if n_rows == 0:
            # fail loudly here, not opaquely in kmeans seeding on an
            # empty frame
            raise ValueError("semantic_dup_pairs: empty corpus")
        n_centroids = min(max(n_centroids, -(-n_rows // target_cell_rows)), n_rows)
    if centroids is not None:
        cents = centroids
    elif n_iter > 0:
        cents = kmeans_centroids(corpus, n_centroids, n_iter)
    else:
        cents = _seed_centroids(c_prep, n_centroids)
    b_cents = spark.sparkContext.broadcast(cents)
    assigned = map_batches(c_prep, _cell_mapper(b_cents), _VEC_SCHEMA)
    return assigned.groupBy("cell").applyInPandas(
        _cell_pair_scanner(threshold),
        "id_a bigint, id_b bigint, cell int, sim double",
    )


def hierarchical_cells(
    corpus: DataFrame,
    n_coarse: int,
    n_fine: int,
    n_iter: int = 2,
    n_rows: int | None = None,
) -> DataFrame:
    """Two-level (coarse→fine) spherical k-means cell assignment — the
    documented extreme-N fix for the flat path's k×dim centroid broadcast
    (:func:`semantic_dup_pairs` docstring: ~0.5 GB per 1e9 rows at target
    occupancy 125). Level 1 trains ``n_coarse`` ≈ √k centroids with the
    existing distributed Lloyd (broadcast is √k × dim); level 2 trains
    ``n_fine`` sub-centroids WITHIN each coarse cell, and the fine
    centroid set is never broadcast at all — it lives in a (cell1, sub,
    cvec) DataFrame cogrouped with the rows by coarse cell, so each task
    sees only ITS cell's ``n_fine`` centroids (total fine state k × dim
    stays distributed).

    Fine seeding is hash-deterministic and occupancy-adaptive: a rate-
    filtered sample (expected ``4 × n_fine`` rows per coarse
    cell — the row_number window runs over this BOUNDED sample, never the
    cell) plus a per-cell argmin-hash guarantee row, so every nonempty
    coarse cell gets ≥ 1 sub-centroid and thin cells naturally get fewer
    (their occupancy doesn't need more). Fine Lloyd iterations are fully
    distributed: cogrouped numpy argmax assignment, per-(cell1, sub, dim)
    decimal sums (partitioning-independent), centroids rebuilt and
    renormalized as DataFrame arrays with empty-cell fallback to the
    previous round — the driver never holds fine state.

    Returns (id, vec, cell1, sub) with every input row assigned.
    """
    import numpy as np

    from .aggregates import DEC

    prep = _id_vec(corpus)
    if n_rows is None:
        n_rows = prep.count()
    if n_rows == 0:
        raise ValueError("hierarchical_cells: empty corpus")
    cents1 = kmeans_centroids(corpus, n_coarse, n_iter)
    b1 = corpus.sparkSession.sparkContext.broadcast(cents1)
    assigned1 = (
        map_batches(prep, _cell_mapper(b1), _VEC_SCHEMA)
        .withColumnRenamed("cell", "cell1")
        # EAGER (a lazy flip was tried in r16 and reverted: the multiple
        # same-action consumers race to compute unpersisted partitions —
        # dedup_semantic_hier benched 3.92 -> 5.54 s lazy)
        .localCheckpoint(eager=True)
    )

    h = F.xxhash64("id")
    # expected 4 * n_fine rows per coarse cell
    rate_num = min(4 * n_fine * max(n_coarse, 1), n_rows)
    sample = assigned1.filter(
        F.pmod(h, F.lit(n_rows)) < F.lit(rate_num)
    )
    guarantee = assigned1.join(
        assigned1.groupBy("cell1").agg(
            F.min_by("id", F.struct(h.alias("h"), F.col("id"))).alias("id")
        ),
        ["cell1", "id"],
    )
    w_seed = Window.partitionBy("cell1").orderBy(h.asc(), F.col("id").asc())
    fine = (
        sample.unionByName(guarantee)
        .dropDuplicates(["cell1", "id"])
        .withColumn("_rn", F.row_number().over(w_seed))
        .filter(F.col("_rn") <= n_fine)
        .select(
            "cell1",
            (F.col("_rn") - 1).cast("int").alias("sub"),
            _norm_array(F.col("vec")).alias("cvec"),
        )
        .localCheckpoint(eager=True)
    )

    out_schema = "id bigint, vec array<double>, cell1 int, sub int"

    def assign_fn(rows, cents):
        import pandas as pd

        if rows.empty:
            return pd.DataFrame(
                {"id": [], "vec": [], "cell1": [], "sub": []}
            ).astype({"id": "int64", "cell1": "int32", "sub": "int32"})
        cents = cents.sort_values("sub").reset_index(drop=True)
        cmat = np.array(cents["cvec"].tolist(), dtype=np.float64)
        block = _normed(np.array(rows["vec"].tolist(), dtype=np.float64))
        best = np.argmax(block @ cmat.T, axis=1)
        out = rows[["id", "vec"]].copy()
        out["cell1"] = rows["cell1"].to_numpy()
        out["sub"] = cents["sub"].to_numpy()[best].astype("int32")
        return out

    def assign(fine_tab):
        return (
            assigned1.groupBy("cell1")
            .cogroup(fine_tab.groupBy("cell1"))
            .applyInPandas(assign_fn, out_schema)
        )

    for _ in range(n_iter):
        stats = (
            assign(fine)
            .select("cell1", "sub", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cell1", "sub", "pos")
            .agg(
                F.sum(F.col("val").cast(DEC)).cast("double").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        rebuilt = stats.groupBy("cell1", "sub").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", (F.col("s") / F.col("n")).alias("m")))),
                lambda st: st.getField("m"),
            ).alias("_raw")
        )
        fine = (
            fine.join(rebuilt, ["cell1", "sub"], "left")
            .select(
                "cell1",
                "sub",
                F.coalesce(_norm_array_or_null(F.col("_raw")), F.col("cvec")).alias(
                    "cvec"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return assign(fine)


def _norm_array(vec: Column) -> Column:
    """L2-normalize an array<double> column (zero-norm → unchanged)."""
    nrm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(nrm > 0, F.transform(vec, lambda x: x / nrm)).otherwise(vec)


def _norm_array_or_null(vec: Column) -> Column:
    """L2-normalize, but yield NULL for missing or zero-norm arrays (the
    Lloyd empty/degenerate-cell fallback hook for coalesce)."""
    nrm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(vec.isNotNull() & (nrm > 0), F.transform(vec, lambda x: x / nrm))


def semantic_dup_pairs_hier(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_iter: int = 2,
    target_cell_rows: int = 125,
    n_coarse: int | None = None,
    n_fine: int | None = None,
) -> DataFrame:
    """SemDeDup duplicate pairs over the TWO-LEVEL cell assignment
    (:func:`hierarchical_cells`): total cell count k = ceil(N / target)
    keeps per-cell pair work constant (the flat path's occupancy
    discipline), split as n_coarse = ceil(√k) × n_fine = ceil(k / √k) so
    no stage ever broadcasts or driver-holds more than √k × dim centroid
    state. Pair scanning reuses the per-cell numpy block matmul on the
    composite (cell1, sub) key.

    Output: (id_a, id_b, cell, sim) with cell = cell1 * 65536 + sub —
    id_a < id_b, sim rounded to ``SIM_SCALE``, >= threshold.

    ``n_coarse``/``n_fine`` override the √k split (parity tests pin a
    known cluster structure with them)."""
    import math

    prep = _id_vec(corpus)
    n_rows = prep.count()
    if n_rows == 0:
        raise ValueError("semantic_dup_pairs_hier: empty corpus")
    k = max(1, -(-n_rows // target_cell_rows))
    if n_coarse is None:
        n_coarse = max(1, math.ceil(math.sqrt(k)))
    if n_fine is None:
        n_fine = max(1, -(-k // n_coarse))
    if n_fine >= 65536:
        raise ValueError("semantic_dup_pairs_hier: n_fine exceeds cell encoding")
    assigned = hierarchical_cells(
        corpus, n_coarse, n_fine, n_iter=n_iter, n_rows=n_rows,
    )
    combined = assigned.select(
        "id", "vec",
        (F.col("cell1").cast("int") * 65536 + F.col("sub").cast("int")).alias("cell"),
    )
    return combined.groupBy("cell").applyInPandas(
        _cell_pair_scanner(threshold),
        "id_a bigint, id_b bigint, cell int, sim double",
    )


def _fround_double(x: float) -> float:
    """Python replica of Spark's ``F.round(double, SIM_SCALE)``: round the
    SHORTEST-decimal representation HALF_UP (Catalyst's Round delegates to
    BigDecimal.valueOf, i.e. Double.toString — the same shortest-repr
    algorithm as Python's repr). Pinned bit-for-bit against F.round in
    tests/test_similarity.py; a float multiply trick (floor(x*10^s+0.5))
    crosses .xxxx5 midpoints differently and must not replace this."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-SIM_SCALE), ROUND_HALF_UP))


def _cell_pair_scanner(threshold: float):
    """applyInPandas factory: one cell's rows in, its duplicate pairs out.

    Sorts the block by id (partitioning-independent), computes the full
    cosine Gram via one normalized matmul, and emits the upper triangle at
    or above ``threshold``. Rounding replicates ``F.round(double, s)``
    EXACTLY: Spark rounds the shortest-decimal representation HALF_UP
    (BigDecimal.valueOf semantics), so candidates within a slack band of
    the threshold are re-rounded via ``Decimal(repr(x))`` — a float
    multiply trick (floor(x*10^s + 0.5)) can cross a .xxxx5 midpoint the
    exact decimal doesn't, silently breaking production/twin pair-set
    parity at the threshold boundary (r7 review). The Decimal pass runs
    only on surviving candidates — a few hundred per cell, not the
    occupancy-squared Gram. Memory and flops are quadratic in
    CELL OCCUPANCY only — the caller's ``target_cell_rows`` bound is what
    makes this a constant-size task at any corpus scale. A degenerate
    corpus (mass collapse onto one semantic point) still concentrates in
    one cell: that quadratic is SemDeDup's semantics, not this plan —
    every implementation pays it on such input.
    """
    import numpy as np
    import pandas as pd

    def scanner(pdf):
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        block = _normed(np.array(pdf["vec"].tolist(), dtype=np.float64))
        sims = block @ block.T
        ii, jj = np.triu_indices(len(ids), k=1)
        raw = sims[ii, jj]
        # slack superset: rounding at scale s moves a value < 10^-s, so
        # nothing below threshold - 10^-s can round up across it
        cand = raw >= threshold - 10.0**-SIM_SCALE
        ii, jj, raw = ii[cand], jj[cand], raw[cand]
        rounded = np.array([_fround_double(x) for x in raw], dtype=np.float64)
        keep = rounded >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[ii[keep]],
                "id_b": ids[jj[keep]],
                "cell": np.full(int(keep.sum()), pdf["cell"].iat[0], dtype=np.int32),
                "sim": rounded[keep],
            }
        )

    return scanner


def portable_cells(
    corpus: DataFrame,
    n_centroids: int = 16,
    seed_corpus: DataFrame | None = None,
) -> DataFrame:
    """SQL-expressible cell assignment: Knuth-hash seed centroids (the
    ivf_topk_portable seeding), argmax cosine via order-pinned JVM folds,
    ties broken by cell index. Returns (id, vec, cell), eagerly
    materialized — every consumer (pair self-join sides, occupancy counts)
    would otherwise re-execute the n_centroids-fold assignment fan-out.

    ``seed_corpus`` seeds the centroids from a DIFFERENT table than the
    one being assigned (the incremental-ingest shape: a delta batch is
    assigned into the standing corpus's cells, never its own)."""
    c_prep = _id_vec(corpus)
    s_prep = c_prep if seed_corpus is None else _id_vec(seed_corpus)
    h = (F.col("id") * F.lit(2654435761)) % F.lit(4294967296)
    seeds = (
        s_prep.select("id", "vec", h.alias("h")).orderBy("h", "id").limit(n_centroids)
    )
    w_seed = Window.orderBy("h", "id")  # n_centroids rows: single task is fine
    cents = seeds.select(
        (F.row_number().over(w_seed) - 1).alias("cell"), F.col("vec").alias("cent")
    )
    # in-row argmax (argmax_cell == the old per-id window's rn=1): no
    # n_centroids-fold fan-out, no corpus window shuffle. Checkpoint stays
    # EAGER: the consumers run in ONE action, and a lazy checkpoint lets
    # concurrent stages race to compute unpersisted partitions — the r16
    # bench measured incremental_semantic_dedup 1.57 -> 2.46 s under the
    # lazy flip (assignment evaluated 2-3x concurrently) before reverting.
    return (
        c_prep.crossJoin(F.broadcast(cents_array(cents)))
        .select(
            "id",
            "vec",
            argmax_cell(F.col("vec"), F.col("_cents")).alias("cell"),
        )
        .localCheckpoint(eager=True)
    )


def semantic_dup_pairs_portable(
    corpus: DataFrame, cells: DataFrame | None = None
) -> DataFrame:
    """SQL-expressible twin of :func:`semantic_dup_pairs` (the
    ivf_topk_portable discipline): Knuth-hash centroid seeding, no Lloyd
    refinement, assignment by argmax cosine over the broadcast seed rows
    via order-pinned JVM folds — every step reproducible bit-for-bit in
    DuckDB, so the within-cell pair set is exact-oracle-checkable. The
    per-id assignment window fans each row ``SEMDEDUP_CELLS``-fold — fine at
    oracle scale; production uses the narrow numpy pass.

    ``cells`` injects a precomputed :func:`portable_cells` result so a
    caller that also needs the assignment (occupancy counts, survivor
    stats) shares ONE checkpointed table and ONE definition of the pair
    join — the survivors query used to carbon-copy this body (r7 review).

    Output: (id_a, id_b, cell, sim), id_a < id_b, sim >= SEMDEDUP_T.
    """
    assigned = (
        cells
        if cells is not None
        else portable_cells(corpus, SEMDEDUP_CELLS)
    )
    a = assigned.alias("a").hint("shuffle_hash")
    b = assigned.alias("b").hint("shuffle_hash")
    sim = F.round(cosine(F.col("a.vec"), F.col("b.vec")), SIM_SCALE)
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.cell").alias("cell"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= SEMDEDUP_T)
    )


def incremental_semantic_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    n_centroids: int = 16,
) -> DataFrame:
    """Incremental (delta-batch) semantic dedup — the embedding-modality
    twin of the exact ``incremental_dedup`` catalog query: assign the
    DELTA into the STANDING corpus's cells (corpus-seeded portable
    centroids — a new batch must never re-derive its own cell geometry)
    and judge each delta vector against the corpus rows sharing its cell.

    Scale shape (the incremental_dedup discipline): the corpus is
    assigned and scanned IN PLACE — one pass, never shuffled against
    itself, never broadcast; the bounded delta is the broadcast side of
    the cell join, and the per-delta verdict aggregate (delta-sized) is
    the broadcast side of the attach-back join. Daily ingest is
    O(corpus scan + batch). Preserving unmatched deltas while
    broadcasting the delta cannot be one outer BroadcastHashJoin (the
    preserved side can't be the build side), hence inner-join → aggregate
    → left-attach.

    Output per delta row: (vec_id, cell, best_sim, n_dups, status) —
    best_sim = max rounded same-cell cosine vs the corpus (NULL when the
    cell holds no corpus rows), n_dups = same-cell corpus rows at or
    above :data:`INC_DUP_COSINE`, status = 'dup'/'novel'. All
    tie-invariant.
    """
    cells_c = portable_cells(corpus, n_centroids)
    cells_d = portable_cells(
        delta, n_centroids, seed_corpus=corpus
    )
    sim = F.round(cosine(F.col("d.vec"), F.col("c.vec")), SIM_SCALE)
    scored = (
        cells_c.alias("c")
        .join(F.broadcast(cells_d.alias("d")), F.col("d.cell") == F.col("c.cell"))
        .select(F.col("d.id").alias("id"), sim.alias("sim"))
    )
    agg = scored.groupBy("id").agg(
        F.max("sim").alias("best_sim"),
        F.sum((F.col("sim") >= INC_DUP_COSINE).cast("long")).alias("n_dups"),
    )
    return (
        cells_d.select("id", "cell")
        .join(F.broadcast(agg), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "cell",
            "best_sim",
            F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
            F.when(F.coalesce("n_dups", F.lit(0)) > 0, F.lit("dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )


def semantic_survivor_stats(pairs: DataFrame, assigned_counts: DataFrame) -> DataFrame:
    """Per-cell SemDeDup keep/drop accounting from a duplicate-pair table.

    Keep rule (deterministic, SQL-expressible): a point is DROPPED iff it
    has a duplicate neighbor with a smaller id — the min-id variant of
    SemDeDup's keep-one-per-ball (the paper keeps the point with lowest
    centroid similarity; min-id is the engine's standard survivor tiebreak,
    cf. dedup.py survivor selection). Dropped ids are exactly the distinct
    ``id_b`` values of the (id_a < id_b) pair table, computed per cell with
    one aggregation — no window, no iteration.

    ``assigned_counts``: (cell, n_points) — per-cell occupancy from the
    assignment. Output: (cell, n_points, n_dup_pairs, n_dropped, n_kept).
    """
    per_cell = pairs.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.count_distinct(F.col("id_b")).alias("n_dropped"),
    )
    return (
        assigned_counts.join(per_cell, "cell", "left")
        .select(
            "cell",
            "n_points",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_points") - F.coalesce("n_dropped", F.lit(0))).alias("n_kept"),
        )
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (pure function of
    (plane, dim) under the fixed seed 42 — same on every executor, no RNG
    state)."""
    import math

    return [
        math.sin(42 * 1000003.0 + plane * 10007.0 + i * 101.0) for i in range(dim)
    ]


def lsh_signature(vec: Column, dim: int, planes: int = 16) -> Column:
    """Random-hyperplane (sign) LSH bucket id for a vector column."""
    sig = F.lit(0).cast("long")
    for p in range(planes):
        coeffs = _hyperplane(dim, p)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(c) for c in coeffs]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.shiftleft(F.when(proj > 0, 1).otherwise(0).cast("long"), p)
    return sig


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 8,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket are
    scored. Equi-join on bucket id → shuffle-partitioned by bucket, linear
    scale; recall traded via ``planes``.
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        lsh_signature(F.col("embedding"), dim, planes).alias("bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        lsh_signature(F.col("embedding"), dim, planes).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), on="bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = F.round(cosine(F.col("q_vec"), F.col("c_vec")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def quantize_int8(df: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    standard 4× memory reduction for ANN indexes (float32 → int8 per
    dimension, one scale per vector).

    Per vector: ``scale = max(|x|) / 127``; ``q_i = floor(x_i/scale + 0.5)``
    clamped to [-127, 127] (the ``floor(x+0.5)`` form is two correctly-
    rounded IEEE ops, identical on every engine, where ROUND(double)'s
    midpoint convention differs between engines). All-zero vectors get
    q = 0. Entirely narrow (one projection, zero shuffles, JVM-side HOFs);
    adds ``q_scale double`` and ``q array<long>``.
    """
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, F.abs)) / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(
            e,
            lambda x: F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"),
                    F.floor(x / scale + F.lit(0.5)),
                ),
            ),
        ),
    ).otherwise(F.transform(e, lambda x: F.lit(0).cast("long")))
    return df.withColumn("q_scale", scale).withColumn("q", q)


def pq_topk_portable(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Product-quantization ADC top-k, portable twin (the third
    oracle-checkable ANN index after the LSH and IVF twins): vectors are
    L2-normalized, split into ``m`` subvectors, each encoded as the index
    of its nearest sub-codeword, and queries rank candidates by the
    ASYMMETRIC distance — the sum over subvectors of the exact squared L2
    between the query's subvector and the candidate's codeword. On
    normalized vectors ascending approx-L2 is descending approx-cosine,
    so the output is comparable to exact ``cosine_topk`` (recall@5 = 0.46
    at sf0.01 with m=32, n_codes=16 — above the IVF twin's 0.40).

    Plan shape — every stage NARROW except the final per-query rank:

      * codebook: the ``n_codes`` Knuth-hash seed rows (ivf_topk_portable
        seeding), COLLECTED to the driver — bounded by n_codes x dim by
        construction (the centroid-pull discipline) — and inlined as one
        flat literal array, so encoding needs no join at all;
      * encoding: one projection pass — per subvector, argmin over the
        literal codewords via array_sort of (distance, index) structs
        (tie-break by index); codes are m bytes/vector, a
        dim*32/(m*log2(n_codes))-fold index-memory cut vs float32;
      * ADC: candidates = corpus codes x broadcast queries; the distance
        is ONE order-pinned fold per row (no aggregation, no shuffle), so
        the double is deterministic and the SQL twin reproduces it
        bit-for-bit with the same expression tree;
      * rank: per-query window, corpus-sized partitions — fine for a
        bounded query set, the same trade the LSH/IVF twins make.

    Output: (query_id, neighbor_id, approx_dist, rnk), rnk <= PQ_TOP_K.
    """
    from .parallelism import ensure_min_parallelism

    k, m, n_codes, dim = PQ_TOP_K, PQ_M, PQ_CODES, PQ_DIM

    # the PQ encode (corpus x m x n_codes interpreted HOF argmin) is
    # narrow from the scan — one task at small-file scale without the
    # guard (operators/parallelism.py); queries are a bounded set
    # guard BEFORE the prep: _pq_prep's checkpoint otherwise materializes
    # the whole normalize on the scan's partitioning (ONE task at
    # small-file scale — r16 measured it as ~1.5 s of the query's build
    # phase); repartitioning the raw scan makes the checkpointed
    # normalize itself run wide
    c_prep = _pq_prep(ensure_min_parallelism(corpus))
    q_prep = _pq_prep(queries)
    FLAT = _pq_flat_codebook(c_prep, n_codes)
    codes = _pq_encode(c_prep, FLAT, m, dim, n_codes)
    scored = (
        codes.crossJoin(
            F.broadcast(
                q_prep.select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
            )
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_s", _pq_adc(F.col("qvec"), F.col("codes"), FLAT, m, dim))
    )
    return _pq_rank(scored, k)


def _pq_prep(df: DataFrame) -> DataFrame:
    """Normalize + checkpoint a vector frame for the PQ twins."""
    id_col = "vec_id"
    vec_col = "embedding"
    e = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(_fold_sum(F.transform(e, lambda x: x * x)))
    # LET-BIND the norm (single-element transform: a lambda variable is a
    # bound VALUE, so the zero-norm CaseWhen's two references and every
    # per-element division reuse ONE fold evaluation — the
    # intra_doc_repetition pattern). This replaces the old TWO eager
    # checkpoints (norm stage + normalize stage = two full job barriers
    # per prep, paid for corpus AND queries in each ANN query build);
    # the single remaining checkpoint still materializes the normalized
    # array so downstream element_at fold lambdas read a stored column
    # instead of inlining the normalization per access. Lazy: the
    # codebook collect / first action materializes it.
    # Zero-norm guard, np.where(n == 0, 1, n) in numpy terms: a zero
    # vector divides by 1 (stays zero)
    # instead of producing NaNs that sort engine-dependently; the SQL
    # twin (_pq_oracle) writes the same CASE WHEN guard.
    vec = F.get(
        F.transform(
            F.array(nrm),
            lambda n: F.transform(
                e, lambda x: x / F.when(n == 0, F.lit(1.0)).otherwise(n)
            ),
        ),
        0,
    )
    return df.select(
        F.col(id_col).alias("id"), vec.alias("vec")
    ).localCheckpoint(eager=False)


def _pq_flat_codebook(c_prep: DataFrame, n_codes: int) -> Column:
    """Knuth-hash seed codebook, collected (bounded: n_codes × dim) and
    inlined as ONE array Literal node — F.array(*1024 lits) would re-embed
    the whole literal construction at every element_at reference,
    exploding the expression tree ~1000-fold (measured as multi-second
    plan compile)."""
    h = (F.col("id") * F.lit(2654435761)) % F.lit(4294967296)
    seed_rows = (
        c_prep.select("id", "vec", h.alias("h"))
        .orderBy("h", "id")
        .limit(n_codes)
        .collect()
    )
    return F.lit([v for r in seed_rows for v in r["vec"]])


def _pq_sq(x: Column) -> Column:
    return x * x


def _pq_codes_col(vec: Column, FLAT: Column, m: int, dim: int, n_codes: int) -> Column:
    """Per-subvector argmin code ARRAY for one row's vector — the encode
    expression shared by :func:`_pq_encode` (full-corpus twin scan) and
    the IVF-PQ path (which encodes only probed-cell candidates). Distance
    terms are unrolled left-associated sums, the same tree the SQL twin
    writes; the codebook literal is let-bound (:func:`_flat_bound`)."""
    from functools import reduce

    d_sub = dim // m

    def with_flat(flat: Column) -> Column:
        def sub_dist(j: Column, c: int) -> Column:
            terms = [
                _pq_sq(
                    F.element_at(vec, (j * d_sub + i + 1).cast("int"))
                    - F.element_at(flat, (F.lit(c * dim) + j * d_sub + i + 1).cast("int"))
                )
                for i in range(d_sub)
            ]
            return reduce(lambda a, t: a + t, terms)

        def argmin_code(j: Column) -> Column:
            cand = F.array(
                *[
                    F.struct(sub_dist(j, c).alias("d"), F.lit(c).alias("c"))
                    for c in range(n_codes)
                ]
            )
            return F.array_sort(cand)[0]["c"]

        return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), argmin_code)

    return _flat_bound(FLAT, with_flat)


def _flat_bound(FLAT: Column, body) -> Column:
    """Let-bind the (dim x n_codes)-double codebook literal: ``body``
    receives a lambda VARIABLE, so the literal node appears ONCE in the
    expression tree instead of once per element_at reference — the
    argmin/ADC folds reference it 32-64x, and driver-side analysis of a
    tree carrying 32 copies of a 1024-double literal measured ~1.2 s per
    query build (r16). Values are unchanged: a bound variable is the same
    array."""
    return F.get(F.transform(F.array(FLAT), body), 0)


def _pq_encode(
    c_prep: DataFrame, FLAT: Column, m: int, dim: int, n_codes: int
) -> DataFrame:
    """Per-subvector argmin encoding against the literal codebook — one
    narrow projection, no join."""
    return c_prep.select(
        F.col("id").alias("neighbor_id"),
        _pq_codes_col(F.col("vec"), FLAT, m, dim, n_codes).alias("codes"),
    )


def _pq_adc(qvec: Column, codes_col: Column, FLAT: Column, m: int, dim: int) -> Column:
    """Asymmetric distance: order-pinned fold over subvectors, unrolled
    per-dim terms — one deterministic double per candidate row."""
    from functools import reduce

    d_sub = dim // m

    def with_flat(flat: Column) -> Column:
        def dj(j: Column) -> Column:
            code = F.element_at(codes_col, (j + 1).cast("int"))
            terms = [
                _pq_sq(
                    F.element_at(qvec, (j * d_sub + i + 1).cast("int"))
                    - F.element_at(flat, (code * dim + j * d_sub + i + 1).cast("int"))
                )
                for i in range(d_sub)
            ]
            return reduce(lambda a, t: a + t, terms)

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0), lambda acc, j: acc + dj(j)
        )

    return _flat_bound(FLAT, with_flat)


def _pq_rank(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.asc("_s"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_s").cast("decimal(27,12)"), PQ_DIST_SCALE)
            .cast("double")
            .alias("approx_dist"),
            "rnk",
        )
    )


def ivfpq_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ composed index (the FAISS IVFADC shape — Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search"): coarse IVF cells
    bound WHICH candidates are scored, PQ codes bound WHAT is stored and
    the ADC cost per candidate — the pairing production ANN systems run
    at billion-vector scale, composed here from the two oracle-gated
    twins. Queries probe their ``n_probe`` nearest cells; only corpus
    codes in probed cells are scored, replacing the PQ twin's full
    compressed scan with an equi-join on the cell id (shuffle-partitioned
    and AQE-splittable — the join IS the inverted list).

    Determinism: cells assign on the NORMALIZED vectors with the same
    order-pinned cosine folds and (desc sim, asc cell) tie rule as the
    IVF twin; codebooks, encoding and ADC are exactly the PQ twin's.
    Global codebook rather than per-cell residual codebooks — a
    documented simplification (residual PQ needs per-cell codebooks whose
    training is k-means, not SQL).

    Output: (query_id, neighbor_id, approx_dist, rnk), rnk <= PQ_TOP_K.
    """
    from .parallelism import ensure_min_parallelism

    k, m, n_codes, dim = PQ_TOP_K, PQ_M, PQ_CODES, PQ_DIM

    # the PQ encode (corpus x m x n_codes interpreted HOF argmin) is
    # narrow from the scan — one task at small-file scale without the
    # guard (operators/parallelism.py); queries are a bounded set
    # guard BEFORE the prep: _pq_prep's checkpoint otherwise materializes
    # the whole normalize on the scan's partitioning (ONE task at
    # small-file scale — r16 measured it as ~1.5 s of the query's build
    # phase); repartitioning the raw scan makes the checkpointed
    # normalize itself run wide
    c_prep = _pq_prep(ensure_min_parallelism(corpus))
    q_prep = _pq_prep(queries)

    h = (F.col("id") * F.lit(2654435761)) % F.lit(4294967296)
    seeds = (
        c_prep.select("id", "vec", h.alias("h")).orderBy("h", "id").limit(n_centroids)
    )
    w_seed = Window.orderBy("h", "id")
    cents = seeds.select(
        (F.row_number().over(w_seed) - 1).cast("int").alias("cell"),
        F.col("vec").alias("cent"),
    )

    def assign(prep: DataFrame, rn_max: int, id_out: str) -> DataFrame:
        aw = Window.partitionBy("id").orderBy(F.desc("_cs"), F.asc("cell"))
        return (
            prep.crossJoin(F.broadcast(cents))
            .withColumn("_cs", cosine(F.col("vec"), F.col("cent")))
            .withColumn("_rn", F.row_number().over(aw))
            .filter(F.col("_rn") <= rn_max)
            .select(F.col("id").alias(id_out), "cell")
        )

    probes = assign(q_prep, n_probe, "query_id")

    FLAT = _pq_flat_codebook(c_prep, n_codes)
    # Corpus side: in-row argmax assignment (argmax_cell — no corpus
    # window shuffle), then prune to the PROBED cells BEFORE the PQ
    # encode: only candidates that can reach a query are ever encoded
    # (the m x n_codes interpreted argmin is the path's heaviest fold),
    # and cell + vec live in the same row so the old corpus-scale
    # codes-to-cells equi-join disappears entirely. The r15 verdict's
    # "bound the BNLJ rerank input" item: candidate rows are now bounded
    # by probe coverage at any corpus size.
    probed = probes.select("cell").distinct()
    cand = (
        c_prep.crossJoin(F.broadcast(cents_array(cents)))
        .select(
            F.col("id").alias("neighbor_id"),
            "vec",
            argmax_cell(F.col("vec"), F.col("_cents")).alias("cell"),
        )
        .join(F.broadcast(probed), "cell")
    )
    codes = cand.select(
        "neighbor_id", "cell", _pq_codes_col(F.col("vec"), FLAT, m, dim, n_codes).alias("codes")
    )
    scored = (
        codes.join(F.broadcast(probes), "cell")
        .join(
            F.broadcast(
                q_prep.select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
            ),
            "query_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_s", _pq_adc(F.col("qvec"), F.col("codes"), FLAT, m, dim))
    )
    return _pq_rank(scored, k)
