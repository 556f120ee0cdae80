"""Distributed graph analytics: integer-exact PageRank and degree-oriented
triangle counting, over graphs derived from the relational tables.

Both algorithms are written for Spark's execution model AND for exact
cross-engine verification:

- **PageRank** (Page et al. 1999) runs the standard edge-join/aggregate
  power iteration — but in INTEGER arithmetic: ranks are scaled longs, the
  damping redistribution is ``(rank * 17) div (20 * deg)`` (damping 0.85 as
  the exact rational 17/20, integral floor division). Floor division of
  positive longs is bit-identical on every engine, so a step-unrolled SQL
  oracle reproduces the ranks EXACTLY — no float drift across iterations,
  no transcendental re-derivation (the CLAUDE.md libm invariant). Each
  iteration is one shuffle join (ranks x out-edges) plus one aggregation —
  the textbook distributed plan — with ``localCheckpoint`` truncating the
  k-deep lineage (the BPE/k-means loop discipline).
- **Triangle counting** uses the degree-ordered orientation (Schank 2007;
  Suri & Vassilvitskii 2011): orient each undirected edge from its
  lower-(degree, id) endpoint to the higher one, then count directed wedges
  closed by an oriented edge. Orientation bounds every out-neighborhood by
  O(sqrt(m)) regardless of hub degree — THE property that keeps the wedge
  self-join from exploding on skewed degree distributions at 100 TB. Both
  self-joins carry SHUFFLE_HASH hints (derived self-join invariant: never
  let Catalyst broadcast the whole edge list).

Overflow bounds: with scale S and N nodes, per-node ranks stay near S (mass
is conserved up to floor truncation), but a worst-case hub could absorb
~N*S/deg mass — pick S so N*S < 2^62 at the target graph size (S=1e12 is
comfortable for graphs to ~4.6M nodes; drop to S=1e6 at 1e9 nodes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 10**12  # pagerank_integer's fixed-point rank of 1.0
PR_DAMP_NUM, PR_DAMP_DEN = 17, 20  # damping 0.85 as an exact ratio
HITS_SCALE = 10**6  # hits_integer's fixed-point maximum hub/auth score
HITS_ITERS = 3  # hits_integer's iteration count, replayed by its oracle
CHECKPOINT_EVERY = 4  # loop rounds between lineage cuts
MIN_PAIR_COUNT = 2  # order baskets two parts share to be co-purchase neighbours


def copurchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Undirected customer—supplier bipartite edges, LONG-encoded.

    One distinct (customer, supplier) edge per trading relationship,
    regardless of order volume. Node ids are packed into one long —
    customer key*2, supplier key*2+1 — so every shuffle/join/aggregate in
    the downstream iteration runs on fixed-width longs; decode to the
    'c<key>'/'s<key>' labels only on the bounded final output
    (``copurchase_pagerank``). String keys measured ~2x slower
    across the edge-build distinct + iteration joins at sf0.1.
    """
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )


def part_pair_edges(lineitem: DataFrame, keep_count: bool = False) -> DataFrame:
    """Undirected part co-purchase edges (u < v): parts sharing >=
    :data:`MIN_PAIR_COUNT` order baskets. In-row pair enumeration — see
    operators.affinity for the no-self-join rationale. With
    ``keep_count`` the basket count survives as ``pair_cnt`` (weighted
    consumers: :func:`sssp_rounds` affinity distances)."""
    from .affinity import _pair_structs, order_baskets

    pairs = (
        order_baskets(lineitem)
        .select(F.explode(_pair_structs(F.col("items"))).alias("pr"))
        .groupBy(F.col("pr.p1").alias("u"), F.col("pr.p2").alias("v"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= MIN_PAIR_COUNT)
    )
    return pairs if keep_count else pairs.select("u", "v")


def pagerank_integer(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, pr) after ``iters`` integer power iterations.

    ``edges`` is an UNDIRECTED (u, v) edge list; contributions flow both
    ways. pr_0 = PR_SCALE for every node;
    pr_{i+1}(v) = base + sum_{u~v} (pr_i(u) * PR_DAMP_NUM)
                                     div (PR_DAMP_DEN * deg(u))
    with base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) div PR_DAMP_DEN.
    All longs, all floor division — bit-identical to the unrolled SQL oracle.
    """
    bi = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # (src, dst, src_deg): the loop's static side, materialized once.
    # The checkpoint LOOKS like a ReusedExchange-rule violation (identical
    # subtree per iteration, one action) but is load-bearing: AQE converts
    # the per-iteration ranks joins to BROADCASTs at runtime, and each
    # broadcast build re-evaluates its whole un-checkpointed input — the
    # bloom_decontaminate wide-fanout effect. r16 measured the removal:
    # the edge build (join+distinct) physically re-ran 5x, 12.7 -> 49.6 s
    # task time, 3.2 -> 7.6 s wall on copurchase_pagerank. Keep the cut.
    ed = bi.join(deg, "u").select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "deg"
    )
    ed = ed.localCheckpoint(eager=False)

    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
    ranks = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(PR_SCALE).cast("long").alias("pr")
    )
    for i in range(iters):
        contrib = ed.join(ranks, ed.src == ranks.node).select(
            F.col("dst").alias("node"),
            F.expr(f"(pr * {PR_DAMP_NUM}) div ({PR_DAMP_DEN} * deg)").alias("c"),
        )
        # every node of an undirected graph has an in-edge, so the
        # aggregation covers all nodes — no dangling-mass special case
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("inflow"))
            .select("node", (F.lit(base) + F.col("inflow")).alias("pr"))
        )
        # checkpoint PERIODICALLY, not per iteration: each checkpoint is a
        # full job barrier, and a few chained join+agg stages plan fine —
        # only deep loops need the lineage cut (measured: per-iteration
        # checkpointing cost ~2x wall at 3 iterations)
        if (i + 1) % CHECKPOINT_EVERY == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation of an undirected (u, v) edge list.

    Directs each edge from its lower-(deg, id) endpoint to the higher one —
    out-degrees become O(sqrt(m))-bounded, so wedge enumeration never
    concentrates on a hub.
    """
    bi = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        edges.join(deg.select(F.col("u"), F.col("deg").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v"
        )
    )
    fwd = F.struct(F.col("du").alias("d"), F.col("u").alias("n")) < F.struct(
        F.col("dv").alias("d"), F.col("v").alias("n")
    )
    return e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )


def triangle_counts(edges: DataFrame, top_k: int = 15) -> DataFrame:
    """(node, triangles) for the top-k nodes by triangle participation.

    Wedge join over the degree-oriented edge list, closed by a third
    oriented edge; each triangle found exactly once, then exploded to its
    three corners. Total-order tie-break (triangles desc, node asc) +
    limit plans as TakeOrderedAndProject.
    """
    oe = oriented_edges(edges).localCheckpoint(eager=False)
    e1 = oe.alias("e1").hint("shuffle_hash")
    e2 = oe.alias("e2").hint("shuffle_hash")
    e3 = oe.alias("e3").hint("shuffle_hash")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
            "left_semi",
        )
        .select(
            F.array(
                F.col("e1.a"), F.col("e1.b"), F.col("e2.b")
            ).alias("corners")
        )
    )
    return (
        tri.select(F.explode("corners").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
        .orderBy(F.col("triangles").desc(), "node")
        .limit(top_k)
    )


def kcore_peel_counts(
    edges: DataFrame, k: int, rounds: int = 4
) -> DataFrame:
    """One summary row of ``rounds`` synchronous k-core peeling rounds
    (Seidman 1983 cores; the Batagelj–Zaversnik peel run a fixed number of
    synchronized rounds, the distributed formulation): each round keeps
    nodes whose degree in the CURRENT induced subgraph is >= k, then
    induces the subgraph on the survivors.

    All arithmetic is integer counting, so a round-unrolled SQL oracle
    reproduces every round bit-exactly (the pagerank_integer discipline —
    fixed iteration count, no convergence test, no float surface). Each
    round is two semi-joins (induce on survivors) + one degree aggregate;
    the per-round survivor table is localCheckpointed because it fans out
    to BOTH the round's count and the next round's joins (the
    bloom_decontaminate wide-fanout note), while ``bi`` is checkpointed
    once up front. Node tables are SF-scaled, so the semi-joins stay
    size-based for AQE — never force-broadcast.

    Output columns: ``n_nodes_total``, ``nodes_r1..nodes_r<rounds>``
    (survivors after each round), ``core_arcs`` (directed arc count of the
    final induced subgraph — 2x the undirected edge count).
    """
    bi = (
        edges.select("u", "v")
        .unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=False)
    )
    nodes = bi.select(F.col("u").alias("node")).distinct().localCheckpoint(
        eager=False
    )
    counts = [nodes.agg(F.count(F.lit(1)).alias("n_nodes_total"))]
    cur_nodes = nodes
    cur_edges = bi
    for i in range(1, rounds + 1):
        if i == 1:
            # round 0's survivor set is every node — the induce is the
            # identity; the oracle's e1 = bi likewise
            cur_edges = bi
        else:
            nu = cur_nodes.select(F.col("node").alias("u"))
            nv = cur_nodes.select(F.col("node").alias("v"))
            cur_edges = bi.join(nu, "u", "left_semi").join(
                nv, "v", "left_semi"
            )
        cur_nodes = (
            cur_edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("u").alias("node"))
            .localCheckpoint(eager=False)
        )
        counts.append(cur_nodes.agg(F.count(F.lit(1)).alias(f"nodes_r{i}")))
    fu = cur_nodes.select(F.col("node").alias("u"))
    fv = cur_nodes.select(F.col("node").alias("v"))
    core = cur_edges.join(fu, "u", "left_semi").join(fv, "v", "left_semi")
    counts.append(core.agg(F.count(F.lit(1)).alias("core_arcs")))
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out


def cc_star(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond")
    → (node, cluster) with cluster = min node id of the component — the
    one connected-components operator of the dedup queries.

    Min-label propagation converges in O(component diameter) shuffle
    rounds — fine for near-dup clusters (diameter 2-3), quadratic-wall on
    a chain-shaped component (diameter n needs n rounds). The two-rule
    star algorithm contracts components in O(log n) rounds on ANY shape:

    - **large-star** (per node u over ALL neighbors): connect every
      neighbor v > u to m = min(N(u) ∪ {u});
    - **small-star** (per node u over smaller neighbors only): connect u
      and every neighbor v < u to m = min(N_<(u) ∪ {u}).

    Both rules are a map-side-combinable ``groupBy(u).min`` plus an
    equi-join back on u — the aggregate-and-join-back discipline (never a
    window over a content key); a hub node costs one combinable min, and
    AQE can split the skewed join-back. Edges stay canonical (hi, lo)
    longs/whatever-the-id-type throughout; each round materializes via
    ``localCheckpoint`` because the convergence test (count + order-
    independent hash-sum of the edge set) forces an action anyway —
    unlike a fixed-iteration loop, there is no checkpoint-free round to
    amortize. Fixed point: the edge set is a union of stars rooted at
    component minima; labels read off as min(neighbor ∪ self).
    """
    canon = (
        pairs.select(
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("hi"),
            F.least(F.col("doc_a"), F.col("doc_b")).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        # lazy: the signature action right below materializes compute +
        # checkpoint in ONE job (an eager checkpoint would be a separate
        # job barrier per round; the subtree is deterministic)
        .localCheckpoint(eager=False)
    )

    def edge_sig(e: DataFrame) -> tuple[int, int]:
        # bit_xor: order-independent set fingerprint with no ANSI overflow
        # (a SUM of xxhash64 values overflows long); edges are distinct so
        # xor cancellation of duplicates cannot occur
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"] or 0)

    sig = edge_sig(canon)
    edges = canon
    converged = False
    for _ in range(max_iter):
        # large-star over the symmetric neighbor view
        sym = edges.select("hi", "lo").union(
            edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
        )
        nbrs = sym.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        m_all = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        m_all = m_all.select("u", F.least("mn", "u").alias("m"))
        # no distinct here: duplicate (hi, lo) rows are deduped logically by
        # small-star's map-side-combinable min aggregate, and the one
        # distinct per round (on the small-star output) keeps the edge set
        # canonical — a second shuffle for exact dedup buys nothing
        large = (
            nbrs.filter(F.col("v") > F.col("u"))
            .join(m_all, "u")
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
        )
        # small-star over the canonical (hi -> smaller neighbors) view
        d2 = large.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        m_small = d2.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            d2.join(m_small, "u")
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .union(m_small.select(F.col("u").alias("hi"), F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = edge_sig(small)
        edges = small
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # the final min-over-direct-neighbors read-off is only valid at the
        # star fixed point — returning labels from a non-fixed-point edge
        # set would be silently WRONG, not merely approximate
        raise RuntimeError(
            f"cc_star: no fixed point within max_iter={max_iter} rounds "
            "(O(log n) expected — raise max_iter)"
        )
    sym = edges.select("hi", "lo").union(
        edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
    )
    return (
        sym.groupBy(F.col("hi").alias("node"))
        .agg(F.min("lo").alias("mn"))
        .select("node", F.least("mn", "node").alias("cluster"))
    )


def sssp_rounds(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Multi-source shortest paths by ``rounds`` synchronous Bellman-Ford
    relaxations → (node, dist): the minimum total edge weight over paths
    of at most ``rounds`` edges from any source node (unreachable nodes
    absent). Well-defined even without convergence — the hop bound IS the
    semantics, so the round-unrolled SQL oracle is bit-exact.

    ``edges`` is an UNDIRECTED (u, v, w) list with positive integer
    weights; ``sources`` a (node,) frame. Each round relaxes only the
    DELTA FRONTIER — the nodes whose distance improved in the previous
    round — not the whole distance table: a node whose distance did not
    change has already contributed ``dist + w`` to every neighbor in the
    round after it last improved, so re-relaxing it derives nothing new
    (the textbook queue-based Bellman-Ford, run as synchronous rounds).
    Same hop-bound semantics (inductively: after round i the table holds
    the exact ≤ i-edge minima, and any path optimal at i+1 edges extends
    a node that entered the frontier at round i), but the per-round join
    input SHRINKS as the search saturates instead of growing with the
    reached set — at 100 TB the late rounds of the old formulation joined
    the whole reached graph against E per round for near-zero new facts.
    Each round is one equi-join frontier⋈edges plus a map-side-combinable
    ``groupBy(node).min`` and an anti-ish left join to split out the
    improved rows; distance + frontier are checkpointed every
    ``CHECKPOINT_EVERY`` rounds (job-barrier tradeoff documented at
    :func:`pagerank_integer`). All longs, no floats — parallel-path ties
    resolve identically on any engine.
    """
    bi = edges.select("u", "v", "w").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    # checkpointed for the same reason as pagerank_integer's ed: AQE
    # broadcast builds per round re-evaluate un-checkpointed inputs (r16
    # measured the removal at 2x the edge-build task time, 16 -> 23 jobs)
    bi = bi.localCheckpoint(eager=False)
    dist = sources.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    frontier = dist  # round 0: every source "just improved" to 0
    for i in range(rounds):
        cand = (
            bi.join(frontier, bi.u == frontier.node)
            .select(
                F.col("v").alias("node"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        # improved = newly reached or strictly better than the standing
        # distance — the next round's frontier and the only rows the
        # distance table needs to fold in
        frontier = (
            cand.join(dist.withColumnRenamed("dist", "old"), "node", "left_outer")
            .filter(F.col("old").isNull() | (F.col("cand") < F.col("old")))
            .select("node", F.col("cand").alias("dist"))
        )
        # dist update stays unionAll+groupBy(min): a co-partitioned
        # full-outer fold was tried in r16 — full outer cannot broadcast,
        # so it forces BOTH sides through exchanges every round (16 -> 23
        # jobs, wall up 15%); the union re-aggregation is one exchange and
        # lets AQE broadcast the cand/dist joins at small scale
        dist = (
            dist.unionAll(frontier)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and (i + 1) < rounds:
            dist = dist.localCheckpoint(eager=False)
            frontier = frontier.localCheckpoint(eager=False)
    return dist


def hits_integer(edges: DataFrame) -> DataFrame:
    """(node, hub, auth) after :data:`HITS_ITERS` integer HITS iterations
    (Kleinberg 1999 hubs-and-authorities — the web-graph ranking pair
    beside :func:`pagerank_integer`; on a crawl host graph, hubs are
    link-directory hosts and authorities are link targets).

    ``edges`` is a DIRECTED (src, dst) edge list (deduped internally).
    hub_0 = ``HITS_SCALE`` for every node; each iteration computes
    auth(v) = sum over in-edges of hub(u), hub(u) = sum over out-edges
    of auth(v), each renormalized to [0, HITS_SCALE] by integer floor
    division by the current MAXIMUM (max-norm, not L2 — no sqrt, so the
    whole fixpoint is long arithmetic, bit-identical to the unrolled
    SQL oracle; same argmax ranking as the classic formulation on every
    graph where it converges). Nodes with no in-edges carry auth 0, no
    out-edges hub 0 (the full-outer coalesce).

    Scale shape: per iteration TWO content-key equi-joins + map-side-
    combinable sums (the pagerank Θ(E)/round class) and a 1-ROW
    broadcast of the max (never a collect). UNLIKE pagerank, every
    half-step's raw state is lazily checkpointed: the max-norm consumes
    each state TWICE (the sum and its max), so an uncut lineage doubles
    per half-step — 4^iters recomputation, measured 188 s for a 7-node
    fixture at iters=3 before the cut vs seconds after (each cut is a
    small job, but the state table is one row per node — cheap relative
    to the joins it feeds twice). Overflow bound: needs
    max_degree * HITS_SCALE^2 < 2^63 — at 10^6 any graph with in/out degree under ~9·10^6 is safe (host
    graphs qualify; raise consciously for denser universes)."""
    e = edges.select("src", "dst").distinct()
    e = e.localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("hub"))
    a = None
    for _ in range(HITS_ITERS):
        raw_a = (
            e.join(h, e.src == h.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("raw"))
        ).localCheckpoint(eager=False)
        amax = raw_a.agg(F.max("raw").alias("mx"))
        a = raw_a.crossJoin(F.broadcast(amax)).select(
            "node", F.expr(f"(raw * {HITS_SCALE}) div mx").alias("auth")
        )
        raw_h = (
            e.join(a, e.dst == a.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("raw"))
        ).localCheckpoint(eager=False)
        hmax = raw_h.agg(F.max("raw").alias("mx"))
        h = raw_h.crossJoin(F.broadcast(hmax)).select(
            "node", F.expr(f"(raw * {HITS_SCALE}) div mx").alias("hub")
        )
    return (
        h.join(a, "node", "full_outer")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
        )
    )
