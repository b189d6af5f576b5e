"""Connected components: distributed large-star / small-star union-find.

The reference delegates CC to ``petgraph::algo::connected_components`` on an
in-memory graph (examples/analyzer.rs:85-88).  At 10^12 documents that is a
distributed fixpoint; we implement the alternating large-star/small-star
contraction (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — public algorithm), which converges in O(log²) rounds and keeps
every step a pure (groupBy + broadcast-free join) DataFrame plan:

  large-star: each node attaches its LARGER neighbors to its minimum
              neighbor (or itself);
  small-star: each node attaches its smaller-or-equal neighbors to the
              minimum.

Hub skew: both steps are ``groupBy(u).agg(min(v))`` + a re-join of the
grouped min onto the symmetric edge list.  The aggregation is partial
(map-side combined), so a 10^7-degree hub never concentrates on one reducer;
the re-join is skew-split by AQE (spark.sql.adaptive.skewJoin).  The rounds
run on ``checkpointing.fixpoint``: each round is checkpointed via
``cut_lineage`` — reliable ``df.checkpoint()`` when the session has
``setCheckpointDir`` configured (the cluster mode: the fixpoint survives
executor loss), else ``localCheckpoint`` (local mode) — and the
convergence checksum rides that checkpoint action.

Node ids are strings; ordering is lexicographic (any total order works).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage, fixpoint


def _dedup(e: DataFrame) -> DataFrame:
    return e.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    # one explicit shuffle on u feeds BOTH consumers: the min-aggregate
    # satisfies its ClusteredDistribution(u) without a second exchange
    # (partial aggregation still applies), and the re-join of the grouped
    # min reuses the same exchange (ReusedExchange) — 1 shuffle per star
    # step instead of 2-3 (guide §2.4)
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).repartition("u")
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    # same single-exchange shape as _large_star
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).repartition("u")
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    pairs = d.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_pairs = mins.select(F.col("u"), F.col("m").alias("v"))
    return pairs.unionAll(self_pairs)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (id, component) for EVERY node (isolated nodes = their own
    singleton component, matching petgraph's count over all graph nodes).
    ``component`` is the lexicographic-minimum member id — deterministic
    across runs and engines (the DuckDB oracle re-derives it).

    ``edges`` needs columns (subj, obj); direction is ignored (the reference
    analyzer builds an UNdirected graph for CC, examples/analyzer.rs:85-88).

    The fixpoint iterates over 64-bit SURROGATE ids, not the doc_id strings:
    every round shuffles the edge frame (one explicit exchange per star
    step, reused by the step's aggregate and join, plus the dedup
    distinct), and long keys cut those shuffle payloads and comparisons to
    8 fixed bytes.  Measured back-to-back at sf0.1 (101k nodes, 1.1M
    edges, local[32]): 12.1 s vs 38.7 s for the string-keyed variant —
    3.2×.  The mapping comes from ``monotonically_increasing_id`` (no
    global sort, no collisions by construction — unlike a 64-bit hash,
    which WILL collide at 10^12 nodes) and is localCheckpoint-ed so its
    assignment is stable for the duration of the job; any total order
    works for the star algorithm, and the string-min representative is
    restored by one groupBy at the end.

    Input prep (r6): the edge multiset is deduped at the STRING level
    first — the multigraph carries ~10× duplicate pairs, so the relabel
    joins shrink by that factor and the relabeled pairs need no second
    distinct (injective map + least/greatest normalization).  The initial
    ``localCheckpoint`` stays load-bearing: each star step references its
    input twice (groupBy side + join side), so an unmaterialized input
    recomputes its subplan per reference (measured 2-4× slower).  The
    initial checksum job is skipped — convergence needs only round-to-
    round equality.  Raises ``FixpointNotConverged`` (a RuntimeError) when
    ``max_iter`` rounds do not reach the star forest: a truncated
    contraction would silently split components.
    """
    # Dedup the (string) edge multiset FIRST: the link multigraph carries
    # ~10× duplicate pairs, so deduping before the surrogate relabel
    # shrinks both relabel joins by that factor, and — because the id
    # mapping is injective and (least, greatest) normalization happens
    # here — the relabeled pairs need NO second distinct (one fewer full
    # exchange; measured at sf0.1: prep 8 s → ~4 s, identical rounds).
    se = cut_lineage(
        edges.select(
            F.least("subj", "obj").alias("_su"),
            F.greatest("subj", "obj").alias("_sv"),
        )
        .filter(F.col("_su") != F.col("_sv"))
        .distinct()
    )
    eu = se.select(F.col("_su").alias("id")).unionAll(
        se.select(F.col("_sv").alias("id"))
    )
    all_ids = (
        nodes.select(F.col(id_col).alias("id")).unionAll(eu).distinct()
    )
    mapping = cut_lineage(
        all_ids.withColumn("nid", F.monotonically_increasing_id())
    )
    mu = mapping.select(F.col("id").alias("_su"), F.col("nid").alias("u"))
    mv = mapping.select(F.col("id").alias("_sv"), F.col("nid").alias("v"))
    e = (
        se.join(mu, "_su")
        .join(mv, "_sv")
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
    )
    e = fixpoint(
        cut_lineage(e),
        lambda e, _rnd: _dedup(_small_star(_large_star(e))),
        max_iter,
        "connected_components",
    )
    # fixpoint: e is a star forest. _dedup keeps (least, greatest) = (root,
    # child) orientation, since star roots are component minima (in nid
    # order — an arbitrary but consistent total order).
    child_root = e.select(F.col("v").alias("nid"), F.col("u").alias("root"))
    # no pre-distinct on the root rows: the min-aggregate dedups them for
    # free (one fewer exchange in the final rollup)
    roots = e.select(F.col("u").alias("nid"), F.col("u").alias("root"))
    stars = child_root.unionAll(roots).groupBy("nid").agg(
        F.min("root").alias("root")
    )
    # back to strings; isolated nodes root themselves
    memb = mapping.join(stars, "nid", "left").select(
        "id", F.coalesce("root", F.col("nid")).alias("root")
    )
    # canonical representative = min doc_id per component (engine-portable)
    reps = memb.groupBy("root").agg(F.min("id").alias("component"))
    out = memb.join(reps, "root").select("id", "component")
    # restrict to the caller's node set (edge endpoints outside it only
    # contribute connectivity, mirroring the string-keyed behavior)
    node_ids = nodes.select(F.col(id_col).alias("id")).distinct()
    return out.join(node_ids, "id")


def component_count(cc: DataFrame) -> DataFrame:
    """A7: number of connected components (examples/analyzer.rs:85-88)."""
    return cc.agg(F.countDistinct("component").alias("n_components"))


def bfs_distances(
    edges: DataFrame,
    root: str,
    max_depth: int = 10,
) -> DataFrame:
    """Directed BFS levels from ``root``: → (id, dist) for every node
    reachable in ≤ ``max_depth`` hops (dist 0 = the root itself);
    unreachable nodes are absent.  The standard KG reachability/
    neighborhood query (``edges`` needs (subj, obj); pass
    ``analytics.link_edges(...)`` for the link graph).  It is
    ``multi_source_bfs`` from a one-row seed frame."""
    seeds = edges.sparkSession.createDataFrame([(root,)], "seed string")
    return multi_source_bfs(edges, seeds, max_depth).select("id", "dist")


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 6,
) -> DataFrame:
    """Directed BFS from EVERY seed simultaneously: → (id, seed, dist)
    for each (node, seed) pair with the node reachable from that seed in
    ≤ ``max_depth`` hops.  ``seeds`` is a one-column ('seed') frame.

    Scale shape: frontier expansion keyed on the (id, seed) PAIR — s
    seeds cost one BFS whose state is at most s× larger, not s
    sequential jobs.  The only state is the ``visited`` frame; round d's
    frontier is its ``dist == d-1`` slice.  Per round ONE equi-join of the
    frontier onto the edge list plus an anti-join against ``visited``,
    both key-partitioned; a 10^7-degree hub lands in the frontier once
    and fans out via the map-side-combined distinct, never through a
    single reducer.  The rounds run on ``checkpointing.fixpoint``: one
    lineage cut of ``visited`` per round, whose (rows, checksum) probe
    stops the loop at the first round that adds nothing (``visited`` only
    grows, so an equal row count means an empty frontier).  ``max_depth``
    is the operator's contract, not a failure, so hitting it returns.
    Results are independent of the stop rule — later rounds of an empty
    frontier are empty."""
    e = cut_lineage(
        edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst")).distinct()
    )
    visited = cut_lineage(
        seeds.select(
            F.col("seed").alias("id"), "seed", F.lit(0).cast("int").alias("dist")
        )
    )

    def expand(visited: DataFrame, d: int) -> DataFrame:
        frontier = visited.filter(F.col("dist") == d - 1)
        nxt = (
            e.join(frontier.select(F.col("id").alias("src"), "seed"), "src")
            .select(F.col("dst").alias("id"), "seed")
            .distinct()
            .join(visited.select("id", "seed"), ["id", "seed"], "left_anti")
            .withColumn("dist", F.lit(d).cast("int"))
        )
        return visited.unionByName(nxt)

    return fixpoint(
        visited, expand, max_depth, "multi_source_bfs", raise_at_cap=False
    )


def closeness_stats(
    nodes: DataFrame,
    edges: DataFrame,
    n_seeds: int = 8,
    max_depth: int = 6,
    id_col: str = "doc_id",
    salt: str = "close",
) -> DataFrame:
    """Sampled-seed closeness-centrality sufficient statistics: pick the
    ``n_seeds`` nodes with the smallest md5('{salt}:' || id) (the
    deterministic hash-argmin family — a uniform sample both engines
    reproduce bit-for-bit), multi-source-BFS from them, and report per
    reached node (id, n_reached, sum_dist, min_dist) — ALL exact
    integers.  sum_dist/n_reached estimates (in-)closeness over the seed
    sample; the exact all-pairs version is O(|V|·|E|) and exists on no
    engine at 10^12 nodes, so the sampled estimator (Eppstein-Wang) IS
    the production form — accuracy is the caller's n_seeds knob.

    Scale shape: seed pick is one TakeOrdered over the node set; the BFS
    is one fixpoint regardless of n_seeds; the final rollup is a
    map-side-combinable groupBy(id).
    """
    seeds = (
        nodes.select(F.col(id_col).alias("seed"))
        .distinct()
        .orderBy(F.md5(F.concat(F.lit(salt + ":"), F.col("seed"))), F.col("seed"))
        .limit(n_seeds)
    )
    v = multi_source_bfs(edges, seeds, max_depth=max_depth)
    return v.groupBy("id").agg(
        F.count("*").cast("long").alias("n_reached"),
        F.sum("dist").cast("long").alias("sum_dist"),
        F.min("dist").cast("long").alias("min_dist"),
    )


def weighted_sssp(
    edges: DataFrame,
    root: str,
    rounds: int = 6,
) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford relaxation,
    ``rounds`` fixed synchronous rounds) from ``root`` over the link
    graph: → (id, dist) with dist = the minimum total WEIGHT over paths
    of ≤ ``rounds`` hops; unreachable nodes are absent, the root is 0.

    Edge weight is derived from the multigraph itself — tie STRENGTH:
    w(u, v) = max(1, 5 − min(n_links(u→v), 4)) ∈ 1..4, so heavily
    re-linked note pairs are "closer" than single mentions.  The weight
    is an exact integer and a pure function of the edge list, which is
    what lets an independent SQL oracle unroll the identical relaxation
    rounds bit-for-bit (the reference's analyzer stops at unweighted
    degree stats, examples/analyzer.rs:60-96; weighted distance is the
    KG-proximity query its users graduate to).

    Scale shape: per round ONE equi-join of the current distance table
    onto the weighted edge list (key-partitioned on the source) and one
    map-side-combined min-aggregate — the classic distributed
    Bellman-Ford, no driver state beyond the loop counter.  The distance
    table is per-round checkpointed (``cut_lineage``) like the CC/BFS
    fixpoints, so round N's plan never contains rounds 0..N−1.  A
    10^7-degree hub fans out through the partial min, never a single
    reducer.  Fixed synchronous rounds (no early exit) keep the result a
    pure function of (edge set, root, rounds)."""
    w = F.greatest(F.lit(1), F.lit(5) - F.least(F.count("*"), F.lit(4)))
    we = cut_lineage(
        edges.groupBy(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        ).agg(w.cast("long").alias("w"))
    )
    spark = edges.sparkSession
    dist = cut_lineage(
        spark.createDataFrame([(root, 0)], "id string, dist long")
    )
    for _ in range(rounds):
        relaxed = (
            we.join(dist.select(F.col("id").alias("src"), "dist"), "src")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            .unionByName(dist)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        dist = cut_lineage(relaxed)
    return dist
