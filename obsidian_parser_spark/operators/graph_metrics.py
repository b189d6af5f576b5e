"""Structural graph metrics over the resolved edge table: triangles,
k-core, label-propagation communities.

The reference's analyzer stops at degree-level statistics (count_components
/ knowledge_hub / orphans, examples/analyzer.rs:60-96); these operators are
the next rung of graph analysis a KG user runs over the same edge table,
built so every step is a key-partitioned DataFrame plan that survives a
10^12-edge graph:

* ``triangle_counts`` — degree-ordered orientation (the MapReduce-classic
  "compact-forward" scheme): every edge is directed from its lower-(degree,
  id) endpoint to the higher one, which bounds oriented out-degree by
  O(sqrt(m)), so the wedge self-join never explodes on a hub — the
  10^7-degree note contributes wedges only through its (few) higher-ranked
  neighbors.
* ``k_core`` — iterative peel: drop nodes with undirected degree < k,
  re-derive degrees, repeat to fixpoint.  Each round is one map-side-
  combined groupBy + two semi-joins, run on ``checkpointing.fixpoint``
  like CC (one lineage cut per round — durable on a cluster).
* ``label_propagation`` — synchronous LPA over a FIXED round count with a
  fully deterministic update (most-frequent neighbor label, ties to the
  smallest label), so two engines (and two cluster sizes) produce
  bit-identical communities.  Per round: one shuffle to count (node,
  label) pairs + one partial-agg argmax — hub fan-in is absorbed by the
  map-side combine.

All three take the (subj, obj) edge frame (direction ignored — the
reference analyzer's graphs are undirected for these, examples/
analyzer.rs:85-88) and self-loops are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage, fixpoint
from .overlap import attach_sizes, capped_overlap


def _undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge set as (u < v) pairs, self-loops dropped."""
    return (
        edges.select(
            F.least("subj", "obj").alias("u"), F.greatest("subj", "obj").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _symmetric(und: DataFrame) -> DataFrame:
    # unionByName, not positional unionAll: a USING-join upstream (e.g. the
    # k-core semi-joins) reorders columns to (v, u), and a positional union
    # would silently "symmetrize" each edge onto itself
    return und.select("u", "v").unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """→ (id, n_triangles) for every node in ≥ 1 triangle.

    Orientation: edge {a, b} points a→b iff (deg(a), a) < (deg(b), b).
    Wedges (b, c) around a are enumerated only from a's ORIENTED
    out-neighbors (≤ O(sqrt(m)) of them), then closed by a semi-join
    against the oriented edge set — each triangle is found exactly once,
    at its lowest-ranked corner.  Both the wedge join and the closing join
    are plain equi-joins on edge keys; AQE skew-split handles residual
    imbalance.  Both multiply-referenced frames are checkpointed: ``und``
    (degree agg + two degree-attach joins) and ``oriented`` (both wedge
    sides + the closing join) — without the cuts each reference re-runs
    the full edge scan + distinct shuffle inside one job."""
    return _triangle_counts_from_und(cut_lineage(_undirected(edges)))


def _triangle_counts_from_und(und: DataFrame) -> DataFrame:
    """Triangle core over a pre-built (and already lineage-cut) u<v
    distinct undirected edge frame — shared by ``triangle_counts`` and
    ``clustering_coefficients`` so the latter pays the edge distinct
    shuffle once, not twice."""
    tris = _enumerate_triangles(und)
    # one explode instead of a 3-way self-union: the union form evaluated
    # the whole wedge-join + closing-join pipeline once PER BRANCH (the
    # most expensive subtree in the plan, ×3); exploding the corner array
    # emits the identical (id) multiset from a single evaluation
    # (measured at sf0.1 / local[32]: 8.3 s → ~3.5 s, same rows)
    corners = tris.select(
        F.explode(F.array(F.col("a"), F.col("x"), F.col("y"))).alias("id")
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def _enumerate_triangles(und: DataFrame) -> DataFrame:
    """Each triangle exactly once as (a, x, y) — a the lowest-(degree, id)
    corner, x/y its two oriented out-neighbors.  Degree-ordered
    orientation bounds each node's wedge fan-out by O(sqrt(m))."""
    deg = _symmetric(und).groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # attach degrees to both endpoints, then orient by (degree, id)
    du = deg.select(F.col("u").alias("_u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("_v"), F.col("d").alias("dv"))
    with_deg = (
        und.join(du, und.u == du._u)
        .join(dv, und.v == dv._v)
        .select("u", "v", "du", "dv")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = cut_lineage(
        with_deg.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("rb"),
        )
    )
    e1 = oriented.select(F.col("a"), F.col("b").alias("x"), F.col("rb").alias("rx"))
    e2 = oriented.select(F.col("a"), F.col("b").alias("y"), F.col("rb").alias("ry"))
    # wedge (x, y) with rank(x) < rank(y): both are out-neighbors of a
    wedges = (
        e1.join(e2, "a")
        .filter(
            (F.col("rx") < F.col("ry"))
            | ((F.col("rx") == F.col("ry")) & (F.col("x") < F.col("y")))
        )
        .select("a", "x", "y")
    )
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    return wedges.join(closing, ["x", "y"])  # (a, x, y) is a triangle


def edge_triangle_support(edges: DataFrame) -> DataFrame:
    """→ (u, v, support) for EVERY distinct undirected edge u<v: the number
    of triangles the edge sits in — the k-truss sufficient statistic (an
    edge is in the k-truss iff support ≥ k-2 after peeling) and a direct
    tie-strength signal (a link whose endpoints share neighbors is
    structural; support-0 links are bridges).

    Scale shape: triangles come from the same degree-ordered enumeration
    as ``triangle_counts`` (each found once, wedge fan-out O(sqrt(m)));
    the three edges of each triangle re-normalize to u<v with least/
    greatest — pure projection — and the support rollup plus the final
    left join both key on (u, v), so AQE coalesces them onto one
    partitioning.  Nothing is collected; zero-support edges survive via
    the left join, not a second scan."""
    und = cut_lineage(_undirected(edges))
    tris = _enumerate_triangles(und)
    # explode instead of a 3-way self-union — the union form evaluated the
    # triangle-enumeration joins once per branch (same fix as
    # _triangle_counts_from_und; identical row multiset)
    pairs = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "x").alias("u"), F.greatest("a", "x").alias("v")
                ),
                F.struct(
                    F.least("a", "y").alias("u"), F.greatest("a", "y").alias("v")
                ),
                F.struct(
                    F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
                ),
            )
        ).alias("p")
    ).select("p.u", "p.v")
    sup = pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))
    return und.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0).cast("long")).alias("support")
    )


def k_core(edges: DataFrame, k: int = 3, max_iter: int = 50) -> DataFrame:
    """→ (id, core_degree): the k-core subgraph's nodes with their final
    undirected degree (every returned degree ≥ k).

    Peeling fixpoint: each round computes undirected degrees (one
    map-side-combined groupBy), keeps nodes with degree ≥ k, and restricts
    the edge set to kept×kept via two semi-joins.  The fixpoint is unique
    (independent of peel order), and the edge set only shrinks, so the
    early exit of ``checkpointing.fixpoint`` on an unchanged (rows,
    checksum) is exact.  Each round's edge frame is checkpointed (durable
    on a cluster) and the probe rides that checkpoint — no count job;
    round N's plan never contains rounds 0..N-1.

    Raises ``FixpointNotConverged`` (a RuntimeError) when ``max_iter``
    rounds don't reach the fixpoint (a long induced path peels one layer
    per round from its ends) — a truncated peel is never silently
    returned as the core, since it could contain nodes below the
    documented degree-≥-k invariant."""

    def peel(e: DataFrame, _rnd: int) -> DataFrame:
        keep = (
            _symmetric(e)
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("u").alias("id"))
        )
        return (
            e.join(keep.select(F.col("id").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("id").alias("v")), "v", "left_semi")
            .select("u", "v")  # USING-joins reorder columns; re-pin (u, v)
        )

    e = fixpoint(cut_lineage(_undirected(edges)), peel, max_iter, "k_core")
    return (
        _symmetric(e)
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("u").alias("id"), "core_degree")
    )


def label_propagation(edges: DataFrame, n_rounds: int = 4) -> DataFrame:
    """→ (id, community) after EXACTLY ``n_rounds`` synchronous label-
    propagation rounds (labels start as the node id; per round every node
    adopts the most frequent label among its neighbors, ties broken by the
    smallest label; isolated endpoints keep their own).

    A fixed round count (not run-to-convergence) keeps the output a pure
    deterministic function of the edge set — bit-identical across engines
    and cluster sizes, which is what lets the DuckDB oracle unroll the
    same rounds as CTEs.  Per round: (node, neighbor-label) counts via one
    shuffled groupBy, then argmax per node as ``min(struct(-count,
    label))`` — a partial-aggregable expression, so hub fan-in combines
    map-side."""
    und = _undirected(edges)
    sym = cut_lineage(_symmetric(und))
    labels = cut_lineage(
        sym.select(F.col("u").alias("id")).distinct().withColumn(
            "lbl", F.col("id")
        )
    )
    for _ in range(n_rounds):
        nb = sym.join(
            labels.select(F.col("id").alias("v"), F.col("lbl").alias("nlbl")), "v"
        )
        cnt = nb.groupBy("u", "nlbl").agg(F.count(F.lit(1)).alias("c"))
        winners = cnt.groupBy("u").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("nlbl").alias("l"))).alias(
                "w"
            )
        ).select(F.col("u").alias("id"), F.col("w.l").alias("new_lbl"))
        labels = cut_lineage(
            labels.join(winners, "id", "left").select(
                "id", F.coalesce("new_lbl", "lbl").alias("lbl")
            )
        )
    return labels.select("id", F.col("lbl").alias("community"))


def degree_correlation(edges: DataFrame) -> DataFrame:
    """One-row EXACT-INTEGER sufficient statistics for degree
    assortativity over the undirected graph: for every ordered
    orientation (u, v) of every distinct edge, the degree pair
    (d(u), d(v)) contributes to

      (n_edge_ends, sum_d, sum_dd, sum_d2)

    from which Pearson's r (Newman's degree assortativity) is
    r = (n·Σdd − (Σd)²) / (n·Σd² − (Σd)²) — left to the caller, so the
    engine output stays integer-exact and engine-portable (both
    orientations are summed, making the u- and v-marginals identical by
    symmetry).  Scale shape: one degree aggregation + two key-partitioned
    joins + one map-side-combined global aggregate; no cross product, no
    driver loop."""
    und = cut_lineage(_undirected(edges))
    deg = _symmetric(und).groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    sym = _symmetric(und)
    du = deg.select(F.col("u").alias("_u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("_v"), F.col("d").alias("dv"))
    j = (
        sym.join(du, sym.u == du._u)
        .join(dv, sym.v == dv._v)
        .select("du", "dv")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_edge_ends"),
        F.sum("du").alias("sum_d"),
        F.sum(F.col("du") * F.col("dv")).alias("sum_dd"),
        F.sum(F.col("du") * F.col("du")).alias("sum_d2"),
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """→ (id, n_triangles, n_wedges) for every node with undirected
    degree ≥ 2 — the EXACT-INTEGER sufficient statistics of the local
    clustering coefficient C(v) = n_triangles / n_wedges (the float
    ratio is left to the caller so the hard signal stays engine-portable;
    n_wedges = d·(d−1)/2 is always an exact integer since d·(d−1) is
    even).

    The reference's analyzer stops at degree statistics
    (examples/analyzer.rs:60-96); this is the standard next step for
    "how clique-ish is each note's neighborhood".  Scale shape: ONE
    distinct-edge shuffle shared between the degree aggregation and the
    triangle core (``_triangle_counts_from_und`` — degree-ordered
    orientation, hub-safe wedge join), then a single left join of two
    node-keyed frames.  Nothing here is quadratic in degree except the
    oriented wedge enumeration, which the orientation bounds by
    O(sqrt(m)) per node."""
    und = cut_lineage(_undirected(edges))
    deg = _symmetric(und).groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    tri = _triangle_counts_from_und(und)
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg.u == tri.id, "left")
        .select(
            F.col("u").alias("id"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.expr("(d * (d - 1)) div 2").alias("n_wedges"),
        )
    )


def link_prediction(
    edges: DataFrame,
    min_common: int = 2,
    max_center_degree: int = 64,
) -> DataFrame:
    """Common-neighbor link prediction → (u, v, cn, deg_u, deg_v) for
    every NON-adjacent node pair with ≥ ``min_common`` shared neighbors
    (u < v).  Jaccard follows caller-side as cn / (deg_u + deg_v − cn);
    all five columns are exact integers.

    Plan shape (inverted index, the same scheme as
    ``analytics.related_notes``): every node w acts as a "center" that
    emits the pairs of its neighbors — so candidate pairs are generated
    ONLY through shared neighbors, never by an all-pairs product.  A hub
    with degree D would emit D² pairs, so centers with degree >
    ``max_center_degree`` are excluded from pair GENERATION (the
    standard df-cap: a 10⁶-degree hub's co-citation says nothing about
    any specific pair anyway).  Degrees reported in deg_u/deg_v are the
    TRUE full-graph degrees — the cap only bounds which centers vouch
    for a pair, a documented approximation both engines implement
    identically.  Per-center work is ≤ cap², and the pair aggregation is
    one map-side-combined groupBy; existing edges are removed by an
    anti-join against the distinct u<v edge set."""
    und = cut_lineage(_undirected(edges))
    # (neighbour, center) rows: a center's df is its degree, and so is the
    # row count of a neighbour id — the symmetric edge set is its own index
    adj = _symmetric(und).select("v", "u")
    pairs = capped_overlap(
        adj, adj, max_center_degree, pred="<", min_count=min_common
    )
    cand = pairs.join(
        und.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return attach_sizes(cand, adj, adj).select(
        F.col("a").alias("u"),
        F.col("b").alias("v"),
        F.col("n").alias("cn"),
        F.col("sz_a").alias("deg_u"),
        F.col("sz_b").alias("deg_v"),
    )


def community_stats(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """→ (community, n_nodes, internal_edges, sum_degree) — the exact-
    integer sufficient statistics of modularity: Q = Σ_c [ internal/m −
    (sum_degree / 2m)² ] over distinct undirected edges (m = Σ internal +
    cross edges; the float is left caller-side so the hard signal stays
    engine-portable).  The standard "did the community detection find
    real structure" check run after ``label_propagation``.

    ``communities``: (id, community).  Scale shape: degrees from one
    map-side-combined groupBy; each distinct edge classified internal/
    cross by joining BOTH endpoints to the (node-keyed, co-partitioned)
    community frame; everything aggregates partially — no window, no
    driver loop.  Nodes with no edges don't appear (degree 0 adds
    nothing to any statistic)."""
    und = cut_lineage(_undirected(edges))
    deg = _symmetric(und).groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    cu = communities.select(F.col("id").alias("u"), F.col("community").alias("cu"))
    cv = communities.select(F.col("id").alias("v"), F.col("community").alias("cv"))
    node_stats = (
        deg.join(cu, "u")
        .groupBy(F.col("cu").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("sum_degree"),
        )
    )
    internal = (
        und.join(cu, "u")
        .join(cv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    return (
        node_stats.join(internal, "community", "left")
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("internal_edges"), F.lit(0))
            .cast("long")
            .alias("internal_edges"),
            F.col("sum_degree").cast("long").alias("sum_degree"),
        )
    )


def reciprocity_stats(edges: DataFrame) -> DataFrame:
    """One-row exact-integer reciprocity statistics over the DIRECTED
    distinct link graph → (n_directed, n_reciprocated, n_selfloops,
    n_undirected).  Reciprocity r = n_reciprocated / n_directed (left to
    the caller; the engine output stays integer-exact), the classic
    directed-graph measure the undirected analytics family cannot see —
    an Obsidian vault where A links B but B never links back reads very
    differently from a mutually-linked one.

    Scale shape: one distinct over (subj, obj), a self-semi-join on the
    reversed key (key-partitioned, no cross product), and four one-row
    aggregates combined by broadcast cross joins — the same one-row
    composition pattern as the pagerank normalization frames.
    """
    d = (
        edges.select("subj", "obj")
        .filter(F.col("subj") != F.col("obj"))
        .distinct()
    )
    rev = d.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
    recip = d.join(rev, ["subj", "obj"], "left_semi")
    und = d.select(
        F.least("subj", "obj").alias("u"), F.greatest("subj", "obj").alias("v")
    ).distinct()
    loops = (
        edges.select("subj", "obj")
        .filter(F.col("subj") == F.col("obj"))
        .select("subj")
        .distinct()
    )
    return (
        d.agg(F.count(F.lit(1)).alias("n_directed"))
        .crossJoin(recip.agg(F.count(F.lit(1)).alias("n_reciprocated")))
        .crossJoin(loops.agg(F.count(F.lit(1)).alias("n_selfloops")))
        .crossJoin(und.agg(F.count(F.lit(1)).alias("n_undirected")))
    )


def handshake_matching(edges: DataFrame, salt: str = "match") -> DataFrame:
    """Deterministic one-round graph matching — the coarsening primitive
    of multilevel partitioners (METIS-style): every node PROPOSES to its
    hash-argmin neighbor (md5('{salt}:'||u||'>'||v), ties → smaller v)
    over the undirected distinct link graph, and mutual proposals become
    matched pairs → (u, v) with u < v.  One round yields a valid (not
    maximal) matching; iterate on the contracted graph for coarsening.
    A pure function of the edge set — bit-identical across engines and
    cluster sizes.

    Scale shape: one map-side-combined min-struct per node (the
    proposal) and ONE self-equi-join of the proposal table for the
    mutuality test — no windows over the edge list, hub nodes cost one
    partial-min over their adjacency."""
    sym = _symmetric(_undirected(edges))
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col("u"), F.lit(">"), F.col("v")))
    prop = (
        sym.select("u", h.alias("h"), "v")
        .groupBy("u")
        .agg(F.min(F.struct("h", "v")).alias("_m"))
        .select("u", F.col("_m.v").alias("p"))
    )
    other = prop.select(F.col("u").alias("p"), F.col("p").alias("u"))
    return (
        prop.join(other, ["u", "p"])
        .filter(F.col("u") < F.col("p"))
        .select("u", F.col("p").alias("v"))
    )
