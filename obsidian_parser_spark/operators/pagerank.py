"""PageRank over the note graph — integer fixed-point, bit-exact.

The reference stops at degree/backlink analytics (its graph lives in
petgraph, examples/analyzer.rs); ranking notes by link authority is the
natural next query a knowledge-graph user asks for, and at 10^12 documents
it must be the same iterative shuffle pattern as connected components
(operators/components.py), not an in-memory pass.

Semantics (deliberately fixed-point — every intermediate is an INTEGER, so
two independent engines produce byte-identical ranks; float PageRank sums
in engine-dependent order and drifts):

  pr_0(v)    = SCALE                      (SCALE = 10^6)
  out(u)     = Σ_v w(u, v)                (w = parallel-edge count, so each
                                           link occurrence votes)
  pr_t+1(v)  = floor((100-D)·SCALE/100)
             + (D · Σ_u  (pr_t(u) · w(u, v)) div out(u)) div 100

with D = damping percent (85).  Division is integer (DIV) at both the
per-edge contribution and the damping step.  Dangling-node mass (notes
with no outlinks) is dropped, not redistributed — documented divergence
from the textbook formulation; it only deflates the global sum, not the
relative order.  Fixed ``n_iter`` rounds (no convergence probe: a fixed
round count is itself part of the deterministic contract).

Scale shape: the per-iteration plan is join(edge_weights, pr) →
groupBy(v).sum — the sum is map-side combinable, so a hub with 10^7
backlinks never concentrates on one reducer; the weighted edge list is
computed once and checkpointed (``checkpointing.cut_lineage`` — reliable
``checkpoint()`` when the session has a checkpoint dir, else
``localCheckpoint``); pr is re-checkpointed per round to cut lineage
exactly like the CC fixpoint.  Overflow: pr values are bounded by n·SCALE; with SCALE=10^6 the
long accumulator holds to ~10^12 nodes — past that, lower SCALE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage

SCALE = 1_000_000


def _edge_weights(edges: DataFrame, weight_col: str | None = None) -> DataFrame:
    """(u, v, w) — occurrence-weighted directed edge list; the shared
    precondition of both iterative rankers.  With ``weight_col`` the
    input is already aggregated (e.g. a co-occurrence graph) and weights
    are summed instead of counted — same output contract either way."""
    agg = F.sum(weight_col) if weight_col else F.count("*")
    return (
        edges.select(
            F.col("subj").alias("u"),
            F.col("obj").alias("v"),
            *([F.col(weight_col)] if weight_col else []),
        )
        .groupBy("u", "v")
        .agg(agg.alias("w"))
    )


def _node_ids(nodes: DataFrame, id_col: str) -> DataFrame:
    return cut_lineage(nodes.select(F.col(id_col).alias("id")).distinct())


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 10,
    damping_pct: int = 85,
    id_col: str = "doc_id",
    weight_col: str | None = None,
) -> DataFrame:
    """→ (id, pr) for every node; ``edges`` needs (subj, obj), direction
    respected, parallel edges weighted (or pre-weighted via ``weight_col``).
    It is the personalized loop below with EVERY node a seed: SCALE·1 and
    base·1 are the same integers, so the output is bit-identical to a
    uniform-teleport loop."""
    return _ranks(nodes, edges, F.lit(1), n_iter, damping_pct, id_col, weight_col)


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: tuple[str, ...],
    n_iter: int = 10,
    damping_pct: int = 85,
    id_col: str = "doc_id",
) -> DataFrame:
    """Personalized PageRank: identical integer fixed-point contract to
    ``pagerank`` except the teleport mass returns ONLY to the ``seeds``
    set — pr_0(v) = SCALE·[v∈S], and the per-round base term is
    base·[v∈S] instead of a uniform base.  The result ranks every node by
    proximity to the seeds (the "related to these notes" query a KG user
    runs); nodes unreachable from the seed set settle to exactly 0, so
    the output doubles as a reachability certificate.

    Same scale shape as ``pagerank``: per round one key-partitioned join
    + one map-side-combined sum, per-round checkpointed; the seed
    membership is a literal predicate (no extra join) since seed sets are
    small by definition."""
    is_seed = F.col("id").isin(list(seeds))
    return _ranks(nodes, edges, is_seed, n_iter, damping_pct, id_col)


def _ranks(
    nodes: DataFrame,
    edges: DataFrame,
    is_seed: Column,
    n_iter: int,
    damping_pct: int,
    id_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """The shared fixed-round loop: ``n_iter`` checkpointed ``_step``s
    from pr_0 = SCALE·is_seed."""
    base = (100 - damping_pct) * SCALE // 100

    w = _edge_weights(edges, weight_col=weight_col)
    out = w.groupBy("u").agg(F.sum("w").alias("od"))
    wj = cut_lineage(w.join(out, "u"))

    flagged = _node_ids(nodes, id_col).select(
        "id", is_seed.cast("long").alias("is_seed")
    )
    pr = flagged.select(
        "id", (F.lit(SCALE) * F.col("is_seed")).cast("long").alias("pr")
    )
    for _ in range(n_iter):
        pr = cut_lineage(_step(wj, flagged, pr, base, damping_pct))
    return pr


def _step(
    wj: DataFrame, flagged: DataFrame, pr: DataFrame, base: int, damping_pct: int
) -> DataFrame:
    """One un-checkpointed iteration over the (id, is_seed) node frame
    (factored out so the plan-shape gates can assert its aggregation is
    map-side partial — the returned frame of ``pagerank`` itself is
    checkpointed and shows only an RDD scan)."""
    contribs = (
        wj.join(pr.select(F.col("id").alias("u"), "pr"), "u")
        .select("v", F.expr("pr * w DIV od").alias("c"))
        .groupBy("v")
        .agg(F.sum("c").alias("m"))
    )
    return flagged.join(contribs.withColumnRenamed("v", "id"), "id", "left").select(
        "id",
        (
            F.col("is_seed") * base
            + F.expr(f"{damping_pct} * coalesce(m, 0L) DIV 100")
        )
        .cast("long")
        .alias("pr"),
    )


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """HITS hubs & authorities — integer fixed-point, bit-exact like
    ``pagerank`` above, but with the OTHER iterative normalization shape:
    each half-round ends with a max-normalization ``score·SCALE div max``,
    where the max is a one-row aggregate broadcast back onto the frame (a
    scalar join, not a driver-side collect).  Unnormalized HITS explodes
    exponentially, so the normalization is load-bearing, and doing it with
    integer div keeps both engines byte-identical.

    → (id, hub, authority); nodes untouched by any edge settle to 0.
    Parallel edges vote per occurrence; per-round ``cut_lineage`` cuts
    lineage exactly like the CC/PageRank fixpoints (reliable checkpoint
    when the session has a checkpoint dir)."""
    w = cut_lineage(_edge_weights(edges))
    all_nodes = _node_ids(nodes, id_col)
    hub = all_nodes.select("id", F.lit(SCALE).cast("long").alias("s"))
    auth = all_nodes.select("id", F.lit(SCALE).cast("long").alias("s"))

    def _norm(raw: DataFrame) -> DataFrame:
        # raw: (id, r) — scale so the max is SCALE; all-zero → stays zero.
        # The r·SCALE product runs in decimal(38,0): r is bounded by
        # SCALE · (max weighted in-degree), so a bigint product would wrap
        # silently (Spark non-ANSI) once that degree passes ~9.2e6 — below
        # hub scale — while the DuckDB oracle (HUGEINT) keeps going; the
        # 128-bit intermediate keeps both engines exact to ~10^26-degree
        # hubs, far past any physical graph.  DIV on decimals yields LONG.
        mx = raw.agg(F.max("r").alias("_mx"))
        return (
            raw.crossJoin(F.broadcast(mx))
            .select(
                "id",
                F.when(
                    F.col("_mx") > 0,
                    F.expr(f"CAST(r AS DECIMAL(38,0)) * {SCALE} DIV _mx"),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias("s"),
            )
        )

    for _ in range(n_iter):
        a_raw = (
            w.join(hub.select(F.col("id").alias("u"), "s"), "u")
            .select("v", (F.col("s") * F.col("w")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("r"))
        )
        auth = _norm(
            all_nodes.join(a_raw.withColumnRenamed("v", "id"), "id", "left").select(
                "id", F.coalesce("r", F.lit(0)).alias("r")
            )
        )
        auth = cut_lineage(auth)
        h_raw = (
            w.join(auth.select(F.col("id").alias("v"), "s"), "v")
            .select("u", (F.col("s") * F.col("w")).alias("c"))
            .groupBy("u")
            .agg(F.sum("c").alias("r"))
        )
        hub = _norm(
            all_nodes.join(h_raw.withColumnRenamed("u", "id"), "id", "left").select(
                "id", F.coalesce("r", F.lit(0)).alias("r")
            )
        )
        hub = cut_lineage(hub)

    return (
        hub.withColumnRenamed("s", "hub")
        .join(auth.withColumnRenamed("s", "authority"), "id")
        .select("id", "hub", "authority")
    )
