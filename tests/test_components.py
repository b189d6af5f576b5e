"""Connected components vs a brute-force Python union-find oracle."""

import os

import numpy as np
import pytest

from obsidian_parser_spark.operators.components import (
    component_count,
    connected_components,
)


def _brute_cc(node_ids, pairs):
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in node_ids}


def _run(spark, node_ids, pairs):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id string")
    edges = spark.createDataFrame(
        [(u, "links_to", v) for u, v in pairs] or [("x", "links_to", "x")],
        "subj string, pred string, obj string",
    )
    if not pairs:
        edges = edges.filter("subj != subj")
    cc = connected_components(nodes, edges)
    got = {r.id: r.component for r in cc.collect()}
    want = _brute_cc(node_ids, pairs)
    assert got == want
    assert component_count(cc).collect()[0].n_components == len(set(want.values()))


def test_two_components_and_singleton(spark):
    _run(
        spark,
        ["a", "b", "c", "d", "e", "lone"],
        [("a", "b"), ("b", "c"), ("d", "e")],
    )


def test_self_loops_and_multi_edges(spark):
    _run(spark, ["a", "b"], [("a", "a"), ("a", "b"), ("b", "a")])


def test_no_edges_all_singletons(spark):
    _run(spark, ["a", "b", "c"], [])


def test_long_chain(spark):
    ids = [f"n{i:03d}" for i in range(40)]
    _run(spark, ids, list(zip(ids, ids[1:])))


@pytest.mark.parametrize("seed", [0, 1])
def test_random_graphs(spark, seed):
    rng = np.random.default_rng(seed)
    n = 60
    ids = [f"v{i:02d}" for i in range(n)]
    m = rng.integers(20, 80)
    pairs = [
        (ids[int(a)], ids[int(b)])
        for a, b in rng.integers(0, n, size=(int(m), 2))
    ]
    _run(spark, ids, pairs)


def test_cc_on_real_corpus_vs_union_find(spark):
    """CC over the sf0.001 vault graph (≈1k nodes) vs the Python oracle."""
    from obsidian_parser_spark.operators.analytics import link_edges
    from obsidian_parser_spark.plans.pipeline import GraphBuildOptions, build_graph
    from obsidian_parser_spark.sources.corpus import ensure_vault_corpus

    docs = spark.read.parquet(ensure_vault_corpus("sf0.001"))
    g = build_graph(docs, GraphBuildOptions())
    le = link_edges(g.edges)
    pairs = [(r.subj, r.obj) for r in le.collect()]
    node_ids = [r.doc_id for r in g.nodes.collect()]
    cc = connected_components(g.nodes, le)
    got = {r.id: r.component for r in cc.collect()}
    want = _brute_cc(node_ids, pairs)
    assert got == want


def test_cc_reliable_checkpoint_mode(spark, tmp_path):
    """With a session checkpoint dir set, the fixpoint's lineage cuts go
    through reliable df.checkpoint() (files under the dir — the cluster
    mode that survives executor loss) and produce the identical result."""
    from obsidian_parser_spark.checkpointing import has_reliable_checkpoint

    ids = [f"n{i}" for i in range(12)]
    pairs = [(ids[i], ids[i + 1]) for i in range(0, 10, 2)] + [(ids[1], ids[4])]
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        assert has_reliable_checkpoint(spark.range(1))
        _run(spark, ids, pairs)
        written = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckpt)
            for f in fs
            if not f.startswith(".")
        ]
        assert written, "reliable checkpoint mode wrote no checkpoint files"
    finally:
        # restore local mode for the session-scoped fixture
        spark.sparkContext._jsc.sc().setCheckpointDir(None)
        assert not has_reliable_checkpoint(spark.range(1))


def test_bfs_distances_vs_python(spark):
    from collections import deque

    from obsidian_parser_spark.operators.components import bfs_distances

    edges = [
        ("r", "a"), ("r", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
        ("d", "r"),  # cycle back
        ("x", "y"),  # unreachable island
        ("e", "r"),  # points AT root: direction respected, e unreachable
    ]
    edf = spark.createDataFrame(edges, "subj string, obj string")

    def py_bfs(root, depth):
        adj = {}
        for u, v in edges:
            adj.setdefault(u, []).append(v)
        dist = {root: 0}
        q = deque([root])
        while q:
            u = q.popleft()
            if dist[u] >= depth:
                continue
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    got = {r.id: r.dist for r in bfs_distances(edf, "r", max_depth=10).collect()}
    assert got == py_bfs("r", 10)
    assert "x" not in got and "e" not in got
    # depth cap honored
    capped = {r.id: r.dist for r in bfs_distances(edf, "r", max_depth=1).collect()}
    assert capped == {"r": 0, "a": 1, "b": 1}


def test_multi_source_bfs_and_closeness(spark):
    """Hand-checked multi-seed distances on a small directed path+branch
    graph; seeds pinned by passing them explicitly."""
    from obsidian_parser_spark.operators.components import (
        closeness_stats,
        multi_source_bfs,
    )
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "c")],
        "subj string, obj string",
    )
    seeds = spark.createDataFrame([("a",), ("x",)], "seed string")
    got = {
        (r.id, r.seed): r.dist for r in multi_source_bfs(edges, seeds, 6).collect()
    }
    assert got == {
        ("a", "a"): 0, ("b", "a"): 1, ("c", "a"): 2, ("d", "a"): 3,
        ("x", "x"): 0, ("c", "x"): 1, ("d", "x"): 2,
    }
    # closeness over the same graph with ALL nodes as candidate seeds:
    # n_seeds covers every node, so n_reached counts in-reachability
    nodes = edges.select(F.col("subj").alias("doc_id")).union(
        edges.select("obj")
    ).distinct()
    stats = {
        r.id: (r.n_reached, r.sum_dist, r.min_dist)
        for r in closeness_stats(nodes, edges, n_seeds=5, max_depth=6).collect()
    }
    # d is reached from a(3), b(2), c(1), x(2), d(0) -> 5 seeds, sum 8
    assert stats["d"] == (5, 8, 0)
    assert stats["a"] == (1, 0, 0)  # only from itself


# --- round caps and the shared fixpoint driver ----------------------------


@pytest.mark.parametrize("max_iter", [1, 0])
def test_cc_raises_at_round_cap(spark, max_iter):
    # a 17-node path needs several star rounds; a truncated contraction
    # would split it into several components, so the cap must raise
    ids = [f"p{i:02d}" for i in range(17)]
    nodes = spark.createDataFrame([(n,) for n in ids], "doc_id string")
    edges = spark.createDataFrame(list(zip(ids, ids[1:])), "subj string, obj string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=max_iter)


def test_fixpoint_logs_each_round_and_honors_cap(spark, caplog):
    import logging

    from pyspark.sql import functions as F

    from obsidian_parser_spark.checkpointing import FixpointNotConverged, fixpoint

    df = spark.range(6).toDF("x")

    def step(d, rnd):
        return d.filter(F.col("x") >= min(rnd, 3))

    logger = "obsidian_parser_spark.checkpointing"
    with caplog.at_level(logging.INFO, logger=logger):
        out = fixpoint(df, step, 10, "shrink")
    recs = [r for r in caplog.records if r.name == logger]
    # rows 5, 4, 3, 3: round 4 repeats round 3 and stops the loop
    assert [r.levelno for r in recs] == [logging.INFO] * 4
    assert [r.args[:3] for r in recs] == [
        ("shrink", 1, 5), ("shrink", 2, 4), ("shrink", 3, 3), ("shrink", 4, 3)
    ]
    for r in recs:
        msg = r.getMessage()
        for key in ("shrink", "round=", "rows=", "checksum=", "seconds="):
            assert key in msg
    assert recs[2].args[3] == recs[3].args[3]
    assert sorted(r.x for r in out.collect()) == [3, 4, 5]

    # a cap that is the caller's contract returns the last round's frame
    caplog.clear()
    with caplog.at_level(logging.INFO, logger=logger):
        capped = fixpoint(df, step, 2, "shrink", raise_at_cap=False)
    assert len([r for r in caplog.records if r.name == logger]) == 2
    assert capped.count() == 4
    with pytest.raises(FixpointNotConverged, match="did not converge"):
        fixpoint(df, step, 2, "shrink")
