"""Structural graph metrics (triangles / k-core / LPA communities) and the
events as-of + range joins, against hand-computed and pure-python oracles."""

import itertools
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "subj string, obj string"
    )


# a graph with known structure (counts asserted against the pure-python
# oracle below, not by hand):
#   K4 on a,b,c,d            -> 4 triangles among themselves
#   triangle e,f,g           -> 1 triangle
#   pendant path g-h-i       -> no triangles, peeled by k>=2
#   hub z linked to a..g     -> z closes a triangle with EVERY linked pair
#     that is itself an edge: 6 in the K4 + 3 in efg = 9 more triangles
GRAPH = (
    [(x, y) for x, y in itertools.combinations("abcd", 2)]
    + [("e", "f"), ("f", "g"), ("g", "e")]
    + [("g", "h"), ("h", "i")]
    + [("z", n) for n in "abcdefg"]
)


def _py_triangles(pairs):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    cnt = Counter()
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            cnt[a] += 1
            cnt[b] += 1
            cnt[c] += 1
    return dict(cnt)


def _py_kcore(pairs, k):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    while True:
        bad = [n for n in adj if len(adj[n]) < k]
        if not bad:
            break
        for n in bad:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(v) for n, v in adj.items() if v}


def test_triangle_counts_known_graph(spark):
    from obsidian_parser_spark.operators.graph_metrics import triangle_counts

    got = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(_edges(spark, GRAPH)).collect()
    }
    assert got == _py_triangles(GRAPH)


def test_triangle_counts_direction_and_dups_ignored(spark):
    from obsidian_parser_spark.operators.graph_metrics import triangle_counts

    tri = [("a", "b"), ("b", "c"), ("c", "a")]
    noisy = tri + [(b, a) for a, b in tri] + tri + [("a", "a")]
    got = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(_edges(spark, noisy)).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 1}


@pytest.mark.parametrize("k", [2, 3])
def test_k_core_matches_python_peel(spark, k):
    from obsidian_parser_spark.operators.graph_metrics import k_core

    got = {
        r["id"]: r["core_degree"]
        for r in k_core(_edges(spark, GRAPH), k=k).collect()
    }
    assert got == _py_kcore(GRAPH, k)


def test_k_core_empty_when_overpruned(spark):
    from obsidian_parser_spark.operators.graph_metrics import k_core

    path = [("a", "b"), ("b", "c"), ("c", "d")]
    assert k_core(_edges(spark, path), k=2).count() == 0


def test_k_core_raises_instead_of_returning_truncated_peel(spark):
    from obsidian_parser_spark.operators.graph_metrics import k_core

    # a path peels one layer per round from its ends: max_iter=1 cannot
    # reach the (empty) 2-core fixpoint, and the operator must say so
    # loudly rather than return nodes below the degree->=k invariant
    path = [(c1, c2) for c1, c2 in zip("abcdef", "bcdefg")]
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(_edges(spark, path), k=2, max_iter=1)


def test_k_core_zero_rounds_raises_runtime_error(spark):
    from obsidian_parser_spark.operators.graph_metrics import k_core

    # zero rounds is a cap like any other: nothing converged
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(_edges(spark, [("a", "b"), ("b", "c")]), k=2, max_iter=0)


def test_label_propagation_two_cliques(spark):
    from obsidian_parser_spark.operators.graph_metrics import label_propagation

    # two K4s joined by one bridge edge: LPA must settle each clique on its
    # own min label, bridge notwithstanding (3-vs-1 neighbor majority)
    g = (
        [(x, y) for x, y in itertools.combinations(["a1", "a2", "a3", "a4"], 2)]
        + [(x, y) for x, y in itertools.combinations(["b1", "b2", "b3", "b4"], 2)]
        + [("a4", "b1")]
    )
    got = {
        r["id"]: r["community"]
        for r in label_propagation(_edges(spark, g), n_rounds=4).collect()
    }
    assert {got[n] for n in ("a1", "a2", "a3", "a4")} == {"a1"}
    assert {got[n] for n in ("b1", "b2", "b3", "b4")} == {"b1"}


def test_label_propagation_deterministic(spark):
    from obsidian_parser_spark.operators.graph_metrics import label_propagation

    a = sorted(map(tuple, label_propagation(_edges(spark, GRAPH), 3).collect()))
    b = sorted(map(tuple, label_propagation(_edges(spark, GRAPH), 3).collect()))
    assert a == b


# --- events: as-of + range joins -----------------------------------------


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts_us long"
    )


def test_asof_join_basic_and_ties(spark):
    from obsidian_parser_spark.operators.events import asof_join

    left = _ev(spark, [(1, 10, 100), (1, 11, 205), (1, 12, 50), (2, 20, 400)])
    right = _ev(spark, [(1, 90, 100), (1, 91, 200), (3, 92, 10)])
    got = {
        r["event_id"]: (r["matched_event_id"], r["matched_ts_us"])
        for r in asof_join(left, right).collect()
    }
    assert got == {
        10: (90, 100),  # at-or-before: equal ts matches
        11: (91, 200),
        12: (None, None),  # nothing at-or-before
        20: (None, None),  # user has no right rows
    }


def test_asof_join_duplicate_ts_right_rows_deterministic(spark):
    from obsidian_parser_spark.operators.events import asof_join

    left = _ev(spark, [(1, 10, 500)])
    right = _ev(spark, [(1, 90, 300), (1, 95, 300), (1, 91, 300)])
    (row,) = asof_join(left, right).collect()
    assert row["matched_event_id"] == 95  # largest payload id at the tie ts


def test_asof_join_null_payload_fields_stay_row_consistent(spark):
    from obsidian_parser_spark.operators.events import asof_join

    # the matched payload must come from ONE right row: a NULL payload
    # field in the latest right row must NOT be backfilled from an older
    # right row (the per-column last(ignorenulls) hazard)
    left = _ev(spark, [(1, 10, 300)])
    right = spark.createDataFrame(
        [(1, 90, 100), (1, None, 200)], "user_id long, event_id long, ts_us long"
    )
    (row,) = asof_join(left, right).collect()
    assert row["matched_ts_us"] == 200
    assert row["matched_event_id"] is None  # not 90 from the older row


def test_interval_overlap_counts_matches_naive(spark):
    from obsidian_parser_spark.operators.events import interval_overlap_counts

    intervals = spark.createDataFrame(
        [(1, 1, 100, 250), (1, 2, 300, 300), (2, 1, 0, 1000)],
        "user_id long, session_idx long, start_us long, end_us long",
    )
    pts_rows = [(50, 1), (100, 2), (250, 4), (251, 8), (300, 16), (1000, 32)]
    pts = spark.createDataFrame(pts_rows, "ts_us long, cents long")
    # tiny bucket forces multi-bucket interval spans (the dedup-free claim)
    got = {
        (r["user_id"], r["session_idx"]): (r["n_overlap_events"], r["overlap_cents"])
        for r in interval_overlap_counts(intervals, pts, bucket_us=100).collect()
    }
    naive = {}
    for u, s, lo, hi in [(1, 1, 100, 250), (1, 2, 300, 300), (2, 1, 0, 1000)]:
        inside = [(t, c) for t, c in pts_rows if lo <= t <= hi]
        if inside:
            naive[(u, s)] = (len(inside), sum(c for _, c in inside))
    assert got == naive


# --- personalized pagerank + degree correlation ---------------------------


def test_personalized_pagerank_matches_python_fixed_point(spark):
    from obsidian_parser_spark.operators.pagerank import (
        SCALE,
        personalized_pagerank,
    )

    edges = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")]
    nodes = spark.createDataFrame([(n,) for n in "abcdz"], "doc_id string")
    e = spark.createDataFrame(edges, "subj string, obj string")
    seeds = ("a",)
    got = {
        r["id"]: r["pr"]
        for r in personalized_pagerank(nodes, e, seeds, n_iter=5).collect()
    }
    # python mirror of the integer fixed-point contract
    from collections import Counter, defaultdict

    w = Counter(edges)
    out = defaultdict(int)
    for (u, _), c in w.items():
        out[u] += c
    base = 15 * SCALE // 100
    pr = {n: SCALE if n in seeds else 0 for n in "abcdz"}
    for _ in range(5):
        m = defaultdict(int)
        for (u, v), c in w.items():
            m[v] += pr[u] * c // out[u]
        pr = {n: (base if n in seeds else 0) + 85 * m[n] // 100 for n in "abcdz"}
    assert got == pr
    assert got["z"] == 0  # unreachable from the seed set -> exactly 0


def test_degree_correlation_known_graph(spark):
    from obsidian_parser_spark.operators.graph_metrics import degree_correlation

    # star a-(b,c,d): degrees a=3, leaves=1; 6 ordered edge ends
    e = _edges(spark, [("a", "b"), ("a", "c"), ("a", "d"), ("b", "a")])
    (row,) = degree_correlation(e).collect()
    # ends: (3,1)x3 and (1,3)x3 -> sum_d = 3*3+3*1 = 12, dd = 6*3, d2 = 3*9+3*1
    assert (
        row["n_edge_ends"], row["sum_d"], row["sum_dd"], row["sum_d2"]
    ) == (6, 12, 18, 30)


# --- clustering coefficients ------------------------------------------------


def _py_clustering(pairs):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    tri = _py_triangles(pairs)
    return {
        n: (tri.get(n, 0), len(v) * (len(v) - 1) // 2)
        for n, v in adj.items()
        if len(v) >= 2
    }


def test_clustering_coefficients_known_graph(spark):
    from obsidian_parser_spark.operators.graph_metrics import (
        clustering_coefficients,
    )

    got = {
        r["id"]: (r["n_triangles"], r["n_wedges"])
        for r in clustering_coefficients(_edges(spark, GRAPH)).collect()
    }
    assert got == _py_clustering(GRAPH)


def test_clustering_degree_one_nodes_excluded(spark):
    from obsidian_parser_spark.operators.graph_metrics import (
        clustering_coefficients,
    )

    # path a-b-c: only b has degree >= 2; zero triangles, one wedge
    got = clustering_coefficients(
        _edges(spark, [("a", "b"), ("b", "c")])
    ).collect()
    assert {(r["id"], r["n_triangles"], r["n_wedges"]) for r in got} == {
        ("b", 0, 1)
    }


# --- link prediction ---------------------------------------------------------


def _py_linkpred(pairs, min_common, cap):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    cnt = Counter()
    for w, nbrs in adj.items():
        if len(nbrs) > cap:
            continue
        for a, b in itertools.combinations(sorted(nbrs), 2):
            cnt[(a, b)] += 1
    return {
        (a, b): (cn, len(adj[a]), len(adj[b]))
        for (a, b), cn in cnt.items()
        if cn >= min_common and b not in adj[a]
    }


def test_link_prediction_square(spark):
    from obsidian_parser_spark.operators.graph_metrics import link_prediction

    # 4-cycle a-b-c-d-a: the two diagonals each share both opposite corners
    sq = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    got = {
        (r["u"], r["v"]): (r["cn"], r["deg_u"], r["deg_v"])
        for r in link_prediction(_edges(spark, sq), min_common=2).collect()
    }
    assert got == {("a", "c"): (2, 2, 2), ("b", "d"): (2, 2, 2)}


def test_link_prediction_matches_python_on_known_graph(spark):
    from obsidian_parser_spark.operators.graph_metrics import link_prediction

    got = {
        (r["u"], r["v"]): (r["cn"], r["deg_u"], r["deg_v"])
        for r in link_prediction(
            _edges(spark, GRAPH), min_common=1, max_center_degree=64
        ).collect()
    }
    assert got == _py_linkpred(GRAPH, 1, 64)


def test_link_prediction_center_cap_drops_hub_pairs(spark):
    from obsidian_parser_spark.operators.graph_metrics import link_prediction

    # star: s-x1..s-x5; with cap 4 the center s may not vouch for any pair
    star = [("s", f"x{i}") for i in range(5)]
    assert (
        link_prediction(
            _edges(spark, star), min_common=1, max_center_degree=4
        ).count()
        == 0
    )
    # with cap 5 every leaf pair appears with cn=1 and TRUE degrees
    got = {
        (r["u"], r["v"]): (r["cn"], r["deg_u"], r["deg_v"])
        for r in link_prediction(
            _edges(spark, star), min_common=1, max_center_degree=5
        ).collect()
    }
    assert got == _py_linkpred(star, 1, 5)
    assert all(v == (1, 1, 1) for v in got.values()) and len(got) == 10


def test_link_prediction_existing_edges_excluded(spark):
    from obsidian_parser_spark.operators.graph_metrics import link_prediction

    # triangle: every pair is adjacent -> no predictions at any threshold
    tri = [("a", "b"), ("b", "c"), ("c", "a")]
    assert link_prediction(_edges(spark, tri), min_common=1).count() == 0


def test_edge_triangle_support_known_graph(spark):
    """K4-minus-one-edge plus a pendant bridge: per-edge triangle counts,
    zero-support bridge included (the k-truss sufficient statistic)."""
    from obsidian_parser_spark.operators.graph_metrics import edge_triangle_support

    g = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"), ("d", "e")]
    got = {
        (r["u"], r["v"]): r["support"]
        for r in edge_triangle_support(_edges(spark, g)).collect()
    }
    # triangles: abc, bcd; bc is in both; de bridges (support 0)
    assert got == {
        ("a", "b"): 1,
        ("a", "c"): 1,
        ("b", "c"): 2,
        ("b", "d"): 1,
        ("c", "d"): 1,
        ("d", "e"): 0,
    }


def test_handshake_matching_is_valid_matching(spark):
    """Every node appears in at most one matched pair, and every pair is
    a real edge."""
    from obsidian_parser_spark.operators.graph_metrics import handshake_matching

    edges = spark.createDataFrame(
        [("a", "links_to", "b"), ("b", "links_to", "c"),
         ("c", "links_to", "d"), ("d", "links_to", "a"),
         ("e", "links_to", "e")],  # self-loop never matches
        "subj string, pred string, obj string",
    )
    pairs = [tuple(r) for r in handshake_matching(edges).collect()]
    seen = [n for p in pairs for n in p]
    assert len(seen) == len(set(seen))  # node-disjoint
    und = {("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")}
    for u, v in pairs:
        assert (u, v) in und or (v, u) in und
    assert all("e" not in p for p in pairs)


def test_bucket_edge_cut_totals(spark):
    from obsidian_parser_spark.operators.analytics import bucket_edge_cut

    edges = spark.createDataFrame(
        [("a", "links_to", "b"), ("a", "links_to", "b"),  # dup collapses
         ("b", "links_to", "c"), ("x", "tagged", "t")],   # tags excluded
        "subj string, pred string, obj string",
    )
    rows = bucket_edge_cut(edges, n_buckets=4).collect()
    assert sum(r["n_edges"] for r in rows) == 2  # distinct link edges only
    for r in rows:
        assert 0 <= r["bucket_u"] < 4 and 0 <= r["bucket_v"] < 4
