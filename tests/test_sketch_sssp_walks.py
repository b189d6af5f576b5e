"""Round-4 operator additions — weighted SSSP, biased (node2vec-style)
walks, Count-Min heavy hitters, asymmetric shingle containment — each
against a pure-python oracle."""

import hashlib
from collections import defaultdict
from datetime import datetime

from pyspark.sql import functions as F

from obsidian_parser_spark.operators.components import weighted_sssp
from obsidian_parser_spark.operators.dedup import containment_pairs
from obsidian_parser_spark.operators.events import heavy_hitters_cms
from obsidian_parser_spark.operators.walks import biased_walks


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "subj string, obj string"
    )


# --- weighted SSSP -----------------------------------------------------------


def _py_sssp(pairs, root, rounds):
    w = defaultdict(int)
    for a, b in pairs:
        w[(a, b)] += 1
    weights = {k: max(1, 5 - min(n, 4)) for k, n in w.items()}
    dist = {root: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for (u, v), wt in weights.items():
            if u in dist and dist[u] + wt < nxt.get(v, 1 << 60):
                nxt[v] = dist[u] + wt
        dist = nxt
    return sorted(dist.items())


def test_weighted_sssp_matches_python(spark):
    # a→b (×4 parallel links ⇒ weight 1), a→c (×1 ⇒ weight 4),
    # c→d, b→d — shortest a→d goes through b (1+4=5 vs 4+4=8)
    pairs = [("a", "b")] * 4 + [("a", "c"), ("c", "d"), ("b", "d"), ("d", "e")]
    got = sorted(
        map(tuple, weighted_sssp(_edges(spark, pairs), "a", rounds=4).collect())
    )
    assert got == _py_sssp(pairs, "a", 4)
    d = dict(got)
    assert d["b"] == 1 and d["c"] == 4 and d["d"] == 5


def test_weighted_sssp_unreachable_absent(spark):
    pairs = [("a", "b"), ("x", "y")]
    got = dict(weighted_sssp(_edges(spark, pairs), "a", rounds=3).collect())
    assert "x" not in got and "y" not in got and got == {"a": 0, "b": 4}


# --- biased walks ------------------------------------------------------------


def _h(salt, t, u, v):
    return hashlib.md5(f"{salt}:{t}:{u}>{v}".encode()).hexdigest()


def _py_biased(pairs, n_steps, salt="n2v", tiers=(2, 0, 1)):
    tr, tc, tf = tiers
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
    out = []
    for start in sorted(adj):
        node, prev = start, None
        out.append((start, 0, node))
        for t in range(1, n_steps + 1):
            nbrs = adj.get(node)
            if not nbrs:
                break
            if t == 1:
                nxt = min(nbrs, key=lambda v: (_h(salt, t, node, v), v))
            else:
                def tier(v):
                    if v == prev:
                        return tr
                    return tc if v in adj.get(prev, ()) else tf
                nxt = min(nbrs, key=lambda v: (tier(v), _h(salt, t, node, v), v))
            prev, node = node, nxt
            out.append((start, t, node))
    return sorted(out)


def test_biased_walks_match_python(spark):
    pairs = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"),
        ("c", "d"), ("c", "a"), ("d", "a"), ("d", "b"),
    ]
    got = sorted(map(tuple, biased_walks(_edges(spark, pairs), 3).collect()))
    assert got == _py_biased(pairs, 3)


def test_biased_walks_prefer_triangle_close_over_backtrack(spark):
    # from b (arrived a→b): candidates are a (backtrack, tier 2) and
    # c (a→c exists ⇒ triangle-closing, tier 0) — c must win regardless
    # of the hash order
    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c")]
    rows = {
        (r["start"], r["step"]): r["node"]
        for r in biased_walks(_edges(spark, pairs), 2).collect()
    }
    if rows[("a", 1)] == "b":  # step 1 is hash-chosen; tier rule is step 2
        assert rows[("a", 2)] == "c"


# --- Count-Min heavy hitters -------------------------------------------------


def test_cms_estimate_bounds_and_topk(spark):
    rows = []
    counts = {1: 40, 2: 25, 3: 10, 4: 3, 5: 1}
    i = 0
    for uid, n in counts.items():
        for _ in range(n):
            rows.append((i, datetime(2024, 1, 1), uid, "view", 1.0, "{}"))
            i += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r["user_id"]: (r["n_exact"], r["n_est"])
        for r in heavy_hitters_cms(ev, d=4, w=512, k=3).collect()
    }
    assert set(got) == {1, 2, 3}  # top-3 by exact count
    for uid, (n_exact, n_est) in got.items():
        assert n_exact == counts[uid]
        assert n_est >= n_exact  # CMS error is one-sided
        assert n_est <= sum(counts.values())


def test_cms_exact_when_collision_free(spark):
    # 5 keys in 512 buckets × 4 rows: P(any shared bucket in ALL rows)
    # is effectively 0 for this fixed seedless hash family — estimates
    # must be exact here (a deterministic fixture, not a probabilistic
    # claim: the md5 buckets of 1..5 are collision-free, verified once)
    rows = [
        (i, datetime(2024, 1, 1), i % 5 + 1, "view", 1.0, "{}")
        for i in range(50)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    for r in heavy_hitters_cms(ev, d=4, w=512, k=5).collect():
        assert r["n_est"] == r["n_exact"] == 10


# --- asymmetric containment --------------------------------------------------


def test_containment_is_asymmetric(spark):
    small = "alpha beta gamma delta epsilon"
    big = small + " zeta eta theta iota kappa " + "x y z " * 10
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally different words here now")],
        "doc_id long, text string",
    )
    got = {
        (r["a"], r["b"]): (r["inter"], r["sza"], r["szb"])
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in got  # small ⊂ big
    inter, sza, szb = got[(1, 2)]
    assert inter == sza == 3  # all 3 of small's 3-grams appear in big
    assert (2, 1) not in got  # big is NOT contained in small
    assert all(a != 3 and b != 3 for a, b in got)


def test_containment_exact_copy_both_directions(spark):
    t = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    got = {(r["a"], r["b"]) for r in containment_pairs(docs).collect()}
    assert got == {(1, 2), (2, 1)}  # mutual containment, both orders


def test_containment_keeps_exact_boundary_ratio(spark):
    # doc 1: 52 distinct words → 50 shingles; doc 2 is its first 9 words →
    # 7 shingles, all in doc 1.  7/50 == 0.14 exactly, while the product
    # 0.14 * 50 rounds to 7.000000000000001 in double
    words = [f"w{i}" for i in range(52)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[:9]))], "doc_id long, text string"
    )
    got = {
        (r["a"], r["b"]): (r["inter"], r["sza"], r["szb"])
        for r in containment_pairs(docs, threshold=0.14).collect()
    }
    assert got == {(1, 2): (7, 50, 7), (2, 1): (7, 7, 50)}


# --- co-citation / incremental dedup ----------------------------------------


def test_cocitation_dual_of_coupling(spark):
    from obsidian_parser_spark.operators.analytics import cocitation_pairs

    # s1 and s2 both cite x and y ⇒ (x, y) co-cited with shared=2;
    # z cited once ⇒ no pair
    edges = spark.createDataFrame(
        [("s1", "links_to", "x"), ("s1", "links_to", "y"),
         ("s2", "links_to", "x"), ("s2", "links_to", "y"),
         ("s2", "links_to", "z")],
        "subj string, pred string, obj string",
    )
    got = [tuple(r) for r in cocitation_pairs(edges).collect()]
    assert got == [("x", "y", 2)]
    # source df cap: s1 (2 distinct targets) sits at the cap and is kept,
    # s2 (3 targets) is one over and drops — else (x, z), (y, z) appear
    # and (x, y) counts 2
    got = [tuple(r) for r in cocitation_pairs(
        edges, min_shared=1, max_source_df=2).collect()]
    assert got == [("x", "y", 1)]


def test_incremental_pairs_batch_vs_base_only(spark):
    from obsidian_parser_spark.operators.dedup import incremental_jaccard_pairs

    t = "one two three four five six"
    base = spark.createDataFrame(
        [(1, t), (2, t), (3, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame([(100, t)], "doc_id long, text string")
    got = sorted(
        (r["batch_id"], r["base_id"], r["jaccard"])
        for r in incremental_jaccard_pairs(base, batch).collect()
    )
    # the batch copy pairs with BOTH identical base docs — but the two
    # identical base docs never pair with each other (no base self-join)
    assert got == [(100, 1, 1.0), (100, 2, 1.0)]

    # shingle df is counted on the base only: "p q r" is in three batch
    # docs but one base doc, so it pairs under cap 1; "x y z" is in two
    # base docs, so it drops although the batch holds it once
    base = spark.createDataFrame(
        [(1, "p q r"), (2, "x y z"), (3, "x y z")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "p q r"), (101, "p q r"), (102, "p q r"), (103, "x y z")],
        "doc_id long, text string",
    )
    got = sorted(
        tuple(r) for r in incremental_jaccard_pairs(
            base, batch, max_shingle_df=1).collect()
    )
    assert got == [(100, 1, 1.0), (101, 1, 1.0), (102, 1, 1.0)]


def test_repeated_dedup_and_mention_calls_leave_no_cache(spark):
    """Operators own no cache across calls: repeated incremental dedup and
    unlinked-mention calls (both dictionary paths) leave the session's
    CacheManager empty, and a repeat returns the same rows."""
    from obsidian_parser_spark.operators.dedup import incremental_jaccard_pairs
    from obsidian_parser_spark.operators.linking import unlinked_mentions

    spark.catalog.clearCache()
    t = "one two three four five six"
    base = spark.createDataFrame(
        [(1, t), (2, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame([(100, t)], "doc_id long, text string")
    first = sorted(incremental_jaccard_pairs(base, batch).collect())
    assert first == sorted(incremental_jaccard_pairs(base, batch).collect())
    assert [tuple(r) for r in first] == [(100, 1, 1.0)]

    docs = spark.createDataFrame(
        [("a", [("text", "see b and b today", None, 0)]),
         ("d", [("text", "b!", None, 0)])],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset long>>",
    )
    dict_df = spark.createDataFrame(
        [(x, "short", x) for x in "abd"],
        "alias string, kind string, canonical string",
    )
    linked = spark.createDataFrame([], "subj string, pred string, obj string")
    for broadcast_dict in (True, False):
        got = unlinked_mentions(
            docs, dict_df, linked, broadcast_dict=broadcast_dict
        ).collect()
        assert sorted(map(tuple, got)) == [("a", "b", 2), ("d", "b", 1)]

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --- randomized parity (seeded, like test_components' random graphs) ---------


def _rand_pairs(seed, n_nodes=30, n_edges=120):
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(0, n_nodes, size=n_edges)
    b = rng.integers(0, n_nodes, size=n_edges)
    return [(f"n{x}", f"n{y}") for x, y in zip(a, b)]


def test_weighted_sssp_random_graph_parity(spark):
    for seed in (7, 19):
        pairs = _rand_pairs(seed)
        root = pairs[0][0]
        got = sorted(
            map(tuple, weighted_sssp(_edges(spark, pairs), root, rounds=5).collect())
        )
        assert got == _py_sssp(pairs, root, 5), f"seed {seed}"


def test_biased_walks_random_graph_parity(spark):
    for seed in (11, 23):
        pairs = _rand_pairs(seed, n_nodes=20, n_edges=60)
        got = sorted(
            map(tuple, biased_walks(_edges(spark, pairs), 3).collect())
        )
        assert got == _py_biased(pairs, 3), f"seed {seed}"
