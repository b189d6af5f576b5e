"""Dedup detectors: JVM SimHash vs a straight-line Python oracle, plus the
LSH→verify composition.  (The md5-family detectors are additionally
cross-checked against DuckDB by test_oracle_parity.py / the driver gate.)"""

import hashlib

import numpy as np

from obsidian_parser_spark.operators.dedup import (
    simhash_near_dups,
    simhash_signatures,
)

TEXTS = [
    "hello world foo bar",
    "hello world foo baz",
    "",
    "один два три #тест",
    "a a a b",
    "Hello WORLD foo bar",  # lowercased == row 0 → identical signature
    "x" * 5,
    "the quick brown fox jumps over the lazy dog",
]


def _py_simhash(text: str) -> int:
    """Independent per-row implementation (the round-1 engine semantics)."""
    acc = np.zeros(64, dtype=np.int64)
    for t in (text or "").lower().split():
        bits = np.unpackbits(
            np.frombuffer(hashlib.md5(t.encode()).digest()[:8], dtype=np.uint8)
        )
        acc += bits.astype(np.int64) * 2 - 1
    return int.from_bytes(
        np.packbits((acc > 0).astype(np.uint8)).tobytes(), "big", signed=True
    )


def test_simhash_signatures_match_python_oracle(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    got = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    want = {i: _py_simhash(t) for i, t in enumerate(TEXTS)}
    assert got == want
    assert got[2] == 0  # zero-token doc → simhash 0 (left-join back)
    assert got[0] == got[5]  # case-folded duplicates collide


def test_simhash_near_dups_banding(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id int, text string"
    )
    pairs = {
        (r.a, r.b): r.hamming for r in simhash_near_dups(df, max_hamming=3).collect()
    }
    assert pairs[(0, 5)] == 0
    # a true hamming-0 pair must also appear under the xxh hash family
    xpairs = {
        (r.a, r.b): r.hamming
        for r in simhash_near_dups(df, max_hamming=3, hash_fn="xxh").collect()
    }
    assert xpairs[(0, 5)] == 0


def test_simhash_no_python_in_plan(spark):
    """The signature plan must be whole-JVM: no BatchEvalPython / ArrowEval /
    mapInPandas stages (the round-1 implementation's banned pattern)."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    plan = simhash_signatures(df)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, marker


def test_semdedup_prunes_near_identical_min_id(spark):
    """Exact copies and a scaled (cos=1) copy are pruned in favor of the
    smallest id in the cluster; a far vector survives; every input row
    comes back exactly once with a cluster id."""
    from obsidian_parser_spark.operators.dedup import semdedup_prune

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),      # exact copy of 0 -> pruned
        (3, [0.5, 0.0, 0.0, 0.0]),      # colinear with 0 (cos=1) -> pruned
        (4, [0.0, -1.0, 0.0, 0.0]),     # anti-parallel to 1: dot<0 -> kept
        (5, [0.0, 1.0, 0.0, 0.0]),      # exact copy of 1 -> pruned
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r.asDict()
        for r in semdedup_prune(df, n_centroids=2, threshold_pct=95).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4, 5}
    assert all(not r["oversized"] for r in out.values())
    assert out[0]["is_kept"] and out[1]["is_kept"] and out[4]["is_kept"]
    assert not out[2]["is_kept"] and not out[3]["is_kept"] and not out[5]["is_kept"]
    # coarse assignment: centroids are ids 0 and 1; colinear vectors share 0's cell
    assert out[2]["cid"] == 0 and out[3]["cid"] == 0 and out[5]["cid"] == 1


def test_semdedup_oversized_guard_keeps_everything(spark):
    """A cluster over max_cluster_size is excluded from pairing: all rows
    flagged oversized=true, is_kept=true (loud guard, no detonating join)."""
    from obsidian_parser_spark.operators.dedup import semdedup_prune

    rows = [(i, [1.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_prune(df, n_centroids=1, threshold_pct=90, max_cluster_size=3).collect()
    assert len(out) == 6
    assert all(r["oversized"] and r["is_kept"] for r in out)


def test_ngram_jaccard_exact_copy_and_cap(spark):
    from obsidian_parser_spark.operators.dedup import ngram_jaccard_pairs

    # docs 1, 2: an exact copy whose 3 shingles have df 2; docs 3-5 share
    # their one shingle at df 3; doc 6 is unrelated
    docs = spark.createDataFrame(
        [(1, "one two three four five"), (2, "One two three four five"),
         (3, "x y z"), (4, "x y z"), (5, "x y z"), (6, "one two six")],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, ngram_jaccard_pairs(docs).collect()))
    assert got == [(1, 2, 1.0), (3, 4, 1.0), (3, 5, 1.0), (4, 5, 1.0)]
    # cap 2: the df-2 shingles sit at the cap and still pair; the df-3
    # shingle is one over and drops
    got = sorted(map(tuple, ngram_jaccard_pairs(docs, max_shingle_df=2).collect()))
    assert got == [(1, 2, 1.0)]


def test_winnow_pairs_guarantee_and_cap(spark):
    """Docs sharing an 8-token passage pair up; the df-cap drops a
    fingerprint present in every doc (boilerplate)."""
    from obsidian_parser_spark.operators.dedup import winnow_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, "lead in words " + shared + " trailing text"),
            (2, shared + " other ending material here"),
            (3, "completely different vocabulary in this document body"),
        ],
        "doc_id long, text string",
    )
    rows = winnow_pairs(docs, min_shared=1).collect()
    pairs = {(r.a, r.b): r.n_shared for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(p == (1, 2) for p in pairs)
    # n_a/n_b are the per-doc distinct fingerprint totals (pre-cap)
    r = rows[0]
    assert r.n_a >= r.n_shared and r.n_b >= r.n_shared
    # max_fp_df=1: every shared fingerprint has df>=2 -> all dropped
    assert winnow_pairs(docs, min_shared=1, max_fp_df=1).count() == 0


def test_bloom_membership_no_false_negatives(spark):
    from obsidian_parser_spark.operators.dedup import bloom_membership

    base = spark.createDataFrame(
        [(i, f"base doc number {i} with words") for i in range(40)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        # 0-9: exact copies (members); 100-119: novel docs
        [(1000 + i, f"base doc number {i} with words") for i in range(10)]
        + [(2000 + i, f"novel text {i} never seen") for i in range(20)],
        "doc_id long, text string",
    )
    out = bloom_membership(base, batch, m_bits=512, k=4).collect()
    assert len(out) == 30
    for r in out:
        # the Bloom guarantee: every member is a candidate
        if r.is_member:
            assert r.is_candidate, r
        # counting invariants
        assert 1 <= r.n_positions <= 4
        assert 0 <= r.n_hits <= r.n_positions
    members = [r for r in out if r.is_member]
    assert len(members) == 10


def test_bloom_membership_plan_is_jvm_only(spark):
    from obsidian_parser_spark.operators.dedup import bloom_membership

    base = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    batch = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    plan = (
        bloom_membership(base, batch)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for m in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas"):
        assert m not in plan
