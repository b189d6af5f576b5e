"""Dedup detectors: JVM SimHash vs a straight-line Python oracle, plus the
LSH→verify composition.  (The md5-family detectors are additionally
cross-checked against DuckDB by test_oracle_parity.py / the driver gate.)"""

import hashlib
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from obsidian_parser_spark.operators.dedup import (
    distinct_shingles,
    minhash_signatures,
    shingles,
    simhash_near_dups,
    simhash_signatures,
)
from obsidian_parser_spark.operators.pagerank import pagerank
from obsidian_parser_spark.operators.textstats import (
    bpe_encode_counts,
    bpe_merges,
    collocation_stats,
    lm_coverage,
    ngram_lm_counts,
    repetition_stats,
    textrank_keywords,
    winnow_fingerprints,
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


# ------------------------------------------------ word grams on hostile text

# NULL and blank text; 1, n-1, n and n+1 tokens for n=3; a repeated gram;
# tab, CRLF, U+00A0 and U+2028 (neither is Java \s, so both stay inside a
# token; a token ending in U+2028 is outside BPE's [a-z0-9]+ rule although
# Java's $ matches before it) and uppercase; two docs whose tokens hold
# U+0001 and would share one key if grams were joined with it
HOSTILE = [
    None, "", "   ", "one", "a b", "a b c", "a b c d", "x y x y x y z",
    "Tab\there\r\nCRLF line\r\nMore", "nb\u00a0sp word ls\u2028sep word",
    "UPPER Case up upper", "a\x01b c d", "a b\x01c d",
    "the cat sat the cat sat on", "one\u2028 two",
]


def _tokens(text):
    """_TOKENS: lowercase, split on Java ``\\s``, drop empties."""
    if text is None:
        return None
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text.lower()) if t]


def _grams(toks, n):
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _shingles(toks, n):
    return _grams(toks, n) if len(toks) >= n else [" ".join(toks)]


def _docs(docs):
    return [(d, _tokens(t)) for d, t in docs if t is not None]


def _want_shingles(docs):
    return [(d, s) for d, toks in _docs(docs) for s in _shingles(toks, 3)]


def _want_minhash(docs):
    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    return [
        (d, *(min(md5(f"{i}:{s}") for s in _shingles(toks, 3)) for i in range(2)))
        for d, toks in _docs(docs)
    ]


def _frac(num, den):
    if den == 0:
        return 0.0
    return float(Decimal(repr(num / den)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _want_repetition(docs):
    rows = []
    for d, text in docs:
        # Spark's trim strips ' ' only
        lines = Counter(x for x in (text or "").split("\n") if x.strip(" "))
        size = {x: len(x.encode()) for x in lines}
        n_lines = sum(lines.values())
        dup = sum(c for c in lines.values() if c > 1)
        nbytes = sum(size[x] * c for x, c in lines.items())
        dup_bytes = sum(size[x] * c for x, c in lines.items() if c > 1)
        bigrams = Counter(_grams(_tokens(text) or [], 2))
        n_bi = sum(bigrams.values())
        top = max(bigrams.values(), default=0)
        f_line, f_char, f_bi = _frac(dup, n_lines), _frac(dup_bytes, nbytes), _frac(top, n_bi)
        rows.append(
            (d, n_lines, f_line, f_char, n_bi, f_bi,
             f_line > 0.30 or f_char > 0.20 or f_bi > 0.18)
        )
    return rows


def _want_collocations(docs):
    toks = [t for _, t in _docs(docs)]
    pairs = Counter(g for t in toks for g in _grams(t, 2))
    uni = Counter(w for t in toks for w in t)
    total = sum(uni.values())
    return [
        (w1, w2, n, uni[w1], uni[w2], total)
        for (w1, w2), n in ((tuple(g.split(" ")), n) for g, n in pairs.items())
    ]


def _want_winnow(docs, k=3, w=2):
    rows = []
    for d, text in docs:
        toks = _tokens(text)
        if toks is None:
            rows.append((d, None))  # the window-min over a NULL hash array
            continue
        h = [hashlib.md5(g.encode()).hexdigest() for g in _shingles(toks, k)]
        fps = {min(h[j : j + w]) for j in range(max(len(h) - w + 1, 1))}
        rows.extend((d, fp) for fp in fps)
    return rows


def _want_textrank(spark, docs):
    toks = [t for _, t in _docs(docs)]
    words = sorted({w for t in toks for w in t})
    pairs = Counter(tuple(g.split(" ")) for t in toks for g in _grams(t, 2))
    edges = [(a, b, n) for (a, b), n in pairs.items()]
    edges += [(b, a, n) for a, b, n in edges]
    pr = pagerank(
        spark.createDataFrame([(w,) for w in words], "word string"),
        spark.createDataFrame(edges, "subj string, obj string, n long"),
        id_col="word",
        weight_col="n",
    )
    return [tuple(r) for r in pr.select("id", "pr").collect()]


def _want_ngram_lm(docs):
    tri = Counter(tuple(g.split(" ")) for _, t in _docs(docs) for g in _grams(t, 3))
    ctx = Counter()
    for (w1, w2, _), n in tri.items():
        ctx[(w1, w2)] += n
    return [(*g, n, ctx[g[:2]]) for g, n in tri.items()]


def _bpe(docs, n_merges=3):
    vocab = Counter(
        w for _, t in _docs(docs) for w in t if re.fullmatch("[a-z0-9]+", w)
    )
    syms = {w: list(w) for w in vocab}
    merges = []
    for step in range(1, n_merges + 1):
        pc = Counter()
        for w, n in vocab.items():
            for pair in zip(syms[w], syms[w][1:]):
                pc[pair] += n
        if not pc:
            break
        (l, r), pn = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, pn))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            syms[w] = out
    return merges, syms


def _want_bpe_encode(docs):
    _, syms = _bpe(docs)
    return [
        (d, sum(len(syms[w]) for w in t if w in syms), sum(w not in syms for w in t))
        for d, t in _docs(docs)
        if t
    ]


def _want_lm_coverage(docs, min_count=2):
    grams = {d: _grams(_tokens(t) or [], 3) for d, t in docs}
    counts = Counter(g for gs in grams.values() for g in gs)
    return [
        (d, len(gs), sum(counts[g] >= min_count for g in gs))
        for d, gs in grams.items()
    ]


# operator → (call on a documents frame, re-derivation from (doc_id, text))
GRAM_OPERATORS = {
    "shingles": (lambda df: shingles(df, n=3), _want_shingles),
    "distinct_shingles": (
        lambda df: distinct_shingles(df, n=3),
        lambda docs: list(set(_want_shingles(docs))),
    ),
    "minhash_signatures": (
        lambda df: minhash_signatures(df, k=2, n=3),
        _want_minhash,
    ),
    "repetition_stats": (repetition_stats, _want_repetition),
    "repetition_stats_not_null": (
        lambda df: repetition_stats(df.filter("text is not null")),
        lambda docs: _want_repetition([x for x in docs if x[1] is not None]),
    ),
    "collocation_stats": (
        lambda df: collocation_stats(df, min_pair=1),
        _want_collocations,
    ),
    "winnow_fingerprints": (
        lambda df: winnow_fingerprints(df, k=3, w=2),
        _want_winnow,
    ),
    "textrank_keywords": (
        lambda df: textrank_keywords(df, min_count=1, top_n=100),
        None,  # re-derived through pagerank on the Python-built graph
    ),
    "ngram_lm_counts": (
        lambda df: ngram_lm_counts(df, min_count=1),
        _want_ngram_lm,
    ),
    "bpe_merges": (
        lambda df: bpe_merges(df, n_merges=3),
        lambda docs: _bpe(docs)[0],
    ),
    "bpe_encode_counts": (
        lambda df: bpe_encode_counts(df, n_merges=3),
        _want_bpe_encode,
    ),
    "lm_coverage": (lambda df: lm_coverage(df, min_count=2), _want_lm_coverage),
}


@pytest.mark.parametrize("name", list(GRAM_OPERATORS))
def test_gram_operators_match_python_on_hostile_text(spark, name):
    """Every operator on the one word-gram builder gives the rows of a
    plain-Python re-derivation on hostile text: a NULL text has no grams
    (never a thrown task), blank text has no tokens, and whitespace
    outside Java ``\\s`` stays inside a token."""
    docs = list(enumerate(HOSTILE))
    op, want = GRAM_OPERATORS[name]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = Counter(tuple(r) for r in op(df).collect())
    expected = _want_textrank(spark, docs) if want is None else want(docs)
    assert got == Counter(expected)
