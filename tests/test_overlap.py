"""capped_overlap / attach_sizes against a plain-Python inverted index, on a
skewed key distribution with one key exactly at the df cap and one just
above it."""

from collections import Counter, defaultdict

import pytest

from obsidian_parser_spark.operators.overlap import attach_sizes, capped_overlap

CAP = 3
# in SELF, "edge" has df == CAP and "hot" has df == CAP + 1
SELF = [
    (1, "edge"), (2, "edge"), (3, "edge"),
    (1, "hot"), (2, "hot"), (3, "hot"), (4, "hot"),
    (1, "k1"), (2, "k1"),
    (2, "k2"), (4, "k2"),
    (1, "k3"), (5, "k3"),
    (5, "k4"),
]
PROBE = [
    (0, "edge"), (2, "edge"),
    (0, "hot"), (2, "hot"), (6, "hot"),
    (0, "k1"), (6, "k2"), (2, "k3"),
    (6, "only_probe"),
]
PREDS = {None: lambda a, b: True, "<": lambda a, b: a < b, "!=": lambda a, b: a != b}


def _py_overlap(probe, index, cap, pred=None, min_count=1):
    df = Counter(k for _, k in index)
    ids_by_key = defaultdict(list)
    for b, k in index:
        ids_by_key[k].append(b)
    n = Counter(
        (a, b)
        for a, k in probe
        if df[k] <= cap
        for b in ids_by_key[k]
        if PREDS[pred](a, b)
    )
    return {(a, b, c) for (a, b), c in n.items() if c >= min_count}


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc long, k string")


@pytest.mark.parametrize("pred", [None, "<", "!="])
@pytest.mark.parametrize("shape", ["self", "probe_index"])
@pytest.mark.parametrize("min_count", [1, 2])
def test_capped_overlap_matches_python(spark, shape, pred, min_count):
    probe_rows = SELF if shape == "self" else PROBE
    index = _frame(spark, SELF)
    probe = index if shape == "self" else _frame(spark, probe_rows)
    got = capped_overlap(probe, index, CAP, pred=pred, min_count=min_count)
    assert got.columns == ["a", "b", "n"]
    want = _py_overlap(probe_rows, SELF, CAP, pred, min_count)
    assert {tuple(r) for r in got.collect()} == want
    # the input sits on the cap: one lower drops "edge", one higher admits "hot"
    for other in (CAP - 1, CAP + 1):
        assert want != _py_overlap(probe_rows, SELF, other, pred, min_count)


@pytest.mark.parametrize("shape", ["self", "probe_index"])
def test_one_side_cap_equals_both_sides(spark, shape):
    index = _frame(spark, SELF)
    probe = index if shape == "self" else _frame(spark, PROBE)
    keep = (
        index.groupBy("k").count().filter("count <= %d" % CAP).select("k")
    )
    both = capped_overlap(probe.join(keep, "k").select("doc", "k"),
                          index.join(keep, "k").select("doc", "k"), CAP, pred="!=")
    one = capped_overlap(probe, index, CAP, pred="!=")
    assert sorted(map(tuple, both.collect())) == sorted(map(tuple, one.collect()))


def test_attach_sizes_uses_uncapped_frames(spark):
    index = _frame(spark, SELF)
    probe = _frame(spark, PROBE)
    got = attach_sizes(capped_overlap(probe, index, CAP), probe, index)
    sz_probe = Counter(a for a, _ in PROBE)
    sz_index = Counter(b for b, _ in SELF)
    rows = got.select("a", "b", "n", "sz_a", "sz_b").collect()
    assert rows
    for a, b, _, sz_a, sz_b in map(tuple, rows):
        assert (sz_a, sz_b) == (sz_probe[a], sz_index[b])
