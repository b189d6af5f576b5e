"""Micro-vault golden test + linking semantics (SURVEY.md §2.3, FIXTURES.md §2)."""

from collections import Counter

import pytest

from obsidian_parser_spark.plans.pipeline import (
    GraphBuildOptions,
    build_graph,
    reference_parity_options,
)
from obsidian_parser_spark.sources.corpus import spans_from_raw
from tests.util import spans_df


def test_micro_vault_golden(spark, micro_vault):
    """src/vault/vault_test.rs:13-36 ⇒ 3 nodes / 3 edges
    (src/vault/vault_petgraph/mod.rs:155-161)."""
    g = build_graph(micro_vault, reference_parity_options())
    triples = sorted(
        (r.subj, r.pred, r.obj) for r in g.edges.collect()
    )
    assert triples == [
        ("data/main", "links_to", "link"),
        ("link", "links_to", "main"),
        ("main", "links_to", "data/main"),
    ]
    assert g.nodes.count() == 3
    assert g.dangling.count() == 0


def test_full_path_never_falls_back_to_short(spark):
    """index.rs:21-27: '/'-containing targets consult only the full map."""
    rows = [
        spans_from_raw("a", "[[x/b]] [[b]]"),
        spans_from_raw("b", "hello"),
    ]
    g = build_graph(spans_df(spark, rows), reference_parity_options())
    triples = [(r.subj, r.obj) for r in g.edges.collect()]
    assert triples == [("a", "b")]  # [[x/b]] dangles even though stem 'b' exists
    assert [r.raw_target for r in g.dangling.collect()] == ["x/b"]


def test_duplicate_short_name_first_wins(spark):
    """Deterministic first-wins: fewest path segments, then lexicographic
    doc_id (SURVEY §2.6.10)."""
    rows = [
        spans_from_raw("z", "[[dup]]"),
        spans_from_raw("a/dup", "one"),
        spans_from_raw("dup", "two"),
        spans_from_raw("b/dup", "three"),
    ]
    g = build_graph(spans_df(spark, rows), reference_parity_options())
    assert [(r.subj, r.obj) for r in g.edges.collect()] == [("z", "dup")]

    rows2 = [
        spans_from_raw("z", "[[dup]]"),
        spans_from_raw("a/dup", "one"),
        spans_from_raw("b/dup", "three"),
    ]
    g2 = build_graph(spans_df(spark, rows2), reference_parity_options())
    assert [(r.subj, r.obj) for r in g2.edges.collect()] == [("z", "a/dup")]


def test_multigraph_self_loops_and_occurrences(spark):
    """graph_builder.rs:213-218: one edge per occurrence, self-loops kept."""
    rows = [spans_from_raw("a", "[[a]] [[b]] [[b]]"), spans_from_raw("b", "x")]
    g = build_graph(spans_df(spark, rows), reference_parity_options())
    triples = sorted((r.subj, r.obj, r.mention_ord) for r in g.edges.collect())
    assert triples == [("a", "a", 0), ("a", "b", 1), ("a", "b", 2)]


def test_unresolved_dropped_no_dangling_nodes(spark):
    """graph_builder.rs:160-161,214: misses silently dropped from the graph."""
    rows = [spans_from_raw("a", "[[ghost]] [[b]]"), spans_from_raw("b", "x")]
    g = build_graph(spans_df(spark, rows), reference_parity_options())
    assert [(r.subj, r.obj) for r in g.edges.collect()] == [("a", "b")]
    assert g.nodes.count() == 2  # no node materialized for 'ghost'
    assert [r.raw_target for r in g.dangling.collect()] == ["ghost"]


def test_alias_fallback_extension(spark):
    """J5: frontmatter aliases consulted only for J2 misses, and only when
    enabled."""
    rows = [
        spans_from_raw("a", "[[MyAlias]] [[b]]"),
        spans_from_raw("b", "---\naliases:\n- MyAlias\n---\nx"),
    ]
    df = spans_df(spark, rows)
    g_on = build_graph(df, GraphBuildOptions(include_tag_triples=False))
    assert sorted((r.subj, r.obj) for r in g_on.edges.collect()) == [
        ("a", "b"),
        ("a", "b"),
    ]
    g_off = build_graph(df, reference_parity_options())
    assert sorted((r.subj, r.obj) for r in g_off.edges.collect()) == [("a", "b")]
    assert g_off.dangling.count() == 1


def test_embeds_and_mdlinks_preds(spark):
    rows = [
        spans_from_raw("a", "![[b]] [[b]] [cap](b) [cap](c/d.md)"),
        spans_from_raw("b", "x"),
        spans_from_raw("c/d", "y"),
    ]
    g = build_graph(
        spans_df(spark, rows), GraphBuildOptions(include_tag_triples=False)
    )
    triples = sorted((r.pred, r.obj) for r in g.edges.collect())
    assert triples == [
        ("embeds", "b"),
        ("links_to", "b"),
        ("links_to", "b"),
        ("links_to", "c/d"),
    ]


def test_tag_triples_and_node_columns(spark):
    rows = [
        spans_from_raw(
            "n", "---\ntags: [alpha, todo]\naliases: [nick]\n---\nBody #beta word"
        )
    ]
    g = build_graph(spans_df(spark, rows), GraphBuildOptions())
    tags = sorted(
        (r.obj, r.mention_ord)
        for r in g.edges.filter("pred = 'tagged'").collect()
    )
    assert tags == [("alpha", 0), ("beta", 2), ("todo", 1)]
    node = g.nodes.collect()[0]
    assert node.is_todo and node.aliases == ["nick"]
    assert node.word_count == 3  # "Body #beta word"
    assert node.note_name == "n"


def test_analyzer_prefilters(spark):
    rows = [
        spans_from_raw("keep", "[[gone]] [[todo_note]] [[empty]]"),
        spans_from_raw("todo_note", "---\ntags: [todo]\n---\nx [[keep]]"),
        spans_from_raw("empty", ""),
        spans_from_raw("gone", "ok"),
    ]
    opts = GraphBuildOptions(
        include_mdlinks=False,
        use_aliases=False,
        include_tag_triples=False,
        drop_empty=True,
        drop_todo=True,
    )
    g = build_graph(spans_df(spark, rows), opts)
    # analyzer.rs:45-49: todo + empty notes removed BEFORE graph build ⇒
    # their nodes vanish and links to them dangle.
    assert sorted(r.doc_id for r in g.nodes.collect()) == ["gone", "keep"]
    assert [(r.subj, r.obj) for r in g.edges.collect()] == [("keep", "gone")]


def test_identity_clusters_collapse(spark):
    """Identity canonicalization: shared stem, identical content, and
    alias->name evidence all merge transitively; unrelated notes stay
    their own canonical."""
    from obsidian_parser_spark.operators.linking import identity_clusters
    from obsidian_parser_spark.operators.tokenize import tokenize_raw_text

    rows = [
        # a/x and b/x share the stem 'x'
        ("a/x", "unique one"),
        ("b/x", "unique two"),
        # c shares CONTENT with d (different names)
        ("c", "same body"),
        ("d", "same body"),
        # e's alias names b's stem's twin? alias 'x' -> merges with the x-group
        ("e", "---\naliases: [x]\n---\nbody e"),
        # loner
        ("z", "alone"),
    ]
    raw = spark.createDataFrame(rows, "doc_id string, raw_text string")
    notes = tokenize_raw_text(raw)
    got = {r.doc_id: r for r in identity_clusters(notes).collect()}
    assert len(got) == 6
    # x-group ∪ alias evidence: {a/x, b/x, e} one cluster, canonical a/x
    assert {got[k].canonical_id for k in ("a/x", "b/x", "e")} == {"a/x"}
    # content pair: canonical c
    assert {got[k].canonical_id for k in ("c", "d")} == {"c"}
    assert got["z"].canonical_id == "z" and got["z"].is_canonical
    canons = {k for k, r in got.items() if r.is_canonical}
    assert canons == {"a/x", "c", "z"}


def test_triple_precision_recall_vs_reference(spark, micro_vault):
    """The north-rule metric, stated as itself: (subj, pred, obj) precision
    AND recall vs the reference's expected multiset on its canonical
    fixture = 1.0 (target >= 0.95).  Multiset-aware: a duplicated emitted
    edge would cost precision even though the set view hides it."""
    from collections import Counter

    g = build_graph(micro_vault, reference_parity_options())
    got = Counter((r.subj, r.pred, r.obj) for r in g.edges.collect())
    expected = Counter(
        [
            ("data/main", "links_to", "link"),
            ("link", "links_to", "main"),
            ("main", "links_to", "data/main"),
        ]
    )
    tp = sum(min(got[t], expected[t]) for t in expected)
    precision = tp / sum(got.values())
    recall = tp / sum(expected.values())
    assert precision == 1.0 and recall == 1.0


def test_canonicalize_identities_collapses_graph(spark):
    """GraphBuildOptions(canonicalize_identities=True): duplicate-identity
    notes merge into one node and edges rewrite both endpoints to the
    canonical id; tag objects (not note ids) pass through untouched."""
    rows = [
        spans_from_raw("a/x", "#tagged link to [[y]]"),
        spans_from_raw("b/x", "different text"),  # same stem 'x' as a/x
        spans_from_raw("y", "points back [[x]]"),
    ]
    docs = spans_df(spark, rows)
    g = build_graph(
        docs, GraphBuildOptions(canonicalize_identities=True)
    )
    nodes = {r.doc_id for r in g.nodes.collect()}
    assert nodes == {"a/x", "y"}  # b/x collapsed into canonical a/x
    triples = {(r.subj, r.pred, r.obj) for r in g.edges.collect()}
    # y's [[x]] resolved to the short-name winner, then canonicalized
    assert ("y", "links_to", "a/x") in triples
    assert ("a/x", "links_to", "y") in triples
    # tag string stays a tag string
    assert ("a/x", "tagged", "tagged") in triples


def test_unlinked_mentions_anti_join_self_and_df_cap(spark):
    """Mentions counted per occurrence; already-linked pairs and
    self-mentions dropped; a name over the df-cap vouches for nothing."""
    from obsidian_parser_spark.operators.linking import unlinked_mentions

    docs = spark.createDataFrame(
        [
            ("a", [("text", "see b and b today", None, 0)]),
            ("b", [("text", "b talks about b", None, 0)]),  # self only
            ("c", [("text", "b is here", None, 0)]),        # but c links b
            ("d", [("text", "b!", None, 0)]),
            ("e", [("frontmatter", "b", None, 0)]),         # not a text span
        ],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset long>>",
    )
    dict_df = spark.createDataFrame(
        [(x, "short", x) for x in "abcde"], "alias string, kind string, canonical string"
    )
    linked = spark.createDataFrame(
        [("c", "links_to", "b")], "subj string, pred string, obj string"
    )
    out = {
        (r["subj"], r["obj"]): r["n_mentions"]
        for r in unlinked_mentions(docs, dict_df, linked).collect()
    }
    assert out == {("a", "b"): 2, ("d", "b"): 1}
    # df-cap: pre-anti-join 'b' is mentioned by 3 distinct docs (a, c, d)
    assert unlinked_mentions(docs, dict_df, linked, max_df=2).count() == 0
    # a name exactly at the cap is kept
    out = {
        (r["subj"], r["obj"]): r["n_mentions"]
        for r in unlinked_mentions(docs, dict_df, linked, max_df=3).collect()
    }
    assert out == {("a", "b"): 2, ("d", "b"): 1}


def test_alias_conflicts_surfaces_first_wins_losers(spark):
    """alias_conflicts: every (alias, kind) claimed by >1 note, with the
    deterministic winner (fewest segments, then lexicographic) and the
    sorted losers — the transparency view over index.rs:13-14 silent
    first-wins."""
    from obsidian_parser_spark.operators.linking import (
        alias_candidates,
        alias_conflicts,
    )
    from obsidian_parser_spark.operators.tokenize import tokenize_documents

    rows = [
        spans_from_raw("dup", "x"),
        spans_from_raw("a/dup", "y"),
        spans_from_raw("b/dup", "z"),
        spans_from_raw("solo", "w"),
    ]
    notes = tokenize_documents(spans_df(spark, rows))
    out = {
        (r["alias"], r["kind"]): (r["winner"], r["n_candidates"], r["losers"])
        for r in alias_conflicts(alias_candidates(notes)).collect()
    }
    # 'dup' short name claimed by 3 notes; root-level 'dup' wins (1 segment),
    # losers sorted lexicographically; 'solo' and all 'full' keys absent.
    assert out == {("dup", "short"): ("dup", 3, "a/dup,b/dup")}


def test_unlinked_mentions_byte_budget_path_choice(spark, monkeypatch):
    """The broadcast/JVM auto-decision is a BYTE budget, not a row count:
    under budget -> Arrow mapInPandas pass (MapInPandas in the plan);
    over budget -> JVM shuffle fallback (no Python anywhere). Results are
    identical on both paths."""
    from obsidian_parser_spark.operators import linking as LKM

    docs = spark.createDataFrame(
        [
            ("a", [("text", "see b and b today", None, 0)]),
            ("d", [("text", "b!", None, 0)]),
        ],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset long>>",
    )
    dict_df = spark.createDataFrame(
        [(x, "short", x) for x in "abd"],
        "alias string, kind string, canonical string",
    )
    linked = spark.createDataFrame(
        [], "subj string, pred string, obj string"
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # under budget (6 bytes of names << default) -> Arrow path
    under = LKM.unlinked_mentions(docs, dict_df, linked)
    assert "MapInPandas" in plan(under)
    # over budget -> JVM fallback, no Python eval in the plan
    monkeypatch.setattr(LKM, "_BROADCAST_BYTE_BUDGET", 1)
    over = LKM.unlinked_mentions(docs, dict_df, linked)
    p = plan(over)
    assert "MapInPandas" not in p and "BatchEvalPython" not in p
    want = {("a", "b"): 2, ("d", "b"): 1}
    assert {(r["subj"], r["obj"]): r["n_mentions"] for r in under.collect()} == want
    assert {(r["subj"], r["obj"]): r["n_mentions"] for r in over.collect()} == want


# A hostile dictionary for the two-level lookup: a root note 'readme' beside
# 'a/readme'; note 'c' claims the aliases 'readme' and 'a/readme' (level 1
# must win), 'x/y' (a '/' target that exists only as an alias) and 'nick';
# 'src' also links a dangling target and a '/' target whose stem exists.
RESOLVE_NOTES = {
    "readme": "root",
    "a/readme": "nested",
    "c": "---\naliases:\n- readme\n- a/readme\n- x/y\n- nick\n---\nbody",
    "src": "".join(
        f"rel:: [[{t}#h]]\n"
        for t in ("readme", "a/readme", "x/y", "nick", "ghost", "x/readme", "c")
    ),
}
RESOLVE_ALIASES = {"c": ["readme", "a/readme", "x/y", "nick"]}


def _py_resolve(target, use_aliases):
    """Plain-Python J2 + J5: a '/' target consults only the full paths,
    any other only the stems (fewest segments, then lexicographic id);
    a miss falls back to the frontmatter aliases when enabled."""

    def first(ids):
        return min(ids, key=lambda d: (d.count("/") + 1, d), default=None)

    if "/" in target:
        hit = target if target in RESOLVE_NOTES else None
    else:
        hit = first(d for d in RESOLVE_NOTES if d.rsplit("/", 1)[-1] == target)
    if hit is None and use_aliases:
        hit = first(d for d, al in RESOLVE_ALIASES.items() if target in al)
    return hit


@pytest.mark.parametrize("broadcast", [True, False])
@pytest.mark.parametrize("use_aliases", [True, False])
@pytest.mark.parametrize(
    "resolver", ["resolve_mentions", "qualified_link_edges", "inline_fields"]
)
def test_resolvers_match_python_two_level_lookup(
    spark, resolver, use_aliases, broadcast
):
    """Every resolver gives the rows of a plain-Python two-level lookup.
    ``broadcast=False`` drops the hint of ``resolve_mentions`` and turns
    the session's auto-broadcast off, so its probe runs as a shuffle
    join; the other two resolvers always hint."""
    from obsidian_parser_spark.operators.linking import (
        build_alias_dict,
        qualified_link_edges,
        resolve_mentions,
    )
    from obsidian_parser_spark.operators.structure import inline_fields
    from obsidian_parser_spark.operators.tokenize import (
        mentions_from_notes,
        tokenize_documents,
    )

    docs = spans_df(spark, [spans_from_raw(d, t) for d, t in RESOLVE_NOTES.items()])
    notes = tokenize_documents(docs, include_mdlinks=False)
    d = build_alias_dict(notes, use_aliases=use_aliases)
    targets = [
        ln[len("rel:: [[") : -len("#h]]")] for ln in RESOLVE_NOTES["src"].splitlines()
    ]
    want = Counter(enumerate(_py_resolve(t, use_aliases) for t in targets))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if not broadcast:
        spark.conf.set(key, "-1")
    try:
        if resolver == "resolve_mentions":
            edges, dangling = resolve_mentions(
                mentions_from_notes(notes), d, use_aliases=use_aliases,
                broadcast=broadcast,
            )
            plan = edges._jdf.queryExecution().executedPlan().toString()
            assert ("BroadcastHashJoin" in plan) == broadcast, plan
            assert edges.columns == ["subj", "mention_ord", "pred", "obj"]
            assert dangling.columns == ["subj", "mention_ord", "pred", "raw_target"]
            missed = dangling.collect()
            assert {r.raw_target for r in missed} == {
                targets[i] for i, o in want if o is None
            }
            got = Counter([(r.mention_ord, r.obj) for r in edges.collect()])
            got.update((r.mention_ord, None) for r in missed)
        elif resolver == "qualified_link_edges":
            rows = qualified_link_edges(docs, d).collect()
            assert {(r.subj, r.pred, r.qual_kind, r.qualifier) for r in rows} == {
                ("src", "links_to", "heading", "h")
            }
            got = Counter(r.obj for r in rows)
            want = Counter(o for _, o in want if o is not None)
        else:
            content = spark.createDataFrame(
                list(RESOLVE_NOTES.items()), "doc_id string, content string"
            )
            rows = inline_fields(content, d).collect()
            got = Counter((r.field_ord - 1, r.obj) for r in rows)
    finally:
        spark.conf.set(key, old)
    assert got == want
