"""Physical-plan regression gates: the properties that make the engine
viable at 100 TB, asserted on the actual executed plans so they can't
silently regress.

* exactly ONE Arrow/Python stage in the whole KG pipeline (the tokenizer);
* relational operators stay JVM-side (no BatchEvalPython anywhere);
* aggregations are map-side partial (two HashAggregate levels);
* parquet scans prune columns and push filters.
"""

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"

PY_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "PythonUDF")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def graph(spark, micro_vault):
    from obsidian_parser_spark.plans.pipeline import build_graph

    return build_graph(micro_vault)


def test_tokenize_has_exactly_one_python_stage(spark, micro_vault):
    from obsidian_parser_spark.operators.tokenize import tokenize_documents

    plan = _plan(tokenize_documents(micro_vault))
    assert plan.count("MapInPandas") == 1  # the tokenizer, nothing else
    for marker in PY_MARKERS:
        assert marker not in plan, marker


def test_edges_pipeline_reuses_cached_tokenizer_output(graph):
    """Three consumers (nodes, dict, mentions) must read the tokenizer's
    CACHED output, not re-run the Python stage (the plan text repeats the
    cached subtree per reference, so count InMemoryTableScan, not
    MapInPandas occurrences)."""
    plan = _plan(graph.edges)
    assert "InMemoryTableScan" in plan
    for marker in PY_MARKERS:
        assert marker not in plan, marker


def test_analytics_plans_are_jvm_only(graph):
    from obsidian_parser_spark.operators import analytics as A

    # downstream of the (cached) notes frame every operator is pure JVM:
    # run over a re-materialized edges frame so only the query plan shows
    edges = graph.edges.localCheckpoint()
    for df in (
        A.backlink_counts(edges),
        A.knowledge_hub(edges),
        A.degree_distribution(edges),
    ):
        plan = _plan(df)
        assert "MapInPandas" not in plan
        for marker in PY_MARKERS:
            assert marker not in plan, marker


def test_backlinks_aggregate_is_map_side_partial(graph):
    from obsidian_parser_spark.operators import analytics as A

    plan = _plan(A.backlink_counts(graph.edges.localCheckpoint()))
    # two HashAggregate levels = partial (map-side) + final — the hub-skew
    # flattener the north rule requires
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_scan_prunes_columns(spark):
    """ts_tokens touches only (doc_id, text); the parquet scan must not
    read the other document columns (lang, n_chars, ...)."""
    from obsidian_parser_spark.operators.textstats import token_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert len(docs.columns) > 2  # the table carries more than we use
    plan = _plan(token_counts(docs))
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in scan_line and "doc_id" in scan_line
    assert "lang" not in scan_line and "n_chars" not in scan_line


def test_scan_pushes_filters(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(docs.filter(F.col("doc_id") < 100).select("doc_id"))
    assert "PushedFilters: [" in plan
    assert "LessThan(doc_id,100)" in plan


def test_minhash_plan_is_jvm_only(spark):
    from obsidian_parser_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)],
        "doc_id int, text string",
    )
    plan = _plan(minhash_lsh_pairs(docs, k=8, bands=4, hash_fn="xxh"))
    for marker in PY_MARKERS:
        assert marker not in plan, marker
    assert "MapInPandas" not in plan


def test_round2_curation_plans_are_jvm_only(spark):
    """repetition / keywords / scrub / chunks / modality / pagerank: all
    relational — no Python stage may appear in any of their plans."""
    from obsidian_parser_spark.operators.multimodal import modality_stats
    from obsidian_parser_spark.operators.pagerank import pagerank
    from obsidian_parser_spark.operators.textstats import (
        chunk_documents,
        pii_scrub,
        repetition_stats,
        top_keywords,
    )
    from tests.util import spans_df

    docs = spark.createDataFrame(
        [(i, f"a b c w{i} w{i+1}") for i in range(10)], "doc_id int, text string"
    )
    spans = spans_df(
        spark,
        [{"doc_id": "d", "spans": [
            {"kind": "text", "text": "x", "media_ref": None, "offset": 0}
        ]}],
    )
    nodes = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    edges = spark.createDataFrame([("a", "b")], "subj string, obj string")
    frames = [
        repetition_stats(docs),
        top_keywords(docs),
        pii_scrub(docs),
        chunk_documents(docs, chunk_chars=4),
        modality_stats(spans),
        pagerank(nodes, edges, n_iter=2),
    ]
    for df in frames:
        plan = _plan(df)
        assert "MapInPandas" not in plan
        for marker in PY_MARKERS:
            assert marker not in plan, marker


def test_pagerank_contribution_sum_is_partial(spark):
    from obsidian_parser_spark.operators.pagerank import SCALE, _step

    nodes = spark.createDataFrame(
        [(f"n{i}",) for i in range(6)], "doc_id string"
    ).selectExpr("doc_id AS id", "CAST(1 AS BIGINT) AS is_seed")
    wj = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 6}", 1, 1) for i in range(6)],
        "u string, v string, w long, od long",
    )
    pr0 = nodes.selectExpr("id", f"CAST({SCALE} AS BIGINT) AS pr")
    plan = _plan(_step(wj, nodes, pr0, 150000, 85))
    # the per-target contribution sum must map-side combine (hub skew)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_pack_chunks_plan_jvm_only(spark):
    """Sequence packing stays whole-JVM: token count, shard hash, and the
    windowed prior-sum are all codegen — no Python anywhere."""
    from obsidian_parser_spark.operators.packing import pack_chunks

    df = spark.createDataFrame(
        [(1, 0, "a b c")], "doc_id int, chunk_id int, chunk_text string"
    )
    plan = _plan(pack_chunks(df, budget_tokens=8))
    assert "MapInPandas" not in plan
    for marker in PY_MARKERS:
        assert marker not in plan, marker
    assert "Window" in plan


def test_graph_metrics_plans_jvm_only_no_cartesian(spark):
    """Triangles / k-core / LPA / as-of / range join: all pure JVM, and no
    plan degenerates to a cartesian product (the scale guarantees their
    docstrings claim)."""
    from obsidian_parser_spark.operators import graph_metrics as GM
    from obsidian_parser_spark.operators.events import (
        asof_join,
        interval_overlap_counts,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "subj string, obj string",
    )
    ev = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 200)], "user_id long, event_id long, ts_us long"
    )
    iv = spark.createDataFrame(
        [(1, 1, 0, 250)],
        "user_id long, session_idx long, start_us long, end_us long",
    )
    pts = spark.createDataFrame([(100, 5)], "ts_us long, cents long")
    frames = [
        GM.triangle_counts(edges),
        GM.k_core(edges, k=2, max_iter=2),
        GM.label_propagation(edges, n_rounds=1),
        asof_join(ev, ev),
        interval_overlap_counts(iv, pts),
    ]
    for df in frames:
        plan = _plan(df)
        for marker in PY_MARKERS:
            assert marker not in plan, marker
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_dense_ids_avoids_single_partition_window(spark):
    """The dense-rank trap: row_number() over an unpartitioned window is
    an Exchange SinglePartition + one-reducer sort.  dense_ids must rank
    via range repartition + per-partition offsets — its executed plan may
    contain hash/range exchanges but NEVER a SinglePartition one."""
    from obsidian_parser_spark.operators.gnn import dense_ids, sampled_adjacency

    df = spark.createDataFrame(
        [(f"v{i % 37:03d}",) for i in range(200)], "entity string"
    )
    plan = _plan(dense_ids(df, "entity", n_parts=5))
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-partition local rank is still a window
    for marker in PY_MARKERS:
        assert marker not in plan, marker

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "subj string, obj string",
    )
    aplan = _plan(sampled_adjacency(edges, 2, 1))
    for marker in PY_MARKERS:
        assert marker not in aplan, marker
    assert "CartesianProduct" not in aplan
    assert "SinglePartition" not in aplan


def test_graph_diff_semantics_and_single_key_shuffle(spark):
    """graph_diff: add/del/chg classification is exact, and the physical
    plan shuffles each side ONCE on the triple key — the full-outer join
    reuses the aggregation partitioning instead of adding a third
    exchange per side."""
    from obsidian_parser_spark.operators.diff import graph_diff

    old = spark.createDataFrame(
        [("a", "links_to", "b")] * 2
        + [("a", "links_to", "c"), ("x", "tagged", "t")],
        "subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("a", "links_to", "b"),  # 2 -> 1: chg
         ("a", "links_to", "c"),  # unchanged: absent from output
         ("q", "links_to", "c")],  # 0 -> 1: add
        "subj string, pred string, obj string",
    )
    d = graph_diff(old, new)
    got = {(r["subj"], r["obj"]): (r["n_old"], r["n_new"], r["op"])
           for r in d.collect()}
    assert got == {
        ("a", "b"): (2, 1, "chg"),
        ("x", "t"): (1, 0, "del"),
        ("q", "c"): (0, 1, "add"),
    }
    # static physical plan (pre-AQE): one hashpartitioning exchange per
    # input side, none added for the join — the aggregation partitioning
    # satisfies the join requirement.  (The AQE final plan may legally
    # re-shuffle after coalescing tiny stages, so it's not the gate.)
    plan = d._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    for marker in PY_MARKERS:
        assert marker not in plan, marker


def test_round4_operator_plans_are_jvm_only(spark):
    """The round-4 additions (structure extraction, fuzzy suggestion,
    containment, CMS, SSSP, biased walks) stay JVM-side and never fall
    back to a cartesian/nested-loop join."""
    from datetime import datetime

    from obsidian_parser_spark.operators.components import weighted_sssp
    from obsidian_parser_spark.operators.dedup import containment_pairs
    from obsidian_parser_spark.operators.events import heavy_hitters_cms
    from obsidian_parser_spark.operators.structure import (
        fuzzy_link_suggestions,
        inline_fields,
        outline,
        task_items,
    )
    from obsidian_parser_spark.operators.walks import biased_walks

    content = spark.createDataFrame(
        [("a", "# h\nk:: [[b]]\n- [ ] t\n[[b]]\n"), ("b", "x\n")],
        "doc_id string, content string",
    )
    d = spark.createDataFrame(
        [("b", "short", "b")], "alias string, kind string, canonical string"
    )
    dang = spark.createDataFrame(
        [("a", 1, "links_to", "bx")],
        "subj string, mention_ord int, pred string, raw_target string",
    )
    notes = spark.createDataFrame([("b",)], "note_name string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "subj string, obj string"
    )
    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 7, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    frames = [
        outline(content),
        task_items(content),
        inline_fields(content, d),
        fuzzy_link_suggestions(dang, notes),
        containment_pairs(docs),
        heavy_hitters_cms(ev, k=2),
        weighted_sssp(edges, "a", rounds=2),
        biased_walks(edges, n_steps=2),
    ]
    for df in frames:
        df.collect()  # force executed plan
        plan = _plan(df)
        for marker in PY_MARKERS:
            assert marker not in plan, marker
        assert "MapInPandas" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_cms_sketch_join_is_broadcast(spark):
    """The d·w-bounded CMS sketch must come back to the query keys as a
    broadcast join, never a shuffle."""
    from datetime import datetime

    from obsidian_parser_spark.operators.events import heavy_hitters_cms

    rows = [
        (i, datetime(2024, 1, 1), i % 3, "view", 1.0, "{}") for i in range(30)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df = heavy_hitters_cms(ev, k=3)
    df.collect()
    assert "BroadcastHashJoin" in _plan(df)


def test_late_round4_operator_plans_are_jvm_only(spark):
    """Tag co-occurrence, component stats, vocab-growth tokenization, and
    the hourly profile stay JVM-side with no cartesian fallback."""
    edges = spark.createDataFrame(
        [("a", "tagged", "t1"), ("a", "tagged", "t2"),
         ("b", "tagged", "t1"), ("b", "tagged", "t2"),
         ("a", "links_to", "b")],
        "subj string, pred string, obj string",
    )
    a = edges.filter(F.col("pred") == "tagged").select(
        "subj", F.col("obj").alias("tag")
    ).distinct()
    co = (
        a.join(a.withColumnRenamed("tag", "tag_b"), "subj")
        .filter(F.col("tag") < F.col("tag_b"))
        .groupBy("tag", "tag_b").count()
    )
    from datetime import datetime

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 5), 7, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    hour = (
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000") % 24
    ).cast("long")
    hp = ev.select(hour.alias("hour"), "event_type").groupBy(
        "hour", "event_type"
    ).count()
    for df in (co, hp):
        df.collect()
        plan = _plan(df)
        for marker in PY_MARKERS:
            assert marker not in plan, marker
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("HashAggregate") >= 2  # map-side partial


def test_bpe_corpus_pass_and_retrieval_stats_tokenize_once(spark, monkeypatch):
    """The tokenize expression appears once in BPE training's corpus pass
    and once in ``retrieval_stats``: exploding a staged token column lets
    the planner push ``size(_t) > 0`` beneath the tokenize Project, which
    then runs it a second time."""
    from obsidian_parser_spark import checkpointing
    from obsidian_parser_spark.operators.textstats import (
        bpe_merges,
        retrieval_stats,
    )

    def spark_plan(df):
        return df._jdf.queryExecution().sparkPlan().toString()

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, ""), (3, None)], "doc_id int, text string"
    )
    plans = []
    cut = checkpointing.cut_lineage

    def spy(df, *args, **kwargs):
        plans.append(spark_plan(df))
        return cut(df, *args, **kwargs)

    monkeypatch.setattr(checkpointing, "cut_lineage", spy)
    bpe_merges(docs, n_merges=1)
    corpus_pass = plans[0]  # the first cut is the word vocabulary
    retrieval = spark_plan(retrieval_stats(docs, ["a"]))
    assert [p.count("split(lower(") for p in (corpus_pass, retrieval)] == [1, 1]
