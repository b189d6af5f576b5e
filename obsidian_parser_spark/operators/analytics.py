"""Graph analytics over nodes/edges (SURVEY.md §2.4 A1-A11).

All plain DataFrame aggregations; the link graph is the edge rows with
``pred != 'tagged'``.  Direction: subj → obj means "subj links to obj"
(reference doc: src/vault/vault_petgraph/mod.rs:73-75).

Skew note (north_rule): backlink counts over hub notes are a skewed
``groupBy(obj)``.  Spark's hash aggregate already does map-side partial
aggregation, which flattens pure-agg skew; where an explicit two-phase
salted aggregation is still needed (operators whose agg disables partial
combine, e.g. collect_list), the manifest metric in plans/materialize.py
shows the pattern with a DETERMINISTIC salt — never salt on
``monotonically_increasing_id``, whose value can change on stage retry and
double-count/drop rows mid-shuffle (the SPARK-23207 class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .overlap import capped_overlap

LINK_PREDS = ("links_to", "embeds")


def link_edges(edges: DataFrame) -> DataFrame:
    return edges.filter(F.col("pred").isin(*LINK_PREDS))


def count_notes(nodes: DataFrame) -> DataFrame:
    """A1 (src/vault/mod.rs:71-76)."""
    return nodes.agg(F.count("*").alias("n_notes"))


def backlink_counts(edges: DataFrame) -> DataFrame:
    """A9: in-degree per note (backlinks)."""
    return (
        link_edges(edges)
        .groupBy(F.col("obj").alias("id"))
        .agg(F.count("*").alias("backlinks"))
    )


def out_degree(edges: DataFrame) -> DataFrame:
    return (
        link_edges(edges)
        .groupBy(F.col("subj").alias("id"))
        .agg(F.count("*").alias("out_degree"))
    )


def undirected_degree(edges: DataFrame) -> DataFrame:
    """Degree over both endpoints, parallel edges counted per occurrence,
    self-loops counted ONCE — matches petgraph ``ungraph.edges(n).count()``
    used by the hub query (examples/analyzer.rs:90-95): an undirected edge
    iterator yields a self-loop a single time."""
    le = link_edges(edges)
    endpoints = le.select(
        F.explode(
            F.when(
                F.col("subj") == F.col("obj"), F.array(F.col("subj"))
            ).otherwise(F.array(F.col("subj"), F.col("obj")))
        ).alias("id")
    )
    return endpoints.groupBy("id").agg(F.count("*").alias("degree"))


def knowledge_hub(edges: DataFrame) -> DataFrame:
    """A8: max-undirected-degree note; deterministic tie-break by id."""
    return undirected_degree(edges).orderBy(F.desc("degree"), F.asc("id")).limit(1)


def orphans(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A10: notes with no link edges at all (degree 0)."""
    le = link_edges(edges)
    # explode both endpoints in one pass instead of a 2-branch self-union
    # (one scan of the edge frame, not two; identical id multiset)
    endpoints = le.select(
        F.explode(F.array(F.col("subj"), F.col("obj"))).alias("id")
    ).distinct()
    return nodes.join(endpoints, nodes["doc_id"] == endpoints["id"], "left_anti").select(
        "doc_id", "note_name"
    )


def duplicates_by_name(nodes: DataFrame) -> DataFrame:
    """A2 (src/vault/vault_duplicates.rs:21-41): every occurrence AFTER the
    first (first kept).  Reference order is walkdir order; our deterministic
    order is (n_segments, doc_id) — same rule as the linking index."""
    w = Window.partitionBy("note_name").orderBy(
        F.col("n_segments").asc(), F.col("doc_id").asc()
    )
    return (
        nodes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id", "note_name")
    )


def have_duplicates_by_name(nodes: DataFrame) -> bool:
    """A3 (vault_duplicates.rs:54-56): true iff any duplicate short name
    exists.  (The reference README's usage comment inverts this — the CODE
    returns true on duplicates; we follow the code, SURVEY §2.4 A3.)"""
    return duplicates_by_name(nodes).limit(1).count() > 0


def duplicates_by_content(nodes: DataFrame) -> DataFrame:
    """A4 (vault_duplicates.rs:62-95): duplicate SHA-256 of content bytes."""
    w = Window.partitionBy("content_sha").orderBy(
        F.col("n_segments").asc(), F.col("doc_id").asc()
    )
    return (
        nodes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id", "note_name", "content_sha")
    )


def total_word_count(nodes: DataFrame) -> DataFrame:
    """A5 (examples/analyzer.rs:65-75)."""
    return nodes.agg(F.sum("word_count").alias("total_words"))


def degree_distribution(edges: DataFrame) -> DataFrame:
    return (
        undirected_degree(edges)
        .groupBy("degree")
        .agg(F.count("*").alias("n_notes"))
    )


def graph_summary(nodes: DataFrame, edges: DataFrame, dangling: DataFrame) -> DataFrame:
    """A1/A3/A6 one-row run summary (analyzer-style)."""
    le = link_edges(edges)
    n = nodes.agg(
        F.count("*").alias("n_notes"),
        F.sum("word_count").alias("total_words"),
        F.sum(F.col("parse_error").isNotNull().cast("long")).alias("n_parse_errors"),
        F.sum(F.col("is_todo").cast("long")).alias("n_todo"),
    )
    e = le.agg(F.count("*").alias("n_link_edges"))
    t = edges.filter(F.col("pred") == "tagged").agg(F.count("*").alias("n_tag_triples"))
    d = dangling.agg(F.count("*").alias("n_dangling"))
    return n.crossJoin(e).crossJoin(t).crossJoin(d)


def related_notes(
    edges: DataFrame, min_shared: int = 2, max_target_df: int = 100
) -> DataFrame:
    """Bibliographic coupling: note pairs (a, b, shared) linking to at
    least ``min_shared`` common DISTINCT targets, a < b — the standard
    "related notes" query over the link graph.

    Scale shape: the same inverted-index candidate generator as the dedup
    family — self-join on the shared target, with targets whose in-link
    note count exceeds ``max_target_df`` dropped first (a hub linked by
    everything is non-discriminative and would make the join quadratic;
    identical reasoning to the stop-shingle cap in dedup.ngram_jaccard).
    Map-side partial aggs throughout; no driver-side state."""
    le = link_edges(edges).select("subj", "obj").distinct()
    return capped_overlap(
        le, le, max_target_df, pred="<", min_count=min_shared
    ).toDF("a", "b", "shared")


def cocitation_pairs(
    edges: DataFrame, min_shared: int = 2, max_source_df: int = 100
) -> DataFrame:
    """Co-citation (Small 1973): note pairs (a, b, shared) CITED BY at
    least ``min_shared`` common distinct sources, a < b — the dual of
    ``related_notes``' bibliographic coupling (coupling relates the
    CITING notes, co-citation the CITED ones; together they are the
    classic similarity pair over a citation graph).

    Scale shape: mirror of ``related_notes`` with the roles swapped —
    inverted index keyed on the SOURCE, with sources whose distinct
    out-link count exceeds ``max_source_df`` dropped first (a note that
    links to everything vouches for nothing, and would make the
    self-join quadratic).  Map-side partial aggs; no driver state."""
    le = link_edges(edges).select("obj", "subj").distinct()
    return capped_overlap(
        le, le, max_source_df, pred="<", min_count=min_shared
    ).toDF("a", "b", "shared")


def bucket_edge_cut(
    edges: DataFrame, n_buckets: int = 8, salt: str = "layout"
) -> DataFrame:
    """Data-layout audit for the bucketed materialization: the full
    bucket-pair edge matrix (bucket_u, bucket_v, n_edges) of the
    distinct link graph under a ``doc_id``-hash bucket layout — the
    diagonal is the co-bucketed (shuffle-free-joinable) mass, the
    off-diagonal is the edge CUT a bucket-pruned subgraph read pays.
    The bucket here is the engine's portable md5 family
    (``sampling.hash_bucket``) so the audit is SQL-oracle-checkable;
    Iceberg's ``bucket(N, doc_id)`` transform uses its own murmur3, but
    the distributional conclusion (hash layouts cut ~(1-1/N) of edges —
    graph locality needs a partitioner, not a hash) is identical.

    Scale shape: two pure-expression bucket columns + one map-side
    combined groupBy over a ≤ N² key domain."""
    from .sampling import hash_bucket

    le = link_edges(edges).select("subj", "obj").distinct()
    return (
        le.select(
            hash_bucket("subj", n_buckets, salt).alias("bucket_u"),
            hash_bucket("obj", n_buckets, salt).alias("bucket_v"),
        )
        .groupBy("bucket_u", "bucket_v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
