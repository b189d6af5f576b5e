"""End-to-end graph construction plan: documents → nodes + edges (+ metrics).

This is the engine's equivalent of the reference's
``VaultBuilder → get_digraph`` lifecycle (SURVEY.md §3 E2/E3), expressed as
one declarative DataFrame plan:

  documents ─ tokenize (1 Arrow stage) ─┬─ nodes
                                        ├─ alias dict ─ broadcast ─┐
                                        └─ mentions ───────────────┴─ edges
                                                                     dangling

Analyzer-style pre-filters (reference examples/analyzer.rs:38-49: drop
parse errors / empty notes / todo notes before graph build) are options.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.linking import (
    _dict_fits_broadcast,
    build_alias_dict,
    resolve_mentions,
)
from ..operators.tokenize import (
    mentions_from_notes,
    tag_triples,
    tokenize_documents,
    tokenize_raw_text,
)


@dataclass
class GraphBuildOptions:
    include_mdlinks: bool = True  # markdown-link extraction (extension)
    use_aliases: bool = True  # J5 frontmatter-alias fallback (extension)
    include_tag_triples: bool = True  # (subj, tagged, tag) rows in edges
    drop_parse_errors: bool = False  # analyzer.rs:38-44
    drop_empty: bool = False  # analyzer.rs:45
    drop_todo: bool = False  # analyzer.rs:46-49
    persist_notes: bool = True  # cache the tokenize stage (3 consumers)
    # None = auto: hint a broadcast of the alias dict when its byte
    # estimate fits the session's broadcast threshold (hash-map probe,
    # reference Index semantics).  True always hints; False adds no hint
    # and leaves the join strategy to the planner.
    broadcast_dict: bool | None = None
    # north_star canonicalization: rewrite every edge endpoint to its
    # identity-cluster canonical id (linking.identity_clusters — CC over
    # shared-stem ∪ identical-content ∪ alias→name evidence), collapsing
    # duplicate note identities in the emitted graph.  Off by default:
    # reference parity keeps one node per file.
    canonicalize_identities: bool = False


@dataclass
class GraphBuild:
    nodes: DataFrame  # one row per note
    edges: DataFrame  # (subj, pred, obj, mention_ord), per occurrence
    dangling: DataFrame  # unresolved mentions
    alias_dict: DataFrame


def reference_parity_options() -> GraphBuildOptions:
    """Options under which emitted (subj, pred∈{links_to,embeds}, obj)
    triples equal the reference's link multiset exactly (SURVEY §2.2 P4)."""
    return GraphBuildOptions(
        include_mdlinks=False, use_aliases=False, include_tag_triples=False
    )


def build_graph(
    documents: DataFrame,
    opts: GraphBuildOptions | None = None,
    raw_text: bool = False,
) -> GraphBuild:
    """documents(doc_id, spans) — or (doc_id, raw_text) with raw_text=True —
    → GraphBuild.  Lazy: nothing executes until an action on the outputs."""
    opts = opts or GraphBuildOptions()
    notes = (
        tokenize_raw_text(documents, include_mdlinks=opts.include_mdlinks)
        if raw_text
        else tokenize_documents(documents, include_mdlinks=opts.include_mdlinks)
    )

    if opts.drop_parse_errors:
        notes = notes.filter(F.col("parse_error").isNull())
    if opts.drop_empty:
        notes = notes.filter(~F.col("is_empty"))
    if opts.drop_todo:
        notes = notes.filter(~F.col("is_todo"))

    # The tokenize stage feeds three consumers (nodes, dict, mentions) —
    # persist it so the Python stage runs once, mirroring the reference's
    # OnceCell memoization (src/note/note_once_cell.rs).
    if opts.persist_notes:
        notes = notes.persist()

    alias_dict = build_alias_dict(notes, use_aliases=opts.use_aliases)
    bc = opts.broadcast_dict
    if bc is None:
        # auto: one byte-estimate job on the persisted dict, which also
        # fills its cache
        alias_dict = alias_dict.persist()
        bc = _dict_fits_broadcast(alias_dict, "build_graph")
    mentions = mentions_from_notes(notes)
    edges, dangling = resolve_mentions(
        mentions, alias_dict, use_aliases=opts.use_aliases, broadcast=bc
    )
    if opts.include_tag_triples:
        edges = edges.unionByName(tag_triples(notes))

    nodes = notes.drop("mentions")

    if opts.canonicalize_identities:
        from ..operators.linking import identity_clusters

        ids = identity_clusters(nodes).select("doc_id", "canonical_id")
        from ..checkpointing import cut_lineage

        ids = cut_lineage(ids)  # CC output reused on both endpoints
        subj_map = ids.select(
            F.col("doc_id").alias("subj"), F.col("canonical_id").alias("_cs")
        )
        obj_map = ids.select(
            F.col("doc_id").alias("obj"), F.col("canonical_id").alias("_co")
        )
        edges = (
            edges.join(subj_map, "subj", "left")
            .join(obj_map, "obj", "left")
            .select(
                F.coalesce("_cs", F.col("subj")).alias("subj"),
                "pred",
                # tag objects are tag strings, not note ids — they miss the
                # map and keep themselves via the coalesce
                F.coalesce("_co", F.col("obj")).alias("obj"),
                "mention_ord",
            )
        )
        nodes = nodes.join(ids, "doc_id").filter(
            F.col("doc_id") == F.col("canonical_id")
        ).drop("canonical_id")
        # dangling rows reference their SOURCE note — rewrite subj through
        # the same canonical map, else a dangling row can point at a
        # non-canonical node that no longer exists in the emitted graph
        dangling = (
            dangling.join(subj_map, "subj", "left")
            .withColumn("subj", F.coalesce("_cs", F.col("subj")))
            .drop("_cs")
        )

    return GraphBuild(nodes=nodes, edges=edges, dangling=dangling, alias_dict=alias_dict)
