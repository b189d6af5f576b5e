"""Markdown STRUCTURE extraction — headings, task items, Dataview-style
inline fields — over the reconstructed note content.

The reference parses frontmatter properties and link/tag mentions
(src/note/parser.rs) and stops there; real Obsidian vaults also carry
document structure the KG wants as first-class rows: the heading outline
(section granularity for anchored links), GFM task checkboxes (`- [ ] x`,
the item-level form of the reference's whole-note ``is_todo``,
src/note/mod.rs), and Dataview-style ``key:: value`` inline fields — the
community's de-facto typed-property syntax, and the richest KG signal of
the three because a field whose value is a ``[[wikilink]]`` is a TYPED
EDGE (pred = the field name) resolved through the same two-level alias
dictionary as every other mention.

All three extractors are pure JVM expressions (split + regexp over the
content column — no Python, no UDF): per document the work is linear in
its line count, line order comes from one posexplode index, and
inline_fields resolves its links through the graph build's own
dictionary probe, ``linking.resolve_mentions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .overlap import capped_overlap

# GFM forms (widened per round-4 advice): headings and list bullets allow
# up to 3 leading SPACES (4+ = code block; tabs excluded by the spec),
# bullets are -/*/+, and the checked mark is case-insensitive x.  The
# indent/bullet are non-capturing so group numbers stay (1=mark/hashes,
# 2=title) — the DuckDB oracles use the IDENTICAL patterns.
_HEADING_RE = r"^ {0,3}(#{1,6}) (.+)$"
_TASK_RE = r"^ {0,3}[-*+] \[( |x|X)\] (.+)$"
_FIELD_RE = r"^([a-z][a-z0-9_]*):: (.*)$"
# the parser.rs strip order for link-target suffixes: '#' → '^' → '|'
_LINK_VALUE_RE = r"^\[\[(.*)\]\]$"


def _lines(content_df: DataFrame) -> DataFrame:
    """(doc_id, content) → (doc_id, pos, line); pos is the 0-based line
    index within the document.  Split on '\\n' with any trailing '\\r'
    STRIPPED, so CRLF vaults extract the same values as LF vaults (Java
    and RE2 disagree on whether ``$``/``.`` see a trailing CR — stripping
    it keeps the engine and the SQL oracle byte-identical on both line
    conventions)."""
    line = F.regexp_replace(F.col("line"), "\r+$", "")
    return content_df.select(
        "doc_id", F.posexplode(F.split(F.col("content"), "\n")).alias("pos", "line")
    ).select("doc_id", "pos", line.alias("line"))


def outline(content_df: DataFrame) -> DataFrame:
    """→ (doc_id, heading_ord, level, title): the ATX heading outline in
    document order (heading_ord is 1-based per doc).  Inline tags are
    not headings (``#tag`` has no space) and escaped/deeper-than-6
    hashes don't match — the GFM rule."""
    h = _lines(content_df).filter(F.col("line").rlike(_HEADING_RE))
    w = Window.partitionBy("doc_id").orderBy("pos")
    return h.select(
        "doc_id",
        F.row_number().over(w).cast("long").alias("heading_ord"),
        F.length(F.regexp_extract("line", _HEADING_RE, 1)).cast("int").alias("level"),
        F.regexp_extract("line", _HEADING_RE, 2).alias("title"),
    )


def task_items(content_df: DataFrame) -> DataFrame:
    """→ (doc_id, task_ord, checked, title): GFM task-list checkboxes in
    document order — the item-level refinement of the reference's
    whole-note todo flag (is_todo, src/note/mod.rs)."""
    t = _lines(content_df).filter(F.col("line").rlike(_TASK_RE))
    w = Window.partitionBy("doc_id").orderBy("pos")
    return t.select(
        "doc_id",
        F.row_number().over(w).cast("long").alias("task_ord"),
        (F.lower(F.regexp_extract("line", _TASK_RE, 1)) == "x").alias("checked"),
        F.regexp_extract("line", _TASK_RE, 2).alias("title"),
    )


def inline_fields(
    content_df: DataFrame, alias_dict: DataFrame | None = None
) -> DataFrame:
    """→ (doc_id, field_ord, field, value, obj): Dataview-style
    ``key:: value`` inline fields in document order.  When ``value`` is a
    ``[[wikilink]]`` and ``alias_dict`` is given, ``obj`` is the link
    target resolved through the SAME two-level ('/'-routed full/short,
    then frontmatter-alias fallback) first-wins dictionary as the graph
    build — the row is then a typed triple (subj=doc_id, pred=field,
    obj); otherwise ``obj`` is NULL and the row is a typed literal
    property.

    Scale shape: extraction is JVM regexp over lines; resolution is one
    ``linking.resolve_mentions`` call, the same dictionary probe as the
    main edge build — no second resolution codepath to drift."""
    fl = _lines(content_df).filter(F.col("line").rlike(_FIELD_RE))
    w = Window.partitionBy("doc_id").orderBy("pos")
    fields = fl.select(
        "doc_id",
        F.row_number().over(w).cast("long").alias("field_ord"),
        F.regexp_extract("line", _FIELD_RE, 1).alias("field"),
        F.regexp_extract("line", _FIELD_RE, 2).alias("value"),
    )
    inner = F.regexp_extract("value", _LINK_VALUE_RE, 1)
    target = F.trim(
        F.split(F.split(F.split(inner, "#").getItem(0), r"\^").getItem(0), r"\|").getItem(0)
    )
    fields = fields.withColumn(
        "_tgt", F.when(F.col("value").rlike(_LINK_VALUE_RE), target)
    )
    if alias_dict is None:
        return fields.select(
            "doc_id", "field_ord", "field", "value",
            F.lit(None).cast("string").alias("obj"),
        )
    from .linking import resolve_mentions

    mentions = fields.filter(F.col("_tgt").isNotNull()).select(
        F.col("doc_id").alias("subj"),
        F.col("field_ord").alias("mention_ord"),
        F.col("field").alias("pred"),
        F.col("_tgt").alias("raw_target"),
    )
    resolved, _ = resolve_mentions(mentions, alias_dict)
    r = resolved.select(
        F.col("subj").alias("doc_id"),
        F.col("mention_ord").alias("field_ord"),
        F.col("obj").alias("obj"),
    )
    return fields.join(r, ["doc_id", "field_ord"], "left").select(
        "doc_id", "field_ord", "field", "value", "obj"
    )


def fuzzy_link_suggestions(
    dangling: DataFrame,
    notes: DataFrame,
    max_lev: int = 2,
    min_shared: int = 2,
    max_gram_df: int = 1000,
) -> DataFrame:
    """→ (raw_target, candidate, lev, n_shared): for every distinct
    DANGLING link target, the note stems within ``max_lev`` edit
    distance — "did you mean [[note_123]]?" for the ``[[note_123x]]``
    typo.  The entity-linking recovery pass the reference's silent-drop
    rule (graph_builder.rs:160-161) leaves on the table.

    Scale shape: candidate pairs come from a character-3-gram inverted
    index (pairs must share ≥ ``min_shared`` distinct grams), with
    boilerplate grams df-capped at ``max_gram_df`` exactly like the
    dedup shingle caps — so the quadratic levenshtein is confined to
    blocked candidates, never targets × stems.  Both the blocking rule
    and the unit-cost edit distance (``F.levenshtein`` ≡ DuckDB
    ``levenshtein``) are engine-portable, so the whole operator is
    SQL-oracle-checkable."""
    # strings shorter than one gram produce no grams and cannot be
    # blocked — filter them EXPLICITLY on both sides (Spark's
    # sequence(1, 0) counts DOWN and would fabricate grams; DuckDB's
    # generate_series(1, 0) is empty — the filter keeps both engines on
    # the same rule instead of leaning on either quirk)
    grams = F.array_distinct(
        F.expr("transform(sequence(1, length(s) - 2),"
               " i -> substring(s, i, 3))")
    )
    t = (
        dangling.select(F.col("raw_target").alias("s")).distinct()
        .filter(F.length("s") >= 3)
        .select("s", F.explode(grams).alias("g"))
    )
    cand = (
        notes.select(F.col("note_name").alias("s")).distinct()
        .filter(F.length("s") >= 3)
        .select(F.col("s").alias("c"), F.explode(grams).alias("g"))
    )
    pairs = capped_overlap(
        t, cand, max_gram_df, pred="!=", min_count=min_shared
    ).toDF("raw_target", "candidate", "n_shared")
    return pairs.withColumn(
        "lev", F.levenshtein("raw_target", "candidate").cast("long")
    ).filter(F.col("lev") <= max_lev).select(
        "raw_target", "candidate", "lev", "n_shared"
    )


def section_mention_counts(content_df: DataFrame) -> DataFrame:
    """→ (doc_id, section, n_mentions): how many ``[[..]]`` mentions
    (links + embeds) each heading SECTION of a note contains — the
    join between the heading outline and the link layer: section-level
    link density locates where a note actually connects to the graph
    (lines before any heading aggregate under '(preamble)').

    Scale shape: one posexplode + one running ``last(heading)`` window
    per document (partitioned on doc_id — never a global window) + a
    map-side-combined count; the mention count per line is pure string
    arithmetic ((len − len(replace))/2), no regex backtracking, no
    Python."""
    lines = _lines(content_df)
    heading = F.when(
        F.col("line").rlike(_HEADING_RE), F.regexp_extract("line", _HEADING_RE, 2)
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sec = lines.select(
        "doc_id",
        F.coalesce(F.last(heading, ignorenulls=True).over(w), F.lit("(preamble)"))
        .alias("section"),
        (
            (F.length("line") - F.length(F.replace(F.col("line"), F.lit("[["), F.lit(""))))
            / 2
        ).cast("long").alias("n"),
    )
    return (
        sec.groupBy("doc_id", "section")
        .agg(F.sum("n").cast("long").alias("n_mentions"))
        .filter(F.col("n_mentions") > 0)
    )


def anchor_validation(qualified: DataFrame, outline_df: DataFrame) -> DataFrame:
    """→ (subj, obj, qualifier, anchor_exists): every DISTINCT
    heading-anchored link ([[note#heading]]) checked against the target
    note's REAL heading outline — Obsidian's broken-anchor detection as
    a KG-quality query.  ``qualified`` is
    ``linking.qualified_link_edges`` output, ``outline_df`` is
    ``outline`` output; an anchor exists iff the target note has a
    heading whose title equals the qualifier exactly.

    Scale shape: two distinct projections and ONE left equi-join on
    (obj, qualifier) — both sides key-partitioned; no broadcast
    assumption (at catalog scale the outline table is as big as the
    note table)."""
    q = (
        qualified.filter(F.col("qual_kind") == "heading")
        .select("subj", "obj", "qualifier")
        .distinct()
    )
    h = (
        outline_df.select(
            F.col("doc_id").alias("obj"), F.col("title").alias("qualifier")
        )
        .distinct()
        .withColumn("_ok", F.lit(True))
    )
    return q.join(h, ["obj", "qualifier"], "left").select(
        "subj",
        "obj",
        "qualifier",
        F.coalesce("_ok", F.lit(False)).alias("anchor_exists"),
    )
