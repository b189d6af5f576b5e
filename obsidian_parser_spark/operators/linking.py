"""Entity linking: alias dictionary build + broadcast mention resolution.

Reference semantics (SURVEY.md §2.3):

* J1 — Index build (src/vault/vault_petgraph/index.rs:11-15,
  graph_builder.rs:88-114): two maps, ``full`` (vault-relative path, unique)
  and ``short`` (file stem, FIRST-SEEN wins on duplicates).  The reference's
  "first seen" is walkdir order — platform-dependent — so we fix the
  deterministic rule *fewest path segments, then lexicographic doc_id*
  (SURVEY.md §2.6.10; the reference's own tests only assert counts here).
* J2 — Resolution (index.rs:21-27): a target containing '/' consults ONLY
  the full map, anything else ONLY the short map; misses are silently
  dropped (graph_builder.rs:160-165) — we keep them in a ``dangling`` frame
  for metrics instead of discarding.
* J5 — Frontmatter-alias fallback (north_star extension; the reference
  extracts aliases but never consults them): targets failing J2 are retried
  against ``kind='alias'`` entries.  Disable with ``use_aliases=False`` for
  strict reference parity.

Scale shape: the dictionary is ~3 small rows per note (id, stem, aliases) —
broadcast it; the mentions side never shuffles.  Dictionary dedup is one
shuffle on (alias, kind), partial-aggregated map-side.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KIND_FULL = "full"
KIND_SHORT = "short"
KIND_ALIAS = "alias"


def alias_candidates(notes: DataFrame, use_aliases: bool = True) -> DataFrame:
    """notes → UNDEDUPED (alias, kind, canonical, n_segments) candidate
    rows — the pre-window half of ``build_alias_dict``, exposed so the
    streaming dict maintenance can append candidates per epoch and apply
    the (order-independent) first-wins rule over the union at read time."""
    full = notes.select(
        F.col("doc_id").alias("alias"),
        F.lit(KIND_FULL).alias("kind"),
        F.col("doc_id").alias("canonical"),
        F.col("n_segments"),
    )
    short = notes.select(
        F.col("note_name").alias("alias"),
        F.lit(KIND_SHORT).alias("kind"),
        F.col("doc_id").alias("canonical"),
        F.col("n_segments"),
    )
    parts = [full, short]
    if use_aliases:
        parts.append(
            notes.select(
                F.explode("aliases").alias("alias"),
                F.lit(KIND_ALIAS).alias("kind"),
                F.col("doc_id").alias("canonical"),
                F.col("n_segments"),
            )
        )
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)
    return cand


def dedup_alias_dict(cand: DataFrame) -> DataFrame:
    """Candidates → (alias, kind, canonical): deterministic first-wins —
    fewest path segments, then lexicographic doc_id.  The rule is a pure
    function of the candidate SET (no arrival order), so it gives the same
    dictionary whether built in one pass or accumulated across stream
    epochs; duplicate candidate rows (an epoch replay) are harmless."""
    w = Window.partitionBy("alias", "kind").orderBy(
        F.col("n_segments").asc(), F.col("canonical").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("alias", "kind", "canonical")
    )


def build_alias_dict(notes: DataFrame, use_aliases: bool = True) -> DataFrame:
    """notes → (alias, kind, canonical) with deterministic first-wins dedup."""
    return dedup_alias_dict(alias_candidates(notes, use_aliases=use_aliases))


def resolve_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    use_aliases: bool = True,
    broadcast: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(…, raw_target, …) mentions × dict → (edges, dangling), the one
    dictionary probe behind every resolver.

    edges:    every mention column except ``raw_target``, then ``obj`` —
              one row per resolved occurrence
    dangling: the unresolved mentions with all their columns (the
              reference drops these silently, graph_builder.rs:160-161;
              we count them)

    The J2 route is applied on the DICTIONARY side, and that is exact: a
    mention with target ``t`` can only match a row whose ``alias = t``,
    so ``route(t) = route(alias)``; keeping only the rows whose ``kind``
    equals their own alias's route ('/' → full, else short) is the same
    rule as routing the mention.  Level 1 is then one left join on the
    target string, and the J5 alias fallback a second one on the same
    key, with ``coalesce`` keeping the level-1 winner.  Both dictionary
    sides are unique-keyed (first-wins dedup), so no mention row is
    duplicated, and when the planner shuffles, both joins share one key
    and the mention side is exchanged once.

    ``broadcast`` only adds the ``F.broadcast`` hint to both dictionary
    sides; without it the planner chooses (it still broadcasts below
    ``spark.sql.autoBroadcastJoinThreshold``).
    """
    route = F.when(F.col("alias").contains("/"), F.lit(KIND_FULL)).otherwise(
        F.lit(KIND_SHORT)
    )
    sides = [alias_dict.filter(F.col("kind") == route)]
    if use_aliases:
        sides.append(alias_dict.filter(F.col("kind") == KIND_ALIAS))
    cols = mentions.columns
    joined, hits = mentions, []
    for i, side in enumerate(sides):
        d = side.select(
            F.col("alias").alias("raw_target"), F.col("canonical").alias(f"_c{i}")
        )
        joined = joined.join(F.broadcast(d) if broadcast else d, "raw_target", "left")
        hits.append(F.col(f"_c{i}"))
    joined = joined.select(*cols, F.coalesce(*hits).alias("_obj"))
    edges = joined.filter(F.col("_obj").isNotNull()).select(
        *[c for c in cols if c != "raw_target"], F.col("_obj").alias("obj")
    )
    dangling = joined.filter(F.col("_obj").isNull()).select(*cols)
    return edges, dangling


def identity_clusters(notes: DataFrame) -> DataFrame:
    """Collapse duplicate note IDENTITIES (north_star: "canonicalizes ...
    via a connected-components/union-find pass over the alias graph"):
    two notes denote the same entity when they share a note name, share
    identical content, or one's frontmatter alias names the other.  The
    identity graph is run through the distributed CC fixpoint and every
    note gets a ``canonical_id`` (the lexicographic-minimum member).

    → (doc_id, canonical_id, is_canonical).

    Scale shape: each evidence family emits STAR edges (every group member
    → the group's min id via one partial-aggregated groupBy), never
    all-pairs — a name shared by 10^6 notes contributes 10^6 edges, not
    10^12; the alias family is a broadcast-sized equi-join on the stem.
    The CC pass is operators/components.py (long-surrogate rounds,
    localCheckpoint lineage)."""
    from .components import connected_components

    base = notes.select("doc_id", "note_name", "content_sha", "aliases")

    def star(frame: DataFrame, key: str) -> DataFrame:
        roots = frame.groupBy(key).agg(F.min("doc_id").alias("_root"))
        return (
            frame.join(roots, key)
            .filter(F.col("doc_id") != F.col("_root"))
            .select(F.col("_root").alias("subj"), F.col("doc_id").alias("obj"))
        )

    name_edges = star(base.select("doc_id", "note_name"), "note_name")
    content_edges = star(base.select("doc_id", "content_sha"), "content_sha")
    alias_edges = (
        base.select("doc_id", F.explode("aliases").alias("_a"))
        .join(
            base.select(F.col("note_name").alias("_a"), F.col("doc_id").alias("obj")),
            "_a",
        )
        .filter(F.col("doc_id") != F.col("obj"))
        .select(F.col("doc_id").alias("subj"), "obj")
    )
    edges = name_edges.unionByName(content_edges).unionByName(alias_edges)
    cc = connected_components(notes.select("doc_id"), edges)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def qualified_link_edges(spans: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """→ (subj, pred, obj, qual_kind, qualifier) — resolved link/embed
    triples that carry a sub-note anchor, the heading (``[[note#head]]``)
    or block (``[[note^blk]]``) qualifier the plain edge extraction strips
    (reference parser.rs strips ``#`` → ``^`` → ``|`` in that order; here
    the stripped anchor becomes a TYPED edge attribute, turning the link
    multigraph into a KG with sub-note granularity).

    qual_kind ∈ {'heading', 'block'}: heading wins when both markers are
    present (``#`` is stripped first, so anything after a ``#`` belongs to
    the heading — including a later ``^``, mirroring the strip order); the
    display alias (``|…``) never reaches the qualifier.  Links without an
    anchor produce no row.

    Scale shape: one JVM-side regexp/split projection over the spans frame
    (no Python), then one ``resolve_mentions`` call — the same two-level
    dictionary probe as the edge build.  Unresolved anchors are dropped
    (silent-drop parity, graph_builder.rs:160-161).

    ``spans``: (doc_id, spans array<struct<kind,text,media_ref,offset>>)."""
    inner = F.regexp_extract(F.col("s.text"), r"\[\[(.*)\]\]", 1)
    flat = (
        spans.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind").isin("wikilink", "embed"))
        .select(
            F.col("doc_id").alias("subj"),
            F.when(F.col("s.kind") == "embed", F.lit("embeds"))
            .otherwise(F.lit("links_to"))
            .alias("pred"),
            inner.alias("inner"),
        )
        .filter(F.col("inner").contains("#") | F.col("inner").contains("^"))
    )
    q = flat.select(
        "subj",
        "pred",
        F.trim(
            F.expr(
                "split_part(split_part(split_part(inner, '#', 1), '^', 1),"
                " '|', 1)"
            )
        ).alias("raw_target"),
        F.when(F.col("inner").contains("#"), F.lit("heading"))
        .otherwise(F.lit("block"))
        .alias("qual_kind"),
        F.trim(
            F.when(
                F.col("inner").contains("#"),
                F.expr(
                    "split_part(split_part({a}, '^', 1), '|', 1)".format(
                        a="substring(inner, instr(inner, '#') + 1)"
                    )
                ),
            ).otherwise(
                F.expr(
                    "split_part({a}, '|', 1)".format(
                        a="substring(inner, instr(inner, '^') + 1)"
                    )
                )
            )
        ).alias("qualifier"),
    )
    edges, _ = resolve_mentions(q, alias_dict)
    return edges.select("subj", "pred", "obj", "qual_kind", "qualifier")


# Driver-side byte budget for a broadcast dictionary: the session's
# autoBroadcastJoinThreshold (~1M typical names); module-level so tests can
# pin the decision on both sides of it.
_BROADCAST_BYTE_BUDGET = 64 * 1024 * 1024


def _dict_fits_broadcast(d: DataFrame, what: str) -> bool:
    """True when the string dictionary ``d`` fits the broadcast budget.

    One agg: the estimated payload is the summed length of every column —
    a byte estimate, not a row count, because a row count lies about
    payload size.  Logs the estimate and the choice."""
    est = d.agg(
        F.coalesce(F.sum(sum(F.length(c) for c in d.columns)), F.lit(0))
    ).collect()[0][0]
    fits = est <= _BROADCAST_BYTE_BUDGET
    logging.getLogger(__name__).info(
        "%s: dictionary ~%d bytes (budget %d) -> %s",
        what, est, _BROADCAST_BYTE_BUDGET, "broadcast" if fits else "shuffle",
    )
    return fits


def unlinked_mentions(
    documents: DataFrame,
    alias_dict: DataFrame,
    link_edges: DataFrame,
    max_df: int = 10_000,
    broadcast_dict: bool | None = None,
) -> DataFrame:
    """Unlinked-mention detection — Obsidian's "suggest links" as a KG-
    construction primitive: note NAMES appearing as plain-text word tokens
    in OTHER notes, with no resolved link edge backing the pair, become
    candidate (subj, obj, n_mentions) edges.

    Rule (deterministic, oracle-replayable): tokens are the non-empty
    pieces of text-kind spans split on ``[^A-Za-z0-9_]+``; candidate names
    are the ``kind='short'`` dictionary aliases that are themselves single
    tokens under the same alphabet; matching is exact-case, the same
    convention as the wikilink dictionary join (reference resolution is
    exact-match — index.rs:21-27 — so suggestions follow suit);
    self-mentions and pairs already linked (ANY predicate) are dropped.

    Scale shape: the corpus-length token stream must NEVER reach a JVM
    explode or shuffle — at sf0.1 it is ~9×10^7 rows, and both the
    (doc, token) groupBy + sort-merge plan AND a broadcast-join-after-
    explode plan cost minutes (measured 215 s / 200 s; the Java regex
    split + generator explode is itself the bottleneck).  When the name
    table fits (``broadcast_dict=None`` auto-decides with one byte-sum
    agg against a 64 MB driver budget — a row count lies about payload
    size), the stage follows the tokenize-stage
    design instead: text-kind spans are joined into ONE string per doc
    natively, a single Arrow ``mapInPandas`` pass tokenizes with a
    vectorized RE2 split + hash-set membership (pyarrow compute) and
    keeps only broadcast-name-map hits, so only (subj, obj, n) hit rows
    ever materialize (the name→doc
    map is injective — one short name per note — so a doc emits each obj
    at most once and no re-aggregation is needed).  For vault-scale
    dictionaries that cannot broadcast, the JVM fallback collapses the
    stream to (doc, token, n) map-side and shuffle-joins on token —
    bounded by distinct tokens per doc, not corpus length.  Names
    mentioned in more than ``max_df`` docs are excluded (a stopword-
    shaped name — "data", "test" — vouches for nothing; same df-cap
    scheme as ``dedup.ngram_jaccard_pairs``); the final check is a
    left-anti join against the distinct resolved edge list, never a
    per-row lookup.
    """
    names = (
        alias_dict.filter(F.col("kind") == KIND_SHORT)
        .filter(F.col("alias").rlike("^[A-Za-z0-9_]+$"))
        .select(F.col("alias").alias("token"), F.col("canonical").alias("obj"))
    )
    if broadcast_dict is None:
        # a byte budget, not a row count: at the old 5M-row threshold the
        # collected Python strings were ~0.5-1 GB on the driver
        # (re-pickled per executor), the exact OOM the JVM fallback
        # exists to avoid
        broadcast_dict = _dict_fits_broadcast(names, "unlinked_mentions")
    if broadcast_dict:
        # Bounded-by-construction collect: the same rows a JVM broadcast
        # would materialize driver-side, shipped once per executor.
        # toPandas rides the Arrow collect path (session default
        # spark.sql.execution.arrow.pyspark.enabled) — columnar batches
        # instead of pickled Rows (measured: 2.6 s → ~0.4 s at 100k names).
        _npdf = names.toPandas()
        name_map = dict(zip(_npdf["token"], _npdf["obj"]))
        bc = documents.sparkSession.sparkContext.broadcast(name_map)
        text = documents.select(
            "doc_id",
            F.expr(
                "array_join(transform(filter(spans, s -> s.kind = 'text'),"
                " s -> coalesce(s.text, '')), ' ')"
            ).alias("text"),
        )

        def run(batches):
            import numpy as np
            import pandas as pd
            import pyarrow as pa
            import pyarrow.compute as pc

            nm = bc.value
            # Token = maximal [A-Za-z0-9_]+ run.  Splitting on the
            # complement yields the identical non-empty-token multiset
            # (spans are joined with a non-token ' ', so tokens never
            # cross span boundaries); the empty strings a leading/trailing
            # separator produces are never dictionary names (names match
            # ^[A-Za-z0-9_]+$) so the membership filter drops them.  The
            # whole pass is vectorized native code — RE2 split + hash-set
            # membership + a pandas group-count over only the HITS — where
            # the previous form looped a Python Counter over every token
            # of the corpus (measured at sf0.1 / local[32]: stage 8.1 s →
            # ~2.5 s, identical rows).
            name_set = pa.array(list(nm.keys()), type=pa.string())
            for pdf in batches:
                if not len(pdf):
                    continue
                toks = pc.split_pattern_regex(
                    pa.Array.from_pandas(pdf["text"], type=pa.string()),
                    pattern="[^A-Za-z0-9_]+",
                )
                lens = pc.list_value_length(toks).to_numpy(
                    zero_copy_only=False
                )
                docidx = np.repeat(np.arange(len(pdf)), lens)
                flat = pc.list_flatten(toks)
                hit = pc.is_in(flat, value_set=name_set).to_numpy(
                    zero_copy_only=False
                )
                if not hit.any():
                    yield pd.DataFrame(
                        {"subj": [], "obj": [], "n_mentions": []}
                    ).astype({"n_mentions": "int64"})
                    continue
                hits = pd.DataFrame(
                    {
                        "_d": docidx[hit],
                        "_t": pc.filter(flat, pa.array(hit)).to_pandas(),
                    }
                )
                grp = (
                    hits.groupby(["_d", "_t"], sort=False)
                    .size()
                    .reset_index(name="n")
                )
                doc_ids = pdf["doc_id"].to_numpy()
                subj = doc_ids[grp["_d"].to_numpy()]
                obj = grp["_t"].map(nm).to_numpy()
                keep = obj != subj
                yield pd.DataFrame(
                    {
                        "subj": subj[keep],
                        "obj": obj[keep],
                        "n_mentions": grp["n"].to_numpy()[keep],
                    }
                ).astype({"n_mentions": "int64"})

        m = text.mapInPandas(
            run, schema="subj string, obj string, n_mentions long"
        )
    else:
        toks = (
            documents.select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "text")
            .select(
                "doc_id",
                F.explode(
                    F.split(F.col("s.text"), "[^A-Za-z0-9_]+")
                ).alias("token"),
            )
            .filter(F.col("token") != "")
        )
        tc = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("n"))
        m = (
            tc.join(names, "token")
            .filter(F.col("doc_id") != F.col("obj"))
            .select(F.col("doc_id").alias("subj"), "obj", "n")
            .groupBy("subj", "obj")
            .agg(F.sum("n").alias("n_mentions"))
        )
    # df-cap as a window count over the hit frame itself: m holds at most
    # one row per (subj, obj), so counting rows per obj IS the name's
    # document frequency.  m then has a single consumer, so the costly
    # token scan runs once per action without any persist.
    m = (
        m.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("obj")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    linked = link_edges.select("subj", "obj").distinct()
    return m.join(linked, ["subj", "obj"], "left_anti").select(
        "subj", "obj", "n_mentions"
    )


def alias_conflicts(cand: DataFrame) -> DataFrame:
    """First-wins transparency: every dictionary key (alias, kind) claimed
    by MORE THAN ONE note, with the deterministic winner, the candidate
    count, and the sorted losing doc_ids (comma-joined — a stable scalar
    for cross-engine comparison).

    The reference resolves these conflicts silently (first-seen walkdir
    order, index.rs:13-14); this operator surfaces them so a vault owner
    can see which [[name]]s are ambiguous and which note actually receives
    the edges.

    Scale shape: one shuffle on (alias, kind) — the ranking window and the
    aggregation share the partitioning, so the exchange is reused; conflict
    keys are a tiny fraction of the dictionary, and nothing is collected.
    """
    w = Window.partitionBy("alias", "kind").orderBy(
        F.col("n_segments").asc(), F.col("canonical").asc()
    )
    ranked = cand.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("alias", "kind")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.min(F.when(F.col("rn") == 1, F.col("canonical"))).alias("winner"),
            F.array_join(
                F.sort_array(
                    F.collect_list(F.when(F.col("rn") > 1, F.col("canonical")))
                ),
                ",",
            ).alias("losers"),
        )
        .filter(F.col("n_candidates") > 1)
        .select("alias", "kind", "winner", "n_candidates", "losers")
    )
