"""Text-analysis operators for training-data curation.

All JVM-native (built-in functions only — these run in whole-stage codegen
and are exactly reproducible by the DuckDB oracle):

* language-ID      — stopword-marker n-gram heuristic, argmax over fixed
                     marker lists with deterministic tie-break;
* quality scoring  — length / punctuation / stopword / repetition ratios;
* token counting   — whitespace tokens + a BPE-ish regex token count
                     (letter runs, digit runs, single punctuation marks —
                     the classic GPT-2-style pre-tokenizer shape);
* fingerprinting   — polynomial rolling hash over tokens (order-sensitive,
                     unlike a bag-of-words hash), mod 1e9+7 so the
                     accumulator never overflows 64-bit in any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker stopwords per language (tiny fixed dictionaries; heuristic)
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "ist", "ich", "mit"],
    "en": ["the", "and", "of", "to", "is", "that", "it", "for"],
    "es": ["el", "la", "los", "las", "que", "de", "y", "es"],
    "fr": ["le", "la", "les", "et", "que", "est", "pour", "dans"],
}

_TOKENS = "filter(split(lower({t}), '\\\\s+'), x -> x != '')"


def _word_grams(
    frame: DataFrame,
    n: int,
    tokens: str = "_t",
    whole_text: bool = False,
    distinct: bool = False,
) -> tuple[DataFrame, Column]:
    """The one place the engine forms word grams: the adjacent ``n``-grams
    of the token-array column ``tokens``, each its ``n`` tokens joined
    with ``' '``.  Returns ``frame`` with the grams staged, and the
    gram-array Column over it.

    * ``whole_text`` — an array shorter than ``n`` gives one gram, its
      whole ``' '``-joined text ('' when empty), instead of none;
    * ``distinct`` — per-row ``array_distinct``: a (row, gram) pair can
      only repeat inside one row's own array, so exploding the distinct
      array gives the rows of a global ``.distinct()`` with no exchange.

    Callers explode or transform the Column in place.  Exploding it after
    selecting it as a plain column would let the planner infer
    ``size(grams) > 0`` and push it into a Filter beneath, which runs the
    whole gram pass twice.

    Compiled ``pyspark.ml.feature.NGram``: the interpreted
    ``transform(sequence(...), i -> array_join(slice(...)))`` form runs
    per element and measured 5× slower at 92M shingles (30.5 s vs 6.1 s
    on local[32], sf0.1).

    Splitting a gram on a literal ``' '`` (``_gram_words``) gives its
    tokens back exactly: ``_TOKENS`` splits on Java ``\\s``, which holds
    U+0020, so no token contains one (BPE symbols are ``[a-z0-9]+``).
    Callers split after aggregating on the gram, on vocabulary-sized rows.

    NULL rule: a NULL token array (NULL text) gives a NULL gram array,
    which explodes to no rows.  ``NGram`` throws on a NULL input, so its
    input is coalesced to an empty array and its output re-NULLed."""
    from pyspark.ml.feature import NGram

    t = F.col(tokens)
    staged = frame.withColumn("_ngi", F.coalesce(t, F.array().cast("array<string>")))
    grams = F.col("_ng")
    if whole_text:
        grams = F.when(F.size(t) >= n, grams).otherwise(F.array(F.array_join(t, " ")))
    if distinct:
        grams = F.array_distinct(grams)
    ng = NGram(n=n, inputCol="_ngi", outputCol="_ng").transform(staged)
    return ng, F.when(t.isNotNull(), grams)


def _gram_words(*names: str) -> list:
    """Columns ``names``: the tokens of gram column ``g`` by position."""
    words = F.split("g", " ")
    return [words[i].alias(name) for i, name in enumerate(names)]


def _marker_hits(lang: str, tokens: str) -> str:
    arr = "array(" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + ")"
    return f"size(filter({tokens}, x -> array_contains({arr}, x)))"


def lang_id(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pred_lang, marker_hits): argmax marker-count language,
    ties broken by language code order, 'und' (undetermined) when 0 hits."""
    langs = sorted(LANG_MARKERS)
    hits = ", ".join(
        f"struct({_marker_hits(lang, '_w')} AS hits, '{lang}' AS lang)"
        for lang in langs
    )
    # array_max on struct(hits, lang) orders by hits then lang — we want
    # max hits, tie → FIRST lang code, so invert lang order via sort+reverse:
    # simpler: reduce with explicit comparison.
    best = (
        f"aggregate(array({hits}), struct(-1 AS hits, '' AS lang), "
        f"(acc, x) -> CASE WHEN x.hits > acc.hits THEN x ELSE acc END)"
    )
    # token array and best-struct staged once each: ``best`` is consumed by
    # three output columns and itself reads the token array 4× (one
    # marker-count per language) — inlined, that re-tokenized the text 12×
    # (same staged-Project rationale as gopher_rules; identical rows)
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.expr(_TOKENS.format(t=text_col)).alias("_w"),
        )
        .select(F.col("doc_id"), F.expr(best).alias("_b"))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN _b.hits <= 0 THEN 'und' ELSE _b.lang END"
            ).alias("pred_lang"),
            F.expr("_b.hits").cast("long").alias("marker_hits"),
        )
    )


def quality_scores(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality features + a composite score in [0, 1]."""
    en = "array(" + ", ".join(f"'{w}'" for w in LANG_MARKERS["en"]) + ")"
    # token array staged once (three consumers; see gopher_rules rationale)
    staged = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_txt"),
        F.expr(_TOKENS.format(t=text_col)).alias("_w"),
    )
    d = staged.select(
        "doc_id",
        F.expr("size(_w)").cast("long").alias("n_words"),
        F.octet_length(F.col("_txt")).cast("long").alias("n_bytes"),
        F.expr(
            "size(regexp_extract_all(_txt, '[.,;:!?]', 0))"
        ).cast("long").alias("n_punct"),
        F.expr(f"size(filter(_w, x -> array_contains({en}, x)))")
        .cast("long")
        .alias("n_stopwords"),
        F.expr("size(array_distinct(_w))").cast("long").alias("n_distinct_words"),
    )
    d = d.withColumn(
        "avg_word_len",
        F.round(
            F.when(F.col("n_words") > 0, F.col("n_bytes") / F.col("n_words")).otherwise(
                F.lit(0.0)
            ),
            4,
        ),
    ).withColumn(
        "distinct_ratio",
        F.round(
            F.when(
                F.col("n_words") > 0, F.col("n_distinct_words") / F.col("n_words")
            ).otherwise(F.lit(0.0)),
            4,
        ),
    )
    # composite: reasonable length + some punctuation + lexical diversity
    return d.withColumn(
        "quality",
        F.round(
            (F.least(F.col("n_words") / 100.0, F.lit(1.0)) * 0.4)
            + (F.least(F.col("n_punct") / 5.0, F.lit(1.0)) * 0.2)
            + (F.col("distinct_ratio") * 0.4),
            4,
        ),
    )


# GPT-2-ish pre-tokenizer shape: letter runs | digit runs | single non-space symbol
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]"


def token_counts(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    t = _TOKENS.format(t=text_col)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"size({t})").cast("long").alias("ws_tokens"),
        F.expr(
            f"size(regexp_extract_all({text_col}, '{BPE_ISH_PATTERN}', 0))"
        ).cast("long").alias("bpe_tokens"),
    )


def fingerprints(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Order-sensitive rolling hash: acc = (acc*31 + len(tok)*7 + ascii(tok))
    mod 1e9+7.  Accumulator < 2^35 at every step — exact in any engine."""
    t = _TOKENS.format(t=text_col)
    # map tokens to small ints first, then fold — the same two-step shape is
    # expressible as list_transform + list_reduce in the DuckDB oracle
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"aggregate(transform({t}, x -> length(x) * 7 + ascii(x)), 0L, "
            f"(acc, v) -> (acc * 31 + v) % 1000000007)"
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------- repetition

# Gopher repetition-filter thresholds (Rae et al. 2021, table A1 — public):
# docs exceeding any of these are flagged repetitive boilerplate.
GOPHER_DUP_LINE_FRAC = 0.30
GOPHER_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_TOP_BIGRAM_FRAC = 0.18


def repetition_stats(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition features per document:

    * ``dup_line_frac``       — occurrences of non-unique (non-blank) lines
                                / total lines (every copy counts);
    * ``dup_line_char_frac``  — bytes inside those duplicated lines / total
                                line bytes;
    * ``top_bigram_frac``     — occurrences of the most frequent word
                                2-gram / total 2-grams;
    * ``is_repetitive``       — any ratio over the Gopher thresholds.

    Plan shape: two explode→groupBy pipelines (lines, bigrams), each with
    map-side partial aggregation — per-key fanout is per-document, so no
    hot-key skew is possible, and nothing is collected.  All counters are
    integers; ratios round to 4 places (exact in any engine)."""
    ids = documents.select(F.col(id_col).alias("doc_id"))

    lines = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(f"filter(split({text_col}, '\\n'), l -> trim(l) != '')")
        ).alias("line"),
    )
    lc = lines.groupBy("doc_id", "line").agg(F.count("*").alias("c"))
    line_agg = lc.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_lines"),
        F.sum(F.octet_length("line") * F.col("c")).alias("line_bytes"),
        F.sum(
            F.when(F.col("c") > 1, F.octet_length("line") * F.col("c")).otherwise(0)
        ).alias("dup_line_bytes"),
    )

    # no whole-text fallback: a 1-token doc has zero bigrams, not one
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(_TOKENS.format(t=text_col)).alias("_t"),
    )
    ng, bigrams = _word_grams(toks, 2)
    bc = (
        ng.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
    )
    bg_agg = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_c")
    )

    d = (
        ids.join(line_agg, "doc_id", "left")
        .join(bg_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("dup_lines", F.lit(0)).alias("dup_lines"),
            F.coalesce("line_bytes", F.lit(0)).alias("line_bytes"),
            F.coalesce("dup_line_bytes", F.lit(0)).alias("dup_line_bytes"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_c", F.lit(0)).alias("top_bigram_c"),
        )
    )

    def frac(num, den):
        return F.round(
            F.when(F.col(den) > 0, F.col(num) / F.col(den)).otherwise(F.lit(0.0)), 4
        )

    d = (
        d.withColumn("dup_line_frac", frac("dup_lines", "n_lines"))
        .withColumn("dup_line_char_frac", frac("dup_line_bytes", "line_bytes"))
        .withColumn("top_bigram_frac", frac("top_bigram_c", "n_bigrams"))
    )
    return d.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        "dup_line_frac",
        "dup_line_char_frac",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "top_bigram_frac",
        (
            (F.col("dup_line_frac") > GOPHER_DUP_LINE_FRAC)
            | (F.col("dup_line_char_frac") > GOPHER_DUP_LINE_CHAR_FRAC)
            | (F.col("top_bigram_frac") > GOPHER_TOP_BIGRAM_FRAC)
        ).alias("is_repetitive"),
    )


# ---------------------------------------------------------------- keywords


def top_keywords(
    documents: DataFrame,
    k: int = 3,
    max_df_frac: float = 0.5,
    min_token_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k keywords: highest term frequency among tokens
    that are (a) at least ``min_token_len`` chars and (b) present in at most
    ``max_df_frac`` of documents (a document-frequency stopword filter — the
    integer-exact core of TF-IDF, with no floating-point idf so the ranking
    is bit-reproducible across engines).  Ties break lexicographically.

    → (doc_id, token, tf, rank), rank ∈ [1, k].

    Plan shape: explode → (doc, token) partial-agg counts → token-level df
    agg (map-side combined, so a corpus-wide stopword never concentrates) →
    join tf⋈df (broadcast-eligible: the df frame shrinks to distinct kept
    tokens) → per-doc top-k window.  The window partitions by doc_id —
    per-document cardinality, no skew."""
    from pyspark.sql import Window

    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(_TOKENS.format(t=text_col))).alias("token"),
    ).filter(F.length("token") >= min_token_len)
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = documents.select(
        F.count("*").alias("_n_docs")
    )  # 1-row frame, broadcast by Catalyst — no driver-side action
    kept = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= F.col("_n_docs") * max_df_frac)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("token"))
    return (
        kept.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------- PII scrub

# RE2 ∩ java.util.regex compatible patterns (no lookaround, ASCII \b) — the
# DuckDB oracle runs the SAME patterns through RE2.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
LONGNUM_RE = "\\b[0-9]{7,}\\b"


def scrubbed_text(text_col: str = "text"):
    """Column expression: ``text_col`` with emails → ``<EMAIL>``, IPv4 →
    ``<IP>``, 7+-digit runs → ``<NUM>`` (in that order — emails first so
    their digits are not half-eaten by the number rule).  Reused by
    ``pii_scrub`` and the curation plan's sink path."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>"),
            IPV4_RE,
            "<IP>",
        ),
        LONGNUM_RE,
        "<NUM>",
    )


def pii_scrub(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Regex PII redaction for training-data hygiene (see
    ``scrubbed_text`` for the replacement rules).  Pure JVM
    regexp_replace — whole-stage codegen, no UDF.  Returns counts plus a
    sha256 of the scrubbed text (the cheap cross-engine witness that the
    replacement text is byte-identical — the full scrubbed column stays in
    the plan for sinks)."""
    scrubbed = scrubbed_text(text_col)
    def n_hits(pattern: str):
        # native fn + lit pattern: no SQL-string escape round-trip on the
        # regex (an F.expr literal would eat the backslashes)
        return F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
        ).cast("long")

    return documents.select(
        F.col(id_col).alias("doc_id"),
        n_hits(EMAIL_RE).alias("n_emails"),
        n_hits(IPV4_RE).alias("n_ips"),
        n_hits(LONGNUM_RE).alias("n_longnums"),
        F.sha2(scrubbed, 256).alias("scrubbed_sha"),
    )


# ---------------------------------------------------------------- chunking


def chunk_documents(
    documents: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window packing: split each document into fixed character
    windows (``chunk_chars`` wide, consecutive starts ``chunk_chars -
    overlap`` apart; the last window may be short).  Zero-length docs yield
    zero chunks.

    → (doc_id, chunk_id, chunk_text) — one row per window, in order.

    Pure JVM: posexplode(sequence(0, n_chunks-1)) + substring — the chunk
    count is integer arithmetic ((len + step - 1) div step) so the row set
    is exact in any engine, and nothing leaves codegen.  At 100 TB this is
    the map-only stage before a training-shard sink: no shuffle at all
    (the explode preserves the input partitioning)."""
    if not 0 <= overlap < chunk_chars:
        raise ValueError("need 0 <= overlap < chunk_chars")
    step = chunk_chars - overlap
    n_chunks = f"(length({text_col}) + {step} - 1) DIV {step}"
    d = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.expr(
            f"CASE WHEN length({text_col}) = 0 THEN array() "
            f"ELSE sequence(0L, {n_chunks} - 1) END"
        ).alias("_ix"),
    )
    return d.select(
        "doc_id",
        "_t",
        F.posexplode("_ix").alias("_pos", "chunk_id"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.expr(f"substring(_t, cast(chunk_id * {step} + 1 AS int), {chunk_chars})").alias(
            "chunk_text"
        ),
    )


def retrieval_stats(
    documents: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25/TF-IDF sufficient statistics → (term, doc_id, rank, tf, dl,
    df, n_docs): for each query term, the top-``k`` documents by term
    frequency (ties to the smaller doc_id) with every quantity a scoring
    function needs — tf (occurrences in the doc), dl (doc token length),
    df (documents containing the term), n_docs (corpus size).  All exact
    integers: BM25 itself is a float of these five numbers and is left
    caller-side so the hard signal stays engine-portable.

    Scale shape: the term filter collapses the exploded token stream to
    |terms| × |docs| rows BEFORE any shuffle (predicate on a literal
    array, pushed into the projection); tf/dl are map-side-combined
    aggregates; df is a by-term window count over the already-aggregated
    tf frame (tiny); it and the final top-k share one exchange into ≤
    |terms| partitions of pre-aggregated rows — never a sort of the raw
    token stream.
    """
    from pyspark.sql import Window

    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(_TOKENS.format(t=text_col)).alias("_t"),
    )
    # carry the doc length through the explode instead of a second
    # tokenize pass + join: every exploded row of a doc sees the same
    # size(_t), so min() re-derives it for free in the tf aggregate.
    # explode_outer, because the planner pushes a plain explode's
    # size(_t) > 0 beneath the tokenize Project and tokenizes twice; the
    # NULL token it adds for an empty doc fails the term filter.
    hits = (
        toks.select(
            "doc_id", F.size("_t").cast("long").alias("dl"),
            F.explode_outer("_t").alias("token"),
        )
        .filter(F.col("token").isin(*terms))
        .groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
    )
    n_docs = documents.select(
        F.count(F.lit(1)).alias("n_docs")
    )
    # df as a window count over hits itself (one row per (doc, term)), so
    # hits has one consumer and the token stream is built once
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        hits.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("tf").cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
            F.col("df").cast("long").alias("df"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


def collocation_stats(
    documents: DataFrame,
    min_pair: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PMI collocation sufficient statistics for adjacent word pairs →
    (w1, w2, n_pair, n_w1, n_w2, n_tokens): every bigram occurring
    ≥ ``min_pair`` times corpus-wide with its pair count, both unigram
    counts, and the corpus token total.  PMI = log(n_pair·n_tokens /
    (n_w1·n_w2)) is left to the caller so the engine output stays
    integer-exact (the standard sufficient-stats contract of this repo's
    ts_* family).

    Scale shape: bigram and unigram counting are both map-side-combined
    groupBys over exploded token streams; the ``min_pair`` HAVING cuts
    the long bigram tail BEFORE the two unigram-count attach joins
    (vocabulary-keyed shuffle joins — a unigram table is vocabulary-
    sized, never broadcast-assumed); the corpus total is a one-row
    broadcast cross join.
    """
    from ..checkpointing import cut_lineage

    # three consumers (bigrams, unigrams, corpus total) — materialize the
    # token arrays once instead of re-tokenizing the corpus per consumer
    toks = cut_lineage(
        documents.select(F.expr(_TOKENS.format(t=text_col)).alias("_t"))
    )
    ng, bigrams = _word_grams(toks, 2)
    pair_counts = (
        ng.select(F.explode(bigrams).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair)
        .select(*_gram_words("w1", "w2"), "n_pair")
    )
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    total = toks.agg(F.sum(F.size("_t")).alias("n_tokens"))
    return (
        pair_counts.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "n_pair", "n_w1", "n_w2", "n_tokens")
    )


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 4,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm) → (doc_id, fp): hash every word ``k``-gram, slide
    a window of ``w`` consecutive hashes, keep each window's MINIMUM —
    guaranteeing any shared passage of ≥ ``w + k - 1`` tokens leaves at
    least one common fingerprint in both documents, with an expected
    density of only 2/(w+1) selected hashes.  The per-doc distinct
    fingerprint set is the near-dup/plagiarism signature a downstream
    inverted-index join consumes.

    Hashes are md5 hex strings compared LEXICOGRAPHICALLY — the same
    cross-engine total order the walk/egonet hash-argmin family uses, so
    the DuckDB oracle reproduces every selection bit-for-bit.  Documents
    shorter than ``k`` tokens degrade to one whole-text gram (the
    shingles fallback rule).

    Scale shape: everything up to the explode is per-row JVM work (no
    shuffle, no UDF); the output is already distinct per doc so the
    explode carries ~2·tokens/(w+1) rows per document.
    """
    mins = (
        f"array_distinct(transform(sequence(1, greatest(size(_h) - {w} + 1, 1)),"
        f" j -> array_min(slice(_h, j, {w}))))"
    )
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(_TOKENS.format(t=text_col)).alias("_t"),
    )
    ng, grams = _word_grams(toks, k, whole_text=True)
    return (
        ng.select("doc_id", F.transform(grams, F.md5).alias("_h"))
        .select("doc_id", F.explode(F.expr(mins)).alias("fp"))
    )


def textrank_keywords(
    documents: DataFrame,
    min_count: int = 5,
    top_n: int = 50,
    n_iter: int = 10,
    damping_pct: int = 85,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextRank corpus keywords (Mihalcea & Tarau 2004): PageRank over the
    word co-occurrence graph — nodes are vocabulary words with corpus
    frequency ≥ ``min_count``, edges connect ADJACENT tokens (window 2,
    undirected → both directions), weighted by corpus-wide co-occurrence
    count.  Returns the ``top_n`` words as (word, pr) with the engine's
    exact integer fixed-point ranks (pagerank.py contract), ties broken
    pr desc → word asc — a deterministic SET both engines reproduce.

    Scale shape: the token/bigram streams collapse map-side to (w, n) /
    (w1, w2, n) before any join; the graph the fixpoint iterates over is
    vocabulary-sized (≪ corpus), so the 10 rounds cost nothing next to
    the one corpus pass; top-k is TakeOrdered, never a global sort.
    """
    from ..checkpointing import cut_lineage
    from .pagerank import pagerank

    # two consumers (vocabulary counts + bigram stream) — tokenize once
    toks = cut_lineage(
        documents.select(F.expr(_TOKENS.format(t=text_col)).alias("_t"))
    )
    vocab = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select("w")
    )
    ng, bigrams = _word_grams(toks, 2)
    pairs = (
        ng.select(F.explode(bigrams).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("n"))
        .select(*_gram_words("w1", "w2"), "n")
        .join(vocab.withColumnRenamed("w", "w1"), "w1")
        .join(vocab.withColumnRenamed("w", "w2"), "w2")
    )
    sym = pairs.select(
        F.col("w1").alias("subj"), F.col("w2").alias("obj"), "n"
    ).unionByName(
        pairs.select(F.col("w2").alias("subj"), F.col("w1").alias("obj"), "n")
    )
    pr = pagerank(
        vocab.withColumnRenamed("w", "word"),
        sym,
        n_iter=n_iter,
        damping_pct=damping_pct,
        id_col="word",
        weight_col="n",
    )
    return (
        pr.select(F.col("id").alias("word"), "pr")
        .orderBy(F.col("pr").desc(), F.col("word"))
        .limit(top_n)
    )


def ngram_lm_counts(
    documents: DataFrame,
    min_count: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Trigram language-model sufficient statistics: for every word
    trigram with corpus count ≥ ``min_count``, → (w1, w2, w3, n, ctx_n)
    where ``n`` is the trigram count and ``ctx_n`` the count of its
    (w1, w2) bigram context over ALL trigram positions — the exact
    integers from which MLE (n/ctx_n), additive, and Kneser-Ney
    estimates all derive.  No doc crosses its own boundary (trigrams are
    per-document, the standard sentence-boundary convention).

    Scale shape: one corpus pass; both the trigram and context streams
    collapse map-side to (gram, n) before the single vocabulary-keyed
    attach join; the min_count HAVING cuts the long tail before the
    join, so the joined side is the head of the Zipf curve only.
    """
    from ..checkpointing import cut_lineage

    toks = documents.select(F.expr(_TOKENS.format(t=text_col)).alias("_t"))
    # ONE corpus pass: the context count over all trigram positions is the
    # per-(w1, w2) SUM of the aggregated trigram counts, so ctx derives
    # from the (vocabulary-sized, materialized) trigram table instead of a
    # second explode + groupBy over the corpus — identical ctx_n
    ng, trigrams = _word_grams(toks, 3)
    counts3 = cut_lineage(
        ng.select(F.explode(trigrams).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("n"))
        .select(*_gram_words("w1", "w2", "w3"), "n")
    )
    tri = counts3.filter(F.col("n") >= min_count)
    ctx = counts3.groupBy("w1", "w2").agg(F.sum("n").alias("ctx_n"))
    return tri.join(ctx, ["w1", "w2"]).select("w1", "w2", "w3", "n", "ctx_n")


def _bpe_fold_expr(l: str, r: str) -> str:
    """Greedy left-to-right merge of adjacent (l, r) symbol pairs — the
    REAL BPE merge rule: within a run of repeated occurrences every other
    pair merges ('banana' + (a,n) -> b,an,an,a; 'aaaa' + (a,a) ->
    aa,aa).  A pure JVM ``aggregate`` fold; ``l``/``r`` are ^[a-z0-9]+$
    so literal inlining is injection-safe."""
    return (
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{l}' AND x = '{r}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{l}{r}')) "
        "ELSE concat(acc, array(x)) END)"
    )


def _bpe_train(documents, n_merges, id_col, text_col):
    """Shared BPE training loop → (merges list, final vocab frame
    (w, syms, n)).  See ``bpe_merges`` for the contract."""
    from ..checkpointing import cut_lineage

    # explode the tokenize expression in place: exploding a staged column
    # lets the planner push size(_t) > 0 beneath the tokenize Project and
    # run it twice.  \z, not $: Java's $ also matches before a final
    # U+2028, U+2029 or U+0085, which are not \s and so end a token.
    vocab = cut_lineage(
        documents.select(F.explode(F.expr(_TOKENS.format(t=text_col))).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+\\z"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .select("w", F.expr("filter(split(w, ''), x -> x != '')").alias("syms"), "n")
    )
    merges = []
    for step in range(1, n_merges + 1):
        ng, pairs = _word_grams(vocab, 2, tokens="syms")
        top = (
            ng.select(F.explode(pairs).alias("g"), "n")
            .groupBy("g")
            .agg(F.sum("n").alias("pn"))
            .select(*_gram_words("l", "r"), "pn")
            .orderBy(F.col("pn").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, pn = top[0]["l"], top[0]["r"], int(top[0]["pn"])
        merges.append((step, l, r, pn))
        vocab = cut_lineage(
            vocab.select("w", F.expr(_bpe_fold_expr(l, r)).alias("syms"), "n")
        )
    return merges, vocab


def bpe_merges(
    documents: DataFrame,
    n_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding merge TRAINING (Sennrich et al. 2016; the GPT-2
    tokenizer's learning phase), distributed: -> (step, left, right, n) —
    the ordered merge table a BPE tokenizer replays at encode time.

    Algorithm (the real one, at word level like every production BPE):
    the corpus collapses ONCE to the count-weighted word vocabulary
    (merge statistics depend only on (word, count) — the classic trick
    that makes BPE training corpus-size-independent); each word starts as
    its character sequence; per round, count adjacent symbol pairs
    weighted by word count (overlapping occurrences counted, the
    standard), pick the max pair (ties -> lexicographic smallest), and
    GREEDILY merge left-to-right — every other occurrence within a
    repeated run ('aaaa' + (a,a) -> aa,aa; 'banana' + (a,n) ->
    b,an,an,a), exactly the reference BPE semantics.

    Determinism contract: the merge is a pure ``aggregate`` fold over the
    symbol array with (l, r) inlined as literals; the DuckDB oracle
    reproduces the same greedy rule via gaps-and-islands window parity —
    both engines learn the IDENTICAL merge table.  Words are restricted
    to ^[a-z0-9]+$ (documented vocabulary rule).

    Scale shape: after the one corpus pass, every round runs on the
    VOCABULARY (<= a few million rows at any corpus size) — explode
    adjacent pairs -> map-side-combined weighted sum -> a 1-row
    TakeOrdered collected to the driver (the scalar-collect class) and
    inlined in the next round's fold; the vocab frame is lineage-cut per
    round like every other fixpoint.
    """
    merges, _ = _bpe_train(documents, n_merges, id_col, text_col)
    spark = documents.sparkSession
    return spark.createDataFrame(
        merges, "step int, left string, right string, n long"
    )


def bpe_encode_counts(
    documents: DataFrame,
    n_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BPE ENCODE over the self-trained merge table: -> (doc_id,
    n_pieces, n_oov_tokens) — per document, the total piece count after
    replaying the ``n_merges`` learned merges on every ^[a-z0-9]+$ word
    (joined from the trained vocabulary — encode-by-lookup, the
    production fast path) plus, separately, the count of tokens outside
    the vocabulary rule (each carrying its own downstream segmentation).

    Scale shape: training cost as in ``bpe_merges``; encoding is ONE
    equi-join of the exploded (doc, word) stream — collapsed map-side to
    (doc, word, count) first — against the vocab's (word, n_pieces),
    never a per-token re-fold.
    """
    merges, vocab = _bpe_train(documents, n_merges, id_col, text_col)
    pieces = vocab.select("w", F.size("syms").cast("long").alias("pieces"))
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(_TOKENS.format(t=text_col))).alias("w"),
    )
    per = (
        toks.groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .join(pieces, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("pieces").isNotNull(), F.col("c") * F.col("pieces"))
                .otherwise(F.lit(0))
            ).cast("long").alias("n_pieces"),
            F.sum(
                F.when(F.col("pieces").isNull(), F.col("c")).otherwise(F.lit(0))
            ).cast("long").alias("n_oov_tokens"),
        )
    )
    return per


def lm_coverage(
    documents: DataFrame,
    min_count: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document coverage under the corpus' own head-trigram LM
    (``ngram_lm_counts``): → (doc_id, n_trigrams, n_in_lm) exact
    integers — the fraction n_in_lm/n_trigrams separates formulaic
    in-distribution text from novel/outlier documents (a quality and
    near-duplicate-of-corpus signal; the same join against an EXTERNAL
    benchmark's table is the decontamination scan, see
    ``dd_contamination``).  Docs with < 3 tokens emit (0, 0).

    Scale shape: the doc trigram stream collapses map-side to
    (doc, gram, c) before the one equi-join against the head table
    (which the min_count HAVING keeps Zipf-head-sized); the final
    rollup re-uses the doc_id partitioning.
    """
    ng, trigrams = _word_grams(
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.expr(_TOKENS.format(t=text_col)).alias("_t"),
        ),
        3,
    )
    dg = (
        ng.select("doc_id", F.explode_outer(trigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    head = (
        ng.select(F.explode(trigrams).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select("g", F.lit(True).alias("_hit"))
    )
    return (
        dg.join(head, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("g").isNotNull(), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_trigrams"),
            F.sum(F.when(F.col("_hit"), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_in_lm"),
        )
    )


def zipf_table(
    documents: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """→ (rank, word, n): the top-``k`` corpus vocabulary by frequency
    with dense ranks (ties → lexicographically smaller word first, so
    the table is a pure function of the corpus) — the Zipf head every
    corpus-linguistics report starts from, and the stopword-list
    candidate generator for the df-cap family.

    Scale shape: the token explode collapses map-side to (word, n)
    before any shuffle; the rank window runs over the top-``k``-bounded
    frame only (TakeOrdered, then a ≤ k-row window) — never a global
    sort of the vocabulary."""
    from pyspark.sql import Window

    toks = documents.select(
        F.explode(F.expr(_TOKENS.format(t=text_col))).alias("word")
    )
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))
    top = vocab.orderBy(F.col("n").desc(), "word").limit(k)
    w = Window.orderBy(F.col("n").desc(), "word")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "word", "n"
    )


# ---------------------------------------------------------------------------
# Published-ruleset quality filters: Gopher rules and C4 line cleaning
# ---------------------------------------------------------------------------

# Gopher (Rae et al. 2021, Table A1) required stop words: a document must
# contain at least 2 distinct members to pass the stop-word rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# "symbols" in the Gopher symbol-to-word-ratio rule: hash marks and
# ellipses (both the three-dot spelling and the Unicode character).
_GOPHER_SYMBOL_RE = "#|\\\\.\\\\.\\\\.|…"

# lines are CR-stripped before any rule so CRLF corpora grade identically
_LINES = "transform(split({t}, '\\n'), x -> regexp_replace(x, '\\r+$', ''))"


def gopher_rules(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher quality-rule evaluation (Rae et al. 2021,
    Table A1) → one row per doc with the integer features, the seven
    individual rule verdicts, and the composite ``keep`` flag.

    Every ratio is integer basis points via ``div`` (never a float), so
    the row set is bit-deterministic across engines — the repo's
    determinism contract.  Thresholds (the paper's, as basis points):
    50 ≤ words ≤ 100000; 300 ≤ mean word length ×100 ≤ 1000;
    symbol/word ≤ 1000 bp; bullet lines ≤ 9000 bp; ellipsis lines
    ≤ 3000 bp; alphabetic words ≥ 8000 bp; ≥ 2 distinct stop words.

    Scale shape: one projection of pure JVM lambda expressions over the
    text column — no shuffle, no UDF, linear in corpus bytes; the filter
    any 100 TB curation pass runs FIRST, before any pairwise dedup.
    """
    t = text_col
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + ")"
    # Stage the token and non-empty-line ARRAYS once per document: four
    # feature columns read the token array and three the line array, and
    # higher-order-function expressions are re-evaluated per reference (no
    # codegen subexpression elimination), so inlining the split into every
    # column re-tokenized the text 4× + re-split lines 3×.  The two-Project
    # shape survives the optimizer — CollapseProject refuses to duplicate
    # non-cheap expressions — and the output rows are identical (measured
    # at sf0.1 / local[32]: gopher+c4 stage 8.1 s → ~3 s).
    staged = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(t).alias("_txt"),
        F.expr(_TOKENS.format(t=t)).alias("_w"),
        F.expr(
            f"filter({_LINES.format(t=t)}, x -> trim(x) != '')"
        ).alias("_nl"),
    )
    d = staged.select(
        "doc_id",
        F.expr("size(_w)").cast("long").alias("n_words"),
        F.expr("aggregate(_w, 0L, (a, x) -> a + length(x))")
        .cast("long")
        .alias("word_chars"),
        F.expr(f"size(regexp_extract_all(_txt, '{_GOPHER_SYMBOL_RE}', 0))")
        .cast("long")
        .alias("n_symbols"),
        F.expr("size(_nl)").cast("long").alias("n_lines"),
        F.expr(
            "size(filter(_nl, x -> ltrim(x) rlike '^(-|\\\\*|•) '))"
        )
        .cast("long")
        .alias("n_bullet_lines"),
        F.expr(
            "size(filter(_nl, x -> rtrim(x) rlike '(\\\\.\\\\.\\\\.|…)$'))"
        )
        .cast("long")
        .alias("n_ellipsis_lines"),
        F.expr("size(filter(_w, x -> x rlike '[a-z]'))")
        .cast("long")
        .alias("n_alpha_words"),
        F.expr(f"size(array_intersect(array_distinct(_w), {stop_arr}))")
        .cast("long")
        .alias("n_stop_distinct"),
    )
    d = (
        d.withColumn(
            "mean_word_len_x100",
            F.when(
                F.col("n_words") > 0,
                F.expr("(word_chars * 100) div n_words"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "symbol_bp",
            F.when(
                F.col("n_words") > 0,
                F.expr("(n_symbols * 10000) div n_words"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "bullet_bp",
            F.when(
                F.col("n_lines") > 0,
                F.expr("(n_bullet_lines * 10000) div n_lines"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "ellipsis_bp",
            F.when(
                F.col("n_lines") > 0,
                F.expr("(n_ellipsis_lines * 10000) div n_lines"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "alpha_bp",
            F.when(
                F.col("n_words") > 0,
                F.expr("(n_alpha_words * 10000) div n_words"),
            ).otherwise(F.lit(0)).cast("long"),
        )
    )
    d = (
        d.withColumn(
            "ok_words", (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        )
        .withColumn(
            "ok_mean_len",
            (F.col("mean_word_len_x100") >= 300)
            & (F.col("mean_word_len_x100") <= 1000),
        )
        .withColumn("ok_symbols", F.col("symbol_bp") <= 1000)
        .withColumn("ok_bullets", F.col("bullet_bp") <= 9000)
        .withColumn("ok_ellipsis", F.col("ellipsis_bp") <= 3000)
        .withColumn("ok_alpha", F.col("alpha_bp") >= 8000)
        .withColumn("ok_stopwords", F.col("n_stop_distinct") >= 2)
    )
    return d.withColumn(
        "keep",
        F.col("ok_words")
        & F.col("ok_mean_len")
        & F.col("ok_symbols")
        & F.col("ok_bullets")
        & F.col("ok_ellipsis")
        & F.col("ok_alpha")
        & F.col("ok_stopwords"),
    )


# a C4-kept line ends in terminal punctuation (incl. the closing-quote
# forms) after right-trim ...
_C4_TERMINAL_RE = "[.!?\"”]$"


def c4_line_stats(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2) → one row
    per doc: a line survives iff it (a) right-trimmed ends in terminal
    punctuation, (b) has ≥ 5 whitespace words, (c) does not mention
    'javascript' (case-insensitive), (d) the document-level blockers —
    'lorem ipsum' anywhere or a '{' brace — are absent.  Emits
    (n_lines, n_kept_lines, kept_words, cleaned_chars, keep) where
    ``cleaned_chars`` is the length of the kept lines re-joined with
    '\\n' and ``keep`` is the paper's ≥-3-sentences proxy
    (n_kept_lines ≥ 3) AND neither document blocker fired.

    Scale shape: identical to :func:`gopher_rules` — stateless JVM
    lambda projection, no shuffle, no Python.
    """
    t = text_col
    # Stage the line array, then the kept-line array, once each: three
    # feature columns read ``kept`` and its per-line predicate (regex +
    # split) is the expensive part, so inlining it re-filtered every line
    # 3× (same staged-Project rationale as :func:`gopher_rules`; identical
    # output rows).
    staged = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(t).alias("_txt"),
        F.expr(_LINES.format(t=t)).alias("_ln"),
    ).select(
        "doc_id",
        "_txt",
        "_ln",
        F.expr(
            f"filter(_ln, x -> rtrim(x) rlike '{_C4_TERMINAL_RE}'"
            f" and size(filter(split(x, '\\\\s+'), w -> w != '')) >= 5"
            f" and not contains(lower(x), 'javascript'))"
        ).alias("_kept"),
    )
    d = staged.select(
        "doc_id",
        F.expr("size(_ln)").cast("long").alias("n_lines"),
        F.expr("size(_kept)").cast("long").alias("n_kept_lines"),
        F.expr(
            "aggregate(_kept, 0L,"
            " (a, x) -> a + size(filter(split(x, '\\\\s+'), w -> w != '')))"
        )
        .cast("long")
        .alias("kept_words"),
        F.expr("length(array_join(_kept, '\\n'))").cast("long").alias(
            "cleaned_chars"
        ),
        F.expr("contains(lower(_txt), 'lorem ipsum')").alias("has_lorem"),
        F.expr("contains(_txt, '{')").alias("has_brace"),
    )
    return d.withColumn(
        "keep",
        (F.col("n_kept_lines") >= 3)
        & ~F.col("has_lorem")
        & ~F.col("has_brace"),
    )


def word_ranks(
    documents: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean-word-rank quality signal (the "mean word rank" feature of
    classifier-based curation stacks, computed against the corpus' own
    Zipf head): per document → (doc_id, n_tokens, n_ranked, n_oov,
    oov_bp, sum_rank, mean_rank_x100).

    The rank table is :func:`zipf_table` over the SAME corpus (top-``k``
    by frequency, ties lexicographic), so the signal is a pure function
    of the corpus — no external vocabulary.  Tokens outside the head are
    OOV; ``oov_bp`` is their share in basis points and
    ``mean_rank_x100`` the mean rank of the in-vocabulary occurrences —
    both integer ``div`` ratios (never a float), per the repo's
    cross-engine determinism contract.  Low mean rank + low OOV ≈
    common, well-formed prose; high values flag boilerplate/garbage.

    Scale shape: token explode → BROADCAST join against the ≤ k-row
    rank table → map-side-partial groupBy(doc_id); the left join back to
    the id spine only re-attaches zero-token documents.  No window, no
    Python, one shuffle (the per-doc agg)."""
    ranks = zipf_table(documents, k=k, text_col=text_col)
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(_TOKENS.format(t=text_col))).alias("word"),
    )
    per_doc = (
        toks.join(F.broadcast(ranks.select("word", "rank")), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count("rank").cast("long").alias("n_ranked"),
            F.sum(F.coalesce(F.col("rank"), F.lit(0)))
            .cast("long")
            .alias("sum_rank"),
        )
    )
    spine = documents.select(F.col(id_col).alias("doc_id"))
    d = spine.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_ranked", F.lit(0)).cast("long").alias("n_ranked"),
        F.coalesce("sum_rank", F.lit(0)).cast("long").alias("sum_rank"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_ranked",
        (F.col("n_tokens") - F.col("n_ranked")).cast("long").alias("n_oov"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("((n_tokens - n_ranked) * 10000) div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("oov_bp"),
        "sum_rank",
        F.when(
            F.col("n_ranked") > 0, F.expr("(sum_rank * 100) div n_ranked")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mean_rank_x100"),
    )


def bpe_fertility(
    documents: DataFrame,
    n_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-fertility audit under the self-trained BPE vocabulary —
    the metric a tokenizer team tracks per corpus slice before training:
    → (doc_id, n_words, n_covered, n_pieces, n_oov_tokens,
    covered_chars, fertility_x100, chars_per_piece_x100).

    ``fertility_x100`` = pieces per covered word ×100 (higher = the
    tokenizer fragments this doc's vocabulary more; OOV words are
    excluded — their segmentation is a downstream fallback, counted
    separately in ``n_oov_tokens``); ``chars_per_piece_x100`` =
    compression (characters represented per emitted piece).  Integer
    ``div`` throughout — the repo's cross-engine determinism contract.

    Scale shape: training cost as in :func:`bpe_merges` (corpus
    collapses to a count-weighted word vocabulary; per-round scalar
    argmax only); the audit itself is the encode equi-join — exploded
    tokens collapsed map-side to (doc, word, count) against the vocab's
    (word, pieces) — plus one map-side-partial per-doc agg.  Never a
    per-token re-fold."""
    _, vocab = _bpe_train(documents, n_merges, id_col, text_col)
    pieces = vocab.select("w", F.size("syms").cast("long").alias("pieces"))
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(_TOKENS.format(t=text_col))).alias("w"),
    )
    per = (
        toks.groupBy("doc_id", "w")
        .agg(F.count("*").cast("long").alias("c"))
        .join(pieces, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.when(F.col("pieces").isNotNull(), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_covered"),
            F.sum(
                F.when(
                    F.col("pieces").isNotNull(), F.col("c") * F.col("pieces")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_pieces"),
            F.sum(F.when(F.col("pieces").isNull(), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov_tokens"),
            F.sum(
                F.when(
                    F.col("pieces").isNotNull(), F.col("c") * F.length("w")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("covered_chars"),
        )
    )
    return per.select(
        "doc_id",
        "n_words",
        "n_covered",
        "n_pieces",
        "n_oov_tokens",
        "covered_chars",
        F.when(
            F.col("n_covered") > 0, F.expr("(n_pieces * 100) div n_covered")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("fertility_x100"),
        F.when(
            F.col("n_pieces") > 0, F.expr("(covered_chars * 100) div n_pieces")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("chars_per_piece_x100"),
    )
