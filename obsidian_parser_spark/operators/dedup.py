"""Document deduplication for training-data pipelines, over a
``documents(doc_id, text)`` table (media and embedding variants take the
hash or vector tables instead).  Operators, grouped by how candidate
pairs are found:

* exact hashing   — ``exact_duplicates`` (md5 window), ``phash_exact_clusters``
                    (equal perceptual hash), ``bloom_membership`` (Bloom
                    pre-screen of a batch against a base corpus).
* shared keys     — ``ngram_jaccard_pairs``, ``containment_pairs``,
                    ``winnow_pairs``, ``contamination_pairs`` and
                    ``incremental_jaccard_pairs`` pair documents through a
                    df-capped inverted index on their distinct shingles or
                    fingerprints; the index join and pair count are
                    ``overlap.capped_overlap``, whose docstring argues why
                    capping one join side is exact.  ``duplicated_spans``
                    reports the shared shingles themselves.
* banded sketches — ``minhash_lsh_pairs`` (MinHash bands; candidates are
                    verified by ``lsh_verified_pairs``), ``simhash_near_dups``
                    and ``phash_near_pairs`` (16-bit bands, pigeonhole),
                    ``embedding_cosine_pairs`` (sign-LSH tables).
* clustering      — ``semdedup_prune`` (within-centroid cosine) and
                    ``dedup_clusters`` (pairs → clusters with a keeper).

Hashes are md5-based wherever a DuckDB oracle must reproduce them
bit-for-bit; ``hash_fn='xxh'`` selects the engine-local scale variant.
All operators emit deterministic, order-insensitive pair/group frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage
from .overlap import attach_sizes, capped_overlap, jaccard_at_least
from .textstats import _TOKENS, _word_grams

# ---------------------------------------------------------------- exact


def exact_duplicates(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Rows that are exact-text duplicates of an earlier (smaller-id) row:
    (doc_id, keeper).  groupBy(md5) keeps the shuffle payload tiny."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        documents.select(id_col, text_col)
        .withColumn("keeper", F.first(id_col).over(w))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select(F.col(id_col).alias("doc_id"), "keeper")
    )


# ---------------------------------------------------------------- shingles


def shingles(
    documents: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shingle) pairs — word n-grams joined with ' ', whole text as
    a single shingle when shorter than n tokens (``_word_grams``)."""
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(_TOKENS.format(t=text_col)).alias("_t"),
    )
    ng, grams = _word_grams(toks, n, whole_text=True)
    return ng.select("doc_id", F.explode(grams).alias("shingle"))


def distinct_shingles(
    documents: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shingle) distinct pairs, deduplicated per document with no
    exchange.  Every consumer (dupspans, the incremental index,
    ngram/containment/contamination/verified) reads it without a
    corpus-wide shuffle of the shingle strings."""
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(_TOKENS.format(t=text_col)).alias("_t"),
    )
    ng, grams = _word_grams(toks, n, whole_text=True, distinct=True)
    return ng.select("doc_id", F.explode(grams).alias("shingle"))


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_shingle_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(a, b, jaccard) for distinct-shingle Jaccard ≥ threshold, a < b."""
    # four consumers (sizes, df-cap, both self-join sides) — materialize
    # the shingle stream once instead of re-generating it per consumer
    sh = cut_lineage(
        distinct_shingles(documents, n=n, id_col=id_col, text_col=text_col)
    )
    pairs = capped_overlap(sh, sh, max_shingle_df, pred="<")
    return jaccard_at_least(attach_sizes(pairs, sh, sh), threshold)


# ---------------------------------------------------------------- minhash-lsh


def minhash_signatures(
    documents: DataFrame,
    k: int = 12,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, h0..h{k-1}): h_i = min over shingles of hash(i ':' shingle).

    hash_fn='md5'  — hex-string min; reproducible in any engine with md5
                     (the DuckDB oracle recomputes it bit-for-bit).
    hash_fn='xxh'  — TWO xxhash64 evaluations per shingle expanded to k
                     functions via Kirsch-Mitzenmacher double hashing,
                     h_i = (h1 & 2³¹-1) + i·(h2 & 2³¹-1) — the standard
                     multi-hash trick (no overflow under ANSI: max ≈ 2³⁵).
                     Engine-local hash family, the scale default when no
                     cross-engine oracle is needed.

    Plan shape (the 100 TB one): explode → k min aggregations in ONE
    groupBy.  NO distinct and NO shingle shuffle: min() is insensitive to
    duplicate shingles, and map-side partial aggregation reduces each input
    partition to (docs × k) rows before the (tiny) exchange — a boilerplate
    shingle shared by millions of docs never concentrates anywhere."""
    sh = shingles(documents, n=n, id_col=id_col, text_col=text_col)
    if hash_fn == "md5":
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
            for i in range(k)
        ]
        return sh.groupBy("doc_id").agg(*aggs)
    if hash_fn == "xxh":
        mask = (1 << 31) - 1
        sh = sh.select(
            "doc_id",
            F.xxhash64("shingle").bitwiseAND(F.lit(mask)).alias("_h1"),
            F.xxhash64(F.lit(1), F.col("shingle")).bitwiseAND(F.lit(mask)).alias("_h2"),
        )
        aggs = [
            F.min(F.col("_h1") + F.lit(i) * F.col("_h2")).cast("string").alias(f"h{i}")
            for i in range(k)
        ]
        return sh.groupBy("doc_id").agg(*aggs)
    raise ValueError(f"unknown hash_fn: {hash_fn}")


def minhash_lsh_pairs(
    documents: DataFrame,
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 200,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-duplicate pairs (a, b) sharing ≥ 1 LSH band.

    rows-per-band r = k/bands; band key = md5 of '|'-joined minhashes.
    Buckets larger than ``max_bucket_size`` are skipped — a bucket holding
    thousands of docs is non-discriminative boilerplate and would make the
    self-join quadratic (the 100 TB kill switch); real pipelines route such
    buckets to exact-hash grouping instead.  Downstream pipelines verify
    candidates with ``ngram_jaccard_pairs`` on the candidate subset.
    """
    assert k % bands == 0
    r = k // bands
    sig = minhash_signatures(
        documents, k=k, n=n, id_col=id_col, text_col=text_col, hash_fn=hash_fn
    )
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"h{b * r + j}") for j in range(r)])).alias(
            f"b{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # banded is tiny (bands rows/doc) but expensive to derive — cut_lineage
    # materializes it eagerly AND cuts lineage, so the self-join reads one
    # stored table instead of computing the upstream pipeline once per side
    # (a lazily-cached frame races its own cache population).  With a
    # session checkpoint dir set (sparkContext.setCheckpointDir) this is a
    # reliable checkpoint() that survives executor loss; else
    # localCheckpoint (local mode).
    # Bucket-size cap via window count: one shuffle on (band, key) — the
    # same partitioning the join needs — and no bucket-list broadcast
    # (which would not fit the driver at 10^12 docs).
    banded = cut_lineage(banded)
    banded_kept = banded.withColumn(
        "_n", F.count("*").over(Window.partitionBy("band", "key"))
    ).filter(F.col("_n") <= max_bucket_size)
    a = banded_kept.select(F.col("doc_id").alias("a"), "band", "key")
    b = banded_kept.select(F.col("doc_id").alias("b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def lsh_verified_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 200,
    hash_fn: str = "md5",
) -> DataFrame:
    """The LSH→verify composition: ``minhash_lsh_pairs`` candidates, each
    verified with the EXACT distinct-shingle Jaccard — (a, b, jaccard) with
    jaccard ≥ threshold.

    This is the standard two-stage near-dup pipeline at scale: candidate
    generation is sub-quadratic (banded LSH), and the exact verification
    only touches candidate pairs (joins candidates back to the shingle
    table — never an all-pairs pass).  A candidate pair sharing zero
    shingles simply drops out (its Jaccard is 0 < threshold)."""
    cand = minhash_lsh_pairs(
        documents,
        k=k,
        bands=bands,
        n=n,
        id_col=id_col,
        text_col=text_col,
        max_bucket_size=max_bucket_size,
        hash_fn=hash_fn,
    )
    # four consumers read the shingle table (both join sides + the two
    # size attaches) — materialize it once instead of re-running the
    # CPU-heavy shingle generation per consumer
    sh = cut_lineage(
        distinct_shingles(documents, n=n, id_col=id_col, text_col=text_col)
    )
    sa = sh.select(F.col("doc_id").alias("a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        cand.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
    )
    return jaccard_at_least(attach_sizes(inter, sh, sh), threshold)


# ---------------------------------------------------------------- embedding cosine


def embedding_cosine_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold_pct: int = 90,
    n_planes: int = 6,
    n_tables: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a, b), a < b, with
    cos(a, b) ≥ threshold_pct/100 among sign-LSH candidates.

    Candidates: same bucket in any of ``n_tables`` hyperplane tables (the
    sub-quadratic path; same bucketing as ``similarity.lsh_topk``).  The
    cosine test is EXACT integer arithmetic over the 10⁴-quantized vectors:
    cos ≥ p/100  ⇔  dot > 0  ∧  10000·dot² ≥ p²·|a|²·|b|²  — decimal(38,0)
    products, no float drift, bit-identical to the DuckDB oracle."""
    from .similarity import bucket_expr, quantize

    qz = quantize(embeddings, "embedding").select(
        F.col(id_col).alias("vid"), F.col("q")
    )
    norm2 = "aggregate(zip_with(q, q, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    qz = qz.withColumn("n2", F.expr(norm2))
    tabled = qz.select(
        "vid",
        "q",
        "n2",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.expr(bucket_expr(n_planes, dim, "q", table=t)).alias(
                            "bucket"
                        ),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(
        "vid", "q", "n2", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )
    # both self-join sides read this frame; materialize it once so the
    # n_planes×dim bucket dot products and the quantize projection are not
    # evaluated twice
    tabled = cut_lineage(tabled)
    a = tabled.select(
        F.col("vid").alias("a"), F.col("q").alias("qa"), F.col("n2").alias("na2"), "tbl", "bucket"
    )
    b = tabled.select(
        F.col("vid").alias("b"), F.col("q").alias("qb"), F.col("n2").alias("nb2"), "tbl", "bucket"
    )
    dot = "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    p2 = threshold_pct * threshold_pct
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("dot", F.expr(dot))
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(10000).cast("decimal(38,0)")
                * F.col("dot").cast("decimal(38,0)")
                * F.col("dot").cast("decimal(38,0)")
                >= F.lit(p2).cast("decimal(38,0)")
                * F.col("na2").cast("decimal(38,0)")
                * F.col("nb2").cast("decimal(38,0)")
            )
        )
        .select("a", "b")
        .distinct()
    )


# ---------------------------------------------------------------- simhash

# signed value of bit j under the MSB-first convention (bit 0 = sign bit):
# matches int.from_bytes(packbits(bits), 'big', signed=True)
_BIT_VALS = [-(1 << 63) if j == 0 else 1 << (63 - j) for j in range(64)]


def simhash_signatures(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, simhash bigint): 64-bit SimHash, bit j set iff the
    token-weighted sum of (±1 per token-hash bit j) is positive.

    Fully JVM-side (no Python in the plan): explode tokens → one hash per
    token → 64 bit-contribution expressions → ``groupBy(doc_id)`` with 64
    map-side-combinable sums → pack the sign vector into one bigint.  Each
    token occurrence weighs 1 (duplicates kept — occurrence weighting, the
    standard Charikar scheme).

    hash_fn='md5'  — bits from the first 16 hex chars of md5(token);
                     bit-for-bit reproducible by the DuckDB oracle.
    hash_fn='xxh'  — bits straight off ``xxhash64(token)`` (no hex decode;
                     the scale default when no cross-engine oracle needed).

    Docs with zero tokens get simhash 0 (left join back onto the input).
    """
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(_TOKENS.format(t=text_col))).alias("token"),
    )
    if hash_fn == "md5":
        # hex nibble i = chars of md5[0:16]; bit j = bit (3 - j%4) of
        # nibble j//4 — identical to unpackbits over digest()[:8]
        hx = toks.select("doc_id", F.substring(F.md5("token"), 1, 16).alias("hx"))
        nib = hx.select(
            "doc_id",
            *[
                F.conv(F.substring("hx", i + 1, 1), 16, 10)
                .cast("int")
                .alias(f"n{i}")
                for i in range(16)
            ],
        )
        contribs = [
            (
                F.shiftright(F.col(f"n{j // 4}"), 3 - j % 4).bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"c{j}")
            for j in range(64)
        ]
        per_token = nib.select("doc_id", *contribs)
    elif hash_fn == "xxh":
        h = toks.select("doc_id", F.xxhash64("token").alias("h"))
        contribs = [
            (
                F.shiftright(F.col("h"), 63 - j).bitwiseAND(F.lit(1)).cast("int")
                * 2
                - 1
            ).alias(f"c{j}")
            for j in range(64)
        ]
        per_token = h.select("doc_id", *contribs)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    sums = per_token.groupBy("doc_id").agg(
        *[F.sum(f"c{j}").alias(f"s{j}") for j in range(64)]
    )
    packed = None
    for j in range(64):
        term = F.when(F.col(f"s{j}") > 0, F.lit(_BIT_VALS[j])).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    sig = sums.select("doc_id", packed.cast("long").alias("simhash"))
    ids = documents.select(F.col(id_col).alias("doc_id"))
    return ids.join(sig, "doc_id", "left").select(
        "doc_id", F.coalesce("simhash", F.lit(0)).alias("simhash")
    )


def simhash_near_dups(
    documents: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(a, b, hamming) pairs with SimHash hamming distance ≤ max_hamming.

    Candidate blocking splits the 64 bits into 4 bands of 16 — pigeonhole
    guarantees distance ≤ 3 pairs share a full band, so the join only
    compares same-band candidates (no quadratic pass).
    """
    sig = simhash_signatures(
        documents, id_col=id_col, text_col=text_col, hash_fn=hash_fn
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> struct(b AS band, "
                "shiftright(simhash, b * 16) & 65535 AS key))"
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # both self-join sides read the banded signatures; materialize once so
    # the token explode + 64 weighted-bit sums run a single pass
    bands = cut_lineage(bands)
    a = bands.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "band", "key")
    b = bands.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "band", "key")
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b", F.bit_count(F.expr("ha ^ hb")).cast("long").alias("hamming")
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# ---------------------------------------------------------------- phash


def phash_exact_clusters(hashes: DataFrame) -> DataFrame:
    """Images that are PERCEPTUALLY identical — same 64-bit aHash — as
    one row per hash with more than one member: (b0..b3, n_imgs, keeper).

    Input is ``multimodal.image_ahash`` output.  A single groupBy on the
    four 16-bit band columns: map-side combinable, output bounded by the
    number of distinct hashes, so a million-way perceptual cluster (the
    two-tone corpus images collapse to a handful of hashes by design)
    costs one shuffled row, never a quadratic pair list."""
    return (
        hashes.filter(F.col("ok"))
        .groupBy("b0", "b1", "b2", "b3")
        .agg(
            F.count("*").cast("long").alias("n_imgs"),
            F.min("media_ref").alias("keeper"),
        )
        .filter(F.col("n_imgs") > 1)
    )


def phash_near_pairs(
    hashes: DataFrame,
    max_hamming: int = 8,
    bucket_cap: int = 64,
) -> DataFrame:
    """(ref_a, ref_b, hamming) image pairs whose aHashes differ in 1 to
    ``max_hamming`` of 64 bits — perceptual NEAR-duplicates (exact-equal
    hashes are the bounded ``phash_exact_clusters`` path and are excluded
    here, keeping this output pair-sparse).

    Candidate blocking joins on any equal 16-bit band (pigeonhole: two
    hashes within hamming 8 need not share a band in general, but near
    dups overwhelmingly do; the bound sets the recall contract, exactly
    like MinHash banding).  Bands whose member count exceeds
    ``bucket_cap`` are dropped before the self-join — a band value shared
    by thousands of images (the two-tone hash plateaus) carries no
    discriminative signal and would otherwise explode quadratically at
    catalog scale, the same mega-bucket cap the MinHash-LSH path uses."""
    h = hashes.filter(F.col("ok")).select("media_ref", "b0", "b1", "b2", "b3")
    bands = h.select(
        "media_ref",
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), i -> struct(i AS band, "
                "element_at(array(b0, b1, b2, b3), i + 1) AS key))"
            )
        ).alias("bk"),
    ).select(
        "media_ref", "b0", "b1", "b2", "b3",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    # three consumers (cap rollup + both self-join sides) and the input is
    # the DECODE-backed hash table — materialize the banded frame once so
    # the image pipeline is never re-evaluated per branch
    bands = cut_lineage(bands)
    small = (
        bands.groupBy("band", "key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= bucket_cap)
        .select("band", "key")
    )
    kept = bands.join(small, ["band", "key"])
    a = kept.select(
        "band", "key", F.col("media_ref").alias("ref_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    # the b side stays uncapped: see overlap.capped_overlap for why capping
    # one side of an equi-join on the capped key is exact
    b = bands.select(
        "band", "key", F.col("media_ref").alias("ref_b"),
        *[F.col(f"b{i}").alias(f"x{i}") for i in range(4)],
    )
    ham = sum(
        F.bit_count(F.expr(f"a{i} ^ x{i}")) for i in range(4)
    ).cast("long")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("ref_a") < F.col("ref_b"))
        .select("ref_a", "ref_b", ham.alias("hamming"))
        .distinct()
        .filter((F.col("hamming") >= 1) & (F.col("hamming") <= max_hamming))
    )


# ---------------------------------------------------------------- clusters


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Canonicalization: near-duplicate PAIRS → duplicate CLUSTERS with a
    deterministic keeper per cluster.

    Input: (a, b) candidate/verified pairs from any detector above.
    Output: (doc_id, cluster, is_keeper) for every doc appearing in ≥ 1
    pair; ``cluster`` = the minimum member id (the keeper), so the drop
    list is simply ``WHERE NOT is_keeper``.

    Transitive closure matters: pairs (A,B), (B,C) must yield ONE cluster
    {A,B,C} with keeper A — pairwise keeper-picking would keep both A and B.
    Reuses the large-star/small-star connected-components fixpoint
    (operators/components.py — long-surrogate rounds, localCheckpoint
    lineage), so the closure is O(log²) shuffle rounds at any scale, never
    a driver-side union-find."""
    from .components import connected_components

    # the pair frame usually comes from an expensive detector (banded LSH,
    # verified Jaccard) and is read ~4× below (member union ×2 + the CC
    # edge and node scans) — materialize it once
    pairs = cut_lineage(pairs)
    members = pairs.select(F.col("a").alias("doc_id")).unionAll(
        pairs.select(F.col("b").alias("doc_id"))
    ).distinct()
    cc = connected_components(
        members, pairs.select(F.col("a").alias("subj"), F.col("b").alias("obj"))
    )
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    min_shared: int = 5,
    max_shingle_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination → (train_doc, test_doc, n_shared): every
    (train, test) document pair sharing ≥ ``min_shared`` distinct word
    ``n``-grams — the standard eval-set leakage check run before training
    (n-gram overlap à la GPT-3/C4 decontamination, with document-level
    attribution so the offending train docs can be dropped or audited).

    Scale shape: an inverted index over the TEST side's shingles (the
    small side — eval sets are millions of rows, not 10^12) joined by the
    train side's shingles, then one map-side-combined pair count.  Never
    an all-pairs product.  Shingles appearing in more than
    ``max_shingle_df`` test documents are dropped before the join —
    boilerplate n-grams vouch for nothing and would otherwise fan every
    train doc into every test doc that carries them (same df-cap scheme
    as ``ngram_jaccard_pairs``, with df counted on the test side).
    """
    ts = distinct_shingles(test, n=n, id_col=id_col, text_col=text_col)
    tr = distinct_shingles(train, n=n, id_col=id_col, text_col=text_col)
    return capped_overlap(tr, ts, max_shingle_df, min_count=min_shared).toDF(
        "train_doc", "test_doc", "n_shared"
    )


def duplicated_spans(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated passages → (shingle, n_docs, first_doc):
    every word ``n``-gram appearing in ≥ ``min_docs`` DISTINCT documents,
    with how many and the smallest carrying doc_id for attribution — the
    passage-level signal behind C4-style "drop repeated spans" cleaning
    (document-level dedup misses boilerplate shared across otherwise
    distinct pages; this finds the spans themselves).

    Scale shape: one map-side-combined groupBy over the distinct
    (doc, shingle) stream — count and min are both partial-aggregatable,
    so a shingle appearing in 10^9 docs costs one combine tree, not a
    hot reducer holding raw rows.  The ``min_docs`` filter runs post-agg
    (a HAVING), dropping the long unique tail before any further join.

    Considered and rejected (measured): a hash-count-then-verify plan
    that counts over ``xxhash64(shingle)`` (8-byte shuffle payload) and
    re-verifies survivors by string.  Same-process A/B at sf0.1 /
    local[32]: naive 10.9-15.4 s vs hashed 23.4 s warm — the second
    shingle-generation pass (split + NGram, CPU-bound) costs more than
    the string shuffle saves on a local-disk shuffle.  On a real
    network-shuffle cluster the hashed variant becomes attractive when
    shuffle bytes, not CPU, bound the stage; keep the naive plan until
    that is the measured bottleneck.
    """
    sh = distinct_shingles(documents, n=n, id_col=id_col, text_col=text_col)
    return (
        sh.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def semdedup_prune(
    embeddings: DataFrame,
    n_centroids: int = 8,
    threshold_pct: int = 95,
    max_cluster_size: int = 100_000,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embeddings with a coarse quantizer, compare pairs ONLY
    within a cluster, and prune every member whose cluster holds a
    semantically near-identical representative with a smaller id.

    → (vec_id, cid, is_kept, oversized), one row per input vector.

    Determinism: the coarse quantizer is the IVF data-point codebook
    (first ``n_centroids`` ids as centroids, exact-integer L2 argmin with
    ties to the smaller cid — the same assignment as
    ``similarity.ivf_topk``); the near-identical test is the exact-integer
    cosine (cos ≥ p/100 ⇔ dot > 0 ∧ 10⁴·dot² ≥ p²·|a|²·|b|², decimal
    arithmetic, no float drift); the keeper rule is min-id.  (The paper
    keeps the member FARTHEST from its centroid; min-id is the
    deterministic, oracle-checkable stand-in — swap the keeper ORDER BY
    for centroid distance in production if that bias is wanted.)

    Scale shape: SemDeDup is quadratic within a cluster BY DESIGN (the
    paper runs ~50k clusters over 100M docs, ~2k members each, and the
    codebook count is the knob that keeps it so).  Clusters larger than
    ``max_cluster_size`` are excluded from pairing and flagged
    ``oversized = true`` with every member kept — a loud guard instead of
    a detonating reducer, the same scheme as ``minhash_lsh_pairs``'s
    mega-bucket cap.  The centroid table is broadcast; the cluster sizes
    frame is ≤ ``n_centroids`` rows and broadcast too.
    """
    from .similarity import quantize

    d2 = "aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    norm2 = "aggregate(zip_with(q, q, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    qz = quantize(embeddings, "embedding").select(F.col(id_col).alias("vid"), "q")
    cent = qz.filter(F.col("vid") < n_centroids).select(
        F.col("vid").alias("cid"), F.col("q").alias("cq")
    )
    cells = (
        qz.crossJoin(F.broadcast(cent))
        .withColumn("d2", F.expr(d2))
        .groupBy("vid")
        .agg(F.min(F.struct("d2", "cid")).alias("_m"), F.first("q").alias("q"))
        .select("vid", F.col("_m.cid").alias("cid"), "q")
        .withColumn("n2", F.expr(norm2))
    )
    # four consumers (size rollup, final join, both pairing sides) of the
    # broadcast-scored argmin assignment — materialize it once
    cells = cut_lineage(cells)
    sizes = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("_n"))
    flagged = cells.join(F.broadcast(sizes), "cid").withColumn(
        "oversized", F.col("_n") > max_cluster_size
    )
    small = flagged.filter(~F.col("oversized"))
    a = small.select(
        F.col("vid").alias("a"), "cid", F.col("q").alias("qa"), F.col("n2").alias("na2")
    )
    b = small.select(
        F.col("vid").alias("b"), "cid", F.col("q").alias("qb"), F.col("n2").alias("nb2")
    )
    dot = "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    p2 = threshold_pct * threshold_pct
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pruned = (
        a.join(b, "cid")
        .filter(F.col("b") < F.col("a"))
        .withColumn("dot", F.expr(dot))
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(10000).cast("decimal(38,0)") * dec(F.col("dot")) * dec(F.col("dot"))
                >= F.lit(p2).cast("decimal(38,0)") * dec(F.col("na2")) * dec(F.col("nb2"))
            )
        )
        .select("a")
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    return (
        flagged.join(pruned, flagged["vid"] == pruned["a"], "left")
        .select(
            F.col("vid").alias(id_col),
            "cid",
            F.col("_pruned").isNull().alias("is_kept"),
            "oversized",
        )
    )


def winnow_pairs(
    documents: DataFrame,
    min_shared: int = 2,
    k: int = 4,
    w: int = 5,
    max_fp_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shared-passage candidate pairs from winnowing fingerprints
    (the MOSS pipeline's second half): documents sharing ≥ ``min_shared``
    distinct selected fingerprints, ``a < b``, with each side's total
    fingerprint count so the caller can form containment or Dice scores.
    Because winnowing guarantees every common passage of ≥ w+k-1 tokens
    leaves a shared fingerprint, ``min_shared=1`` is a NO-FALSE-NEGATIVE
    passage-overlap detector; higher thresholds trade recall for noise.

    Output: (a, b, n_shared, n_a, n_b) — all exact integers.

    Scale shape: identical to ``ngram_jaccard_pairs`` but over the
    winnowed ~2/(w+1)-density fingerprint stream instead of every
    shingle — the inverted index is ~3× smaller at w=5 for the same
    guarantee width.  Boilerplate fingerprints above ``max_fp_df``
    document frequency are dropped before the self-join (the standard
    stop-shingle skew cap: one hot fingerprint would otherwise produce
    a quadratic bucket).
    """
    from .textstats import winnow_fingerprints

    # read by the df-cap, both join sides and the sizes — materialize the
    # fingerprints once; the winnowing window scan is the CPU-heavy step
    fp = cut_lineage(
        winnow_fingerprints(documents, k=k, w=w, id_col=id_col, text_col=text_col)
    )
    shared = capped_overlap(fp, fp, max_fp_df, pred="<", min_count=min_shared)
    return attach_sizes(shared, fp, fp).select(
        "a", "b", F.col("n").alias("n_shared"), F.col("sz_a").alias("n_a"),
        F.col("sz_b").alias("n_b"),
    )


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    min_inter: int = 2,
    max_shingle_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection — shingle containment
    (Broder 1997's other resemblance measure): → (a, b, inter, sza, szb)
    for every ORDERED pair a ≠ b with |S(a) ∩ S(b)| ≥ threshold·|S(a)|,
    i.e. document a is (nearly) CONTAINED in document b.  Jaccard misses
    these when b is much larger — a quoted passage, a doc embedded in an
    anthology, a prompt wrapped in boilerplate — which is exactly the
    train-set leakage shape symmetric dedup passes over.  Counts are
    exact integers; containment = inter/sza is the caller's one float.

    Scale shape: identical inverted-index discipline to
    ``ngram_jaccard_pairs`` — candidates come ONLY from the shingle
    index (never all-pairs), boilerplate shingles are df-capped, the
    intersection is one map-side-combined count, and the two size
    attaches are key-partitioned joins.  The ordered output is the same
    pair set materialized both ways, a 2× constant, not a new asymptotic
    term."""
    sh = cut_lineage(
        distinct_shingles(documents, n=n, id_col=id_col, text_col=text_col)
    )
    inter = capped_overlap(sh, sh, max_shingle_df, pred="!=", min_count=min_inter)
    # compare the ratio: the product threshold * sz_a rounds in double
    # (0.14 * 50 = 7.000000000000001) and drops exact-boundary pairs, while
    # the rounded quotient is monotone in the exact ratio
    return (
        attach_sizes(inter, sh, sh)
        .filter(F.col("n") / F.col("sz_a") >= threshold)
        .select("a", "b", F.col("n").alias("inter"),
                F.col("sz_a").alias("sza"), F.col("sz_b").alias("szb"))
    )


def incremental_jaccard_pairs(
    base: DataFrame,
    batch: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_shingle_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INCREMENTAL dedup — the production ingest shape: near-duplicate
    pairs between an INCOMING ``batch`` and the EXISTING ``base`` corpus
    only, → (batch_id, base_id, jaccard).  The base never re-pairs with
    itself: ingesting a daily batch into a 10^12-document corpus must
    cost O(batch × index probe), not a full-corpus self-join — this is
    what dd_ngram_jaccard becomes once the corpus is too big to re-scan
    per ingest.

    Scale shape: the base side is the shingle inverted index a
    production deployment maintains (df-capped on the BASE distribution,
    the stable one); the batch side probes it with one key-partitioned
    equi-join, and the intersection count + two size attaches are the
    same map-side-combined aggs as the batch-free version.  Nothing here
    is quadratic in either side.

    The base index is read three times (df-cap, probe join, sizes) and
    shingling is the CPU-heavy step, so it is cut once per call — the
    same materialization as ``ngram_jaccard_pairs``.  Nothing is cached
    across calls: the cut belongs to the returned frame's lineage (Spark's
    context cleaner drops it once that frame is garbage), so repeated
    ingests leave no cache-manager entry behind."""
    shb = cut_lineage(
        distinct_shingles(base, n=n, id_col=id_col, text_col=text_col)
    )
    shq = distinct_shingles(batch, n=n, id_col=id_col, text_col=text_col)
    pairs = capped_overlap(shq, shb, max_shingle_df)
    return jaccard_at_least(attach_sizes(pairs, shq, shb), threshold).toDF(
        "batch_id", "base_id", "jaccard"
    )


def bloom_membership(
    base: DataFrame,
    batch: DataFrame,
    m_bits: int = 2048,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter membership PRE-SCREEN for incremental ingest — the
    sub-linear sketch a 100 TB pipeline probes before any exact check:
    the base corpus sets ``k`` md5-derived bit positions (mod ``m_bits``)
    per document; an incoming batch document is a duplicate CANDIDATE
    iff every one of its own positions is set.  Classic guarantee: no
    false negatives (every true member is a candidate — pytest-pinned),
    tunable false positives (≈ (1−e^(−kn/m))^k).

    → one row per batch doc: (doc_id, n_positions [distinct bit
    positions, ≤ k after collisions], n_hits, is_candidate, is_member)
    where ``is_member`` is the exact md5(text) ground truth, so the
    sketch's precision is auditable from the same frame.

    Scale shape: the bit SET is ``≤ min(m_bits, k·|base|)`` rows —
    broadcast-joined against the batch's exploded positions (never the
    base corpus itself); one map-side-partial per-doc agg.  At real
    scale m_bits grows to 2^30+ and the broadcast becomes a shuffle
    join on the position key — same plan shape, no new operator.  All
    hashing is md5-prefix integer arithmetic (first 8 hex chars → 32-bit
    int), reproducible in any engine."""

    def _positions(df: DataFrame, out_id: str) -> DataFrame:
        arr = (
            "array("
            + ", ".join(
                f"pmod(CAST(conv(substring(md5(concat({text_col}, '#bloom{i}')),"
                f" 1, 8), 16, 10) AS BIGINT), {int(m_bits)})"
                for i in range(int(k))
            )
            + ")"
        )
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.expr(f"array_distinct({arr})")).alias("pos"),
        )

    base_bits = _positions(base, "b_id").select("pos").distinct()
    batch_pos = _positions(batch, "doc_id")
    hits = (
        batch_pos.join(
            F.broadcast(base_bits.withColumn("_set", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_positions"),
            F.sum(F.coalesce(F.col("_set"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
    )
    members = (
        batch.select(F.col(id_col).alias("doc_id"), F.md5(text_col).alias("_h"))
        .join(
            base.select(F.md5(text_col).alias("_h")).distinct(),
            "_h",
            "left_semi",
        )
        .select("doc_id", F.lit(True).alias("_m"))
    )
    return (
        hits.join(members, "doc_id", "left")
        .select(
            "doc_id",
            "n_positions",
            "n_hits",
            (F.col("n_hits") == F.col("n_positions")).alias("is_candidate"),
            F.coalesce("_m", F.lit(False)).alias("is_member"),
        )
    )
