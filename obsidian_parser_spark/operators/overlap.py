"""Capped inverted-index overlap: the one candidate generator behind the
shared-key pair operators (n-gram Jaccard, containment, winnowing,
contamination, incremental dedup, bibliographic coupling, co-citation,
common-neighbour link prediction, fuzzy link suggestions).

Every such operator reduces its inputs to ``(id, key)`` rows — a doc and
one of its distinct shingles, a note and one of its link targets — and
asks which id pairs share keys, and how many.  Candidates come only from
the key join (never an all-pairs product), and keys carried by more than
``cap`` ids are dropped first: a key shared by everything vouches for no
particular pair, and one hot key would make the join quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PREDS = {"<": "a < b", "!=": "a != b"}


def capped_overlap(
    probe: DataFrame,
    index: DataFrame,
    cap: int,
    *,
    pred: str | None = None,
    min_count: int = 1,
) -> DataFrame:
    """→ (a, b, n): id pairs sharing ``n ≥ min_count`` keys, ``a`` from
    ``probe`` and ``b`` from ``index``, counting only keys whose document
    frequency on ``index`` is at most ``cap``.

    Both inputs are two-column ``(id, key)`` frames, read positionally;
    each ``(id, key)`` row should be distinct, so ``n`` counts distinct
    shared keys.  A self-join passes the same frame twice.  ``pred``
    restricts pairs to ``a < b`` (``"<"``, unordered self pairs),
    ``a != b`` (``"!="``, ordered self pairs) or leaves them all (``None``).

    Plan: one ``groupBy(key)`` count on ``index`` gives the capped key set;
    ``probe`` is inner-joined to it, then to the UNCAPPED ``index`` on the
    key, and the pair count is one map-side-combined ``groupBy(a, b)``.

    Capping one side is exact.  The cap is a predicate on the key alone,
    and both sides of the equi-join carry the same key, so filtering
    either side — or both — keeps exactly the joined rows whose key passes
    it: an uncapped ``index`` row for a dropped key meets no probe row.
    Capping only the probe saves the index a second exchange and join.
    """
    pid, pkey = probe.columns
    i = index.toDF("b", "key")
    keep = (
        i.groupBy("key")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= cap)
        .select(F.col("key").alias(pkey))
    )
    # rename after the cap join: renaming first puts an extra Project
    # between the probe's own projection and the join
    p = probe.join(keep, pkey).select(
        F.col(pid).alias("a"), F.col(pkey).alias("key")
    )
    joined = p.join(i, "key")
    if pred is not None:
        joined = joined.filter(_PREDS[pred])
    pairs = joined.groupBy("a", "b").agg(F.count("*").alias("n"))
    return pairs.filter(F.col("n") >= min_count) if min_count > 1 else pairs


def attach_sizes(pairs: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
    """Adds ``sz_a`` (rows of ``a`` in ``left``) and ``sz_b`` (rows of
    ``b`` in ``right``) to an ``(a, b, …)`` pair frame.  ``left`` and
    ``right`` are the uncapped ``(id, key)`` frames the pairs came from,
    so the sizes are the full key-set sizes, whatever the cap dropped."""

    def sizes(frame: DataFrame, id_name: str, sz_name: str) -> DataFrame:
        return (
            frame.toDF(id_name, "key")
            .groupBy(id_name)
            .agg(F.count("*").alias(sz_name))
        )

    return pairs.join(sizes(left, "a", "sz_a"), "a").join(
        sizes(right, "b", "sz_b"), "b"
    )


def jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(a, b, jaccard) for the rows of an ``attach_sizes`` frame whose
    Jaccard ``n / (sz_a + sz_b − n)`` is at least ``threshold``; jaccard
    is rounded to 6 places after the test."""
    j = F.col("n") / (F.col("sz_a") + F.col("sz_b") - F.col("n"))
    return (
        pairs.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
