"""Lineage cuts and the one fixpoint driver.

Every iterative operator materializes intermediate frames to cut lineage —
otherwise round N's plan contains rounds 0..N-1.  ``cut_lineage(df)`` uses
reliable ``checkpoint()`` when the session has a checkpoint dir (blocks in
HDFS/S3/DBFS survive executor loss), else ``localCheckpoint()`` (executor
blocks: fast, fine on ``local[*]``, but on a cluster a lost executor kills
the job mid-fixpoint).  A cluster deployment opts in with ONE line,
``spark.sparkContext.setCheckpointDir("s3://bucket/checkpoints")``.  Both
are EAGER, which callers rely on: a lazily cached frame referenced from two
sides of a self-join races its own cache population.

``fixpoint(df, step, max_rounds, name)`` is the one run-until-nothing-
changes loop (connected components, k-core, BFS).  Each round cuts
``step(df, round)``, collects (rows, xxhash64-sum) on that same action,
logs one INFO line (name, round, rows, checksum, seconds), and stops at
the first round whose checksum equals the previous round's.  At the cap it
raises ``FixpointNotConverged`` — never a silently truncated answer —
unless ``raise_at_cap=False`` because the cap IS the contract (BFS
depth).  Fixed-round operators (PageRank, HITS, LPA, SSSP, walks) stay
plain loops: a checksum early stop would make their bit-exact output only
probably exact.
"""

from __future__ import annotations

import logging
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


class FixpointNotConverged(RuntimeError):
    """A fixpoint reached its round cap before two rounds agreed."""


def has_reliable_checkpoint(df: DataFrame) -> bool:
    """True iff the owning session has a reliable checkpoint dir set."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage — reliable
    ``checkpoint()`` when a checkpoint dir is configured, else
    ``localCheckpoint()``.  Eager in both modes."""
    if has_reliable_checkpoint(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _cut_with_checksum(df: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Cut ``df`` and return it with (rows, xxhash64-sum over all
    columns), collected DURING the checkpoint action via ``Observation``
    — no separate aggregation job (measured on CC at sf0.1: one fewer job
    per round, ~5% faster round loop)."""
    obs = Observation()
    cut = cut_lineage(
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        )
    )
    m = obs.get
    return cut, (int(m["n"]), int(m["h"]))


def fixpoint(
    df: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    name: str,
    *,
    raise_at_cap: bool = True,
) -> DataFrame:
    """Iterate ``df = cut(step(df, round))`` for round = 1, 2, ... and
    return the first round's frame whose (rows, checksum) equals the
    previous round's.  ``df`` should already be materialized.  For a state
    that only shrinks (k-core) or only grows (BFS), equal row counts alone
    mean equal sets.  After ``max_rounds`` rounds raises
    ``FixpointNotConverged``, or returns the last frame if not
    ``raise_at_cap``."""
    prev = cur = None
    for rnd in range(1, max_rounds + 1):
        t0 = time.perf_counter()
        prev, (df, cur) = cur, _cut_with_checksum(step(df, rnd))
        log.info(
            "fixpoint %s round=%d rows=%d checksum=%d seconds=%.3f",
            name, rnd, cur[0], cur[1], time.perf_counter() - t0,
        )
        if cur == prev:
            return df
    if raise_at_cap:
        raise FixpointNotConverged(
            f"{name} did not converge within max_rounds={max_rounds} rounds "
            f"(last two (rows, checksum): {prev} -> {cur}); raise the cap"
        )
    return df
