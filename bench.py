"""Benchmark harness — prints ONE JSON line.

Headline: the full KG-construction pipeline (span documents → tokenize →
entity-link → edge triples) on the generated vault corpus at the target sf,
plus the heavy auxiliary operators (analytics, CC, minhash dedup, text
quality) and the light driver-table queries.

Env:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1) — sf taken from basename
  SPARK_GRAFT_CPUS    (default 32)                   — local[N]
  BENCH_QUERIES       (optional comma list)          — subset to run
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F


def _spin_calib() -> float:
    """Host-speed probe: seconds for a fixed single-thread spin loop (same
    workload as bench_scaling's hardware control).  Reported alongside the
    timings so a cross-round comparison can tell 'code got slower' from
    'the VM was in a CPU-steal window' (documented swings: 3-4× for
    minutes at a stretch).  Min of two runs; ~0.5-2 s when quiet."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        n = 0
        for i in range(30_000_000):
            n += i * i
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _spin_worker(_arg) -> float:
    t0 = time.perf_counter()
    n = 0
    for i in range(30_000_000):
        n += i * i
    return time.perf_counter() - t0


def _spin_calib_par(procs: int = 8) -> float | None:
    """PARALLEL host-speed probe: ``procs`` forked processes spin the same
    loop concurrently; reported value is the SLOWEST of them.  This
    sandbox has a degradation mode the single-thread probe cannot see —
    single-thread spins stay ~1.3-1.4 s while 32-thread JVM stages run
    3-4× their quiet-window times for minutes at a stretch (observed
    r5: dd_minhash_vault 23 s vs 5 s minutes apart with calib_spin_sec
    flat).  A parallel probe inside the same window IS elevated, so the
    pair (calib_spin_sec, calib_par_sec) separates 'code got slower'
    from 'the host's multi-core throughput was degraded'.  Quiet-window
    value ≈ the single-thread number (~1.3 s); degraded windows read
    2-4× that."""
    import multiprocessing as mp

    try:
        with mp.get_context("fork").Pool(procs) as pool:
            times = pool.map(_spin_worker, range(procs))
        return round(max(times), 3)
    except Exception:
        return None  # probe must never break the bench (None: valid JSON)


def _membw_calib() -> float | None:
    """Memory-BANDWIDTH probe (GB/s, single stream over a 100 MB array).
    The r5 forensics found a host mode NEITHER spin probe flags: all 32
    vCPUs run 96% user with zero steal/GC/pressure, arithmetic spins stay
    flat, yet allocation/string-heavy JVM stages (the NGram shingle
    stages) run 3-4× their quiet-window times for minutes — i.e. the
    hypervisor's memory subsystem is contended, not its cpus.  A streaming
    sum is bound by exactly that resource, so a low reading here marks the
    window.  The array is written before timing: an untouched
    ``np.zeros`` maps every page to the kernel's shared zero page, so the
    sum would read one cached page, not DRAM (4-CPU Xeon VM: 21.6 GB/s
    untouched vs 9.8 GB/s written).  The quiet/contended readings quoted
    from earlier rounds (60-80 vs 13-40 GB/s, 32 vCPUs) predate that fix,
    so the quiet threshold must be re-derived from fixed readings."""
    try:
        import numpy as np
    except Exception:
        return None
    a = np.zeros(100_000_000 // 8, dtype=np.int64)
    a.fill(1)
    best = 0.0
    for _ in range(2):
        t0 = time.perf_counter()
        s = 0
        for _r in range(5):
            s += a.sum()
        best = max(best, 5 * a.nbytes / (time.perf_counter() - t0) / 1e9)
    return round(best, 1)


def main() -> None:
    # host-speed probe BEFORE any Spark work; a second probe runs after the
    # last stage — a start/end pair that diverges flags a window where the
    # host degraded MID-RUN (observed: start calib ~1.9 s while stages ran
    # 2-3x their quiet-window times, then the end probe confirmed ~3.5 s)
    calib_start = _spin_calib()
    calib_par_start = _spin_calib_par()
    calib_membw_start = _membw_calib()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    only = set(
        q for q in os.environ.get("BENCH_QUERIES", "").split(",") if q
    )
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    sf = float(sf_name.removeprefix("sf"))

    from obsidian_parser_spark.operators import analytics as A
    from obsidian_parser_spark.operators import dedup as DD
    from obsidian_parser_spark.operators import events as EV
    from obsidian_parser_spark.operators import similarity as SIM
    from obsidian_parser_spark.operators import textstats as TS
    from obsidian_parser_spark.operators.components import (
        component_count,
        connected_components,
    )
    from obsidian_parser_spark.operators.sampling import domain_mixture
    from obsidian_parser_spark.operators.tokenize import reconstruct_text
    from obsidian_parser_spark.plans.pipeline import GraphBuildOptions, build_graph
    from obsidian_parser_spark.session import get_spark
    from obsidian_parser_spark.sources.corpus import ensure_vault_corpus

    corpus_path = ensure_vault_corpus(sf_name)  # cached; excluded from timings

    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=f"bench-{sf_name}",
        shuffle_partitions=cpus * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    samples: dict[str, list] = {}
    extras: dict[str, float] = {}
    n_passes = max(1, int(os.environ.get("BENCH_REPEAT", "3")))

    def timed(name: str, fn, repeat: int = 1):
        """Record min time across calls.  Host CPU-steal on this sandbox
        swings identical runs 3-4× for minutes at a stretch, so noise
        suppression is layered: ``repeat`` re-runs a PURE query back-to-back
        (same work each run; cache-populating stages must stay repeat=1 —
        their second run would just read the cache), and the WHOLE pipeline
        runs ``BENCH_REPEAT`` passes (caches cleared between) with per-query
        minima kept across passes, so one slow phase doesn't poison the
        report.  Inner repeat is skipped when outer passes already sample
        each query multiple times."""
        if only and name not in only:
            return None
        best, out = timings.get(name), None
        for _ in range(repeat if n_passes == 1 else 1):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            samples.setdefault(name, []).append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        return out

    # balanced input partitions: the zstd span parquet is tiny on disk, so
    # file-split sizing would under-parallelize; one explicit repartition
    # feeds every core (on a cluster: bucketed table layout instead)
    def _read_docs():
        return spark.read.parquet(corpus_path).repartition(cpus * 3).persist()

    docs = _read_docs()
    n_docs = docs.count()

    # warm the Python workers once (interpreter spawn + pandas/yaml imports
    # cost ~2s × worker — a long-lived cluster amortizes this; we measure
    # steady-state throughput and report the warmup separately)
    def _warm():
        import pandas as pd

        def noop(it):
            from obsidian_parser_spark.functions import textops  # noqa: F401

            for pdf in it:
                yield pd.DataFrame({"doc_id": pdf["doc_id"]})

        docs.select("doc_id").mapInPandas(noop, "doc_id string").count()

    timed("py_worker_warmup", _warm)

    # scale mode (bench_scaling.py): the identical end-to-end pipeline
    # (tokenize → persist → link → edge count, exactly what
    # materialize_graph runs) twice from cold caches, min taken — a
    # steady-state strong-scaling measurement
    if os.environ.get("BENCH_SCALE_MODE"):
        # the at-scale configuration: no driver-side broadcast (the alias
        # dict of a 10^12-doc vault cannot broadcast), notes CACHED — the
        # edge plan consumes the tokenize stage three times (dict side,
        # mention side, tag-triple branch), so an uncached run pays the
        # Python stage 3× (measured 155 s vs 45 s at sf1 local[32]); a real
        # pipeline materializes that stage exactly once (plans/materialize
        # writes it).  Timing includes the cache population.  Two runs from
        # cold caches, min = steady state (run 1 pays JIT + allocator
        # growth).
        runs = []
        triples = 0
        opts = GraphBuildOptions(persist_notes=True, broadcast_dict=False)
        for i in range(2):
            if i:
                spark.catalog.clearCache()
                docs = _read_docs()
                docs.count()
            gg = build_graph(docs, opts)
            t0 = time.perf_counter()
            triples = gg.edges.count()
            runs.append(time.perf_counter() - t0)
        best = round(min(runs), 3)
        print(
            json.dumps(
                {
                    "metric": "kg_pipeline_run",
                    "value": best,
                    "unit": "sec",
                    "queries": {"kg_pipeline_run": best, "runs": [round(r, 3) for r in runs]},
                    "sf": sf,
                    "n_docs": n_docs,
                    "triples": triples,
                    "triples_per_sec": round(triples / best, 1),
                    "cpus": cpus,
                }
            )
        )
        spark.stop()
        return

    for _pass in range(n_passes):
        if _pass:
            # fresh pass: drop every cache so stage timings re-measure the
            # real work, then re-warm the input and workers (both timed
            # again; minima survive)
            spark.catalog.clearCache()
            docs = _read_docs()
            docs.count()
            timed("py_worker_warmup", _warm)

        # build_graph's auto broadcast decision counts the alias dict, which
        # materializes the tokenize stage — so the BUILD CALL is the
        # tokenize+dict timing, and the edge count is the link timing
        built = {}

        def kg_tokenize():
            built["g"] = build_graph(docs, GraphBuildOptions())
            built["g"].nodes.count()

        timed("kg_tokenize", kg_tokenize)
        if "g" not in built:
            # BENCH_QUERIES filtered the build out — run it untimed;
            # downstream queries still need the graph
            built["g"] = build_graph(docs, GraphBuildOptions())
        g = built["g"]
        edges = g.edges.persist()  # the materialized edge table
        g = type(g)(
            nodes=g.nodes, edges=edges, dangling=g.dangling, alias_dict=g.alias_dict
        )

        def kg_build():
            n = edges.count()
            extras["triples"] = n
            return n

        timed("kg_build_edges", kg_build)
        timed("kg_backlinks", lambda: A.backlink_counts(g.edges).count(), repeat=2)
        timed(
            "kg_analytics",
            lambda: (
                A.knowledge_hub(g.edges).collect(),
                A.duplicates_by_content(g.nodes).count(),
                A.orphans(g.nodes, g.edges).count(),
            ),
            repeat=2,
        )
        timed(
            "kg_components",
            lambda: component_count(
                connected_components(g.nodes, A.link_edges(g.edges))
            ).collect(),
            repeat=2,
        )

        # round-4 operator families over the SAME materialized edge table
        # (new keys — excluded from cross-round total comparisons before
        # r04; see BENCH/BASELINE.md)
        from obsidian_parser_spark.operators import graph_metrics as GM
        from obsidian_parser_spark.operators.walks import deterministic_walks

        timed(
            "kg_triangles",
            lambda: GM.triangle_counts(A.link_edges(g.edges))
            .agg(F.sum("n_triangles"))
            .collect(),
            repeat=2,
        )
        timed(
            "kg_walks",
            lambda: deterministic_walks(A.link_edges(g.edges), n_steps=3)
            .groupBy("step")
            .count()
            .collect(),
            repeat=2,
        )

        from obsidian_parser_spark.operators import linking as LK

        timed(
            "kg_mentions",
            lambda: LK.unlinked_mentions(
                docs, g.alias_dict, g.edges.filter(F.col("pred") != "tagged")
            )
            .agg(F.sum("n_mentions"))
            .collect(),
            repeat=2,
        )

        # reconstruct once, cache, and time the materialization as its own
        # stage — the dd/ts stages below then measure OPERATOR cost, not a
        # repeated per-query text reconstruction (mirrors the materialize
        # plan, which writes the reconstructed text exactly once)
        vault_text = (
            reconstruct_text(docs)
            .select(F.col("doc_id").alias("doc_id"), F.col("content").alias("text"))
            .persist()
        )
        timed("ts_reconstruct", lambda: vault_text.count())
        # aggregates over the computed columns — a bare count() would let
        # Catalyst prune the actual work
        timed(
            "dd_minhash_vault",
            lambda: DD.minhash_lsh_pairs(
                vault_text, k=8, bands=4, id_col="doc_id", hash_fn="xxh"
            ).count(),
            repeat=2,
        )
        timed(
            "ts_quality_vault",
            lambda: TS.quality_scores(vault_text).agg(F.sum("quality")).collect(),
            repeat=2,
        )
        # one pass of both published-ruleset filters; summing `keep` (which
        # depends on every rule column) + one ratio keeps Catalyst from
        # pruning the feature computation away
        timed(
            "ts_gopher_c4_vault",
            lambda: (
                TS.gopher_rules(vault_text)
                .agg(
                    F.sum(F.col("keep").cast("long")), F.sum("alpha_bp")
                )
                .collect(),
                TS.c4_line_stats(vault_text)
                .agg(
                    F.sum(F.col("keep").cast("long")), F.sum("cleaned_chars")
                )
                .collect(),
            ),
            repeat=2,
        )
        # skew-free two-phase prefix sum: domain token-budget mixing over
        # the full vault (selected count + max cum force both phases)
        timed(
            "ts_mixture_vault",
            lambda: domain_mixture(
                vault_text.select(
                    "doc_id",
                    F.expr(
                        "size(filter(split(text, '\\\\s+'), x -> x != ''))"
                    ).cast("long").alias("n_tokens"),
                ),
                rate_bp=2500,
            )
            .agg(F.sum(F.col("selected").cast("long")), F.max("cum_tokens"))
            .collect(),
            repeat=2,
        )
        timed(
            "ts_fingerprint_vault",
            lambda: TS.fingerprints(vault_text).agg(F.sum("fingerprint")).collect(),
            repeat=2,
        )
        timed(
            "dd_dupspans_vault",
            lambda: DD.duplicated_spans(vault_text, n=8, min_docs=2)
            .agg(F.sum("n_docs"))
            .collect(),
            repeat=2,
        )
        # BPE training runs on the count-weighted VOCABULARY after one
        # corpus pass — the stage times the corpus collapse + 4 argmax/
        # merge rounds (each a map-side-combined agg + 1-row TakeOrdered)
        timed(
            "ts_bpe_vault",
            lambda: TS.bpe_merges(vault_text, n_merges=4)
            .agg(F.sum("n"))
            .collect(),
            repeat=2,
        )

        # markdown structure extraction over the same cached text (r04):
        # heading outline + inline fields, pure JVM line regexps
        from obsidian_parser_spark.operators import structure as ST

        vault_content = vault_text.select(
            "doc_id", F.col("text").alias("content")
        )
        timed(
            "kg_structure_vault",
            lambda: (
                ST.outline(vault_content).agg(F.sum("level")).collect(),
                ST.inline_fields(vault_content).count(),
            ),
            repeat=2,
        )
        # incremental ingest dedup (r04): the dup/ companion docs play the
        # incoming batch probing the base corpus' shingle index
        timed(
            "dd_incremental_vault",
            lambda: DD.incremental_jaccard_pairs(
                vault_text.filter(~F.col("doc_id").startswith("dup/")),
                vault_text.filter(F.col("doc_id").startswith("dup/")),
                id_col="doc_id",
            ).count(),
            repeat=2,
        )

        # driver-table queries (small, fixed size — latency floor); only
        # when the sf_dir carries the driver tables (vault-only sfs don't)
        if os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
            timed(
                "ann_topk",
                lambda: SIM.brute_force_topk(emb, k=10, n_queries=10)
                .agg(F.sum("score"))
                .collect(),
                repeat=2,
            )
            timed(
                "ann_kmeans",
                lambda: SIM.kmeans_assign(emb, k=8, n_iter=4)
                .agg(F.sum("d2"))
                .collect(),
                repeat=2,
            )
            # new stage NAME (not a redefinition of r4's "ann_pq"): the PQ
            # family moved to the structured corpus + m=4/k_cb=16 codebook
            # in r5, so the old key would silently compare unlike work.
            timed(
                "ann_pq_structured",
                lambda: SIM.pq_topk(
                    SIM.structured_embeddings(emb, dim=64),
                    dim=64, m=4, k_cb=16, n_iter=4,
                )
                .agg(F.sum("adc_d2"))
                .collect(),
                repeat=2,
            )
            ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            timed(
                "ev_sessionize",
                lambda: EV.sessionize(ev).agg(F.sum("value_cents")).collect(),
                repeat=2,
            )

    total = round(
        sum(v for k, v in timings.items() if k != "py_worker_warmup"), 3
    )
    # generalized like-for-like line (VERDICT r4 item 8): sum THIS run's
    # timings over exactly the stage set the newest BENCH_r*.json ran, so
    # every round's artifact carries its own prev-round comparison even as
    # stages are added or renamed.
    prev_round, prev_stages = None, None
    import glob as _glob
    import re as _re

    for f in _glob.glob(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")
    ):
        m = _re.search(r"BENCH_r0*(\d+)\.json$", f)
        if m and (prev_round is None or int(m.group(1)) > prev_round):
            try:
                with open(f) as fh:
                    d = json.load(fh)
                # driver artifacts wrap the bench line under "parsed"
                d = d.get("parsed", d) or {}
                prev_stages = set(d.get("queries") or {})
                prev_round = int(m.group(1))
            except (OSError, json.JSONDecodeError):
                pass
    comparable = (
        round(
            sum(
                v
                for k, v in timings.items()
                if k != "py_worker_warmup" and k in prev_stages
            ),
            3,
        )
        if prev_stages
        else None
    )
    # r04 added stages (kg_triangles, kg_walks, dd_dupspans_vault); this
    # sums only the pre-r04 stage set so cross-round totals stay
    # like-for-like
    _new_r04 = {
        "kg_triangles",
        "kg_walks",
        "dd_dupspans_vault",
        "kg_mentions",
        "ts_bpe_vault",
        "ann_kmeans",
        "kg_structure_vault",
        "dd_incremental_vault",
        "ann_pq",
    }
    total_legacy = round(
        sum(
            v
            for k, v in timings.items()
            if k != "py_worker_warmup" and k not in _new_r04
        ),
        3,
    )
    build_t = timings.get("kg_tokenize", 0.0) + timings.get("kg_build_edges", 0.0)
    calib = _spin_calib()
    calib_par = _spin_calib_par()
    calib_membw = _membw_calib()
    # cross-sample spread per stage (max/min over all passes+repeats): a
    # stage with spread ≥2 saw a contended window mid-run — its min is
    # the honest number, and the spread documents why a single-shot
    # comparison against this artifact could mislead.
    spread = {
        k: round(max(v) / max(min(v), 1e-9), 2)
        for k, v in samples.items()
        if len(v) > 1
    }
    result = {
        "metric": "kg_pipeline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "triples": int(extras.get("triples", 0)),
        "triples_per_sec": round(extras.get("triples", 0) / build_t, 1)
        if build_t
        else None,
        "cpus": cpus,
        "calib_spin_sec": calib,
        "calib_spin_start_sec": calib_start,
        "calib_par_sec": calib_par,
        "calib_par_start_sec": calib_par_start,
        "calib_membw_gbps": calib_membw,
        "calib_membw_gbps_start": calib_membw_start,
        "stage_spread": spread,
        "total_pre_r04_stages": total_legacy,
        "comparable_to_prev_round_sec": comparable,
        "comparable_prev_round": prev_round,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
