"""Knowledge-graph engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload build --seed 1 --seconds 1 --trace 0

Run from the repository root.  Workloads: build (batch build + stream
ingest), analyze (graph queries + text curation); see README.md.  The
engine runs on ``local[4]`` with a fixed 1.5 GB driver heap; all inputs,
outputs and Spark scratch files live under ``.bench_work/``.

With ``--trace 0`` the last stdout line is the end-to-end result; with
``--trace 1`` it is the per-layer result of a separate traced run.  Every
output is checked against an oracle; a mismatch exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "1536m"
SETUP_READS = 3
DEADLINE_S = 170  # a run that has not finished by then is killed, exit 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}

# name → unit; BENCHMARK.json lists the same names
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "session.warmup_s": "s",
    "functions.textops.tokenize_batch_docs_per_s": "docs/s",
    "operators.tokenize.tokenize_s": "s",
    "operators.tokenize.jobs": "count",
    "operators.linking.alias_dict_s": "s",
    "operators.linking.alias_dict_rows": "count",
    "operators.linking.resolve_s": "s",
    "operators.linking.triples": "count",
    "operators.linking.dangling": "count",
    "plans.materialize.write_s": "s",
    "plans.materialize.bytes_written": "bytes",
    "plans.materialize.files_written": "count",
    "plans.pipeline.build_graph_s": "s",
    "operators.analytics.backlinks_s": "s",
    "operators.analytics.hub_s": "s",
    "operators.analytics.dup_content_s": "s",
    "operators.analytics.orphans_s": "s",
    "operators.components.cc_s": "s",
    "operators.components.cc_jobs": "count",
    "operators.components.cc_tasks": "count",
    "operators.components.n_components": "count",
    "operators.graph_metrics.triangles_s": "s",
    "operators.graph_metrics.triangles_jobs": "count",
    "operators.walks.walks_s": "s",
    "operators.linking.unlinked_mentions_s": "s",
    "operators.linking.unlinked_mentions_jobs": "count",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.minhash_pairs": "count",
    "operators.dedup.dupspans_s": "s",
    "operators.dedup.incremental_s": "s",
    "operators.dedup.incremental_pairs": "count",
    "operators.dedup.jobs": "count",
    "operators.textstats.quality_s": "s",
    "streaming.incremental.add_batch_p50_s": "s",
    "streaming.incremental.bookkeeping_p50_s": "s",
    "streaming.incremental.jobs_per_epoch": "count",
    "streaming.incremental.epochs": "count",
    "streaming.incremental.edges_written": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "cache.persisted_rdds_delta": "count",
    "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "analyze"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="every corpus at sf0.001 (self-test)")
    p.add_argument(
        "--corrupt", action="store_true",
        help="alter every output digest before comparing (self-test: must fail)",
    )
    return p.parse_args(argv)


class Ctx:
    """What every workload needs from the run."""

    def __init__(self, args, spark, work: str, start_s: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = args.seed
        self.corrupt = args.corrupt
        self.start_s = start_s  # session start, part of setup_s


def start_session(work: str):
    from obsidian_parser_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        master=f"local[{CPUS}]",
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: GC pacing and resident size do not
            # depend on when the heap happened to grow
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}"
            ),
        },
    )


def tokenize_batch_rate(spark, corpus: str) -> float:
    """``functions.textops.tokenize_batch`` on a 4096-doc pandas frame in
    this process (Spark only builds the frame): median docs/s of 3 calls."""
    import pandas as pd

    from obsidian_parser_spark.functions.textops import tokenize_batch
    from obsidian_parser_spark.operators.tokenize import reconstruct_text

    pdf = reconstruct_text(spark.read.parquet(corpus)).limit(4096).toPandas()
    pdf = pd.concat([pdf] * -(-4096 // len(pdf)), ignore_index=True).head(4096)
    rates = []
    for _ in range(3):
        t = time.perf_counter()
        tokenize_batch(pdf)
        rates.append(len(pdf) / (time.perf_counter() - t))
    return statistics.median(rates)


def measure(args, ctx):
    """Set up, then run repetitions until ``args.seconds`` have passed.

    Returns (end-to-end metrics, per-layer metrics, end-to-end report,
    problems, operation tally)."""
    from tracing import Tracer, persisted_rdd_ids, reset_peak_rss, tree_peak_rss_mb
    from workloads import WORKLOADS, span_times

    wl = WORKLOADS[args.workload](ctx, sf="sf0.001" if args.tiny else None)
    off, tr = Tracer(ctx.sc, False), Tracer(ctx.sc, args.trace == 1)
    problems: list[str] = []
    tally = {"attempted": 0, "failed": 0}

    def account(bad: list[str], n_ops: int) -> None:
        tally["attempted"] += n_ops
        tally["failed"] += min(n_ops, len(bad))
        problems.extend(bad)

    now = time.perf_counter
    wl.prepare()  # inputs and expected outputs: outside every metric
    wl.expect()
    reset_peak_rss()

    reads = []
    for i in range(SETUP_READS):
        if i:
            ctx.spark.catalog.clearCache()
        t = now()
        wl.load()
        reads.append(now() - t)
    t = now()
    wl.build(tr)
    build_s = now() - t
    t = now()
    wl.warmup(off)
    warm_s = now() - t
    account(wl.check_setup(), 0)

    # a traced run alternates untraced and traced repetitions, untraced
    # first, so the traced one runs as warm as the untraced one it is
    # compared with; a third repetition would not fit the time budget
    walls = {False: [], True: []}  # traced? → repetition wall times
    rdd_delta = None
    first_traced = None
    start, i = now(), 0
    while True:
        traced = args.trace == 1 and i % 2 == 1
        t_ = tr if traced else off
        wl.reset()
        if traced:
            before = persisted_rdd_ids(ctx.sc)
        try:
            t = now()
            with t_.span("rep", spark_work=False) as root:
                out = wl.rep(t_)
            wall = now() - t
            if traced and rdd_delta is None:
                # persisted RDDs the repetition created and still holds
                rdd_delta = len(persisted_rdd_ids(ctx.sc) - before)
                first_traced = root
            bad = wl.check(out)
            walls[traced].append(wall)
        except Exception as exc:  # a failed repetition is counted, not fatal
            bad = [f"repetition raised {type(exc).__name__}: {exc}"]
        account(bad, wl.ops_per_rep)
        i += 1
        enough = len(walls[False]) >= 1 and len(walls[True]) >= args.trace
        if now() - start >= args.seconds and enough:
            break
        if i >= 8 and not enough:
            problems.append("no successful repetition")
            break

    if not walls[False]:
        return None, None, None, problems, tally
    wall_s = statistics.median(walls[False])
    rss, rss_by_process = tree_peak_rss_mb()
    e2e = {
        "setup_s": ctx.start_s + statistics.median(reads) + build_s + warm_s,
        "wall_s": wall_s,
        "docs_per_s": wl.n_docs / wall_s,
        "peak_rss_mb": rss,
    }
    report = {
        "failed_frac": tally["failed"] / max(1, tally["attempted"]),
        "rss_by_process_mb": {k: round(v, 1) for k, v in rss_by_process.items()},
    }
    if args.workload == "build":  # triples the repetition wrote
        report["triples_per_s"] = wl.triples / wall_s
    if wl.epoch_s:  # the ingest part's epochs
        q = statistics.quantiles(wl.epoch_s, n=4)
        report.update(epoch_p50_s=q[1], epoch_p75_s=q[2], epochs=len(wl.epoch_s))
    e2e_report = {**e2e, **report}

    layer: dict[str, float] = {}
    if args.trace == 1:
        layer = dict.fromkeys(PER_LAYER, 0)
        layer.update({
            "session.start_s": ctx.start_s,
            "sources.read_s": statistics.median(reads),
            "session.warmup_s": warm_s,
            "functions.textops.tokenize_batch_docs_per_s":
                tokenize_batch_rate(ctx.spark, wl.corpus()),
            "cache.persisted_rdds_delta": rdd_delta or 0,
        })
        if walls[True]:
            traced_s = statistics.median(walls[True])
            untraced_s = statistics.median(walls[False])
            layer.update({
                "trace.traced_wall_s": traced_s,
                "trace.untraced_wall_s": untraced_s,
                "trace.overhead_frac": traced_s / untraced_s - 1,
            })
        spans = [s for s in tr.spans if s["name"] != "rep"]
        layer.update({k: v for k, v in span_times(spans).items() if k in PER_LAYER})
        if first_traced is not None:
            for s in tr.children(first_traced):
                for k in ("jobs", "tasks", "failed_tasks"):
                    layer[f"spark.{k}"] += s.get(k, 0)
        layer.update({k: v for k, v in wl.counts.items() if k in PER_LAYER})
        tr.write(os.path.join(ctx.work, "traces", f"{args.workload}-seed{args.seed}.json"))
    return e2e, layer, e2e_report, problems, tally


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "obsidian_parser_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
    })
    sys.path[:0] = [ROOT, HERE]

    from tracing import memory_bandwidth_gbs

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": CPUS, "host_cpus": os.cpu_count(),
        "driver_heap": DRIVER_MEM, "membw_gbs": round(memory_bandwidth_gbs(), 2),
    }

    jvm = None  # the Spark JVM process, once started

    def on_deadline(signum, frame):
        print(f"perfbench: no result within {DEADLINE_S} s", file=sys.stderr)
        if jvm is not None:
            jvm.kill()
            jvm.wait()
        os._exit(3)

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    t = time.perf_counter()
    spark = start_session(work)
    jvm = spark.sparkContext._gateway.proc
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is ready once it has run a job
    ctx = Ctx(args, spark, work, start_s=time.perf_counter() - t)

    from workloads import WORKLOADS

    context["sf"] = "sf0.001" if args.tiny else WORKLOADS[args.workload].sf
    try:
        e2e, layer, e2e_report, problems, tally = measure(args, ctx)
    finally:
        # stop Spark, then wait for the JVM (and with it the Python workers)
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
    signal.alarm(0)

    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    metrics, units = (layer, PER_LAYER) if args.trace == 1 else (e2e, END_TO_END)
    if e2e_report is not None:
        print(json.dumps({"context": context, "end_to_end": e2e_report}))
    print(json.dumps({
        "correct": not problems,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in (metrics or {}).items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
