"""The benchmark workloads, driven through the engine's public calls.

Four parts (build, analyze, curate, ingest) are paired into the two
workloads ``run.py`` offers: ``build`` runs Build then Ingest, ``analyze``
runs Analyze then Curate.  Each part and each pair has the same life
cycle, run by ``run.py``:

* ``prepare`` — generate inputs from the seed (cached per corpus and seed);
* ``expect`` — compute the expected outputs (cached likewise; neither step
  is part of any metric);
* ``load`` — read and persist the inputs (timed as ``sources.read_s``);
* ``build`` — extra set-up some workloads need (timed into ``setup_s``);
* ``warmup`` — pay one-time start-up costs before timing (likewise);
* ``reset`` then ``rep`` — one timed repetition, repeated for the run;
* ``check`` — compare a repetition's outputs with the expected ones.

``rep`` takes a tracer; with tracing on it records a span per layer call.
"""

from __future__ import annotations

import os
import shutil
import statistics

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from obsidian_parser_spark.sources.corpus import ensure_vault_corpus

import oracles as O
from tracing import duration, spark_counts

N_BUCKETS = 16
WARM_SF = "sf0.0001"  # 100 notes


def _rows(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _parquet_digest(path: str, cols: list[str]) -> dict:
    t = pq.read_table(path, columns=cols).to_pydict()
    return O.digest(cols, list(zip(*(t[c] for c in cols))))


class Workload:
    name = ""
    sf = ""
    ops_per_rep = 1

    def __init__(self, ctx, sf: str | None = None, seed: int | None = None):
        """``sf``/``seed`` override the workload's corpus: the warm-up runs
        the workload on a tiny corpus of a fixed seed, cached per checkout."""
        self.ctx = ctx
        self.sf = sf or self.sf
        self.seed = ctx.seed if seed is None else seed
        self.spark = ctx.spark
        self.work = os.path.join(ctx.work, self.name, self.sf, f"seed{self.seed}")
        self.counts: dict[str, float] = {}  # per-layer counts, traced reps
        self.n_docs = 0
        self.triples = 0

    def corpus(self) -> str:
        base = os.path.join(self.ctx.work, "corpus", f"seed{self.seed}")
        return ensure_vault_corpus(self.sf, base=base, seed=self.seed)

    def expect_path(self, tag: str) -> str:
        return os.path.join(
            self.ctx.work, "oracle", f"{self.name}-{tag}-{self.sf}-seed{self.seed}.json"
        )

    def compare(self, what: str, got: dict, want: dict) -> list[str]:
        if self.ctx.corrupt:
            got = dict(got, sha256="corrupted-" + got["sha256"])
        if got["rows"] == want["rows"] and got["sha256"] == want["sha256"]:
            return []
        return [f"{what}: got {got['rows']} rows, want {want['rows']} (digest differs)"]

    def prepare(self) -> None: ...
    def expect(self) -> None: ...
    def load(self) -> None: ...
    def build(self, tr) -> None: ...

    def check_setup(self) -> list[str]:
        return []

    def warmup(self, tr) -> None:
        """Run the whole workload once on a tiny corpus of a fixed seed
        (generated once per checkout), so the timed repetition does not pay
        class loading, code generation and JIT."""
        warm = type(self)(self.ctx, sf=WARM_SF, seed=0)
        warm.ops_per_rep = min(warm.ops_per_rep, 2)  # ingest: two epochs
        warm.prepare()
        warm.load()
        warm.build(tr)
        warm.rep(tr)
        self.spark.catalog.clearCache()

    def reset(self) -> None:
        self.spark.catalog.clearCache()
        self.load()

    def rep(self, tr): ...
    def check(self, out) -> list[str]: ...

    def new_dir(self, tag: str) -> str:
        """An output directory that does not exist yet."""
        d = os.path.join(self.work, tag)
        shutil.rmtree(d, ignore_errors=True)
        return d


# --------------------------------------------------------------------------


class Build(Workload):
    """documents → bucketed nodes/edges tables + manifest."""

    name = "build"
    sf = "sf0.005"

    def prepare(self):
        self.path = self.corpus()

    def expect(self):
        self.want = O.cached(
            self.expect_path("kg"), lambda: O.kg_expectations(self.path, ["kg_edges"])
        )

    def load(self):
        self.docs = self.spark.read.parquet(self.path).persist()
        self.n_docs = self.docs.count()

    def warmup(self, tr):
        """Start one Python worker per core with the tokenizer loaded.  A
        tiny-corpus pass also warms the JVM, but left this workload no
        steadier at about twice the set-up cost."""
        from obsidian_parser_spark.operators.tokenize import tokenize_documents

        cores = int(self.spark.sparkContext.defaultParallelism)
        sample = self.spark.read.parquet(self.path).limit(64 * cores)
        tokenize_documents(sample.repartition(cores)).count()

    def rep(self, tr):
        from obsidian_parser_spark.plans.materialize import materialize_graph

        out = self.new_dir("out")
        if tr.enabled:
            return self._traced_rep(tr, out)
        r = materialize_graph(
            self.spark, self.docs, out, run_id="bench", n_buckets=N_BUCKETS, resume=False
        )
        return {"dir": out, "buckets": r.buckets_processed}

    def _traced_rep(self, tr, out):
        """``materialize_graph``'s steps one at a time, each materialized."""
        from obsidian_parser_spark.operators.linking import build_alias_dict, resolve_mentions
        from obsidian_parser_spark.operators.tokenize import (
            mentions_from_notes,
            tag_triples,
            tokenize_documents,
        )

        def bucket(col):
            return F.pmod(F.xxhash64(F.col(col)), F.lit(N_BUCKETS)).cast("int")

        c = self.counts
        with tr.span("operators.tokenize.tokenize") as s:
            notes = tokenize_documents(self.docs).persist()
            notes.count()
        c["operators.tokenize.jobs"] = s["jobs"]
        with tr.span("operators.linking.alias_dict"):
            ad = build_alias_dict(notes).persist()
            c["operators.linking.alias_dict_rows"] = ad.count()
        with tr.span("operators.linking.resolve"):
            edges, dangling = resolve_mentions(mentions_from_notes(notes), ad)
            edges = edges.unionByName(tag_triples(notes))
            edges = edges.withColumn("bucket", bucket("subj")).persist()
            c["operators.linking.triples"] = edges.count()
            c["operators.linking.dangling"] = dangling.count()
        with tr.span("plans.materialize.write"):
            nodes = notes.drop("mentions").withColumn("bucket", bucket("doc_id"))
            for df, sub in ((nodes, "nodes"), (edges, "edges")):
                df.write.mode("overwrite").partitionBy("bucket").parquet(
                    os.path.join(out, sub)
                )
            ad.write.mode("overwrite").parquet(os.path.join(out, "alias_dict"))
        files, size = _dir_stats(out)
        c["plans.materialize.files_written"] = files
        c["plans.materialize.bytes_written"] = size
        for df in (notes, ad, edges):
            df.unpersist()
        return {"dir": out, "buckets": list(range(N_BUCKETS))}

    def check(self, out):
        bad = []
        if sorted(out["buckets"]) != list(range(N_BUCKETS)):
            bad.append(f"buckets processed {out['buckets']} != all {N_BUCKETS}")
        got = _parquet_digest(os.path.join(out["dir"], "edges"), ["subj", "pred", "obj"])
        self.triples = got["rows"]
        bad += self.compare("kg_edges", got, self.want["kg_edges"])
        shutil.rmtree(out["dir"], ignore_errors=True)
        return bad


# --------------------------------------------------------------------------

ANALYZE_QUERIES = [
    "kg_backlinks", "kg_hub", "kg_dup_content", "kg_orphans",
    "kg_component_count", "kg_triangles", "kg_walks", "kg_mentions",
]
# Spark counts reported per span (span → counts), beside its time
SPARK_COUNTS = {
    "operators.components.cc": ("jobs", "tasks"),
    "operators.graph_metrics.triangles": ("jobs",),
    "operators.linking.unlinked_mentions": ("jobs",),
}


class Analyze(Workload):
    """Graph operators over a graph built once in set-up."""

    name = "analyze"
    sf = "sf0.001"
    ops_per_rep = len(ANALYZE_QUERIES)

    def prepare(self):
        self.path = self.corpus()
        self.graph_dir = os.path.join(self.work, "graph")
        self.built = False

    def expect(self):
        self.want = O.cached(
            self.expect_path("kg"),
            lambda: O.kg_expectations(self.path, ["kg_edges"] + ANALYZE_QUERIES),
        )

    def load(self):
        read = self.spark.read.parquet
        self.docs = read(self.path).persist()
        self.n_docs = self.docs.count()
        if self.built:
            g = self.graph_dir
            self.nodes = read(os.path.join(g, "nodes")).persist()
            self.edges = read(os.path.join(g, "edges")).persist()
            self.alias = read(os.path.join(g, "alias_dict")).persist()
            for df in (self.nodes, self.edges, self.alias):
                df.count()

    def warmup(self, tr):
        """One untimed repetition on the full graph.  This workload's cost is
        almost all per-job overhead, so a tiny-corpus pass would cost as much
        and warm less."""
        self.rep(tr)

    def build(self, tr):
        """Build the graph with ``plans.pipeline.build_graph``, write it
        once and read it back persisted: a reset then re-reads three small
        tables instead of re-running the build."""
        from obsidian_parser_spark.plans.pipeline import build_graph

        with tr.span("plans.pipeline.build_graph"):
            g = build_graph(self.docs)
            for df, sub in ((g.nodes, "nodes"), (g.edges, "edges"), (g.alias_dict, "alias_dict")):
                df.write.mode("overwrite").parquet(os.path.join(self.graph_dir, sub))
        self.spark.catalog.clearCache()
        self.built = True
        self.load()
        if tr.enabled:
            self.counts["operators.linking.alias_dict_rows"] = self.alias.count()
            self.counts["operators.linking.triples"] = self.edges.count()
            self.counts["operators.linking.dangling"] = g.dangling.count()

    def check_setup(self):
        got = _parquet_digest(os.path.join(self.graph_dir, "edges"), ["subj", "pred", "obj"])
        self.triples = got["rows"]
        return self.compare("kg_edges", got, self.want["kg_edges"])

    def rep(self, tr):
        from obsidian_parser_spark.operators import analytics as A
        from obsidian_parser_spark.operators import graph_metrics as GM
        from obsidian_parser_spark.operators import linking as LK
        from obsidian_parser_spark.operators.components import (
            component_count,
            connected_components,
        )
        from obsidian_parser_spark.operators.walks import deterministic_walks

        e, n = self.edges, self.nodes
        steps = {
            "kg_backlinks": ("operators.analytics.backlinks", lambda: A.backlink_counts(e)),
            "kg_hub": ("operators.analytics.hub", lambda: A.knowledge_hub(e)),
            "kg_dup_content": (
                "operators.analytics.dup_content",
                lambda: A.duplicates_by_content(n).select("doc_id"),
            ),
            "kg_orphans": ("operators.analytics.orphans", lambda: A.orphans(n, e)),
            "kg_component_count": (
                "operators.components.cc",
                lambda: component_count(connected_components(n, A.link_edges(e))),
            ),
            "kg_triangles": (
                "operators.graph_metrics.triangles",
                lambda: GM.triangle_counts(A.link_edges(e)).select(
                    "id", F.col("n_triangles").cast("long").alias("n_triangles")
                ),
            ),
            "kg_walks": (
                "operators.walks.walks",
                lambda: deterministic_walks(A.link_edges(e), n_steps=3).select(
                    "start", F.col("step").cast("long").alias("step"), "node"
                ),
            ),
            "kg_mentions": (
                "operators.linking.unlinked_mentions",
                lambda: LK.unlinked_mentions(
                    self.docs, self.alias, e.filter(F.col("pred") != "tagged")
                ),
            ),
        }
        out = {}
        for q in ANALYZE_QUERIES:
            span, make = steps[q]
            with tr.span(span) as s:
                out[q] = _rows(make())
            for k in SPARK_COUNTS.get(span, ()) if tr.enabled else ():
                self.counts[f"{span}_{k}"] = s[k]
        return out

    def check(self, out):
        bad = []
        for q in ANALYZE_QUERIES:
            bad += self.compare(q, O.digest(*out[q]), self.want[q])
        self.counts["operators.components.n_components"] = out["kg_component_count"][1][0][0]
        return bad


# --------------------------------------------------------------------------


class Curate(Workload):
    """Near-duplicate and quality operators over reconstructed note text."""

    name = "curate"
    sf = "sf0.001"
    ops_per_rep = 4

    def prepare(self):
        from obsidian_parser_spark.operators.tokenize import reconstruct_text

        self.text_path = os.path.join(self.work, "text")
        marker = os.path.join(self.text_path, "_SUCCESS")
        if not os.path.exists(marker):
            docs = self.spark.read.parquet(self.corpus())
            reconstruct_text(docs).select(
                "doc_id", F.col("content").alias("text")
            ).write.mode("overwrite").parquet(self.text_path)
        self.minhash_digest = None

    def expect(self):
        from obsidian_parser_spark.operators.textstats import LANG_MARKERS

        self.want = O.cached(
            self.expect_path("py"),
            lambda: O.curate_expectations(self.text_path, LANG_MARKERS["en"]),
        )

    def load(self):
        self.text = self.spark.read.parquet(self.text_path).persist()
        is_dup = F.col("doc_id").startswith("dup/")
        self.base = self.text.filter(~is_dup).persist()
        self.batch = self.text.filter(is_dup).persist()
        self.n_docs = self.text.count()
        self.base.count()
        self.batch.count()

    def rep(self, tr):
        from obsidian_parser_spark.operators import dedup as DD
        from obsidian_parser_spark.operators import textstats as TS

        steps = [
            ("minhash", "operators.dedup.minhash",
             lambda: DD.minhash_lsh_pairs(self.text, k=8, bands=4, hash_fn="xxh")),
            ("dupspans", "operators.dedup.dupspans",
             lambda: DD.duplicated_spans(self.text, n=8)),
            ("incremental", "operators.dedup.incremental",
             lambda: DD.incremental_jaccard_pairs(self.base, self.batch)),
            ("quality", "operators.textstats.quality",
             lambda: TS.quality_scores(self.text)),
        ]
        out, dedup_jobs = {}, 0
        for key, span, make in steps:
            with tr.span(span) as s:
                out[key] = _rows(make())
            if tr.enabled and span.startswith("operators.dedup."):
                dedup_jobs += s["jobs"]
        if tr.enabled:
            self.counts["operators.dedup.jobs"] = dedup_jobs
            self.counts["operators.dedup.minhash_pairs"] = len(out["minhash"][1])
            self.counts["operators.dedup.incremental_pairs"] = len(out["incremental"][1])
        return out

    def check(self, out):
        bad = []
        cols, pairs = out["minhash"]
        got = set(pairs)
        missing = [p for p in self.want["planted"] if tuple(sorted(p)) not in got]
        if missing:
            bad.append(f"minhash: {len(missing)} planted duplicate pairs missing")
        if any(a >= b for a, b in pairs):
            bad.append("minhash: pair not ordered a < b")
        d = O.digest(cols, pairs)
        if self.minhash_digest is None:
            self.minhash_digest = d
        bad += self.compare("minhash (repeat)", d, self.minhash_digest)
        for key in ("dupspans", "incremental"):
            bad += self.compare(key, O.digest(*out[key]), self.want[key])
        qcols, qrows = out["quality"]
        idx = [qcols.index(c) for c in O.QUALITY_COLS]
        proj = [tuple(r[i] for i in idx) for r in qrows]
        bad += self.compare("quality", O.digest(O.QUALITY_COLS, proj), self.want["quality"])
        return bad


# --------------------------------------------------------------------------

INGEST_FILES = 4
BOOKKEEPING = ("walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")


class Ingest(Workload):
    """One availableNow stream, one file per trigger, maintained dict."""

    name = "ingest"
    sf = "sf0.002"
    ops_per_rep = INGEST_FILES

    def prepare(self):
        self.path = self.corpus()
        # one directory per split, so a different file count never reuses it
        self.in_dir = os.path.join(self.work, f"in{self.ops_per_rep}")
        self.files = [
            os.path.join(self.in_dir, f"part_{k:03d}.parquet")
            for k in range(self.ops_per_rep)
        ]
        if not all(os.path.exists(f) for f in self.files):
            shutil.rmtree(self.in_dir, ignore_errors=True)
            os.makedirs(self.in_dir)
            t = pq.read_table(self.path)
            n = t.num_rows
            for k, f in enumerate(self.files):
                lo, hi = k * n // len(self.files), (k + 1) * n // len(self.files)
                pq.write_table(t.slice(lo, hi - lo), f)
                # strictly increasing mtimes fix the file → epoch order
                os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))
        self.epoch_s: list[float] = []

    def expect(self):
        self.want = O.cached(
            self.expect_path(f"kg{len(self.files)}files"),
            lambda: O.stream_dict_expectation(self.path, self.files),
        )

    def load(self):
        self.n_docs = self.spark.read.parquet(self.in_dir).count()

    def rep(self, tr):
        from obsidian_parser_spark.streaming.incremental import incremental_graph

        out = self.new_dir("out")
        # the stream's jobs run under its own job group: the query's run id
        with tr.span("streaming.incremental.incremental_graph", spark_work=False) as s:
            q = incremental_graph(
                self.spark, self.in_dir, out, alias_dict=None, max_files_per_trigger=1
            )
            try:
                if not q.awaitTermination(120):
                    raise RuntimeError("stream did not finish within 120 s")
            finally:
                q.stop()
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if tr.enabled:
            c = spark_counts(self.ctx.sc, str(q.runId))
            s.update(c)  # counted into spark.* with the other spans' jobs
            dur = [p["durationMs"] for p in progress]
            self.counts.update({
                "streaming.incremental.epochs": len(progress),
                "streaming.incremental.jobs_per_epoch": c["jobs"] / max(1, len(progress)),
                "streaming.incremental.add_batch_p50_s":
                    statistics.median(d.get("addBatch", 0) for d in dur) / 1000,
                "streaming.incremental.bookkeeping_p50_s": statistics.median(
                    sum(d.get(k, 0) for k in BOOKKEEPING) for d in dur
                ) / 1000,
            })
        return {"dir": out, "progress": progress}

    def check(self, out):
        progress = out["progress"]
        self.epoch_s += [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        bad = []
        if len(progress) != len(self.files):
            bad.append(f"{len(progress)} epochs with data, want {len(self.files)}")
        got = _parquet_digest(os.path.join(out["dir"], "edges"), ["subj", "pred", "obj"])
        self.triples = got["rows"]
        self.counts["streaming.incremental.edges_written"] = got["rows"]
        bad += self.compare("kg_stream_dict (per-file epochs)", got, self.want)
        shutil.rmtree(out["dir"], ignore_errors=True)
        return bad


# --------------------------------------------------------------------------


class Composite(Workload):
    """Two workloads back to back in one session.  Each step of the life
    cycle runs on both parts in order, so a run pays Spark start-up once
    and a repetition times both parts' work."""

    parts: tuple = ()

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        cls.sf = "+".join(p.sf for p in cls.parts)
        cls.ops_per_rep = sum(p.ops_per_rep for p in cls.parts)

    def __init__(self, ctx, sf: str | None = None, seed: int | None = None):
        self.ctx = ctx
        self.spark = ctx.spark
        self.parts = [p(ctx, sf=sf, seed=seed) for p in self.parts]

    @property
    def n_docs(self):
        return sum(p.n_docs for p in self.parts)

    @property
    def triples(self):
        return sum(p.triples for p in self.parts)

    @property
    def counts(self):
        return {k: v for p in self.parts for k, v in p.counts.items()}

    @property
    def epoch_s(self):
        return [s for p in self.parts for s in getattr(p, "epoch_s", ())]

    def corpus(self):
        return self.parts[0].corpus()

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def expect(self):
        for p in self.parts:
            p.expect()

    def load(self):
        for p in self.parts:
            p.load()

    def build(self, tr):
        for p in self.parts:
            p.build(tr)

    def warmup(self, tr):
        for p in self.parts:
            p.warmup(tr)

    def check_setup(self):
        return [bad for p in self.parts for bad in p.check_setup()]

    def reset(self):
        # one clearCache for both parts: a part's own reset would drop the
        # inputs the other part has just persisted
        self.spark.catalog.clearCache()
        self.load()

    def rep(self, tr):
        return [p.rep(tr) for p in self.parts]

    def check(self, out):
        return [bad for p, o in zip(self.parts, out) for bad in p.check(o)]


class BuildAndIngest(Composite):
    """Documents → KG, batch (``materialize_graph``) then streaming."""

    name = "build"
    parts = (Build, Ingest)


class AnalyzeAndCurate(Composite):
    """Graph operators, then dedup and quality operators over note text."""

    name = "analyze"
    parts = (Analyze, Curate)


WORKLOADS = {w.name: w for w in (BuildAndIngest, AnalyzeAndCurate)}


def span_times(spans: list[dict]) -> dict[str, float]:
    """Median duration per span name, as ``<name>_s``."""
    by: dict[str, list[float]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(duration(s))
    return {f"{k}_s": statistics.median(v) for k, v in by.items()}
