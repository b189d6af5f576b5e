"""Graph materialization: bucketed nodes/edges tables + resumable lineage.

North-rule requirements implemented here:

* **doc_id-bucketed partitioning** — nodes and edges are written
  partitioned by ``bucket = pmod(xxhash64(doc_id), n_buckets)`` (edges by
  subj).  On Iceberg this is the ``bucket(N, doc_id)`` partition transform;
  without Iceberg jars in this image we write directory-partitioned parquet
  with the same layout (the DDL is in ``iceberg_ddl()`` below).  Readers
  that filter on bucket get partition pruning; co-bucketed joins between
  nodes and edges avoid a shuffle of the big side.
* **per-partition checkpointed lineage** — every run appends one manifest
  row per bucket: (run_id, bucket, n_docs, n_edges, n_dangling, checksum,
  status, finished_at_step).  A re-run with the same run_id reads the
  manifest first and processes ONLY buckets without a ``done`` row —
  tokenization (the expensive stage) is never repeated for completed
  buckets.  The alias dictionary is global, so it is built once per run
  and persisted alongside (a resume reuses it instead of rescanning).
* **hub-skew salting** — the backlink metric inside the manifest uses the
  explicit two-phase salted aggregation; large joins run under AQE skew
  handling (session defaults).

The reference has no equivalent (single-process, in-memory petgraph);
this is the 100 TB replacement for its "collect Vec<Note> then build"
lifecycle (src/vault/vault_open/mod.rs:190-221).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.linking import build_alias_dict, resolve_mentions
from ..operators.tokenize import mentions_from_notes, tag_triples, tokenize_documents
from .pipeline import GraphBuildOptions

MANIFEST_SCHEMA = (
    "run_id string, bucket int, n_docs long, n_edges long, n_dangling long, "
    "edges_checksum decimal(38,0), status string, finished_at double"
)


def iceberg_ddl(n_buckets: int = 64) -> dict[str, str]:
    """The table DDL this layout corresponds to on a real cluster."""
    return {
        "nodes": (
            "CREATE TABLE kg.nodes (doc_id string, note_name string, ...) "
            f"USING iceberg PARTITIONED BY (bucket({n_buckets}, doc_id))"
        ),
        "edges": (
            "CREATE TABLE kg.edges (subj string, pred string, obj string, "
            "mention_ord int) USING iceberg "
            f"PARTITIONED BY (bucket({n_buckets}, subj))"
        ),
    }


@dataclass
class MaterializeResult:
    nodes_path: str
    edges_path: str
    manifest_path: str
    buckets_processed: list[int]
    buckets_skipped: list[int]


def _bucket(col: str, n: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int")


def _is_local_path(spark: SparkSession, path: str) -> bool:
    """True only when ``path`` resolves to the DRIVER-LOCAL filesystem.

    A scheme-less path does NOT imply local: Spark resolves it against
    ``fs.defaultFS``, so on a cluster with HDFS/S3 defaults the write
    lands remotely while ``os.rename``/``os.path`` on the driver would be
    probing a different (local) filesystem — the manifest increment would
    silently never commit.  The os fast path is taken only for explicit
    ``file://`` URIs or scheme-less paths under a ``file:`` default FS."""
    if path.startswith("file://"):
        return True
    if "://" in path:
        return False
    default_fs = (
        spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    )
    return default_fs.startswith("file:")


def _read_manifest(spark: SparkSession, path: str) -> DataFrame | None:
    """None ⇔ the manifest genuinely doesn't exist yet.  Any OTHER read
    failure (e.g. a torn parquet footer from a crashed writer) propagates
    LOUDLY: swallowing it would silently restart the whole run — the
    exact cost the manifest exists to avoid.  (The atomic temp+rename
    commit in ``_append_manifest`` makes a torn file unreachable in the
    first place; this is defense in depth.)

    Local paths are probed with the os module; remote paths (hdfs://,
    s3a://, or scheme-less under a remote fs.defaultFS) go through the
    Spark reader, mapping only the PATH_NOT_FOUND error class to None."""
    if _is_local_path(spark, path):
        local = path.removeprefix("file://")
        if not os.path.isdir(local) or not any(
            f.endswith(".parquet") for f in os.listdir(local)
        ):
            return None
        return spark.read.parquet(path)
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # torn manifests must still raise
        if "PATH_NOT_FOUND" in str(exc):
            return None
        raise


def _append_manifest(manifest: DataFrame, manifest_path: str) -> None:
    """Atomic manifest commit: write the increment to a temp directory,
    then move the completed part files into the manifest dir one atomic
    rename each.  A crash before the renames leaves only temp garbage
    (cleaned next run); a crash between renames leaves SOME complete rows
    — both safe, since a bucket without a ``done`` row simply re-runs via
    dynamic partition overwrite.  A direct ``mode('append')`` write could
    instead leave a torn footer inside the live manifest dir, poisoning
    every later read.  On Iceberg this whole function is the table's
    transactional append; the temp+rename is the plain-parquet stand-in
    (POSIX rename is atomic on one filesystem).

    Object-store/HDFS manifest paths (explicit scheme OR scheme-less under
    a remote fs.defaultFS) fall back to the plain Spark append — os-level
    renames don't exist there; S3A/ABFS committers make the per-file
    commit atomic-enough, and the Iceberg table is the real cluster
    answer (iceberg_ddl())."""
    if not _is_local_path(manifest.sparkSession, manifest_path):
        manifest.write.mode("append").parquet(manifest_path)
        return
    import glob
    import shutil
    import uuid

    local = manifest_path.removeprefix("file://")
    tmp = f"{local}_tmp_{uuid.uuid4().hex}"
    try:
        manifest.write.mode("overwrite").parquet(tmp)
        os.makedirs(local, exist_ok=True)
        for f in glob.glob(os.path.join(tmp, "part-*.parquet")):
            os.rename(f, os.path.join(local, os.path.basename(f)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def materialize_graph(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = 16,
    opts: GraphBuildOptions | None = None,
    resume: bool = True,
    rebuild_dict: bool = False,
) -> MaterializeResult:
    """Tokenize → link → write bucketed nodes/edges with a lineage manifest.

    Resumable: a second call with the same (out_dir, run_id) skips buckets
    whose manifest row is ``done`` — kill the job mid-run and re-submit.

    Honours ``include_mdlinks``, ``use_aliases``, ``include_tag_triples``
    and ``broadcast_dict``; the note filters and identity
    canonicalization of ``build_graph`` raise ``ValueError`` rather than
    write an unfiltered graph.
    """
    opts = opts or GraphBuildOptions()
    for field in ("drop_parse_errors", "drop_empty", "drop_todo",
                  "canonicalize_identities"):
        if getattr(opts, field):
            raise ValueError(f"materialize_graph does not support {field}=True")
    nodes_path = os.path.join(out_dir, "nodes")
    edges_path = os.path.join(out_dir, "edges")
    dict_path = os.path.join(out_dir, f"alias_dict_{run_id}")
    manifest_path = os.path.join(out_dir, "manifest")

    all_buckets = list(range(n_buckets))
    done: set[int] = set()
    if resume:
        m = _read_manifest(spark, manifest_path)
        if m is not None:
            done = {
                r.bucket
                for r in m.filter(
                    (F.col("run_id") == run_id) & (F.col("status") == "done")
                )
                .select("bucket")
                .distinct()
                .collect()
            }
    pending = [b for b in all_buckets if b not in done]
    if not pending:
        return MaterializeResult(nodes_path, edges_path, manifest_path, [], sorted(done))

    docs = documents.withColumn("bucket", _bucket("doc_id", n_buckets))

    # --- phase 2 input: pending buckets only (filter pushes to the scan)
    sub = docs.filter(F.col("bucket").isin(pending))
    notes = tokenize_documents(sub, include_mdlinks=opts.include_mdlinks).persist()
    # both persists are released on EVERY exit — a refused partial resume
    # or a failed write must not leave them pinned in a long-lived session
    edges_b = None
    try:
        # --- phase 1: global alias dictionary — built ONCE per run and
        # persisted; a resume reloads it instead of re-tokenizing the corpus.
        # On a fresh run (all buckets pending) the pending notes ARE the
        # corpus, so the tokenize stage runs exactly once.  A PARTIAL resume
        # with the dict parquet missing fails LOUDLY instead of silently
        # re-tokenizing the full corpus — the expensive stage the manifest
        # exists to skip; pass rebuild_dict=True to explicitly pay that cost.
        try:
            alias_dict = spark.read.parquet(dict_path)
        except Exception:
            if len(pending) != n_buckets and not rebuild_dict:
                raise RuntimeError(
                    f"partial resume (buckets {sorted(done)} done) but the "
                    f"persisted alias dict is missing at {dict_path}; refusing "
                    "to silently re-tokenize the full corpus — restore the dict "
                    "or pass rebuild_dict=True"
                ) from None
            dict_src = (
                notes
                if len(pending) == n_buckets
                else tokenize_documents(docs, include_mdlinks=opts.include_mdlinks)
            )
            build_alias_dict(dict_src, use_aliases=opts.use_aliases).write.mode(
                "overwrite"
            ).parquet(dict_path)
            alias_dict = spark.read.parquet(dict_path)

        notes_b = notes.withColumn("bucket", _bucket("doc_id", n_buckets))

        mentions = mentions_from_notes(notes)
        edges, dangling = resolve_mentions(
            mentions,
            alias_dict,
            use_aliases=opts.use_aliases,
            broadcast=opts.broadcast_dict is not False,
        )
        if opts.include_tag_triples:
            edges = edges.unionByName(tag_triples(notes))
        edges_b = edges.withColumn("bucket", _bucket("subj", n_buckets)).persist()

        # dynamic partition overwrite = Iceberg overwritePartitions semantics:
        # a retried bucket REPLACES its own partition, so a bucket that was
        # half-written when the job died is rewritten exactly once on resume.
        (
            notes_b.drop("mentions")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(nodes_path)
        )
        (
            edges_b.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(edges_path)
        )

        # --- phase 3: lineage manifest (per-bucket metrics + checksum)
        dang_b = dangling.withColumn("bucket", _bucket("subj", n_buckets))
        m_docs = notes_b.groupBy("bucket").agg(F.count("*").alias("n_docs"))
        # two-phase salted aggregation (hub-skew-proof metric path)
        m_edges = (
            edges_b.groupBy(
                "bucket", F.pmod(F.xxhash64("obj"), F.lit(32)).alias("_s")
            )
            .agg(
                F.count("*").alias("_c"),
                F.sum(
                    F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")
                ).alias("_h"),
            )
            .groupBy("bucket")
            .agg(F.sum("_c").alias("n_edges"), F.sum("_h").alias("edges_checksum"))
        )
        m_dang = dang_b.groupBy("bucket").agg(F.count("*").alias("n_dangling"))
        manifest = (
            m_docs.join(m_edges, "bucket", "left")
            .join(m_dang, "bucket", "left")
            .select(
                F.lit(run_id).alias("run_id"),
                F.col("bucket").cast("int"),
                F.col("n_docs").cast("long"),
                F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
                F.coalesce("n_dangling", F.lit(0)).cast("long").alias("n_dangling"),
                F.coalesce("edges_checksum", F.lit(0))
                .cast("decimal(38,0)")
                .alias("edges_checksum"),
                F.lit("done").alias("status"),
                F.lit(time.time()).alias("finished_at"),
            )
        )
        # buckets with zero docs still need a done row
        present = {r.bucket for r in manifest.select("bucket").collect()}
        missing = [b for b in pending if b not in present]
        if missing:
            from decimal import Decimal

            empty = spark.createDataFrame(
                [(run_id, b, 0, 0, 0, Decimal(0), "done", time.time())
                 for b in missing],
                MANIFEST_SCHEMA,
            )
            manifest = manifest.unionByName(empty)
        _append_manifest(manifest, manifest_path)
    finally:
        notes.unpersist()
        if edges_b is not None:
            edges_b.unpersist()
    return MaterializeResult(
        nodes_path, edges_path, manifest_path, pending, sorted(done)
    )


def read_graph(spark: SparkSession, out_dir: str) -> tuple[DataFrame, DataFrame]:
    nodes = spark.read.parquet(os.path.join(out_dir, "nodes"))
    edges = spark.read.parquet(os.path.join(out_dir, "edges"))
    return nodes, edges
