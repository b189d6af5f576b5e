"""Resumable bucketed materialization: lineage manifest + skip-done resume."""

import pyspark.sql.functions as F
import pytest

from obsidian_parser_spark.plans.materialize import (
    materialize_graph,
    read_graph,
)
from obsidian_parser_spark.plans.pipeline import GraphBuildOptions
from obsidian_parser_spark.sources.corpus import ensure_vault_corpus


def test_materialize_and_resume(spark, tmp_path):
    path = ensure_vault_corpus("sf0.0002", base=str(tmp_path / "corpus"))
    docs = spark.read.parquet(path)
    out = str(tmp_path / "graph")

    r1 = materialize_graph(spark, docs, out, run_id="r1", n_buckets=4)
    assert sorted(r1.buckets_processed) == [0, 1, 2, 3]
    nodes, edges = read_graph(spark, out)
    n_docs = docs.count()
    assert nodes.count() == n_docs
    assert edges.count() > 0
    assert "bucket" in nodes.columns and "bucket" in edges.columns

    manifest = spark.read.parquet(r1.manifest_path)
    mrows = manifest.filter("run_id = 'r1'").collect()
    assert {r.bucket for r in mrows} == {0, 1, 2, 3}
    assert all(r.status == "done" for r in mrows)
    assert sum(r.n_docs for r in mrows) == n_docs
    assert sum(r.n_edges for r in mrows) == edges.count()

    # resume with same run_id: everything already done → no-op
    r2 = materialize_graph(spark, docs, out, run_id="r1", n_buckets=4)
    assert r2.buckets_processed == [] and r2.buckets_skipped == [0, 1, 2, 3]
    nodes2, edges2 = read_graph(spark, out)
    assert nodes2.count() == n_docs and edges2.count() == edges.count()


def test_partial_resume_completes_missing_buckets(spark, tmp_path):
    path = ensure_vault_corpus("sf0.0002", base=str(tmp_path / "corpus"))
    docs = spark.read.parquet(path)
    out = str(tmp_path / "graph")

    # simulate a killed run: materialize only buckets {0,1} by marking
    # 2,3 pending via a first run over a doc subset is not possible —
    # instead run fully, then delete manifest rows for buckets 2,3 and
    # the corresponding data, and resume.
    r1 = materialize_graph(spark, docs, out, run_id="rX", n_buckets=4)
    manifest = spark.read.parquet(r1.manifest_path)
    kept = manifest.filter(F.col("bucket") < 2)
    # rewrite manifest with only buckets 0,1 marked done
    kept_rows = kept.collect()
    import shutil

    shutil.rmtree(r1.manifest_path)
    spark.createDataFrame(kept_rows, manifest.schema).write.parquet(r1.manifest_path)
    edges_before = spark.read.parquet(r1.edges_path)
    e_before = edges_before.filter(F.col("bucket") < 2).count()

    r2 = materialize_graph(spark, docs, out, run_id="rX", n_buckets=4)
    assert sorted(r2.buckets_processed) == [2, 3]
    assert sorted(r2.buckets_skipped) == [0, 1]

    # dynamic partition overwrite ⇒ retried buckets replaced, not duplicated
    nodes, edges = read_graph(spark, out)
    assert nodes.count() == docs.count()
    assert nodes.groupBy("doc_id").count().filter("count > 1").count() == 0
    # untouched buckets intact
    assert edges.filter(F.col("bucket") < 2).count() == e_before


def test_partial_resume_missing_dict_fails_loudly(spark, tmp_path):
    """ADVICE r1: a partial resume must not silently re-tokenize the full
    corpus when the persisted alias dict is gone — it must raise (or be
    explicitly told to rebuild)."""
    import shutil

    path = ensure_vault_corpus("sf0.0002", base=str(tmp_path / "corpus"))
    docs = spark.read.parquet(path)
    out = str(tmp_path / "graph")

    r1 = materialize_graph(spark, docs, out, run_id="rY", n_buckets=4)
    manifest = spark.read.parquet(r1.manifest_path)
    kept_rows = manifest.filter(F.col("bucket") < 2).collect()
    shutil.rmtree(r1.manifest_path)
    spark.createDataFrame(kept_rows, manifest.schema).write.parquet(r1.manifest_path)
    shutil.rmtree(f"{out}/alias_dict_rY")

    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="alias dict is missing"):
        materialize_graph(spark, docs, out, run_id="rY", n_buckets=4)
    # the refused resume releases its persisted notes
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # explicit opt-in rebuild completes the run
    r2 = materialize_graph(
        spark, docs, out, run_id="rY", n_buckets=4, rebuild_dict=True
    )
    assert sorted(r2.buckets_processed) == [2, 3]
    nodes, _ = read_graph(spark, out)
    assert nodes.count() == docs.count()


def test_torn_manifest_fails_loudly(spark, tmp_path):
    """A corrupt (torn-footer) file inside the manifest dir must raise on
    resume, not be swallowed into a silent full restart."""
    import os

    path = ensure_vault_corpus("sf0.0002", base=str(tmp_path / "corpus"))
    docs = spark.read.parquet(path)
    out = str(tmp_path / "graph")
    r1 = materialize_graph(spark, docs, out, run_id="r1", n_buckets=2)

    # simulate a writer crash: a half-written parquet in the live dir
    with open(os.path.join(r1.manifest_path, "part-torn.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x00this is not a real footer")
    with pytest.raises(Exception):
        materialize_graph(spark, docs, out, run_id="r1", n_buckets=2)


def test_manifest_append_is_atomic_and_accumulates(spark, tmp_path):
    """Two runs append through the temp+rename commit: all rows of both
    runs present, no temp dirs left behind."""
    import os

    path = ensure_vault_corpus("sf0.0002", base=str(tmp_path / "corpus"))
    docs = spark.read.parquet(path)
    out = str(tmp_path / "graph")
    materialize_graph(spark, docs, out, run_id="a", n_buckets=2)
    materialize_graph(spark, docs, out, run_id="b", n_buckets=2)
    m = spark.read.parquet(os.path.join(out, "manifest"))
    assert {r.run_id for r in m.select("run_id").distinct().collect()} == {"a", "b"}
    assert m.count() == 4  # 2 buckets × 2 runs
    leftovers = [d for d in os.listdir(out) if "_tmp_" in d]
    assert leftovers == []


@pytest.mark.parametrize("field", ["drop_todo", "canonicalize_identities"])
def test_unsupported_options_raise(spark, micro_vault, tmp_path, field):
    """An option the bucketed writer does not apply raises instead of
    writing an unfiltered graph and reporting success."""
    opts = GraphBuildOptions(**{field: True})
    with pytest.raises(ValueError, match=field):
        materialize_graph(
            spark, micro_vault, str(tmp_path / "graph"), run_id="r", n_buckets=2,
            opts=opts,
        )
