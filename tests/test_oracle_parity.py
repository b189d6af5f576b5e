"""Replicates the driver's correctness gate locally: run every queries()
entry AND its oracle_sql() on the same data (sf0.001 for speed; the driver
uses sf0.01) and compare row multisets exactly."""

import math
import os
from decimal import Decimal

import duckdb
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def _norm(v):
    if isinstance(v, Decimal):
        f = float(v)
        return int(f) if f.is_integer() else round(f, 9)
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() else round(v, 9)
    return v


def _rows(cols, data):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in data)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def _oracles():
    path = E.ensure_vault_corpus(os.path.basename(SF_DIR))
    out = E._kg_oracles(path)
    out.update(E._datapipe_oracles())
    return out


ORACLE_NAMES = sorted(_oracles())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, con, name):
    spark_df = E.queries()[name](spark, SF_DIR)
    got_cols = [c.lower() for c in spark_df.columns]
    got = _rows(got_cols, [tuple(r) for r in spark_df.collect()])

    rel = con.sql(_oracles()[name])
    want_cols = [c.lower() for c in rel.columns]
    want = _rows(want_cols, rel.fetchall())

    assert sorted(got_cols) == sorted(want_cols), (got_cols, want_cols)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    mism = [(a, b) for a, b in zip(got, want) if a != b]
    assert not mism, f"{name}: first mismatches {mism[:5]}"


def test_every_query_has_oracle():
    q = set(E.queries())
    o = set(E.oracle_sql())
    assert o == q  # every query is oracle-backed (no rows-only exceptions)


def test_cc_oracle_worst_case_chain():
    """The unrolled CC oracle must converge on a path graph (worst case for
    plain min-propagation): 16 rounds with pointer jumping cover a chain far
    longer than any oracle-scale component."""
    n = 4000
    con = duckdb.connect()
    edges = ",".join(f"('n{i:05d}', 'n{i + 1:05d}')" for i in range(n - 1))
    sql = (
        f"WITH link_edges(subj, obj) AS (VALUES {edges}), "
        f"notes AS (SELECT DISTINCT subj AS doc_id FROM link_edges "
        f"UNION SELECT obj FROM link_edges),\n"
        + E._cc_ctes()
        + "\nSELECT count(DISTINCT component), min(component), count(*) FROM cc"
    )
    n_comp, root, n_nodes = con.sql(sql).fetchone()
    assert (n_comp, root, n_nodes) == (1, "n00000", n)


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0


def test_kcore_oracle_rounds_converged(con):
    """The kg_kcore oracle unrolls a FIXED 16 peel rounds while the engine
    peels to the (unique) fixpoint — valid only if 16 rounds have already
    converged at the compared scale.  Pin that: rounds 16 and 17 must
    produce the identical core."""
    path = E.ensure_vault_corpus(os.path.basename(SF_DIR))
    c = E._kg_cte(path)
    outs = []
    for rounds in (16, 17):
        sql = (
            c
            + ",\n"
            + E._kcore_ctes(3, rounds)
            + "\nSELECT id, core_degree FROM kcore ORDER BY id"
        )
        outs.append(con.execute(sql).fetchall())
    assert outs[0] == outs[1]
    assert len(outs[0]) > 0  # non-vacuous at this scale


def test_query_cache_marker_is_path_bound(tmp_path):
    """A stream query's cached sink output is only reusable where it was
    generated: its ``_spark_metadata`` log holds absolute file URIs, so a
    copied or moved tree must report not-done and regenerate."""
    import shutil

    params = {"version": 1, "sf": "/data/sf0.001"}
    a = tmp_path / "a" / "dd_stream"
    a.mkdir(parents=True)
    assert not E._cache_done(str(a), params)
    E._mark_cache_done(str(a), params)
    assert E._cache_done(str(a), params)
    assert not E._cache_done(str(a), {**params, "version": 2})

    b = tmp_path / "b" / "dd_stream"
    shutil.copytree(tmp_path / "a", tmp_path / "b")
    assert (b / "_DONE.json").exists()
    assert not E._cache_done(str(b), params)
    # the original location still reads as done
    assert E._cache_done(str(a), params)
