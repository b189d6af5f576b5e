"""Expected outputs for each workload, computed outside the engine.

Outputs are compared as row multisets, column order and row order
ignored, the way ``scripts/oracle_sweep.py`` compares them.  KG outputs are
checked against the DuckDB oracles of ``__spark_entry__``; the curation
outputs against plain-Python re-derivations of the operator definitions.
Each expectation is reduced to a digest and cached per (corpus, seed), so
a repeated seed skips the oracle work.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s
PUNCT = re.compile(r"[.,;:!?]")


def _norm(v):
    if isinstance(v, Decimal):
        f = float(v)
        return int(f) if f.is_integer() else round(f, 9)
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() else round(v, 9)
    return v


def digest(cols: list[str], rows) -> dict:
    """Order-insensitive digest of a row multiset: (row count, sha256)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    keys = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    return {"rows": len(keys), "sha256": h}


def cached(path: str, compute) -> dict:
    """Load a JSON expectation from ``path``, computing it once if absent."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


# --------------------------------------------------------------------------
# KG oracles (DuckDB)
# --------------------------------------------------------------------------


def kg_expectations(vault_path: str, names: list[str]) -> dict:
    import duckdb

    import __spark_entry__ as E

    sql = E._kg_oracles(vault_path)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    out = {}
    for name in names:
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        out[name] = digest(cols, cur.fetchall())
    con.close()
    return out


def stream_dict_expectation(vault_path: str, files: list[str]) -> dict:
    """The ``kg_stream_dict`` growing-dictionary oracle generalized to one
    epoch per input file: epoch e's mentions resolve against the
    dictionary of every document in files 0..e."""
    import duckdb

    import __spark_entry__ as E

    parts, selects = [], []
    for e, f in enumerate(files):
        listed = ", ".join(f"'{g}'" for g in files[: e + 1])
        src = f"(SELECT doc_id, spans FROM read_parquet([{listed}]))"
        parts.append(E._kg_cte_chain(vault_path, f"ep{e}_", src=src))
        selects.append(
            f"SELECT subj, pred, obj FROM ep{e}_link_edges WHERE subj IN "
            f"(SELECT doc_id FROM read_parquet('{f}'))"
        )
    sql = "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    out = digest(cols, cur.fetchall())
    con.close()
    return out


# --------------------------------------------------------------------------
# curation oracles (plain Python over the same text table)
# --------------------------------------------------------------------------


QUALITY_COLS = [
    "doc_id", "n_words", "n_bytes", "n_punct", "n_stopwords",
    "n_distinct_words", "avg_word_len", "distinct_ratio", "quality",
]


def half_up(x: float, places: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its decimal form."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _tokens(text: str) -> list[str]:
    return [t for t in WS.split((text or "").lower()) if t]


def _shingles(tokens: list[str], n: int) -> set[str]:
    if len(tokens) < n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def planted_pairs(doc_ids: list[str]) -> list[tuple[str, str]]:
    """(original, dup/...) pairs: each ``dup/<stem>`` companion is an exact
    copy of the one non-dup note with the same stem."""
    by_stem = {d.rsplit("/", 1)[-1]: d for d in doc_ids if not d.startswith("dup/")}
    return sorted(
        (by_stem[d[len("dup/") :]], d) for d in doc_ids if d.startswith("dup/")
    )


def curate_expectations(text_parquet: str, stopwords: list[str]) -> dict:
    t = pq.read_table(text_parquet).to_pydict()
    ids, texts = t["doc_id"], t["text"]
    toks = {d: _tokens(x) for d, x in zip(ids, texts)}

    # duplicated_spans(n=8): distinct 8-grams per doc in >= 2 docs
    seen: dict[str, list] = {}
    for d in ids:
        for s in _shingles(toks[d], 8):
            e = seen.get(s)
            if e is None:
                seen[s] = [1, d]
            else:
                e[0] += 1
                e[1] = min(e[1], d)
    dupspans = [(s, c, first) for s, (c, first) in seen.items() if c >= 2]

    # incremental_jaccard_pairs(base=non-dup, batch=dup/, n=3, cap 1000,
    # threshold 0.8): intersection over base-df-capped shingles
    sh = {d: _shingles(toks[d], 3) for d in ids}
    base = [d for d in ids if not d.startswith("dup/")]
    batch = [d for d in ids if d.startswith("dup/")]
    df = Counter(s for d in base for s in sh[d])
    incr = []
    for q in batch:
        capped = {s for s in sh[q] if 0 < df[s] <= 1000}
        for b in base:
            inter = len(capped & sh[b])
            if inter:
                j = inter / (len(sh[q]) + len(sh[b]) - inter)
                if j >= 0.8:
                    incr.append((q, b, half_up(j, 6)))

    # quality_scores: the per-document features and composite score
    stop = set(stopwords)
    quality = []
    for d, x in zip(ids, texts):
        w, x = toks[d], x or ""
        nw, nb, nd = len(w), len(x.encode()), len(set(w))
        npunct = len(PUNCT.findall(x))
        dr = half_up(nd / nw, 4) if nw else 0.0
        awl = half_up(nb / nw, 4) if nw else 0.0
        q = min(nw / 100.0, 1.0) * 0.4 + min(npunct / 5.0, 1.0) * 0.2 + dr * 0.4
        nstop = sum(t in stop for t in w)
        quality.append((d, nw, nb, npunct, nstop, nd, awl, dr, half_up(q, 4)))

    return {
        "dupspans": digest(["shingle", "n_docs", "first_doc"], dupspans),
        "incremental": digest(["batch_id", "base_id", "jaccard"], incr),
        "quality": digest(QUALITY_COLS, quality),
        "planted": planted_pairs(ids),
    }
