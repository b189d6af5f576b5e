"""Round-2 curation operators: Gopher repetition filters, df-capped
keywords, PII scrubbing, dedup canonicalization clusters, modality stats.
(Each also has a DuckDB oracle exercised by the driver gate /
scripts/oracle_sweep.py; these tests pin the SEMANTICS on hand-built
fixtures where the expected values are computed by eye.)"""

import hashlib

from pyspark.sql import functions as F

from obsidian_parser_spark.operators.dedup import dedup_clusters
from obsidian_parser_spark.operators.multimodal import modality_stats
from obsidian_parser_spark.operators.textstats import (
    pii_scrub,
    repetition_stats,
    top_keywords,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )


# ---------------------------------------------------------------- repetition


def test_repetition_dup_lines(spark):
    # 3 identical non-blank lines + 1 unique; blank lines ignored
    txt = "spam line\n\nspam line\nunique line\nspam line\n"
    r = repetition_stats(_docs(spark, [txt])).collect()[0]
    assert r.n_lines == 4
    assert r.dup_line_frac == 0.75  # 3 of 4 line occurrences are duplicated
    # bytes: 3*9 dup / (3*9 + 11) total
    assert r.dup_line_char_frac == round(27 / 38, 4)
    assert bool(r.is_repetitive)


def test_repetition_top_bigram(spark):
    # "ha ha ha ha" → bigrams: 3 × "ha ha" → top_bigram_frac = 1.0
    r = repetition_stats(_docs(spark, ["ha ha ha ha"])).collect()[0]
    assert r.n_bigrams == 3
    assert r.top_bigram_frac == 1.0
    assert bool(r.is_repetitive)


def test_repetition_clean_doc_and_edge_cases(spark):
    rows = {
        r.doc_id: r
        for r in repetition_stats(
            _docs(
                spark,
                ["one two three four five six seven eight nine ten", "", "single"],
            )
        ).collect()
    }
    clean = rows[0]
    assert clean.dup_line_frac == 0.0
    assert clean.top_bigram_frac == round(1 / 9, 4)  # 9 distinct bigrams
    assert not clean.is_repetitive
    empty = rows[1]
    assert empty.n_lines == 0 and empty.n_bigrams == 0
    assert not empty.is_repetitive
    # 1 token → ZERO bigrams (unlike dedup.shingles' whole-text fallback)
    assert rows[2].n_bigrams == 0


# ---------------------------------------------------------------- keywords


def test_top_keywords_df_cap_and_ties(spark):
    texts = [
        "apple apple banana common common",
        "banana banana cherry common",
        "cherry apple common common common",
        "dates common",
    ]
    # 'common' is in all 4 docs → df 4 > 4*0.5 → filtered out everywhere;
    # df-2 tokens sit exactly AT the cap (≤) and survive
    out = top_keywords(_docs(spark, texts), k=2, max_df_frac=0.5).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.token, r.tf))
    assert sorted(by_doc[0]) == [(1, "apple", 2), (2, "banana", 1)]
    assert sorted(by_doc[1]) == [(1, "banana", 2), (2, "cherry", 1)]
    # doc 2: apple/cherry tie at tf=1 → lexicographic
    assert sorted(by_doc[2]) == [(1, "apple", 1), (2, "cherry", 1)]
    assert sorted(by_doc[3]) == [(1, "dates", 1)]
    assert all(t != "common" for rs in by_doc.values() for _, t, _ in rs)


def test_top_keywords_min_len(spark):
    out = top_keywords(_docs(spark, ["ab ab ab zzzz"]), k=3, max_df_frac=1.0)
    toks = [r.token for r in out.collect()]
    assert toks == ["zzzz"]  # 2-char token dropped despite tf=3


# ---------------------------------------------------------------- PII scrub


def test_pii_scrub_counts_and_text(spark):
    txt = (
        "mail a.user+x@sub.example.org or bob@x.co, host 192.168.0.1 "
        "acct 12345678 short 123456 done"
    )
    r = pii_scrub(_docs(spark, [txt])).collect()[0]
    assert r.n_emails == 2
    assert r.n_ips == 1
    assert r.n_longnums == 1  # 123456 is only 6 digits
    scrubbed = (
        "mail <EMAIL> or <EMAIL>, host <IP> acct <NUM> short 123456 done"
    )
    assert r.scrubbed_sha == hashlib.sha256(scrubbed.encode()).hexdigest()


def test_pii_scrub_no_false_positives_inside_words(spark):
    # digits glued to letters: no word boundary → not a long number
    r = pii_scrub(_docs(spark, ["user1234567x and ref90012345"])).collect()[0]
    assert r.n_longnums == 0 and r.n_emails == 0 and r.n_ips == 0


# ---------------------------------------------------------------- clusters


def test_dedup_clusters_transitive_closure(spark):
    # chain A-B, B-C must form ONE cluster keeping only A; D-E separate
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a string, b string"
    )
    rows = {r.doc_id: r for r in dedup_clusters(pairs).collect()}
    assert len(rows) == 5
    assert {rows[x].cluster for x in "abc"} == {"a"}
    assert {rows[x].cluster for x in "de"} == {"d"}
    keepers = {d for d, r in rows.items() if r.is_keeper}
    assert keepers == {"a", "d"}


# ---------------------------------------------------------------- modality


def test_modality_stats_micro(spark):
    from tests.util import spans_df

    rows = [
        {
            "doc_id": "m/doc",
            "spans": [
                {"kind": "frontmatter", "text": "id: 1", "media_ref": None, "offset": 0},
                {"kind": "text", "text": "héllo ", "media_ref": None, "offset": 1},
                {"kind": "embed", "text": "![[a.PNG]]", "media_ref": "a.PNG", "offset": 2},
                {"kind": "media", "text": "", "media_ref": "v.mp4", "offset": 3},
                {"kind": "media", "text": "", "media_ref": "s.wav", "offset": 4},
            ],
        }
    ]
    r = modality_stats(spans_df(spark, rows)).collect()[0]
    assert r.n_spans == 5 and r.n_media == 3
    # extension match is case-insensitive; text_bytes counts UTF-8 bytes
    assert (r.n_image, r.n_audio, r.n_video) == (1, 1, 1)
    assert r.text_bytes == len("id: 1".encode()) + len("héllo ".encode()) + len(
        "![[a.PNG]]".encode()
    )
    assert r.media_frac == 0.6


def test_modality_stats_counts_bmp_as_image(spark):
    """n_image reads the same extension table as the payload decoders,
    which decode .bmp natively."""
    from tests.util import spans_df

    spans = [
        {"kind": "embed", "text": "", "media_ref": ref, "offset": i}
        for i, ref in enumerate(["scan.bmp", "b.gif", "c.wav"])
    ]
    docs = spans_df(spark, [{"doc_id": "d", "spans": spans}])
    r = modality_stats(docs).collect()[0]
    assert (r.n_media, r.n_image, r.n_audio, r.n_video) == (3, 2, 1, 0)


def test_repetition_no_python_in_plan(spark):
    plan = repetition_stats(_docs(spark, ["x"]))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------- pagerank


def test_pagerank_matches_python_fixed_point(spark):
    from collections import Counter, defaultdict

    from obsidian_parser_spark.operators.pagerank import SCALE, pagerank

    nodes = ["a", "b", "c", "d"]  # d isolated
    edge_list = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("b", "a")]

    def py_pr(n_iter=10, d=85):
        w = Counter(edge_list)
        od = defaultdict(int)
        for (u, _), c in w.items():
            od[u] += c
        pr = {n: SCALE for n in nodes}
        base = (100 - d) * SCALE // 100
        for _ in range(n_iter):
            m = defaultdict(int)
            for (u, v), c in w.items():
                m[v] += (pr[u] * c) // od[u]
            pr = {n: base + (d * m.get(n, 0)) // 100 for n in nodes}
        return pr

    ndf = spark.createDataFrame([(n,) for n in nodes], "doc_id string")
    edf = spark.createDataFrame(edge_list, "subj string, obj string")
    got = {r.id: r.pr for r in pagerank(ndf, edf).collect()}
    assert got == py_pr()
    # isolated node holds the damped floor exactly
    assert got["d"] == (100 - 85) * SCALE // 100
    # a receives c's whole vote plus half of b's → highest rank
    assert max(got, key=got.get) == "a"


# ---------------------------------------------------------------- chunking


def test_chunk_documents_windows(spark):
    from obsidian_parser_spark.operators.textstats import chunk_documents

    d = _docs(spark, ["abcdefghij", ""])
    out = chunk_documents(d, chunk_chars=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
    # step 3: starts 0,3,6,9 — last window short
    assert sorted(by_doc[0]) == [(0, "abcd"), (1, "defg"), (2, "ghij"), (3, "j")]
    assert 1 not in by_doc  # empty doc → zero chunks

    no_overlap = chunk_documents(_docs(spark, ["abcdef"]), chunk_chars=3).collect()
    assert sorted((r.chunk_id, r.chunk_text) for r in no_overlap) == [
        (0, "abc"),
        (1, "def"),
    ]


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest

    from obsidian_parser_spark.operators.textstats import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, ["x"]), chunk_chars=4, overlap=4)


# ---------------------------------------------------------------- stratified


def test_stratified_sample_deterministic(spark):
    from obsidian_parser_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "rare") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    kept = stratified_sample(df, "lang", {"en": 30}, default_pct=100).collect()

    def bucket(i):
        # stratified family: salted 'strata' (decorrelated from BOTH the
        # split's unsalted bucket and hash_sample's 'sample' bucket)
        return int(hashlib.md5((str(i) + "strata").encode()).hexdigest()[:4], 16) % 100

    want = {i for i, lang in rows if (bucket(i) < 30 if lang == "en" else True)}
    assert {r.doc_id for r in kept} == want
    assert all(r.doc_id % 2 == 1 or bucket(r.doc_id) < 30 for r in kept)


def test_stratified_salt_decorrelated_from_sample(spark):
    """hash_sample → stratified_sample must compose as INDEPENDENT samples:
    with a shared salt, any stratum pct ≤ the sample pct keeps the full
    sample (nested min-pct semantics) — the distinct 'strata' salt makes
    the composition multiplicative (~pct² of the input)."""
    from obsidian_parser_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "en") for i in range(500)], "doc_id int, lang string"
    )
    sampled = hash_sample(df, 30)
    both = stratified_sample(sampled, "lang", {"en": 30})
    n_s, n_b = sampled.count(), both.count()
    assert 0 < n_b < n_s  # an aliased salt would keep the whole sample


def test_chunk_reconstruction_invariant(spark):
    """For any text: chunks tile it exactly — chunk 0 plus each later
    chunk minus its `overlap`-char prefix re-concatenates to the original
    (valid because every non-final window is full by construction)."""
    import random

    from obsidian_parser_spark.operators.textstats import chunk_documents

    rng = random.Random(7)
    alphabet = "ab 勢😭\n-"
    texts = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 41)))
             for _ in range(60)]
    d = _docs(spark, texts)
    for chunk_chars, overlap in ((4, 1), (5, 0), (7, 3)):
        step = chunk_chars - overlap
        out = chunk_documents(d, chunk_chars=chunk_chars, overlap=overlap).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text
        for i, text in enumerate(texts):
            chunks = [t for _, t in sorted(by_doc.get(i, {}).items())]
            if not text:
                assert chunks == []
                continue
            assert len(chunks) == (len(text) + step - 1) // step
            assert all(len(c) <= chunk_chars for c in chunks)
            rebuilt = chunks[0] + "".join(c[overlap:] for c in chunks[1:])
            assert rebuilt == text, (chunk_chars, overlap, text)


# ---------------------------------------------------------------- export


def test_jsonl_shard_export_roundtrip(spark, tmp_path):
    from obsidian_parser_spark.operators.export import write_jsonl_shards

    df = _docs(spark, [f"text {i}" for i in range(250)])
    out = str(tmp_path / "shards")
    write_jsonl_shards(df, out, max_docs_per_shard=100, coalesce_to=1)
    back = spark.read.json(out)
    assert back.count() == 250
    assert {r.doc_id for r in back.collect()} == set(range(250))
    # shard cap respected: 250 rows / ≤100 per file → ≥3 data files
    import glob

    files = glob.glob(f"{out}/part-*.json.gz")
    assert len(files) >= 3
    for f in files:
        import gzip

        with gzip.open(f, "rt") as fh:
            assert sum(1 for _ in fh) <= 100


def test_jsonl_span_corpus_roundtrip(spark, tmp_path):
    """Span documents survive a JSONL shard round-trip byte-for-byte
    (export → read_jsonl_corpus with the canonical schema)."""
    from obsidian_parser_spark.operators.export import (
        read_jsonl_corpus,
        write_jsonl_shards,
    )
    from obsidian_parser_spark.sources.corpus import micro_vault_rows
    from obsidian_parser_spark.sources.schema import DOCUMENTS_SCHEMA
    from tests.util import spans_df

    docs = spans_df(spark, micro_vault_rows())
    out = str(tmp_path / "jsonl")
    write_jsonl_shards(docs, out, coalesce_to=1)
    back = read_jsonl_corpus(spark, out, DOCUMENTS_SCHEMA)
    a = sorted(docs.collect(), key=lambda r: r.doc_id)
    b = sorted(back.collect(), key=lambda r: r.doc_id)
    assert [r.asDict(recursive=True) for r in a] == [
        r.asDict(recursive=True) for r in b
    ]


def test_reconstruct_hostile_spans(spark):
    """Reconstruction is total on hostile span arrays: empty arrays,
    negative offsets (still sorted numerically), null span text, and two
    frontmatter spans (the FIRST in array order wins — pinned semantic)."""
    from obsidian_parser_spark.operators.tokenize import reconstruct_text
    from tests.util import spans_df

    rows = [
        {"doc_id": "empty", "spans": []},
        {
            "doc_id": "neg",
            "spans": [
                {"kind": "text", "text": "b", "media_ref": None, "offset": 0},
                {"kind": "text", "text": "a", "media_ref": None, "offset": -5},
                {"kind": "text", "text": None, "media_ref": None, "offset": 3},
            ],
        },
        {
            "doc_id": "twofm",
            "spans": [
                {"kind": "frontmatter", "text": "first", "media_ref": None, "offset": 1},
                {"kind": "frontmatter", "text": "second", "media_ref": None, "offset": 0},
                {"kind": "text", "text": "body", "media_ref": None, "offset": 2},
            ],
        },
    ]
    got = {r.doc_id: r for r in reconstruct_text(spans_df(spark, rows)).collect()}
    assert got["empty"].content == "" and got["empty"].properties_yaml is None
    assert got["neg"].content == "ab"  # -5 sorts first; null text contributes ''
    assert got["twofm"].properties_yaml == "first"
    assert got["twofm"].content == "body"


def test_hits_matches_python_fixed_point(spark):
    from collections import Counter, defaultdict

    from obsidian_parser_spark.operators.pagerank import SCALE, hits

    nodes = ["a", "b", "c", "d"]  # d isolated
    edge_list = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]

    def py_hits(n_iter=10):
        w = Counter(edge_list)
        hub = {n: SCALE for n in nodes}
        auth = {n: SCALE for n in nodes}
        for _ in range(n_iter):
            raw = defaultdict(int)
            for (u, v), c in w.items():
                raw[v] += hub[u] * c
            mx = max((raw.get(n, 0) for n in nodes), default=0)
            auth = {
                n: (raw.get(n, 0) * SCALE) // mx if mx > 0 else 0 for n in nodes
            }
            raw = defaultdict(int)
            for (u, v), c in w.items():
                raw[u] += auth[v] * c
            mx = max((raw.get(n, 0) for n in nodes), default=0)
            hub = {
                n: (raw.get(n, 0) * SCALE) // mx if mx > 0 else 0 for n in nodes
            }
        return hub, auth

    ndf = spark.createDataFrame([(n,) for n in nodes], "doc_id string")
    edf = spark.createDataFrame(edge_list, "subj string, obj string")
    got = {r.id: (r.hub, r.authority) for r in hits(ndf, edf).collect()}
    hub, auth = py_hits()
    assert got == {n: (hub[n], auth[n]) for n in nodes}
    assert got["d"] == (0, 0)  # isolated node settles to zero
    # a points at everything heavily → top hub; b is the most-pointed-at
    assert max(got, key=lambda n: got[n][0]) == "a"
    assert max(got, key=lambda n: got[n][1]) == "b"


def test_sample_then_split_composition_not_aliased(spark):
    """Regression: sampling and splitting use DECORRELATED hash buckets —
    a 30% sample followed by hash_split must still populate valid/test
    (with one shared bucket every sampled row would land in train)."""
    from obsidian_parser_spark.operators.sampling import hash_sample, hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id int")
    sampled = hash_sample(df, 30)
    splits = {
        r.split: r.c
        for r in hash_split(sampled)
        .groupBy("split")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert splits.get("valid", 0) > 0 and splits.get("test", 0) > 0


def test_pack_chunks_greedy_invariants(spark):
    """Sequence packing: pack assignment equals the python greedy-cumsum
    mirror (md5 shard, in-order prior-token fill), packs never split a
    chunk, and chunk order is preserved within a pack."""
    from obsidian_parser_spark.operators.packing import pack_chunks, pack_stats

    rows = [
        (d, c, " ".join(f"w{d}_{c}_{k}" for k in range((d * 7 + c * 3) % 11 + 1)))
        for d in range(40)
        for c in range((d % 4) + 1)
    ]
    df = spark.createDataFrame(rows, "doc_id int, chunk_id int, chunk_text string")
    budget, shards = 10, 4
    got = pack_chunks(df, budget_tokens=budget, n_shards=shards).collect()

    def shard_of(d):
        return int(hashlib.md5((str(d) + "pack").encode()).hexdigest()[:4], 16) % shards

    # python mirror: per shard, order by (doc_id, chunk_id), cumsum prior
    by_shard = {}
    for d, c, t in sorted(rows):
        by_shard.setdefault(shard_of(d), []).append((d, c, len(t.split())))
    want = {}
    for sh, lst in by_shard.items():
        prior = 0
        for d, c, n in lst:
            want[(d, c)] = (sh, prior // budget, n)
            prior += n
    assert {(r.doc_id, r.chunk_id): (r.shard, r.pack_id, r.n_tokens) for r in got} == want

    stats = pack_stats(
        pack_chunks(df, budget_tokens=budget, n_shards=shards)
    ).collect()
    # greedy bound: a pack overruns the budget by less than one chunk,
    # and every non-final pack in a shard is at least budget-full when
    # combined with its overflow chunk (prior-fill rule)
    max_chunk = max(n for _, _, n in {k: v for k, v in want.items()}.values() or [(0, 0, 1)])
    for r in stats:
        assert r.pack_tokens < budget + max(budget, max_chunk) + max_chunk


def test_pack_chunks_rejects_bad_budget(spark):
    import pytest

    from obsidian_parser_spark.operators.packing import pack_chunks

    df = spark.createDataFrame([(1, 0, "x")], "doc_id int, chunk_id int, chunk_text string")
    with pytest.raises(ValueError):
        pack_chunks(df, budget_tokens=0)


def test_pack_auto_shard_count_scales_with_corpus(spark):
    """n_shards=None sizes shards from MEASURED token volume: the count
    grows with the corpus (each shard ≈ budget × target_packs_per_shard
    tokens) and never drops below the cluster parallelism — a fixed
    default would turn each shard into an unbounded single-reducer sort
    as the corpus grows (the r3 VERDICT scale-killer)."""
    from obsidian_parser_spark.operators.packing import auto_shard_count

    def corpus(n_docs):
        return spark.createDataFrame(
            [(d, 0, "tok " * 10) for d in range(n_docs)],
            "doc_id int, chunk_id int, chunk_text string",
        )

    floor = spark.sparkContext.defaultParallelism
    # tiny corpus (1 doc × 10 tokens, 10-token shard target): floored at
    # the cluster parallelism, never fewer shards than cores
    small = auto_shard_count(corpus(1), budget_tokens=5, target_packs_per_shard=2)
    assert small == max(floor, 1)
    # 400 docs × 10 tokens = 4000 tokens; 5×2=10 tokens/shard target ⇒ 400
    big = auto_shard_count(corpus(400), budget_tokens=5, target_packs_per_shard=2)
    assert big == max(floor, 400)
    assert big > small


def test_pack_chunks_max_shard_tokens_guard(spark):
    """An explicit n_shards pin outgrown by the corpus fails LOUDLY when
    max_shard_tokens is set (packing cannot drop data, so the guard
    raises instead of filtering like the LSH mega-bucket cap)."""
    import pytest

    from obsidian_parser_spark.operators.packing import pack_chunks

    df = spark.createDataFrame(
        [(d, 0, "t " * 50) for d in range(20)],
        "doc_id int, chunk_id int, chunk_text string",
    )
    with pytest.raises(ValueError, match="max_shard_tokens"):
        pack_chunks(df, budget_tokens=10, n_shards=1, max_shard_tokens=100)
    # roomy cap: passes through and packs normally
    got = pack_chunks(df, budget_tokens=10, n_shards=1, max_shard_tokens=10_000)
    assert got.count() == 20
    # auto-sizing produces a runnable packing with bounded shards
    auto = pack_chunks(df, budget_tokens=10, target_packs_per_shard=2)
    assert auto.count() == 20
    assert auto.select("shard").distinct().count() >= 1
