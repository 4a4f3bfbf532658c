"""Serving plane: LocalSearcher (pyarrow, no Spark) must be rank-identical
to the Spark engine and the pure-Python oracle, and answer warm queries in
milliseconds (the reference's long-lived server role, server.c)."""

import time

import pytest


@pytest.fixture(scope="module")
def searcher(index_dir):
    from femto_spark.serving import LocalSearcher

    return LocalSearcher(index_dir)


QUERIES = [
    "the",
    "data table",
    "data table scan",
    "merge fast slow",
    "zzznope",
    "the data merge value spark",
]


def test_search_rank_identical_to_oracle(searcher, oracle_sf001):
    for q in QUERIES:
        assert searcher.search(q, k=10) == oracle_sf001.search(q, k=10), q
        assert searcher.search(q, k=10, mode="and") == oracle_sf001.search(
            q, k=10, mode="and"
        ), q


def test_wand_equals_exact(searcher):
    for q in QUERIES:
        assert searcher.search_wand(q, k=10) == searcher.search(q, k=10), q


def test_count_matches_oracle(searcher, oracle_sf001):
    got = searcher.count("the data merge zzznope")
    for term, n_docs, n_occ in got:
        occ, docs = oracle_sf001.count(term)
        assert (n_occ, n_docs) == (occ, docs), term


def test_batch_and_cache(searcher):
    batch = {f"q{i}": QUERIES[i % len(QUERIES)] for i in range(20)}
    out = searcher.search_many(batch, k=5)
    assert len(out) == 20
    # warm single-query latency: milliseconds-class, not Spark-job-class
    searcher.search("data table scan", k=10)
    t0 = time.time()
    for _ in range(20):
        searcher.search("data table scan", k=10)
    per_query = (time.time() - t0) / 20
    assert per_query < 0.05, f"warm serving query took {per_query * 1e3:.1f} ms"


def test_fielded_where_filter(spark, tmp_path, docs_sf001, oracle_sf001):
    from pyspark.sql import functions as F  # noqa: F401

    from femto_spark.index import build_index
    from femto_spark.serving import LocalSearcher

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "serve_fielded")
    build_index(spark, corpus, out, n_buckets=8, field_cols=["lang"])
    s = LocalSearcher(out)
    langs = {
        r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()
    }
    got = s.search("data table scan", k=10, where={"lang": "en"})
    want = [
        (d, sc) for d, sc in oracle_sf001.search("data table scan", k=10**9)
        if langs[d] == "en"
    ][:10]
    assert got == want


def test_search_negative_doc_ids(spark, tmp_path):
    """Negative doc_ids must score under their own ids: the dense fold
    indexes an array by doc_id, where a negative id would wrap through
    numpy's negative indexing onto another doc's slot."""
    from femto_spark.index import build_index
    from femto_spark.query import SearchEngine
    from femto_spark.serving import LocalSearcher

    docs = [
        (-7, "data table scan"), (-3, "data data merge"), (-1, "table fast"),
        (0, "data slow"), (2, "merge table data table"), (6, "scan data"),
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "negix")
    build_index(spark, corpus, out, n_buckets=2)
    s, eng = LocalSearcher(out), SearchEngine(spark, out)
    for q in ["data", "data table", "table merge scan", "fast slow data"]:
        for mode in ("or", "and"):
            exp = [
                (r["doc_id"], r["score"])
                for r in eng.search(q, k=10, mode=mode).collect()
            ]
            assert exp or mode == "and", q
            assert s.search(q, k=10, mode=mode) == exp, (q, mode)


def test_proximity_matches_engine(searcher, engine):
    """THEN/WITHIN served locally must equal the Spark engine exactly."""
    cases = [
        ("data", "table", 3, True),
        ("data", "table", 3, False),
        ("the", "merge", 5, True),
        ("slow", "fast", 8, False),
        ("zzznope", "data", 4, True),
    ]
    for left, right, d, ordered in cases:
        got = searcher.proximity(left, right, d, ordered)
        exp = [
            (r["doc_id"], r["offset"])
            for r in engine.proximity(left, right, d, ordered).collect()
        ]
        assert got == exp, (left, right, d, ordered)


def test_phrase_matches_engine(searcher, engine):
    for q in ["data table", "table scan merge", "the the", "zzznope data"]:
        got = sorted(searcher.phrase(q))
        exp = sorted(
            (r["doc_id"], r["n_matches"], r["first_pos"])
            for r in engine.phrase(q).collect()
        )
        assert got == exp, q


def test_positions_plane_latency(searcher):
    searcher.proximity("data", "table", 3, True)  # warm
    searcher.phrase("data table")
    import time as _t

    t0 = _t.time()
    for _ in range(20):
        searcher.proximity("data", "table", 3, True)
        searcher.phrase("data table")
    per = (_t.time() - t0) / 40
    assert per < 0.01, f"warm positions query took {per * 1e3:.1f} ms"


def test_infix_matches_engine(searcher, engine, docs_sf001):
    """Serving-plane infix must equal the Spark engine's index-answered
    path across the full supported subset (classes, quantifiers,
    boundaries, alternation/groups) — and, since both planes run the one
    query/infix evaluator, each must also equal Python `re.search` over
    every doc's space-joined token stream (a plane-vs-plane check alone
    cannot catch a bug in the shared core)."""
    import re

    from femto_spark.tokenizer import tokenize

    streams = {d: " ".join(tokenize(t)) for d, t in docs_sf001.items()}
    pats = [
        "erge.fas", "erge fas", "merge", "a.a", "s[cl]an", "mer+ge",
        " able", ".able", " able ", "able ", "e ",
        "merge (fast|slow)", "s(can|low)", "merge|scan",
        "(able|data) ta.le", "x(y|z)?a",
        # > _ENUM_DOTS wildcards: the serving-side positional DP
        "d.t...t..bl.", ".e..e...s.", "a....a....a",
        # bounded dot quantifiers (rewritten to dot-run groups)
        "erge.{2}as", "ta.{1,2}e", "s.?an",
        # single interior unbounded gap + two-gap chain
        "erge.*fas", "able.+sc", "mer.*tab.*fas", "a.+b.+c",
        # k-gap chains and streamlined edge gaps
        "m.*a.*t.*s", "a.+b.*c.+d", "t.*a.+b.*l.+e",
        ".*able", "merge.*", ".+able", "able.+", ".{2,}able",
        # edge guard dots + interior gap chain (positional edge guards)
        ".+a.*b", "a.*b.+", ".a.*b", ".+erge.*fas.+", ".{2,}a.*b",
        ".+ab.*le.+", ".+m.*a.*t.+",
        # multi-token gap parts + interior gap-dot folding
        "erge fas.*tab", "merge fast.*scan", "a b.*c d", "ta.le.*fast",
        "mer.*tab le.*fas", ".+erge fas.*tab", "a.*.b", "a..*b",
        # boundary-exact edges (space adjacent to a `.*` gap)
        "able .*sc", "a .*b", "a.* b", " a .*b ", "e .*a .*t",
        "a .* b", "a .+ b", "able .* sc", "data .+ table",
        # single-flush `.+` gaps (margin-level frontier chain)
        "a .+b", "a.+ b", "data .+table", "merge.+ fast", "e .+a .*t",
        # interior min-m gaps (_gap_cells, incl. lg long-token filter)
        "a.+.+b", "a.*..b", "da.{2,}ta", "a.{3,}b", "a .+.+b",
        "a .{2,} b", "a .{3,}b", "data .{2,} table",
        # >2-dot guards and flush-edge guards (_guard_cells)
        "...a.*b", "....a.+b", ". a.*b", ".. a .+b", "a.*b...",
        # nested groups
        "(a(b|c))d", "s(c(a|b)n|low)", "me(r(ge|ta) fa)st",
        # edge-unbounded group repetition (rewritten away)
        "(the )+fa", "ta(b le)*", "(a b)+",
        # interior unbounded group repetition (corpus-probed through
        # the evaluator's rep_kmax emptiness probes)
        "me(rge fa)+st", "dat(a )*table", "s(can ){1,}fast",
    ]
    for pat in pats:
        want = sorted(d for d, s in streams.items() if re.search(pat, s))
        got = searcher.infix_docs(pat)
        exp = [r["doc_id"] for r in engine.infix_docs(pat).collect()]
        assert got == want, ("serving", pat)
        assert exp == want, ("spark", pat)


def test_vocab_demand_paged(index_dir, engine):
    """The serving plane must answer infix/extensions WITHOUT a resident
    vocab list: gram-prunable patterns materialize only their pruned page
    (rows read << vocab size), and no full-term-list attribute exists
    (reference analogue: the demand-paged header block, index.c:981)."""
    import pyarrow.dataset as pads

    from femto_spark.serving import LocalSearcher

    n_vocab = pads.dataset(f"{index_dir}/vocab").count_rows()
    s = LocalSearcher(index_dir)
    got = s.infix_docs("erge.fas")
    exp = [r["doc_id"] for r in engine.infix_docs("erge.fas").collect()]
    assert got == exp
    assert not hasattr(s, "_vocab_list")
    # the 'erge' run gram-prunes: the page read is a strict subset
    assert 0 < s.vocab_rows_read < n_vocab, (s.vocab_rows_read, n_vocab)

    # LRU: re-running the same pattern reads nothing new
    before = s.vocab_rows_read
    assert s.infix_docs("erge.fas") == got
    assert s.vocab_rows_read == before

    # short-fragment fallback STREAMS the vocab — only matches survive
    # (the resident count grows by the matches, not the scan)
    s2 = LocalSearcher(index_dir)
    s2.infix_docs("a.a")
    assert s2.vocab_rows_read < n_vocab
