"""Phrase / APPROX / word-level REGEXP — engine vs oracle differentials."""

import pytest


@pytest.mark.parametrize(
    "q",
    ["data table", "the data", "fast slow", "merge sort key", "zzz qqq"],
)
def test_phrase_matches_oracle(engine, oracle_sf001, q):
    want = oracle_sf001.phrase(q)
    got = [
        (r["doc_id"], r["n_matches"], r["first_pos"])
        for r in engine.phrase(q).collect()
    ]
    assert got == want, q


@pytest.mark.parametrize(
    "q,k",
    [
        ("data table", 3),      # k < total matches: stops early
        ("data table", 10_000),  # k > total: returns everything
        ("the data", 1),
        ("merge sort key", 2),
        ("zzz qqq", 5),          # absent term: empty
    ],
)
def test_phrase_limit_first_k(engine, oracle_sf001, q, k):
    want = oracle_sf001.phrase(q)[:k]
    got = [
        (r["doc_id"], r["n_matches"], r["first_pos"])
        for r in engine.phrase_limit(q, k=k).collect()
    ]
    assert got == want, (q, k)


def test_phrase_limit_multi_round(engine, oracle_sf001):
    """Start the candidate prefix at 1 doc so the geometric growth loop
    takes several rounds; rows must still be exactly the doc-order
    first k."""
    q, k = "data table", 4
    want = oracle_sf001.phrase(q)[:k]
    got = [
        (r["doc_id"], r["n_matches"], r["first_pos"])
        for r in engine.phrase_limit(q, k=k, prefix0=1).collect()
    ]
    assert got == want


@pytest.mark.parametrize(
    "pat,k,p0",
    [
        ("erge.fas", 5, None),
        ("erge.*fas", 7, None),
        ("data .+table", 5, 2),      # multi-round, margin chain
        ("a .{2,} b", 4, 3),         # multi-round, lg cell
        ("...erge.*fas", 5, 10),     # guard cells
        ("zzznope.*xx", 5, None),    # no matches: empty, 2-round worst
    ],
)
def test_infix_limit_first_k(engine, docs_sf001, pat, k, p0):
    """infix_limit ≡ infix_docs ORDER BY doc_id LIMIT k — every round
    runs the full infix machinery through the doc-range-capped engine
    view, so all planes (variants / DP / gap cells) are reachable."""
    import re

    from femto_spark.tokenizer import tokenize

    want = sorted(
        d
        for d, t in docs_sf001.items()
        if re.search(pat, " ".join(tokenize(t)))
    )[:k]
    got = [r["doc_id"] for r in engine.infix_limit(pat, k, prefix0=p0).collect()]
    assert got == want, (pat, k, p0)


def test_phrase_single_term(engine, oracle_sf001):
    want = oracle_sf001.phrase("merge")
    got = [
        (r["doc_id"], r["n_matches"], r["first_pos"])
        for r in engine.phrase("merge").collect()
    ]
    assert got == want


@pytest.mark.parametrize("probe,k", [("tabl", 1), ("scan", 1), ("merge", 2)])
def test_approx_terms_match_oracle(engine, oracle_sf001, probe, k):
    want = oracle_sf001.approx_terms(probe, k)
    got = [
        (r["term"], r["dist"], r["df"])
        for r in engine.approx_terms(probe, k).collect()
    ]
    assert got == want, (probe, k)


def test_approx_docs(engine, oracle_sf001):
    want = set()
    for t, _, _ in oracle_sf001.approx_terms("tabl", 1):
        want |= set(oracle_sf001.postings[t])
    got = {r["doc_id"] for r in engine.approx_docs("tabl", 1).collect()}
    assert got == want


@pytest.mark.parametrize("pattern", ["^mer", "ta.le", "s(can|low)", "^q"])
def test_regex_docs_match_oracle(engine, oracle_sf001, pattern):
    want = sorted(oracle_sf001.regex_docs(pattern))
    got = [r["doc_id"] for r in engine.regex_docs(pattern).collect()]
    assert got == want, pattern


def test_infix_docs_matches_token_stream_regex(spark, engine, docs_sf001):
    """infix_docs must equal a regex over the space-joined token stream —
    the indexed sequence (FEMTO's substring-over-index core query)."""
    import re

    from femto_spark.tokenizer import tokenize

    streams = {d: " ".join(tokenize(t)) for d, t in docs_sf001.items()}
    for pat in [
        "erge.fas", "erge fas", "ta.le", "merge", "able sc", "a.a",
        # classes and quantifiers (in-token)
        "s[cl]an", "ta[b-d]le", "mer+ge", "ab?le", "s[cl]an fas",
        "scan.fa[rst]t", "value[s0-9]",
        # empty EDGE fragments: leading/trailing token boundary — the
        # predecessor/successor sits at anchor / anchor+k, which exists
        # iff anchor >= 0 (regression: 'anchor >= 1' dropped matches
        # whose matched token is at stream position 1)
        " able", ".able", " able ", "able ", " ta.le", " a", "e ",
        # alternation and groups: in-token groups stay regex units
        # (quantifiable); cross-token groups branch-expand; top-level '|'
        "merge (fast|slow)", "s(can|low)", "ta(b|c)le", "merge|scan",
        "ab(cd|le)+", "s(can|low) (fast|slow)", "(able|data) ta.le",
        "mer(ge fast|ge slow)", "(a b)? table", "x(y|z)?a",
        # bounded dot quantifiers rewrite to dot-run alternation
        "erge.{2}as", "ta.{1,2}e", "s.?an", "merge.{0,1}fast",
        "a.{3}a", "d.{1,3}ta",
        # single interior unbounded gap: same-token OR ordered cross-token
        "erge.*fas", "able.+sc", "mer.*ast", "s[cl]an.*table",
        "zzz.*merge", "merge.+zzz", "(ab.*le|qqq)",
        # two-gap chains: four-combo token-assignment decomposition
        "mer.*tab.*fas", "a.+b.+c", "sc.*da.*le", "erge.+as.+ow",
        # k-gap chains (3 and 4 gaps): 2^k merge masks + greedy chains
        "m.*a.*t.*s", "a.+b.*c.+d", "s.*c.*a.*n", "d.*a.*t.*a.*b",
        "e.+r.+g.+e", "t.*a.+b.*l.+e",
        # edge gaps: streamline rewrite (`.*B`≡`B`, `.+B`≡`.B`, …)
        ".*able", "merge.*", ".+able", "able.+", ".*erge.fas",
        ".{2,}able", "able.{3,}", ".*mer.*ast", ".*a.+b.*",
        ".*able.*", ".+merge.+", ".+erge.fas", "data.+",
        # edge guard dots + interior gap chain (positional edge guards,
        # exact for runs <= _MAX_EDGE_GUARD; `..*B` folds into `.{1,}B`)
        ".+a.*b", "a.*b.+", ".a.*b", "a.*b.", ".+erge.*fas.+",
        ".{2,}a.*b", "..a.*b", "a.*b..", ".+m.*a.*t.+", ".+ab.*le.+",
        ".+ta.+bl.+", "..*able.*.", ".+e.*r.*g.*e.+",
        # MULTI-TOKEN gap parts: spaces split parts into consecutive
        # token slots; in-part dots enumerate space/char choices
        "erge fas.*tab", "merge fast.*scan", "able.*data tab",
        "a b.*c d", "ta.le.*fast", "erge.fas.*tab.e",
        "mer.*tab le.*fas", "s(c|l)an fas.*tab", "e fast.+sc",
        ".+erge fas.*tab", "data tab.*le sc.+", "a b.+c d.*e",
        # interior gap-adjacent dots fold into the gap (`.*.`≡`..*`≡`.+`)
        "a.*.b", "a..*b", "mer.*.fas", "ta.+.*ble", "a.*.*b",
        # boundary-exact edges: a literal space adjacent to a `.*` gap
        # (empty edge fragment — successor/predecessor-token constraint,
        # merge mask forbidden on that gap)
        "able .*sc", "a .*b", "a.* b", "erge .*fas", " able.*sc",
        "merge .*table", "data tab.* le", "a b .*c", "ta.le .*fast",
        " a .*b ", "e .*a .*t", "able.*sc ", "merge fast.* sc",
        # DOUBLE-flush gaps (spaces on both sides): a full token must
        # sit between the groups — `.+` is fine here, the token feeds it
        "a .* b", "a .+ b", "able .* sc", "able .+ sc", "e .* a .* t",
        "data .+ table", "a b .* c d", "merge .+ fast",
        # SINGLE-flush `.+` gaps: adjacent placement needs a char-level
        # margin — the per-level frontier chain (query/infix._gap_cells)
        "a .+b", "a.+ b", "data .+table", "merge.+ fast", "able .+sc",
        "ab .+a .+b c", "e .+a .*t", "a .*b .+c", ".+a .+b", "a.+ b.+",
        "erge .+fas", "ta.+ le .+fast",
        # interior MIN-m gaps (m ≤ 3): `.+.+`≡`.*..`≡`.{2,}` — margin-
        # level cells; flush combos add the long-intermediate-token
        # filter (lg anti-join against short-term positions)
        "a.+.+b", "a.*..b", "da.{2,}ta", "erge.{2,}fas", "a.{3,}b",
        "a .+.+b", "a.{2,} b", "ta.{2,}le .*fast", "e.{2,}a.{3,}t",
        "data.{2,}table|merge.{3,}fast",
        "a .{2,} b", "a .+.+ b", "data .{2,} table", "a .{3,} b",
        "a .{3,}b", "erge.{3,} fas", "e .{2,} a .{2,} t",
        # >2-dot guards (guard cells, g ≤ 4) and guards on flush edges
        "...a.*b", "....erge.+fas", "a.*b...", ". a.*b", ".. a .+b",
        ".+ a.*b", "...a .{2,} b", "data.* table ..", ".{3,}a.*b...",
        # nested groups: in-token stay opaque rlike units; cross-token
        # branch-expand recursively
        "(a(b|c))d", "s(c(a|b)n|low)", "x(y(z|q))?a", "ab(c(d|e))+",
        "(s(c|l)an (fa|slo)st)", "me(r(ge|ta) fa)st", "((able|data) ta.le)",
        "t(a(b|c)le|x) sc",
        # bounded cross-token group repetition (textual repeats)
        "(a b){2}", "(b|c a){1,2}", "x(y z){0,1}", "(ta |da ){1,2}ble",
        "(the ){2}", "(a ){2,3}b",
        # EDGE-unbounded group repetition (rewrites away: both planes
        # report docs only, so unanchored search keeps the edge rep)
        "(a b)+", "(the )+fa", "(a |the ){1,}of", "ta(b le)*",
        "(da|ta) (ba se)+", "(a b)?(s t)+", "(x y)*",
        # INTERIOR unbounded group repetition: corpus-probed
        # finite-ization (_Evaluator.rep_kmax — monotone X^k emptiness)
        "me(rge fa)+st", "dat(a )*table", "s(can ){1,}fast",
        "dat(a b)+cd", "x(y z)+w", "d(ata tab)+le",
        "me(rge fa|ta da)+st", "a(b c)*d",
    ]:
        want = sorted(d for d, s in streams.items() if re.search(pat, s))
        got = [r["doc_id"] for r in engine.infix_docs(pat).collect()]
        assert got == want, pat


def test_infix_many_dots_dp(spark, engine, docs_sf001):
    """Patterns with > _ENUM_DOTS wildcards route through the positional
    DP (no 2^dots enumeration) and must still equal the token-stream
    regex oracle."""
    import re

    from femto_spark.query.infix import _ENUM_DOTS, pattern_supported
    from femto_spark.tokenizer import tokenize

    streams = {d: " ".join(tokenize(t)) for d, t in docs_sf001.items()}
    for pat in [
        "d.t...t..bl.",         # 8 dots, crosses one boundary
        "m...e..a..t.",         # 8 dots
        ".e..e...s.",           # 10 dots, empty-ish edges
        "a....a....a",          # 8 dots, repeats
        "s..n.f.st.sl..",       # 10 dots, two boundaries
    ]:
        assert pat.count(".") > _ENUM_DOTS, pat
        assert pattern_supported(pat), pat
        want = sorted(d for d, s in streams.items() if re.search(pat, s))
        got = [r["doc_id"] for r in engine.infix_docs(pat).collect()]
        assert got == want, pat


def test_infix_dp_equals_enumeration(spark, engine, docs_sf001):
    """Differential: for patterns the enumeration path handles, the DP
    must produce identical doc sets (same variant semantics, different
    plan)."""
    from femto_spark.query.infix import SparkPlane, dp_docs

    for pat in [
        "erge.fas", "ta.le", "a.a", ".able", "able ", " ta.le",
        "scan.fa[rst]t", "s[cl]an fas", "mer+ge", "e.g. .as",
    ]:
        enum = [r["doc_id"] for r in engine.infix_docs(pat).collect()]
        dp = sorted(
            {
                r["doc_id"]
                for r in dp_docs(SparkPlane(engine), pat).collect()
            }
        )
        assert dp == enum, pat


def test_infix_leading_boundary_position_one(spark, tmp_path):
    """Regression for the anchor>=1 off-by-one: a doc whose matched token
    sits at stream position 1 ('x able here') must survive a leading
    token-boundary fragment (' able', '.able', ' able ')."""
    from femto_spark.index import build_index
    from femto_spark.query import SearchEngine

    docs = [(0, "x able here"), (1, "able first token"), (2, "no match")]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_buckets=2)
    eng = SearchEngine(spark, out, corpus=corpus)
    for pat, want in [
        (" able", [0]),
        (".able", [0]),
        (" able ", [0]),
        ("able", [0, 1]),
    ]:
        got = [r["doc_id"] for r in eng.infix_docs(pat).collect()]
        assert got == want, pat


def test_infix_multitoken_gap_adversarial(spark, tmp_path):
    """Handpicked streams that stress the multi-token gap-part cases:
    boundary-token merges (both parts inside one token), phrase parts at
    stream edges with guards, adjacent-token chains, and the in-part
    dot space/char enumeration."""
    import re

    from femto_spark.index import build_index
    from femto_spark.query import SearchEngine
    from femto_spark.tokenizer import tokenize

    docs = [
        (0, "ab cd xy ef gh"),      # plain two-phrase chain
        (1, "ab cdef gh"),          # parts share the boundary token cd|ef
        (2, "ab cd ef gh"),         # adjacent tokens, empty gap
        (3, "abcdefgh"),            # everything inside ONE token
        (4, "cd ef"),               # phrase at stream start AND end
        (5, "x ab cd y ef gh z"),   # guards satisfiable from neighbors
        (6, "ef gh ab cd"),         # wrong order
        (7, "ab qq cd ef"),         # first phrase broken
        (8, "ab cd ef"),            # tail-guard edge: ends at match end
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "ix")
    build_index(spark, corpus, out, n_buckets=2)
    eng = SearchEngine(spark, out, corpus=corpus)
    streams = {d: " ".join(tokenize(t)) for d, t in docs}
    for pat in [
        "ab cd.*ef gh", "ab cd.+ef gh", "b cd.*ef g", "ab cd.*ef",
        ".+ab cd.*ef gh", "ab cd.*ef gh.+", ".+b cd.*ef g.+",
        "ab c..*ef", "ab cd.*e. g.", "a. cd.+ef", "cd.*ef",
        "ab cd.*ef.*gh", "b c.*f g.*h",
        # boundary-exact edges against the same streams
        "ab .*ef", "cd .*gh", "b .*ef gh", "ab cd .*gh", "cd.* ef",
        " cd.*ef", "cd.*ef ", "ab .*cd .*ef",
    ]:
        want = sorted(d for d, s in streams.items() if re.search(pat, s))
        got = [r["doc_id"] for r in eng.infix_docs(pat).collect()]
        assert got == want, (pat, got, want)


def test_infix_rejects_unsupported(engine):
    import pytest as _pt

    for bad in [
        "x* y", "[a b]", "a||b",         # empty-matching / bad class
        "(a b){0,9}",                    # bounded repetition too wide
        "((b|c)?)d",                     # group branch can match empty
        "c(x* )+d",                      # rep body can match empty
        # edge guard run > _MAX_EDGE_GUARD (g ≥ 5 — multi-token
        # lookback) or g = 4 on a flush edge; guards ≤ 4 (≤ 3 flush)
        # are SUPPORTED via _guard_cells
        ".{5,}a.*b", "a.*b.{5,}", ".....a.*b", ".... a.*b",
        # gap minima past _MAX_GAP_MIN, double boundary spaces; min-m
        # gaps in every flush combo are SUPPORTED (margin-level cells
        # + long-adjacent-token filter)
        "a.{4,}b", "a .{4,} b", "a  .*b",
    ]:
        with _pt.raises(ValueError):
            engine.infix_docs(bad)


def test_approx_weighted_costs(engine, oracle_sf001):
    """Weighted APPROX (max:subst:delete:insert) — engine vs oracle DP."""
    for kwargs in (
        dict(max_edits=1),
        dict(max_edits=2, subst_cost=2, delete_cost=1, insert_cost=2),
        dict(max_edits=2, subst_cost=1, delete_cost=2, insert_cost=1),
    ):
        got = [r["doc_id"] for r in engine.approx_docs("tabl", **kwargs).collect()]
        want = sorted(oracle_sf001.approx_docs("tabl", **kwargs))
        assert got == want, kwargs


def test_boolean_offsets_vs_oracle(engine, oracle_sf001):
    for op in ("and", "or", "not"):
        got = [
            (r["doc_id"], r["offset"])
            for r in engine.boolean_offsets(op, "data", "table").collect()
        ]
        assert got == oracle_sf001.boolean_offsets(op, "data", "table"), op


def test_regex_pruning_is_lossless(engine, oracle_sf001):
    """Alternation/class patterns must NOT be gram-pruned (a run in one
    branch isn't required) — regression for the '^mer|s(can|low)$' bug."""
    for pat in ["^mer|s(can|low)$", "merge", "ta.le", "x[yz]a", "ab+c"]:
        got = [r["doc_id"] for r in engine.regex_docs(pat).collect()]
        assert got == sorted(oracle_sf001.regex_docs(pat)), pat


def test_query_grammar_mixed_atoms(engine, oracle_sf001):
    """APPROX and regex atoms compose inside boolean expressions."""
    from femto_spark.query.parser import eval_with_oracle, parse_query

    for q in [
        "(APPROX 1 tabl) AND data",
        "(APPROX 2:2:1:2 tabl) OR scan",
        "data ta.le",
        "sc.n NOT merge",
    ]:
        want = sorted(eval_with_oracle(oracle_sf001, parse_query(q)))
        got = [r["doc_id"] for r in engine.query(q).collect()]
        assert got == want, q


def test_extend_left_and_suggest(engine, oracle_sf001):
    vocab = {t: len(p) for t, p in oracle_sf001.postings.items()}
    got = [(r["term"], r["df"]) for r in engine.extend("e", 10, direction="left").collect()]
    want = sorted(
        ((t, df) for t, df in vocab.items() if t.endswith("e")),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert got == want
    got_b = {r["term"] for r in engine.extend("erg", 10, direction="both").collect()}
    assert got_b == {t for t in vocab if "erg" in t}

    # prefix fallback: 'mergq' has no match, 'merg' does
    rows = engine.suggest("mergq", 10).collect()
    assert rows and all(r["matched_prefix"] == "merg" for r in rows)
    assert {r["term"] for r in rows} == {t for t in vocab if t.startswith("merg")}
    # a probe that IS a term keeps the full prefix
    rows2 = engine.suggest("merge", 10).collect()
    assert rows2[0]["matched_prefix"] == "merge"
    # no match at all (no term starts with the probe's first char) → empty
    first_chars = {t[0] for t in vocab}
    dead = next(c for c in "0123456789zyx" if c not in first_chars)
    assert engine.suggest(dead * 3, 10).count() == 0
    # single-char fallback: probe shares only its first char with vocab
    ch = next(iter(first_chars))
    rows3 = engine.suggest(ch + "000", 10).collect()
    assert rows3 and all(r["matched_prefix"] == ch for r in rows3)


def test_suggest_hostile_probe(engine, oracle_sf001):
    """Quotes / LIKE metacharacters / regex chars in the probe must be
    treated as literals (empty-or-correct), never an AnalysisException
    (regression: the LIKE f-string broke on ' and wildcarded on %/_)."""
    vocab = set(oracle_sf001.postings)

    def want_prefix(p):
        return next(
            (
                p[:i]
                for i in range(len(p), 0, -1)
                if any(t.startswith(p[:i]) for t in vocab)
            ),
            None,
        )

    for probe in ["mer'ge", 'mer"ge', "mer%", "mer_", "m%'--", "mer\\ge"]:
        rows = engine.suggest(probe, 10).collect()
        wp = want_prefix(probe)
        assert rows and all(r["matched_prefix"] == wp for r in rows), probe
        assert {r["term"] for r in rows} <= {
            t for t in vocab if t.startswith(wp)
        }, probe
    # a probe whose FIRST char is hostile -> empty, no exception
    assert engine.suggest("'merge", 10).count() == 0
    assert engine.suggest("%", 10).count() == 0
