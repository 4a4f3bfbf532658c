"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship BM25 top-10 over the sf0.001 documents table.
queries()      — one entry per implemented operator (SURVEY.md §2 + the
                 training-pipeline operators).
oracle_sql()   — independent DuckDB ANSI-SQL restatements; the driver runs
                 both sides at sf0.01 and hash-compares values.

The inverted index is built once per sf_dir (memoized under
.scratch/ inside the repo) and reused by every FTS query entry.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from femto_spark.scoring import duckdb_score_sql
from femto_spark.tokenizer import duckdb_tokens_expr

_SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")
_ENGINES: dict[str, object] = {}

# ---------------------------------------------------------------------------
# shared DuckDB SQL building blocks (tokenization identical to the engine)
# ---------------------------------------------------------------------------

_TOKS = duckdb_tokens_expr("text")

_BASE = f"""
WITH docs_tok AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks) AS dl FROM docs_tok),
st AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs_tok),
tokpos AS (
    SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS pos
    FROM docs_tok
)
"""


def _sql_terms(terms: list[str]) -> str:
    return ",".join(f"'{t}'" for t in terms)


def _bm25_sql(terms: list[str], k: int = 10, mode: str = "or") -> str:
    score = duckdb_score_sql("tf.tf", "dl.dl", "dfc.df", "st.n", "st.avgdl")
    having = (
        f"WHERE nt = {len(terms)}" if mode == "and" else ""
    )
    return f"""{_BASE},
tf  AS (SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ({_sql_terms(terms)}) GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc  AS (SELECT tf.doc_id, tf.term, CAST({score} AS DOUBLE) AS s
        FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
agg AS (SELECT doc_id, sum(s ORDER BY term) AS raw,
               count(DISTINCT term) AS nt FROM sc GROUP BY doc_id)
SELECT doc_id, floor(raw * 1e6 + 0.5) / 1e6 AS score
FROM agg {having}
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _docset_sql(terms: list[str]) -> str:
    return (
        f"SELECT doc_id FROM (SELECT doc_id, count(DISTINCT term) AS c FROM tok"
        f" WHERE term IN ({_sql_terms(terms)}) GROUP BY doc_id) WHERE c = {len(terms)}"
    )


# the fixed probe workload (same constants on both sides)
_PROBE_TERMS = ["the", "data", "merge", "value", "spark", "zzznope"]
_Q_OR = "data table scan"
_Q_AND = "the data table"
_BATCH = {
    "q0": "the",
    "q1": "data table",
    "q2": "spark window agg",
    "q3": "fast slow filter",
    "q4": "zzznope",
}


# ---------------------------------------------------------------------------
# engine plumbing
# ---------------------------------------------------------------------------


def _engine(spark: SparkSession, sf_dir: str):
    from femto_spark.index import build_index
    from femto_spark.query import SearchEngine

    key = os.path.abspath(sf_dir)
    if key in _ENGINES:
        return _ENGINES[key]
    corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = os.path.join(_SCRATCH, "index_" + key.strip("/").replace("/", "_"))
    # refuse stale on-disk layouts from earlier code versions
    import json as _json
    import shutil as _shutil

    from femto_spark.index.build import FORMAT_VERSION

    stats_p = os.path.join(out, "stats.json")
    if os.path.exists(stats_p):
        try:
            ok = _json.load(open(stats_p)).get("format_version") == FORMAT_VERSION
        except Exception:
            ok = False
        if not ok:
            _shutil.rmtree(out, ignore_errors=True)
    build_index(
        spark, corpus, out, n_buckets=16, resume=True,
        field_cols=["lang", "source"],
    )
    eng = SearchEngine(spark, out, corpus=corpus)
    _ENGINES[key] = eng
    return eng


def _engine_masked(spark: SparkSession, sf_dir: str):
    """Engine over an index built in a 64-SLOT hash space (hash_mask=63):
    with a ~40-term vocabulary most terms COLLIDE and get re-keyed
    (index/build.py resolve_collisions). The rekeyed entries run the same
    probe queries against the same hash-free DuckDB oracles as the
    normal-index entries — if the remap conflated or lost a term, counts
    and BM25 scores would hash-mismatch."""
    from femto_spark.index import build_index
    from femto_spark.query import SearchEngine

    key = "masked:" + os.path.abspath(sf_dir)
    if key in _ENGINES:
        return _ENGINES[key]
    corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = os.path.join(
        _SCRATCH, "maskix_" + os.path.abspath(sf_dir).strip("/").replace("/", "_")
    )
    import json as _json
    import shutil as _shutil

    from femto_spark.index.build import FORMAT_VERSION

    stats_p = os.path.join(out, "stats.json")
    if os.path.exists(stats_p):
        try:
            st = _json.load(open(stats_p))
            ok = (
                st.get("format_version") == FORMAT_VERSION
                and st.get("hash_mask") == 63
            )
        except Exception:
            ok = False
        if not ok:
            _shutil.rmtree(out, ignore_errors=True)
    build_index(spark, corpus, out, n_buckets=8, resume=True, hash_mask=63)
    eng = SearchEngine(spark, out, corpus=corpus)
    _ENGINES[key] = eng
    return eng


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for a multi-term query over sf0.001."""
    eng = _engine(spark, "/root/testdata/sf0.001")
    return eng.search(_Q_OR, k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # ---- index plane (whole-index differentials) ----
    q["index_termstats"] = lambda s, d: _engine(s, d).termstats_df()
    q["index_doc_lens"] = lambda s, d: _engine(s, d)._docs.select("doc_id", "dl")

    # ---- multimodal plumbing (registered early: the driver checks entries
    # in dict order and round 4 showed it stopping at 50 of 51) ----
    def _mm(s, d):
        from femto_spark.ops.multimodal import binary_meta

        df = _docs(s, d).select(
            "doc_id", F.encode("text", "utf-8").alias("payload")
        )
        return binary_meta(df)

    q["multimodal_binary_meta"] = _mm

    # real audio decode: deterministic WAV synth → stdlib-wave decode;
    # the integer columns round-trip the encoded stream exactly, so the
    # oracle restates them in closed form from doc_id
    def _audio(s, d):
        from femto_spark.ops.multimodal import (
            audio_features,
            synth_audio_corpus,
        )

        return audio_features(synth_audio_corpus(_docs(s, d))).select(
            "doc_id", "sample_rate", "n_samples", "duration_ms"
        )

    q["multimodal_audio_decode"] = _audio

    # ---- FTS query plane ----
    q["fts_count_terms"] = lambda s, d: _engine(s, d).count(" ".join(_PROBE_TERMS))
    # same probes through a forced-collision (re-keyed) index — the
    # 10^9-vocabulary path, driver-checked against the hash-free oracle
    q["fts_count_rekeyed"] = lambda s, d: _engine_masked(s, d).count(
        " ".join(_PROBE_TERMS)
    )
    q["fts_bm25_rekeyed"] = lambda s, d: _engine_masked(s, d).search(_Q_OR, k=10)
    q["fts_bm25_top10"] = lambda s, d: _engine(s, d).search(_Q_OR, k=10)
    q["fts_bm25_and_top10"] = lambda s, d: _engine(s, d).search(_Q_AND, k=10, mode="and")
    # fielded search: metadata header sections filter the result set
    q["fts_bm25_filtered"] = lambda s, d: _engine(s, d).search(
        _Q_OR, k=10, where={"lang": "en"}
    )
    q["fts_bool_and"] = lambda s, d: _engine(s, d).boolean_docs("and", "data", "table")
    q["fts_bool_or"] = lambda s, d: _engine(s, d).boolean_docs("or", "data", "table")
    q["fts_bool_not"] = lambda s, d: _engine(s, d).boolean_docs("not", "data", "table")
    q["fts_locate"] = lambda s, d: _engine(s, d).locate("merge")
    q["fts_proximity_then"] = lambda s, d: _engine(s, d).proximity(
        "the", "data", 3, ordered=True
    ).withColumnRenamed("offset", "off")
    q["fts_proximity_within"] = lambda s, d: _engine(s, d).proximity(
        "table", "scan", 4, ordered=False
    ).withColumnRenamed("offset", "off")
    q["fts_phrase"] = lambda s, d: _engine(s, d).phrase("data table")
    # LIMIT-pushdown phrase: first k matching docs in doc order without
    # materializing the full match set (positions decode sees only a
    # candidate prefix of the postings-plane intersection)
    q["fts_phrase_limit"] = lambda s, d: _engine(s, d).phrase_limit(
        "data table", k=5
    )
    # LIMIT-pushdown for the infix/regex plane: each adaptive round
    # evaluates the full infix machinery through a doc-range-capped
    # engine view (query/engine._CappedView) — grp partitions past the
    # cap never scan, hot terms' posting tails never decode
    q["fts_regex_infix_limit"] = lambda s, d: _engine(s, d).infix_limit(
        "erge.*fas", k=5
    )
    q["fts_approx_terms"] = lambda s, d: _engine(s, d).approx_terms("tabl", 1)
    q["fts_regex_docs"] = lambda s, d: _engine(s, d).regex_docs("^mer|s(can|low)$")
    # substring/infix over the INDEXED token stream ('.' may match the
    # inter-token space) — the FM-index-style core query, answered from
    # vocab + gram + postings tables without touching the corpus
    q["fts_regex_infix"] = lambda s, d: _engine(s, d).infix_docs("erge.fas")
    q["fts_regex_infix_class"] = lambda s, d: _engine(s, d).infix_docs(
        "mer+ge.ta[b-d]le"
    )
    # alternation/groups over the index: a cross-token group branch-
    # expands into the variant union; an in-token quantified group stays
    # one opaque vocab-regex unit (reference NFA templates, nfa.c:418)
    q["fts_regex_infix_alt"] = lambda s, d: _engine(s, d).infix_docs(
        "merge (fast|slow)"
    )
    q["fts_regex_infix_group"] = lambda s, d: _engine(s, d).infix_docs(
        "ta(b|c)+le fas"
    )
    # 7 wildcards: routes through the positional DP (query/infix._Evaluator.dp_docs)
    # instead of 2^dots variant enumeration — the round-3 _MAX_DOTS
    # residue, now index-answered
    q["fts_regex_infix_dots"] = lambda s, d: _engine(s, d).infix_docs(
        ".t.bl...c.n."
    )
    # single interior unbounded gap: same-token regex candidates plus the
    # ordered cross-token positional join (query/infix._Evaluator.gap_docs)
    q["fts_regex_infix_gap"] = lambda s, d: _engine(s, d).infix_docs(
        "erge.*fas"
    )
    # three-gap chain: 2^3 merge masks, greedy positional chains
    # (query/infix.detect_gaps/_Evaluator.gap_docs)
    q["fts_regex_infix_gap3"] = lambda s, d: _engine(s, d).infix_docs(
        "mer.*tab.*fas.*ow"
    )
    # edge gaps: the streamline rewrite (reference query_planning.c:24-218
    # fix_initial/fix_final) — `.*B`≡`B` per branch, `A.+`≡`A.` guard
    q["fts_regex_infix_edge"] = lambda s, d: _engine(s, d).infix_docs(
        ".*erge.fas|data.+"
    )
    # edge guard dots + interior gap chain: the `.+`/`.{m,}` edge guard
    # threads through the positional chain (query/infix.detect_gaps
    # head/tail, exact for runs <= _MAX_EDGE_GUARD)
    q["fts_regex_infix_guardgap"] = lambda s, d: _engine(s, d).infix_docs(
        ".+erge.*fas.+|.{2,}ta.+bl.+"
    )
    # MULTI-TOKEN gap parts: phrase-gap-phrase stays on the index —
    # spaces split parts into consecutive token slots, in-part dots
    # enumerate space/char choices (query/infix._gap_slot_groups)
    q["fts_regex_infix_phrasegap"] = lambda s, d: _engine(s, d).infix_docs(
        "erge fas.*tab|data tab.*le sc"
    )
    # boundary-exact gap edges: a literal space adjacent to a `.*` gap
    # (empty edge fragment — successor-token constraint, merge mask
    # forbidden on that gap; query/infix._gap_part_variants)
    q["fts_regex_infix_boundary"] = lambda s, d: _engine(s, d).infix_docs(
        "merge fast.* sc|erge .*fas ta"
    )
    # DOUBLE-flush gaps (spaces on BOTH sides of `.*`/`.+`): a full
    # token must sit between the groups — the two consumed spaces are
    # distinct chars (query/infix detect_gaps/_gap_cells step threshold)
    q["fts_regex_infix_flushgap"] = lambda s, d: _engine(s, d).infix_docs(
        "data .+ table|able .* sc"
    )
    # SINGLE-flush `.+` gaps (space on exactly one side): adjacent
    # placement needs a char-level margin inside the boundary token —
    # the per-level frontier chain (query/infix._gap_cells)
    q["fts_regex_infix_plusflush"] = lambda s, d: _engine(s, d).infix_docs(
        "data .+table|merge.+ fast"
    )
    # interior MIN-m gaps (`.+.+` ≡ `.*..` ≡ `.{2,}`, m ≤ 3): exact
    # via margin-LEVEL validity cells (query/infix._gap_cells)
    q["fts_regex_infix_mingap"] = lambda s, d: _engine(s, d).infix_docs(
        "da.{2,}ta.*le|erge.+.+fas|data.{3,}scan"
    )
    # flush min-m combos: adjacency needs the INTERMEDIATE token's
    # length — the lg cell anti-joins the short terms' positions
    # (query/infix._Evaluator.long_at)
    q["fts_regex_infix_lggap"] = lambda s, d: _engine(s, d).infix_docs(
        "data .{2,} table|erge.{3,} fas|able .+.+ scan"
    )
    # >2-dot edge guards on gap chains, incl. on a boundary-exact
    # (flush) edge — guard cells (query/infix._guard_cells)
    q["fts_regex_infix_bigguard"] = lambda s, d: _engine(s, d).infix_docs(
        "...erge.*fas|...data.+ table|able .+scan ..."
    )
    # nested groups: cross-token branch-expansion recurses; in-token
    # nested groups stay opaque rlike units
    q["fts_regex_infix_nested"] = lambda s, d: _engine(s, d).infix_docs(
        "me(r(ge|ta) fa)st"
    )
    # EDGE-unbounded group repetition (query/infix._fix_edge_groups):
    # `(X)+R`≡`(X)R` / `R(X)+`≡`RX` for unanchored docs-plane search
    q["fts_regex_infix_edgegrp"] = lambda s, d: _engine(s, d).infix_docs(
        "(data |able )+fas|merge( fa)+"
    )
    # INTERIOR unbounded group repetition: corpus-probed finite-ization
    # (query/infix._Evaluator.rep_kmax — monotone X^k emptiness bounds k)
    q["fts_regex_infix_repgrp"] = lambda s, d: _engine(s, d).infix_docs(
        "me(rge fa)+st|dat(a )+table"
    )
    q["fts_bool_and_offsets"] = lambda s, d: _engine(s, d).boolean_offsets(
        "and", "data", "table"
    ).withColumnRenamed("offset", "off")
    # grammar-integrated APPROX + regex atoms inside a boolean expression
    q["fts_query_mixed"] = lambda s, d: _engine(s, d).query(
        "(APPROX 1 tabl) AND (data OR sc.n)"
    )
    q["fts_extend"] = lambda s, d: _engine(s, d).extend("s", limit=10)
    q["fts_extend_left"] = lambda s, d: _engine(s, d).extend(
        "e", limit=10, direction="left"
    )
    q["fts_suggest"] = lambda s, d: _engine(s, d).suggest("mergq", limit=10)
    # more-like-this (femto_similar analogue, similar_tool.c): top-5
    # tf*idf terms of doc 3 -> OR-mode BM25 top-10
    q["fts_similar"] = lambda s, d: _engine(s, d).similar(3, n_terms=5, k=10)
    q["fts_query_language"] = lambda s, d: _engine(s, d).query(
        "(data OR table) NOT scan"
    )
    q["fts_docs_for_range"] = lambda s, d: _engine(s, d).docs_for_range(
        50, 200, term="data"
    )
    q["fts_snippets"] = lambda s, d: _engine(s, d).snippets("merge", k=5, width=5)
    q["fts_extract_doc"] = lambda s, d: _engine(s, d).extract(3)
    q["fts_scan_regex"] = lambda s, d: _engine(s, d).scan_docs("merge (fast|slow)")
    q["fts_search_batch"] = lambda s, d: _engine(s, d).search_many(_BATCH, k=5)
    # WAND path must equal the exact path → verified against the SAME SQL
    q["fts_search_batch_wand"] = lambda s, d: _engine(s, d).search_many_wand(_BATCH, k=5)

    # ---- training-pipeline: dedup ----
    def _dedup_exact(s, d):
        from femto_spark.ops.dedup import exact_duplicates

        return exact_duplicates(_docs(s, d)).select("text_hash", "n_dups", "keep")

    q["dedup_exact"] = _dedup_exact

    def _dedup_jaccard(s, d):
        from femto_spark.ops.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(_docs(s, d), threshold=0.3).select(
            "doc_a",
            "doc_b",
            F.expr("floor(jaccard * 1e6 + 0.5) / 1e6").alias("jaccard"),
        )

    q["dedup_ngram_jaccard"] = _dedup_jaccard

    def _dedup_minhash(s, d):
        from femto_spark.ops.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(_docs(s, d), threshold=0.3).select(
            "doc_a",
            "doc_b",
            F.expr("floor(jaccard * 1e6 + 0.5) / 1e6").alias("jaccard"),
        )

    q["dedup_minhash_lsh"] = _dedup_minhash  # no SQL oracle (minhash)

    def _dedup_simhash(s, d):
        from femto_spark.ops.dedup import simhash_neardup_pairs

        return simhash_neardup_pairs(_docs(s, d), max_hamming=3)

    q["dedup_simhash"] = _dedup_simhash  # no SQL oracle (bit votes)

    # ---- training-pipeline: text analysis ----
    def _tok_count(s, d):
        from femto_spark.ops.textstats import token_count

        return token_count(_docs(s, d))

    q["text_token_count"] = _tok_count

    def _quality(s, d):
        from femto_spark.ops.textstats import quality_score

        return quality_score(_docs(s, d))

    q["text_quality"] = _quality

    def _langid(s, d):
        from femto_spark.ops.textstats import language_id

        return language_id(_docs(s, d))

    q["text_langid"] = _langid

    def _fingerprint(s, d):
        from femto_spark.ops.textstats import fingerprint

        return fingerprint(_docs(s, d))

    q["text_fingerprint"] = _fingerprint  # no SQL oracle (xxhash64 chain)

    def _common(s, d):
        # femto_common analogue: most common phrases (BFS → Apriori levels)
        from femto_spark.ops.textstats import common_phrases

        return common_phrases(_docs(s, d), min_df=5, max_len=3, limit=40)

    q["text_common_phrases"] = _common

    # ---- training-pipeline: similarity search ----
    def _ann(s, d):
        from femto_spark.ops.similarity import brute_force_topk

        e = _embs(s, d)
        qdf = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return brute_force_topk(e, qdf, k=5)

    q["ann_cosine_top5"] = _ann

    def _ann_ivf(s, d):
        # nprobe == n_centroids probes every cell ⇒ must equal brute force,
        # so the IVF plumbing is verified against the exact-cosine oracle
        from femto_spark.ops.similarity import ivf_topk

        e = _embs(s, d)
        qdf = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return ivf_topk(e, qdf, k=5, n_centroids=8, nprobe=8)

    q["ann_ivf_top5"] = _ann_ivf

    def _ann_lsh(s, d):
        from femto_spark.ops.similarity import lsh_bucket_topk

        e = _embs(s, d)
        qdf = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return lsh_bucket_topk(e, qdf, k=5, dim=64)

    q["ann_lsh_top5"] = _ann_lsh  # no SQL oracle (hyperplane LSH)

    def _neardup(s, d):
        # exact, but blocked-GEMM (no cartesian/nested-loop node) — the
        # same output as the all-pairs oracle
        from femto_spark.ops.similarity import embedding_neardup_pairs

        return embedding_neardup_pairs(_embs(s, d), threshold=0.4)

    q["ann_embedding_neardup"] = _neardup

    def _neardup_lsh(s, d):
        # the 100 TB path: banded hyperplane-LSH candidates, exact cosine
        # verify (precision 1, recall documented) — no SQL oracle
        from femto_spark.ops.similarity import embedding_neardup_lsh

        return embedding_neardup_lsh(
            _embs(s, d), threshold=0.4, n_bands=16, rows_per_band=4
        )

    q["ann_embedding_neardup_lsh"] = _neardup_lsh

    # ---- driver-window rotation (round-5 verdict Next #1) ----
    # The driver checks the FIRST 50 entries in dict order; with 67
    # entries, 17 rotate out each round. Policy (CLAUDE.md "Driver
    # contract"): entries rotate to the tail only after 2+ consecutive
    # green driver rounds, and no entry sits out two rounds in a row.
    # Round 6: the mature infix family + extend/suggest/range entries
    # (green r4+r5) rotate out; the dedup/ANN/textstats/scan/batch
    # family (out of window in r5) rotates back in.
    _tail_r6 = [
        "fts_regex_infix_class", "fts_regex_infix_alt",
        "fts_regex_infix_group", "fts_regex_infix_dots",
        "fts_regex_infix_gap", "fts_regex_infix_gap3",
        "fts_regex_infix_edge", "fts_regex_infix_guardgap",
        "fts_regex_infix_phrasegap", "fts_regex_infix_boundary",
        "fts_regex_infix_nested", "fts_regex_infix_edgegrp",
        "fts_regex_infix_repgrp", "fts_extend", "fts_extend_left",
        "fts_suggest", "fts_docs_for_range",
    ]
    return {
        **{k: v for k, v in q.items() if k not in _tail_r6},
        **{k: q[k] for k in _tail_r6},
    }


def oracle_sql() -> dict[str, str]:
    toks = _TOKS
    o: dict[str, str] = {}

    o["index_termstats"] = f"""{_BASE}
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM tok GROUP BY term"""

    o["index_doc_lens"] = f"""{_BASE} SELECT doc_id, dl FROM dl"""

    o["fts_count_terms"] = f"""{_BASE}
SELECT term, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM tok WHERE term IN ({_sql_terms(_PROBE_TERMS)}) GROUP BY term"""

    o["fts_count_rekeyed"] = o["fts_count_terms"]
    o["fts_bm25_top10"] = _bm25_sql(sorted(set(_Q_OR.split())), 10, "or")
    o["fts_bm25_rekeyed"] = o["fts_bm25_top10"]
    o["fts_bm25_and_top10"] = _bm25_sql(sorted(set(_Q_AND.split())), 10, "and")

    # fielded filter: restricts the RESULT set; BM25 stats stay global
    _sc_f = duckdb_score_sql("tf.tf", "dl.dl", "dfc.df", "st.n", "st.avgdl")
    _tm_f = _sql_terms(sorted(set(_Q_OR.split())))
    o["fts_bm25_filtered"] = f"""{_BASE},
tf  AS (SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ({_tm_f}) GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc  AS (SELECT tf.doc_id, tf.term, CAST({_sc_f} AS DOUBLE) AS s
        FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
agg AS (SELECT doc_id, sum(s ORDER BY term) AS raw FROM sc GROUP BY doc_id)
SELECT agg.doc_id AS doc_id, floor(raw * 1e6 + 0.5) / 1e6 AS score
FROM agg JOIN documents d ON d.doc_id = agg.doc_id AND d.lang = 'en'
ORDER BY score DESC, doc_id ASC LIMIT 10"""

    o["fts_bool_and"] = f"""{_BASE}
SELECT doc_id FROM ({_docset_sql(['data'])}) INTERSECT {_docset_sql(['table'])}"""
    o["fts_bool_or"] = f"""{_BASE}
SELECT doc_id FROM ({_docset_sql(['data'])}) UNION {_docset_sql(['table'])}"""
    o["fts_bool_not"] = f"""{_BASE}
SELECT doc_id FROM ({_docset_sql(['data'])}) EXCEPT {_docset_sql(['table'])}"""

    o["fts_locate"] = f"""{_BASE}
SELECT doc_id, pos FROM tokpos WHERE term = 'merge' ORDER BY doc_id, pos"""

    o["fts_proximity_then"] = f"""{_BASE},
l AS (SELECT doc_id, pos FROM tokpos WHERE term = 'the'),
r AS (SELECT doc_id, pos FROM tokpos WHERE term = 'data')
SELECT DISTINCT l.doc_id AS doc_id, least(l.pos, r.pos) AS off
FROM l JOIN r ON l.doc_id = r.doc_id AND r.pos - l.pos BETWEEN 1 AND 3"""

    o["fts_proximity_within"] = f"""{_BASE},
l AS (SELECT doc_id, pos FROM tokpos WHERE term = 'table'),
r AS (SELECT doc_id, pos FROM tokpos WHERE term = 'scan')
SELECT DISTINCT l.doc_id AS doc_id, least(l.pos, r.pos) AS off
FROM l JOIN r ON l.doc_id = r.doc_id
 AND abs(r.pos - l.pos) <= 4 AND r.pos <> l.pos"""

    o["fts_phrase"] = f"""{_BASE}
SELECT a.doc_id AS doc_id, count(*) AS n_matches, min(a.pos) AS first_pos
FROM tokpos a
JOIN tokpos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = 'table'
WHERE a.term = 'data'
GROUP BY a.doc_id ORDER BY doc_id"""

    # first-k phrase == full phrase limited in doc order
    o["fts_phrase_limit"] = o["fts_phrase"] + " LIMIT 5"

    o["fts_approx_terms"] = f"""{_BASE}
SELECT t.term, CAST(levenshtein(t.term, 'tabl') AS INT) AS dist,
       count(DISTINCT t.doc_id) AS df
FROM tok t
GROUP BY t.term HAVING levenshtein(t.term, 'tabl') <= 1
ORDER BY dist ASC, df DESC, term ASC"""

    o["fts_regex_docs"] = f"""{_BASE}
SELECT DISTINCT doc_id FROM tok
WHERE regexp_matches(term, '^mer|s(can|low)$') ORDER BY doc_id"""

    # infix over the indexed token stream: the oracle regexes the SAME
    # derived sequence the index stores (space-joined tokens)
    o["fts_regex_infix"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'erge.fas') ORDER BY doc_id"""

    o["fts_regex_infix_class"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'mer+ge.ta[b-d]le') ORDER BY doc_id"""

    o["fts_regex_infix_alt"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'merge (fast|slow)') ORDER BY doc_id"""

    o["fts_regex_infix_group"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'ta(b|c)+le fas') ORDER BY doc_id"""

    o["fts_regex_infix_dots"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, '.t.bl...c.n.') ORDER BY doc_id"""

    o["fts_regex_infix_gap3"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'mer.*tab.*fas.*ow') ORDER BY doc_id"""

    o["fts_regex_infix_edge"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, '.*erge.fas|data.+') ORDER BY doc_id"""

    o["fts_regex_infix_guardgap"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, '.+erge.*fas.+|.{{2,}}ta.+bl.+') ORDER BY doc_id"""

    o["fts_regex_infix_boundary"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'merge fast.* sc|erge .*fas ta') ORDER BY doc_id"""

    o["fts_regex_infix_phrasegap"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'erge fas.*tab|data tab.*le sc') ORDER BY doc_id"""

    o["fts_regex_infix_flushgap"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'data .+ table|able .* sc') ORDER BY doc_id"""

    o["fts_regex_infix_plusflush"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'data .+table|merge.+ fast') ORDER BY doc_id"""

    o["fts_regex_infix_mingap"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'da.{{2,}}ta.*le|erge.+.+fas|data.{{3,}}scan')
ORDER BY doc_id"""

    o["fts_regex_infix_lggap"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'data .{{2,}} table|erge.{{3,}} fas|able .+.+ scan')
ORDER BY doc_id"""

    o["fts_regex_infix_bigguard"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, '...erge.*fas|...data.+ table|able .+scan ...')
ORDER BY doc_id"""

    o["fts_regex_infix_nested"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'me(r(ge|ta) fa)st') ORDER BY doc_id"""

    o["fts_regex_infix_gap"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'erge.*fas') ORDER BY doc_id"""

    o["fts_regex_infix_limit"] = o["fts_regex_infix_gap"] + " LIMIT 5"

    o["fts_regex_infix_edgegrp"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, '(data |able )+fas|merge( fa)+') ORDER BY doc_id"""

    o["fts_regex_infix_repgrp"] = f"""{_BASE}
SELECT DISTINCT doc_id
FROM (SELECT doc_id, array_to_string(toks, ' ') AS s FROM docs_tok)
WHERE regexp_matches(s, 'me(rge fa)+st|dat(a )+table') ORDER BY doc_id"""

    o["fts_bool_and_offsets"] = f"""{_BASE},
l AS (SELECT doc_id, pos FROM tokpos WHERE term = 'data'),
r AS (SELECT doc_id, pos FROM tokpos WHERE term = 'table')
SELECT DISTINCT doc_id, pos AS off FROM (
  SELECT * FROM l WHERE doc_id IN (SELECT doc_id FROM r)
  UNION ALL
  SELECT * FROM r WHERE doc_id IN (SELECT doc_id FROM l)
) ORDER BY doc_id, off"""

    o["fts_query_mixed"] = f"""{_BASE}
SELECT doc_id FROM (
  SELECT DISTINCT doc_id FROM tok WHERE levenshtein(term, 'tabl') <= 1
) INTERSECT SELECT doc_id FROM (
  SELECT doc_id FROM ({_docset_sql(['data'])})
  UNION SELECT DISTINCT doc_id FROM tok WHERE regexp_matches(term, 'sc.n')
)"""

    o["fts_query_language"] = f"""{_BASE}
SELECT doc_id FROM (
  SELECT doc_id FROM ({_docset_sql(['data'])}) UNION {_docset_sql(['table'])}
) EXCEPT {_docset_sql(['scan'])}"""

    o["fts_docs_for_range"] = f"""{_BASE}
SELECT DISTINCT doc_id FROM tok
WHERE term = 'data' AND doc_id >= 50 AND doc_id < 200 ORDER BY doc_id"""

    # snippets: top-5 BM25 for 'merge' + token window (±5) around the
    # first occurrence; DuckDB list slicing is 1-based end-inclusive,
    # Spark slice(arr, start, length) — s..s+10 on both sides
    snip_topk = _bm25_sql(["merge"], 5, "or")
    o["fts_snippets"] = f"""
WITH topk AS ({snip_topk}),
docs_tok2 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
fp AS (
    SELECT t.doc_id, min(t.pos) AS first_pos
    FROM (SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS pos
          FROM docs_tok2) t
    JOIN topk USING (doc_id)
    WHERE t.term = 'merge' GROUP BY t.doc_id
)
SELECT topk.doc_id AS doc_id, topk.score AS score, fp.first_pos AS first_pos,
       array_to_string(
         d.toks[greatest(fp.first_pos - 4, 1) : greatest(fp.first_pos - 4, 1) + 10],
         ' ') AS snippet
FROM topk JOIN fp ON fp.doc_id = topk.doc_id
JOIN docs_tok2 d ON d.doc_id = topk.doc_id"""

    o["fts_extend"] = f"""{_BASE}
SELECT term, count(DISTINCT doc_id) AS df FROM tok WHERE term LIKE 's%'
GROUP BY term ORDER BY df DESC, term ASC LIMIT 10"""

    o["fts_extend_left"] = f"""{_BASE}
SELECT term, count(DISTINCT doc_id) AS df FROM tok WHERE term LIKE '%e'
GROUP BY term ORDER BY df DESC, term ASC LIMIT 10"""

    # longest non-empty prefix of 'mergq' with vocabulary extensions
    _sg_prefixes = ",".join(
        f"('{'mergq'[:i]}',{i})" for i in range(1, 6)
    )
    o["fts_suggest"] = f"""{_BASE},
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
pref AS (SELECT * FROM (VALUES {_sg_prefixes}) p(pre, ln)),
hit AS (SELECT p.pre, p.ln FROM pref p
        WHERE EXISTS (SELECT 1 FROM dfs v WHERE v.term LIKE p.pre || '%')),
best AS (SELECT pre FROM hit ORDER BY ln DESC LIMIT 1)
SELECT term, df, (SELECT pre FROM best) AS matched_prefix
FROM dfs WHERE term LIKE (SELECT pre FROM best) || '%'
ORDER BY df DESC, term ASC LIMIT 10"""

    # more-like-this: deterministic tf*idf term selection from doc 3,
    # then the standard BM25 (same score fragment, ascending-term fold)
    _sim_score = duckdb_score_sql("tf.tf", "dl.dl", "dfc.df", "st.n", "st.avgdl")
    o["fts_similar"] = f"""{_BASE},
dtf AS (SELECT term, count(*) AS tf FROM tok WHERE doc_id = 3 GROUP BY term),
alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
sel AS (SELECT dtf.term FROM dtf JOIN alldf USING (term) CROSS JOIN st
        ORDER BY floor(ln(1.0 + (st.n - alldf.df + 0.5) / (alldf.df + 0.5))
                       * dtf.tf * 1e6 + 0.5) / 1e6 DESC, dtf.term ASC
        LIMIT 5),
tf  AS (SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc  AS (SELECT tf.doc_id, tf.term, CAST({_sim_score} AS DOUBLE) AS s
        FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
agg AS (SELECT doc_id, sum(s ORDER BY term) AS raw FROM sc GROUP BY doc_id)
SELECT doc_id, floor(raw * 1e6 + 0.5) / 1e6 AS score
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 10"""

    o["fts_extract_doc"] = "SELECT doc_id, text FROM documents WHERE doc_id = 3"

    o["fts_scan_regex"] = (
        "SELECT doc_id FROM documents WHERE regexp_matches(text, 'merge (fast|slow)')"
        " ORDER BY doc_id"
    )

    # batch BM25: replicate the per-query scoring via a query-term table
    batch_pairs = ",".join(
        f"('{qid}','{t}')" for qid, s in _BATCH.items() for t in sorted(set(s.split()))
    )
    all_terms = sorted({t for s in _BATCH.values() for t in s.split()})
    score = duckdb_score_sql("tf.tf", "dl.dl", "dfc.df", "st.n", "st.avgdl")
    o["fts_search_batch"] = f"""{_BASE},
qt  AS (SELECT * FROM (VALUES {batch_pairs}) v(query_id, term)),
tf  AS (SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ({_sql_terms(all_terms)}) GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc  AS (SELECT qt.query_id, tf.doc_id, tf.term, CAST({score} AS DOUBLE) AS s
        FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id)
        JOIN qt USING (term) CROSS JOIN st),
agg AS (SELECT query_id, doc_id, sum(s ORDER BY term) AS raw
        FROM sc GROUP BY query_id, doc_id),
rk  AS (SELECT query_id, doc_id, floor(raw * 1e6 + 0.5) / 1e6 AS score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY floor(raw * 1e6 + 0.5) / 1e6 DESC,
                                           doc_id ASC) AS rank
        FROM agg)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM rk WHERE rank <= 5"""
    o["fts_search_batch_wand"] = o["fts_search_batch"]

    # ---- dedup ----
    o["dedup_exact"] = (
        "SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep"
        " FROM documents GROUP BY md5(text) HAVING count(*) > 1"
    )

    o["dedup_ngram_jaccard"] = f"""
WITH docs_tok AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(toks) - 2),
           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS shingle
       FROM docs_tok WHERE len(toks) >= 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       floor((c::DOUBLE / (sa.n_sh + sb.n_sh - c)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE c::DOUBLE / (sa.n_sh + sb.n_sh - c) >= 0.3"""

    # ---- text analysis ----
    o["text_token_count"] = f"""
SELECT doc_id,
       len({toks}) AS n_tokens,
       len(list_distinct({toks})) AS n_unique_tokens
FROM documents"""

    stop = "['the','a','an','and','or','of','to','in','is','it']"
    mean_len = (
        f"list_sum(list_transform({toks}, t -> length(t)))::DOUBLE"
        f" / greatest(len({toks}), 1)"
    )
    nstop = f"len(list_filter({toks}, t -> list_contains({stop}, t)))"
    o["text_quality"] = f"""
SELECT doc_id,
  floor(COALESCE({mean_len}, 0.0) * 1e6 + 0.5) / 1e6 AS mean_word_len,
  floor(({nstop}::DOUBLE / greatest(len({toks}), 1)) * 1e6 + 0.5) / 1e6 AS stopword_ratio,
  floor((len(list_distinct({toks}))::DOUBLE / greatest(len({toks}), 1)) * 1e6 + 0.5) / 1e6 AS unique_ratio,
  floor((length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
         / greatest(length(text), 1)) * 1e6 + 0.5) / 1e6 AS alpha_ratio
FROM documents"""

    lvl_sqls = []
    for n in (1, 2, 3):
        lvl_sqls.append(f"""
SELECT phrase, {n} AS n_tokens, count(*) AS df FROM (
  SELECT DISTINCT doc_id, unnest(list_transform(range(len(toks) - {n - 1}),
      i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' '))) AS phrase
  FROM (SELECT doc_id, {toks} AS toks FROM documents)
  WHERE len(toks) >= {n}
) GROUP BY phrase HAVING count(*) >= 5""")
    o["text_common_phrases"] = (
        "SELECT phrase, n_tokens, df FROM ("
        + " UNION ALL ".join(lvl_sqls)
        + ") ORDER BY df DESC, n_tokens DESC, phrase ASC LIMIT 40"
    )

    markers = {
        "en": "['the','and','of','to','a','in','is','it']",
        "de": "['der','die','das','und','ist','nicht','ein','mit']",
        "fr": "['le','la','les','et','est','une','des','que']",
        "es": "['el','los','las','es','una','por','con','para']",
    }
    hits = {
        lang: f"len(list_filter({toks}, t -> list_contains({arr}, t)))"
        for lang, arr in markers.items()
    }
    o["text_langid"] = f"""
WITH h AS (SELECT doc_id,
    {hits['en']} AS e, {hits['de']} AS d, {hits['fr']} AS f, {hits['es']} AS s
  FROM documents)
SELECT doc_id,
  CASE WHEN greatest(e, d, f, s) = 0 THEN 'und'
       WHEN d >= e AND d >= f AND d >= s THEN 'de'
       WHEN e >= f AND e >= s THEN 'en'
       WHEN s >= f THEN 'es'
       ELSE 'fr' END AS pred_lang,
  greatest(e, d, f, s)::BIGINT AS marker_hits
FROM h"""

    # ---- similarity ----
    o["ann_cosine_top5"] = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 3),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
sc AS (SELECT q.query_id, v.vec_id,
         floor((list_inner_product(v.vv, q.qv)
                / (sqrt(list_inner_product(v.vv, v.vv))
                   * sqrt(list_inner_product(q.qv, q.qv)))) * 1e6 + 0.5) / 1e6
           AS cos_sim
       FROM v CROSS JOIN q),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM sc)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM rk WHERE rank <= 5"""
    # IVF with nprobe == n_centroids is exhaustively probed ⇒ exact
    o["ann_ivf_top5"] = o["ann_cosine_top5"]

    o["ann_embedding_neardup"] = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  floor((list_inner_product(a.vv, b.vv)
         / (sqrt(list_inner_product(a.vv, a.vv))
            * sqrt(list_inner_product(b.vv, b.vv)))) * 1e6 + 0.5) / 1e6 AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE floor((list_inner_product(a.vv, b.vv)
             / (sqrt(list_inner_product(a.vv, a.vv))
                * sqrt(list_inner_product(b.vv, b.vv)))) * 1e6 + 0.5) / 1e6 >= 0.4"""

    # ---- multimodal (calls ops.multimodal.binary_meta — sha256 like the op)
    o["multimodal_binary_meta"] = (
        "SELECT doc_id, octet_length(encode(text)) AS n_bytes,"
        " sha256(text) AS sha256 FROM documents"
    )

    # audio decode round-trip: synth_wav writes 800 + (doc_id % 5) * 160
    # 16-bit mono samples at 8 kHz; the decode must recover exactly that
    o["multimodal_audio_decode"] = (
        "SELECT doc_id, 8000 AS sample_rate,"
        " 800 + (doc_id % 5) * 160 AS n_samples,"
        " (800 + (doc_id % 5) * 160) * 1000 // 8000 AS duration_ms"
        " FROM documents"
    )

    return o
