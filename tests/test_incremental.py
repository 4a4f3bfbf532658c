"""Incremental append (merge_into) must equal a one-shot build over the
union corpus — the working replacement for FEMTO's compiled-out
INDEX_MERGE (index.h:45-47)."""

import os

import pytest
from pyspark.sql import functions as F


def test_merge_into_equals_oneshot(spark, tmp_path, index_signature):
    from femto_spark.index import build_index
    from femto_spark.index.incremental import merge_into

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = corpus.filter(F.col("doc_id") < 300)
    new = corpus.filter(F.col("doc_id") >= 300)

    inc = str(tmp_path / "incremental")
    build_index(spark, old, inc, n_buckets=8)
    merge_into(spark, inc, new)

    full = str(tmp_path / "oneshot")
    build_index(spark, corpus, full, n_buckets=8)

    assert index_signature(inc) == index_signature(full)

    # stats must be recomputed globally (BM25 parity after append)
    import json

    a = json.load(open(os.path.join(inc, "stats.json")))
    b = json.load(open(os.path.join(full, "stats.json")))
    assert (a["n_docs"], a["total_tokens"], a["avgdl"]) == (
        b["n_docs"], b["total_tokens"], b["avgdl"],
    )


def test_merge_into_query_parity(spark, tmp_path, docs_sf001, oracle_sf001):
    from femto_spark.index import build_index
    from femto_spark.index.incremental import merge_into
    from femto_spark.query import SearchEngine

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inc = str(tmp_path / "inc2")
    build_index(spark, corpus.filter(F.col("doc_id") < 250), inc, n_buckets=8)
    merge_into(spark, inc, corpus.filter(F.col("doc_id") >= 250))
    eng = SearchEngine(spark, inc, corpus=corpus)
    for q in ["the", "data table scan", "merge"]:
        got = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10).collect()]
        assert got == oracle_sf001.search(q, k=10), q


def test_merge_into_rejects_overlapping_ids(spark, tmp_path):
    from femto_spark.index import build_index
    from femto_spark.index.incremental import merge_into

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "inc3")
    build_index(spark, corpus.filter(F.col("doc_id") < 100), out, n_buckets=8)
    with pytest.raises(ValueError, match="doc_ids must exceed"):
        merge_into(spark, out, corpus.filter(F.col("doc_id") >= 50))


def test_merge_into_positions_free_index(spark, tmp_path, index_signature):
    """Appending to a with_positions=False index must stay positions-free
    (ADVICE r01: the encode defaulted to with_positions=True and crashed
    the merge / silently mis-permuted)."""
    from femto_spark.index import build_index
    from femto_spark.index.incremental import merge_into
    from femto_spark.query import SearchEngine

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inc = str(tmp_path / "nopos_inc")
    build_index(
        spark, corpus.filter(F.col("doc_id") < 300), inc, n_buckets=8,
        with_positions=False,
    )
    merge_into(spark, inc, corpus.filter(F.col("doc_id") >= 300))

    full = str(tmp_path / "nopos_full")
    build_index(spark, corpus, full, n_buckets=8, with_positions=False)
    assert index_signature(inc) == index_signature(full)

    # and the index stays queryable
    eng = SearchEngine(spark, inc, corpus=corpus)
    assert eng.search("data table", k=5).count() == 5


def test_merge_into_run_id_idempotent(spark, tmp_path, index_signature):
    """Replaying a batch (same run_id) — whether after a mid-append crash
    or after full success — must leave the index identical to one append."""
    import os

    from femto_spark.index import build_index
    from femto_spark.index.incremental import merge_into

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = corpus.filter(F.col("doc_id") < 300)
    new = corpus.filter(F.col("doc_id") >= 300)

    inc = str(tmp_path / "replay")
    build_index(spark, old, inc, n_buckets=8)
    merge_into(spark, inc, new, run_id="b1")
    sig_once = index_signature(inc)

    # replay after DONE marker → no-op
    rep = merge_into(spark, inc, new, run_id="b1")
    assert rep.get("skipped") is True
    assert index_signature(inc) == sig_once

    # simulate a crash-mid-batch replay: DONE marker missing but the run's
    # partials/docs files already landed → replay must NOT double-append
    os.remove(os.path.join(inc, "_RUN_b1_DONE"))
    merge_into(spark, inc, new, run_id="b1")
    assert index_signature(inc) == sig_once

    full = str(tmp_path / "replay_full")
    build_index(spark, corpus, full, n_buckets=8)
    assert sig_once == index_signature(full)


def test_shard_size_splits_rows(spark, tmp_path, index_dir, oracle_sf001):
    """shard_size=4 through build_index + merge_into: every row holds ≤ 4
    postings, each (term, grp) has shards 0..k-1, the shards concatenate
    to the default-shard_size index's postings and positions, and
    search / phrase still equal the oracle."""
    import numpy as np

    from femto_spark.codec import decode_positions, decode_postings
    from femto_spark.index import build_index
    from femto_spark.index.incremental import merge_into
    from femto_spark.query import SearchEngine

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shard4")
    build_index(spark, corpus.filter(F.col("doc_id") < 300), out, n_buckets=8,
                shard_size=4)
    merge_into(spark, out, corpus.filter(F.col("doc_id") >= 300), shard_size=4)

    def _groups(path):
        rows = spark.read.parquet(os.path.join(path, "index")).select(
            "term_hash", "grp", "shard", "n", "tf_off", "dl_off",
            "postings", "positions",
        ).collect()
        groups = {}
        for r in sorted(rows, key=lambda r: (r["term_hash"], r["grp"], r["shard"])):
            d, t, l = decode_postings(bytes(r["postings"]), r["n"], r["tf_off"],
                                      r["dl_off"])
            p, _ = decode_positions(bytes(r["positions"]), t)
            groups.setdefault((r["term_hash"], r["grp"]), []).append(
                (r["shard"], r["n"], d, t, l, p)
            )
        return groups

    sharded, default = _groups(out), _groups(index_dir)
    assert sharded.keys() == default.keys()
    assert max(len(v) for v in sharded.values()) > 1
    for key, shards in sharded.items():
        assert [s[0] for s in shards] == list(range(len(shards))), key
        assert all(1 <= s[1] <= 4 for s in shards), key
        ((_, _, *want),) = default[key]
        got = [np.concatenate([s[i] for s in shards]) for i in range(2, 6)]
        assert all(np.array_equal(g, w) for g, w in zip(got, want)), key

    eng = SearchEngine(spark, out, corpus=corpus)
    for q in ["the", "data table scan", "merge"]:
        got = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10).collect()]
        assert got == oracle_sf001.search(q, k=10), q
    for q in ["data table", "the data"]:
        got = [(r["doc_id"], r["n_matches"], r["first_pos"])
               for r in eng.phrase(q).collect()]
        assert got == oracle_sf001.phrase(q), q
