"""Tests for the training-pipeline operators (dedup, similarity, textstats,
multimodal plumbing) — verified against duckdb/numpy oracles."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_duplicates(spark, docs):
    from femto_spark.ops.dedup import exact_duplicates

    got = {
        (r["text_hash"], tuple(r["doc_ids"]), r["keep"])
        for r in exact_duplicates(docs).collect()
    }
    want = {
        (h, tuple(ids), min(ids))
        for h, ids in duckdb.sql(
            f"SELECT md5(text), list_sort(list(doc_id)) FROM '{SF}/documents.parquet'"
            " GROUP BY md5(text) HAVING count(*) > 1"
        ).fetchall()
    }
    assert got == want


def test_ngram_jaccard_pairs(spark, docs):
    from femto_spark.ops.dedup import ngram_jaccard_pairs
    from femto_spark.tokenizer import tokenize

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    # python oracle
    rows = duckdb.sql(f"SELECT doc_id, text FROM '{SF}/documents.parquet'").fetchall()
    sh = {}
    for d, t in rows:
        toks = tokenize(t)
        sh[d] = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    want = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if not sh[a] or not sh[b]:
                continue
            common = len(sh[a] & sh[b])
            if common:
                j = common / (len(sh[a]) + len(sh[b]) - common)
                if j >= 0.2:
                    want[(a, b)] = j
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_shingle_128bit_survives_forced_collisions(spark, docs):
    """hash_mask narrows the shingle-hash space to force collisions: the
    64-bit (single-hash) path then reports PHANTOM near-dup pairs between
    disjoint docs, while the 128-bit (h, h2) pair path stays correct —
    the documented widen past ~10^9 distinct shingles, demonstrated."""
    from femto_spark.ops.dedup import ngram_jaccard_pairs

    a = " ".join(f"a{i:03d}" for i in range(100))
    b = " ".join(f"b{i:03d}" for i in range(100))
    df = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id long, text string"
    )
    # 64 hash slots, ~98 shingles per doc: masked single-hash sets overlap
    # almost completely → a phantom pair with inflated jaccard
    bad = ngram_jaccard_pairs(df, threshold=0.2, hash_mask=63).collect()
    assert bad, "64-bit path must mis-estimate under forced collisions"
    # the (h, h2) pair space is 64^2: overlap collapses to noise
    good = ngram_jaccard_pairs(
        df, threshold=0.2, bits=128, hash_mask=63
    ).collect()
    assert not good, "128-bit path must not report the phantom pair"

    # on a real corpus, unmasked 64- and 128-bit paths agree exactly
    p64 = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    p128 = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2, bits=128).collect()
    }
    assert p64 == p128


def test_minhash_lsh_finds_exact_dups(spark, docs):
    from femto_spark.ops.dedup import minhash_lsh_pairs

    # identical texts must always collide in LSH and have jaccard 1.0
    dup_groups = duckdb.sql(
        f"SELECT list_sort(list(doc_id)) FROM '{SF}/documents.parquet'"
        " GROUP BY md5(text) HAVING count(*) > 1"
    ).fetchall()
    got = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    for (ids,) in dup_groups:
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                assert (a, b) in got, (a, b)


def test_simhash_deterministic_and_dup_zero_distance(spark, docs):
    from femto_spark.ops.dedup import simhash_fingerprints, simhash_neardup_pairs

    fp1 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    fp2 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fp1 == fp2  # deterministic
    dup_groups = duckdb.sql(
        f"SELECT list_sort(list(doc_id)) FROM '{SF}/documents.parquet'"
        " GROUP BY md5(text) HAVING count(*) > 1"
    ).fetchall()
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    for (ids,) in dup_groups:
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                assert pairs.get((a, b)) == 0


def test_brute_force_topk_rejects_non_integer_ids(spark, embs):
    from femto_spark.ops.similarity import brute_force_topk

    qdf = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    str_ids = embs.withColumn("vec_id", F.col("vec_id").cast("string"))
    with pytest.raises(ValueError, match="'vec_id' is string"):
        brute_force_topk(str_ids, qdf, k=5)
    str_q = qdf.withColumn("query_id", F.col("query_id").cast("string"))
    with pytest.raises(ValueError, match="'query_id' is string"):
        brute_force_topk(embs, str_q, k=5)


def test_brute_force_topk_vs_numpy(spark, embs):
    from femto_spark.ops.similarity import brute_force_topk

    qdf = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(embs, qdf, k=5).collect()
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    ids = np.array([r[0] for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos_sim"]))
    for q in range(3):
        qv = mat[ids == q][0]
        cos = mat @ qv / (norms * np.linalg.norm(qv))
        cos_r = np.floor(cos * 1e6 + 0.5) / 1e6
        order = sorted(zip(ids, cos_r), key=lambda x: (-x[1], x[0]))[:5]
        want = [(i + 1, int(d), c) for i, (d, c) in enumerate(order)]
        assert sorted(by_q[q]) == [
            (rk, vid, pytest.approx(c, abs=1e-9)) for rk, vid, c in want
        ] or [
            (rk, vid) for rk, vid, _ in sorted(by_q[q])
        ] == [(rk, vid) for rk, vid, _ in want]

    # d ≥ 1024 (the boundary guard's threshold grows with d): every score
    # equals the SQL form's strict left-fold, rounded, bit for bit
    import math

    d, n = 1536, 40
    big = np.random.default_rng(7).standard_normal((n, d)).astype(np.float32)
    big[1] = big[0] + np.float32(0.01) * big[1]  # a near-duplicate pair
    vdf = spark.createDataFrame(
        [(i, big[i].tolist()) for i in range(n)], "vec_id long, embedding array<float>"
    )
    qd = vdf.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(vdf, qd, k=n).collect()
    assert len(got) == 2 * n

    def fold(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    v64 = big.astype(np.float64).tolist()
    for r in got:
        a, b = v64[r["query_id"]], v64[r["vec_id"]]
        c = fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
        assert r["cos_sim"] == math.floor(c * 1e6 + 0.5) / 1e6, (r["query_id"], r["vec_id"])


def test_lsh_topk_self_hit(spark, embs):
    from femto_spark.ops.similarity import lsh_bucket_topk

    qdf = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lsh_bucket_topk(embs, qdf, k=3, dim=64).collect()
    # every query vector is in its own bucket → rank-1 self hit with cos 1.0
    rank1 = {r["query_id"]: (r["vec_id"], r["cos_sim"]) for r in got if r["rank"] == 1}
    for q in range(5):
        assert rank1[q][0] == q and rank1[q][1] == 1.0


def test_textstats_match_duckdb(spark, docs):
    from femto_spark.ops.textstats import language_id, quality_score, token_count

    got = {r["doc_id"]: (r["n_tokens"], r["n_unique_tokens"]) for r in token_count(docs).collect()}
    want = dict(
        duckdb.sql(
            f"""SELECT doc_id, (len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')),
                        len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''))))
             FROM '{SF}/documents.parquet'"""
        ).fetchall()
    )
    assert got == {k: tuple(v) for k, v in want.items()}

    q = quality_score(docs).collect()
    assert all(0 <= r["stopword_ratio"] <= 1 and 0 <= r["unique_ratio"] <= 1 for r in q)
    langs = language_id(docs).collect()
    assert all(r["pred_lang"] in {"en", "de", "fr", "es", "und"} for r in langs)
    # text corpus contains 'the'/'a' markers → english dominates
    en = sum(1 for r in langs if r["pred_lang"] == "en")
    assert en > len(langs) * 0.5


def test_fingerprint_order_sensitive(spark):
    from femto_spark.ops.textstats import fingerprint

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "c b a"), (2, "a b c"), (3, "A, b; C!")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fp[0] == fp[2] == fp[3]  # case/punct-insensitive, order-aware
    assert fp[0] != fp[1]


def test_multimodal_plumbing(spark):
    from femto_spark.ops.multimodal import (
        binary_meta,
        extract_features,
        frame_sample_plan,
    )

    rows = [
        (0, "image", bytearray(b"payload-a"), 4, 4, 0),
        (1, "video", bytearray(b"payload-b"), 16, 16, 3500),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, payload binary, width int, height int, duration_ms int",
    )
    meta = {r["doc_id"]: (r["n_bytes"], r["sha256"]) for r in binary_meta(df).collect()}
    import hashlib

    assert meta[0] == (9, hashlib.sha256(b"payload-a").hexdigest())
    feats = {r["doc_id"]: r["features"] for r in extract_features(df).collect()}
    assert len(feats[0]) == 16
    assert feats[0] != feats[1]
    assert abs(sum(x * x for x in feats[0]) - 1.0) < 1e-6  # normalized (f32 decode)
    plan = [(r["doc_id"], r["frame_ts_ms"]) for r in frame_sample_plan(df).collect()]
    assert (1, 0) in plan and (1, 3000) in plan and (1, 4000) not in plan


def test_multimodal_audio_real_decode(spark):
    """The audio path is a REAL decode (stdlib wave, PCM WAV): the
    integer columns round-trip the synthesized stream exactly and the
    float features match the analytic values of the synthesized sine."""
    import math

    from femto_spark.ops.multimodal import (
        audio_features,
        decode_wav,
        synth_audio_corpus,
        synth_wav,
    )

    # driver-side decode sanity: exact sample count + near-analytic rms
    sr, x = decode_wav(synth_wav(3))
    assert sr == 8000 and x.size == 800 + (3 % 5) * 160
    assert abs(float((x ** 2).mean()) ** 0.5 - 12000 / 32768 / math.sqrt(2)) < 0.01
    # distributed: synth → decode round-trips every row
    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    got = {
        r["doc_id"]: (r["sample_rate"], r["n_samples"], r["duration_ms"],
                      r["rms"], r["n_zero_crossings"])
        for r in audio_features(synth_audio_corpus(ids)).collect()
    }
    for i in range(20):
        n = 800 + (i % 5) * 160
        sr_i, ns, dur, rms, zc = got[i]
        assert (sr_i, ns, dur) == (8000, n, n * 1000 // 8000), i
        assert abs(rms - 12000 / 32768 / math.sqrt(2)) < 0.01, i
        freq = 110.0 + (i % 7) * 55.0
        expect_zc = 2 * freq * n / 8000  # two crossings per period
        assert abs(zc - expect_zc) <= 2, (i, zc, expect_zc)


def test_shingles_short_docs_no_crash(spark):
    """Docs with fewer than n tokens have no n-grams (ADVICE r01: the
    unguarded sequence(0, -1) form threw INVALID_PARAMETER_VALUE.START)."""
    from femto_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, shingles

    df = spark.createDataFrame(
        [
            (0, ""),
            (1, "one"),
            (2, "two words"),
            (3, "exactly three tokens"),
            (4, "this doc has plenty of tokens to shingle"),
            (5, "this doc has plenty of tokens to shingle"),
        ],
        "doc_id long, text string",
    )
    sh = shingles(df).collect()
    by_doc = {}
    for r in sh:
        by_doc.setdefault(r["doc_id"], set()).add(r["shingle"])
    assert 0 not in by_doc and 1 not in by_doc and 2 not in by_doc
    assert by_doc[3] == {"exactly three tokens"}
    # the pair ops must survive short docs AND still find the real dup
    jp = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(df, threshold=0.9).collect()}
    assert jp == {(4, 5)}
    mp = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(df, threshold=0.9).collect()}
    assert mp == {(4, 5)}


def test_lsh_hot_bucket_cap_star_links(spark):
    """A boilerplate bucket (many identical docs) must not go quadratic:
    above max_bucket the bucket is star-linked to its min doc_id, which
    preserves duplicate-group connectivity with O(bucket) pairs."""
    from femto_spark.ops.dedup import minhash_lsh_pairs, simhash_neardup_pairs

    n = 60
    rows = [(i, "identical boilerplate header text repeated on every page") for i in range(n)]
    rows += [(n, "a completely different document body about spark shuffles")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, threshold=0.9, max_bucket=10).collect()
    }
    # star: hub (doc 0) pairs with every other clone; no clone-clone pairs
    assert pairs == {(0, i) for i in range(1, n)}

    # uncapped (cap above bucket size) = full clique on the clones
    clique = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, threshold=0.9, max_bucket=10_000).collect()
    }
    assert clique == {(a, b) for a in range(n) for b in range(a + 1, n)}

    sp = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_neardup_pairs(df, max_hamming=3, max_bucket=10).collect()
    }
    assert sp == {(0, i) for i in range(1, n)}


def test_embedding_neardup_blocked_equals_allpairs(spark, embs):
    """The blocked-GEMM plan must equal the all-pairs formula exactly
    (values included) for any block count, and its plan must contain no
    cartesian/nested-loop join."""
    from femto_spark.ops.similarity import embedding_neardup_pairs

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    ids = [r[0] for r in rows]
    nrm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = np.floor((nrm @ nrm.T) * 1e6 + 0.5) / 1e6
    want = sorted(
        (ids[i], ids[j], cos[i, j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if cos[i, j] >= 0.4
    )
    for nb in (1, 3, 8):
        df = embedding_neardup_pairs(embs, threshold=0.4, n_blocks=nb)
        got = sorted((r["id_a"], r["id_b"], r["cos_sim"]) for r in df.collect())
        assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want], nb
        for g, w in zip(got, want):
            assert g[2] == pytest.approx(w[2], abs=1e-9)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        embedding_neardup_pairs(embs, threshold=0.4).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_embedding_neardup_lsh_precision_one(spark, embs):
    """LSH-banded near-dup: every returned pair is a true pair (exact
    verify), recall is high at the documented parameters."""
    from femto_spark.ops.similarity import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(embs, 0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(embs, 0.4, n_bands=16, rows_per_band=4).collect()
    }
    assert approx <= exact
    assert len(approx) >= 0.8 * len(exact)


def test_embedding_neardup_lsh_hot_bucket_capped(spark):
    """10k identical embeddings share every band bucket; with max_bucket
    the bucket is star-linked (O(n) pairs, bounded time) instead of the
    5×10^7-pair clique. The banded self-join carries no vectors."""
    import contextlib, io

    from femto_spark.ops.similarity import embedding_neardup_lsh

    n, dim = 10_000, 8
    vec = [float(i % 7 + 1) for i in range(dim)]
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 8), i -> cast((i - 1) % 7 + 1 as float))"
        ).alias("embedding"),
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(
            df, 0.9, n_bands=4, rows_per_band=2, dim=dim, max_bucket=50
        ).collect()
    }
    assert got == {(0, i) for i in range(1, n)}

    # plan shape: the exploded band stage must not carry the vector column
    # (asserted on the banded stage directly — the pair plan's explain now
    # hides it behind the disk-backed candidate barrier's lineage cut)
    from femto_spark.ops.similarity import banded_embedding_signs

    banded = banded_embedding_signs(df, 4, 2, dim)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        banded.explain("formatted")
    plan = buf.getvalue()
    # the fan-out is a posexplode whose OUTPUT is scalars only — the
    # Generate reads the vector once per row to compute the sign bits,
    # but what fans out (and what the bucket join downstream shuffles)
    # is (doc_id, band, band_val), never the embedding column
    assert "Generate" in plan and "posexplode" in plan
    assert banded.columns == ["doc_id", "band", "band_val"]
    assert "embedding" not in {f.name for f in banded.schema.fields}


def test_common_phrases(spark, docs):
    from femto_spark.ops.textstats import common_phrases
    from femto_spark.tokenizer import tokenize

    got = [
        (r["phrase"], r["n_tokens"], r["df"])
        for r in common_phrases(docs, min_df=5, max_len=2, limit=20).collect()
    ]
    rows = duckdb.sql(f"SELECT doc_id, text FROM '{SF}/documents.parquet'").fetchall()
    from collections import Counter

    dfc = Counter()
    for _, t in rows:
        toks = tokenize(t)
        seen = set(toks)
        seen |= {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}
        dfc.update(seen)
    want = sorted(
        ((p, len(p.split()), c) for p, c in dfc.items() if c >= 5),
        key=lambda x: (-x[2], -x[1], x[0]),
    )[:20]
    assert got == want


def test_common_phrases_apriori_early_stop(spark):
    """A depth-8 request on a corpus whose longest min_df-frequent phrase
    has 2 tokens must stop the BFS at the empty level-3 frontier and
    return exactly the max_len=2 answer (true Apriori, not 8 full-corpus
    explode-distinct passes)."""
    from femto_spark.ops.textstats import common_phrases

    rows = [(i, "alpha beta " + f"unique{i} only{i} once{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    deep = [
        (r["phrase"], r["n_tokens"], r["df"])
        for r in common_phrases(df, min_df=3, max_len=8, limit=50).collect()
    ]
    shallow = [
        (r["phrase"], r["n_tokens"], r["df"])
        for r in common_phrases(df, min_df=3, max_len=2, limit=50).collect()
    ]
    assert deep == shallow
    assert ("alpha beta", 2, 6) in deep
    # no frequent phrase at all -> empty result, no error
    assert (
        common_phrases(df, min_df=99, max_len=8, limit=50).count() == 0
    )
