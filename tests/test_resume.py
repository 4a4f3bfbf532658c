"""Checkpoint-resume: a build killed between stages and rerun with
resume=True must produce an index identical to a one-shot build (the
north rule's kill-and-rerun criterion; FEMTO analog: per-bin files +
REPORT metrics let a failed femto_index restart from surviving bins)."""

import os

from pyspark.sql import functions as F


def test_kill_and_rerun_equals_oneshot(spark, tmp_path, index_signature):
    from femto_spark.index import build_index

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # one-shot reference build
    a = str(tmp_path / "oneshot")
    build_index(spark, corpus, a, n_buckets=8)

    # interrupted build: simulate a crash after the partials stage by
    # deleting the later stages' outputs and commit markers
    b = str(tmp_path / "resumed")
    build_index(spark, corpus, b, n_buckets=8)
    import shutil

    shutil.rmtree(os.path.join(b, "index"))
    shutil.rmtree(os.path.join(b, "termstats"))
    os.remove(os.path.join(b, "_COMMITTED_index.json"))
    os.remove(os.path.join(b, "_COMMITTED_termstats.json"))

    report = build_index(spark, corpus, b, n_buckets=8, resume=True)
    # docs + partials stages must have been skipped
    assert "docs" not in report["stages"]
    assert "partials" not in report["stages"]
    assert "index" in report["stages"]

    assert index_signature(a) == index_signature(b)


def test_full_resume_noop(spark, tmp_path, index_dir):
    from femto_spark.index import build_index

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    report = build_index(
        spark, corpus, index_dir, n_buckets=8, resume=True
    )
    assert report["stages"] == {}  # everything committed → nothing re-ran


def test_manifest_lineage_metrics(spark, index_dir):
    man = spark.read.parquet(os.path.join(index_dir, "manifest"))
    rows = man.collect()
    assert rows, "manifest must not be empty"
    cols = set(man.columns)
    assert {"bucket", "n_terms", "n_postings", "posting_bytes", "status"} <= cols
    assert all(r["status"] == "committed" for r in rows)
    # postings accounted exactly once across buckets
    total = sum(r["n_postings"] for r in rows)
    ix = spark.read.parquet(os.path.join(index_dir, "index"))
    assert total == ix.agg(F.sum("n")).collect()[0][0]


def test_partitioning_invariance(spark, tmp_path, index_signature):
    """The map-side run encoding + range-group merge must be a pure
    optimization: identical index content regardless of input partitioning
    or parallelism (SURVEY §7.2 M3 criterion — the successor of the
    salted==unsalted check; this is what makes N vs 4N runs comparable)."""
    from femto_spark.index import build_index

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = str(tmp_path / "p2")
    b = str(tmp_path / "p16")
    build_index(spark, corpus.repartition(2), a, n_buckets=8, n_partitions=2)
    build_index(spark, corpus.repartition(16), b, n_buckets=8, n_partitions=16)
    assert index_signature(a) == index_signature(b)


def test_range_groups_split_terms(spark, tmp_path):
    """With a small range_shift every term's postings split into doc-range
    groups (the hot-term merge bound) and stay globally doc-sorted."""
    import numpy as np

    from femto_spark.codec import decode_postings
    from femto_spark.index import build_index

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "rs6")
    build_index(spark, corpus, out, n_buckets=8, range_shift=6)  # 64-doc groups
    ix = spark.read.parquet(os.path.join(out, "index"))
    from femto_spark.xxhash import xxhash64 as _xx

    rows = (
        ix.filter(F.col("term_hash") == _xx("the".encode()))
        .orderBy("grp", "shard")
        .collect()
    )
    assert len(rows) > 1  # hot term split across range groups
    all_docs = []
    for r in rows:
        d, _, _ = decode_postings(bytes(r["postings"]), r["n"], r["tf_off"], r["dl_off"])
        assert np.all((d >> 6) == r["grp"])  # docs within the group's range
        all_docs.append(d)
    cat = np.concatenate(all_docs)
    assert np.all(np.diff(cat) > 0)  # globally sorted across groups
    # termstats df = sum of per-row n across all range groups
    ts = spark.read.parquet(os.path.join(out, "termstats"))
    df_val = ts.filter(F.col("term_hash") == _xx("the".encode())).collect()[0]["df"]
    assert df_val == sum(r["n"] for r in rows)
