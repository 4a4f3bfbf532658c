"""Streaming ingest: an index fed file-by-file through Structured
Streaming must equal a one-shot batch build (the working replacement for
the reference's staging-directory protocol, scripts/README.txt:20-45)."""

import os

from pyspark.sql import functions as F


def test_stream_ingest_equals_oneshot(spark, tmp_path, index_signature):
    from femto_spark.index import build_index
    from femto_spark.streaming import stream_ingest

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # seed index with the first slice; stream in two more slices as files
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    corpus.filter(F.col("doc_id").between(200, 349)).select(
        "doc_id", "text"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/batch1")
    corpus.filter(F.col("doc_id") >= 350).select("doc_id", "text").coalesce(
        1
    ).write.mode("overwrite").parquet(src + "/batch2")
    # flatten: streaming source wants files under one dir
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(src + "/batch*/part-*.parquet"))):
        shutil.copy(f, f"{flat}/file{i}.parquet")

    streamed = str(tmp_path / "streamed")
    build_index(
        spark, corpus.filter(F.col("doc_id") < 200), streamed, n_buckets=8
    )
    stream_ingest(
        spark,
        streamed,
        flat,
        str(tmp_path / "ckpt"),
        schema="doc_id long, text string",
        available_now=True,
    )

    oneshot = str(tmp_path / "oneshot")
    build_index(spark, corpus, oneshot, n_buckets=8)

    assert index_signature(streamed) == index_signature(oneshot)
