#!/usr/bin/env python
"""Extra benchmarks for optimization work (guide §1.4) — NOT the driver
bench. bench.py stays frozen; this file isolates individual operators with
per-stage timing and noop sinks so optimization targets the computation,
not the sink or a neighbour's cache state.

Usage:
    python bench_extra.py minhash   [sf_dir]   # stage-by-stage LSH profile
    python bench_extra.py ann       [sf_dir]   # brute_force_topk isolation
    python bench_extra.py queries   [sf_dir]   # per-query noop-sink battery
    python bench_extra.py explain <query> [sf_dir]  # .explain("formatted")
    python bench_extra.py workers             # fixed cost of a Python task

Numbers from here are cited in OPTIMIZATION_r06.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SCRATCH = os.path.join(REPO, ".scratch")


def _spark():
    from femto_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return get_spark("femto_bench_extra", master=f"local[{cpus}]",
                     shuffle_partitions=int(cpus))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _corpus(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def profile_minhash(sf_dir: str) -> None:
    """Time each barrier-delimited stage of minhash_lsh_pairs separately.
    The eager DISK_ONLY localCheckpoints inside the op make attribution
    natural: each section below runs exactly one new piece of work."""
    import pyspark.sql.functions as F

    from femto_spark.ops.dedup import (
        _barrier,
        _capped_bucket_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    spark = _spark()
    sc = spark.sparkContext
    corpus = _corpus(spark, sf_dir)
    corpus.count()
    n_hashes, bands, n, threshold = 64, 16, 3, 0.5
    rows_per_band = n_hashes // bands
    t = {}

    sc.setJobDescription("minhash: signatures")
    t0 = time.time()
    sigs = minhash_signatures(corpus, n_hashes, n)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> xxhash64(array_join(slice(sig, b * {rows_per_band} + 1, {rows_per_band}), ',')))"
            )
        ).alias("band", "band_hash"),
    )
    sc.setJobDescription("minhash: banded pairs")
    cand = _barrier(_capped_bucket_pairs(banded, ["band", "band_hash"], None))
    t["sig+band+pairs"] = time.time() - t0

    t0 = time.time()
    sc.setJobDescription("minhash: candidate shingles")
    needed = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b"))
    ).distinct()
    sh_c = _barrier(
        shingle_hashes(corpus, n, distinct=False)
        .join(needed, "doc_id", "semi")
        .dropDuplicates(["doc_id", "h"])
    )
    t["cand_shingles"] = time.time() - t0

    t0 = time.time()
    sc.setJobDescription("minhash: verify join")
    sizes = sh_c.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh_c.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("sa_h"))
    sb = sh_c.select(F.col("doc_id").alias("db"), F.col("h").alias("sb_h"))
    common = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("db")) & (F.col("sa_h") == F.col("sb_h")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    n_pairs = out.count()
    t["verify"] = time.time() - t0

    print({"stage_sec": {k: round(v, 2) for k, v in t.items()},
           "n_cand": cand.count(), "n_pairs": n_pairs,
           "total": round(sum(t.values()), 2)})
    spark.stop()


def profile_ann(sf_dir: str) -> None:
    import pyspark.sql.functions as F

    from femto_spark.ops.similarity import brute_force_topk

    spark = _spark()
    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    embs.count()
    q = embs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for rep in range(3):
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"ann rep{rep}")
        brute_force_topk(embs, q, k=10).count()
        print({"rep": rep, "sec": round(time.time() - t0, 3)})
    spark.stop()


def profile_queries(sf_dir: str) -> None:
    """Per-query repeats over a prebuilt index (reuses .scratch/bench_index
    if fresh; rebuilds otherwise). Reports best-of-3 per query."""
    from femto_spark.index import build_index
    from femto_spark.query import SearchEngine

    spark = _spark()
    corpus = _corpus(spark, sf_dir)
    out = os.path.join(SCRATCH, "bench_extra_index")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    build_index(spark, corpus, out, n_buckets=16)
    print({"build_index": round(time.time() - t0, 2)})
    eng = SearchEngine(spark, out, corpus=corpus)
    batch = {f"q{i}": q for i, q in enumerate(
        ["the", "data table", "spark window agg", "fast slow filter",
         "merge sort", "customer order line", "value key hash"] * 8
    )}
    qs = {
        "q_bm25_hot": lambda: eng.search("the", k=10).collect(),
        "q_bm25_multi": lambda: eng.search("data table scan", k=10).collect(),
        "q_bm25_and": lambda: eng.search("the data table", k=10, mode="and").collect(),
        "q_bool_and": lambda: eng.boolean_docs("and", "data", "table").count(),
        "q_bool_not": lambda: eng.boolean_docs("not", "data", "table").count(),
        "q_proximity_then": lambda: eng.proximity("the", "data", 3, True).count(),
        "q_locate": lambda: eng.locate("merge").count(),
        "q_batch_56": lambda: eng.search_many(batch, k=10).count(),
        "q_batch_56_wand": lambda: eng.search_many_wand(batch, k=10).count(),
        "q_wand_single": lambda: eng.search_wand("data table scan", k=10).collect(),
        "q_phrase": lambda: eng.phrase("data table").count(),
        "q_approx": lambda: eng.approx_docs("tabl", 1).count(),
        "q_snippets": lambda: eng.snippets("merge", k=10).collect(),
        "q_extend": lambda: eng.extend("s", 10).collect(),
        "q_scan_regex": lambda: eng.scan_docs("merge (fast|slow)").count(),
    }
    res = {}
    for name, fn in qs.items():
        spark.sparkContext.setJobDescription(name)
        best = None
        for _ in range(3):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        res[name] = round(best, 3)
    print({"best_of_3": res, "total": round(sum(res.values()), 2)})
    spark.stop()


def profile_workers() -> None:
    """Fixed cost of a Python-worker task: the wall time of a no-op
    mapInPandas count against a JVM-only count of the same rows, at 4, 16
    and 32 partitions. The no-op imports femto_spark in the worker, as
    every femto UDF does. `first_python_s` is the first run (fresh
    workers at 4 partitions), the rest are the median of 3 after it."""
    from statistics import median

    spark = _spark()

    def passthrough(batches):
        import femto_spark  # noqa: F401

        yield from batches

    def timed(fn):
        t0 = time.time()
        fn()
        return time.time() - t0

    for n in (4, 16, 32):
        df = spark.range(0, 1000 * n, numPartitions=n)
        py = df.mapInPandas(passthrough, df.schema)
        first_s = timed(py.count)
        py_s = median(timed(py.count) for _ in range(3))
        jvm_s = median(timed(df.count) for _ in range(3))
        print({"partitions": n, "first_python_s": round(first_s, 3),
               "python_s": round(py_s, 3), "jvm_s": round(jvm_s, 3),
               "per_python_task_s": round((py_s - jvm_s) / n, 4)})
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"
    )
    if cmd == "minhash":
        profile_minhash(sf_dir)
    elif cmd == "ann":
        profile_ann(sf_dir)
    elif cmd == "queries":
        profile_queries(sf_dir)
    elif cmd == "workers":
        profile_workers()
    else:
        raise SystemExit(f"unknown command {cmd}")
