#!/usr/bin/env python
"""spark-submit entrypoint: query an index (the femto_search analogue).

    spark-submit --py-files femto_spark.zip scripts/femto_search.py \\
        --index s3://indexes/pages_v1/ --corpus s3://corpus/pages/ \\
        --query "distributed inverted index" --k 10 [--wand] [--mode and]

Batch mode (femto_multiquery analogue — one Spark job for the whole file):

    ... scripts/femto_search.py --index ... --queries-file q.txt --k 10

Outputs one JSON line per query: {"query": ..., "hits": [[doc_id, score], ...]}.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="femto_spark search")
    ap.add_argument("--index", required=True)
    ap.add_argument("--corpus", default=None, help="corpus parquet for doc info")
    ap.add_argument("--query", default=None)
    ap.add_argument("--queries-file", default=None)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", choices=["or", "and"], default="or")
    ap.add_argument("--wand", action="store_true", help="block-max WAND path")
    ap.add_argument("--count", action="store_true", help="term stats only")
    ap.add_argument(
        "--grammar",
        action="store_true",
        help="evaluate --query as a FEMTO-grammar boolean expression"
        " (AND/OR/NOT, THEN d, WITHIN d, parens, quoted phrases)",
    )
    ap.add_argument(
        "--similar",
        type=int,
        default=None,
        metavar="DOC_ID",
        help="more-like-this: BM25 over DOC_ID's top tf*idf terms"
        " (femto_similar analogue; needs --corpus)",
    )
    ap.add_argument("--similar-terms", type=int, default=5)
    args = ap.parse_args()
    if not args.query and not args.queries_file and args.similar is None:
        ap.error("need --query, --queries-file, or --similar")

    from pyspark.sql import SparkSession

    from femto_spark.query import SearchEngine
    from femto_spark.session import start_session

    spark = start_session(
        SparkSession.builder.appName("femto_search")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    corpus = spark.read.parquet(args.corpus) if args.corpus else None
    eng = SearchEngine(spark, args.index, corpus=corpus)

    if args.similar is not None:
        rows = eng.similar(
            args.similar, n_terms=args.similar_terms, k=args.k
        ).collect()
        print(json.dumps({
            "similar_to": args.similar,
            "hits": [[r["doc_id"], r["score"]] for r in rows],
        }))
        spark.stop()
        return 0

    if args.grammar:
        docs = [r["doc_id"] for r in eng.query(args.query).collect()]
        print(json.dumps({"query": args.query, "doc_ids": docs}))
        spark.stop()
        return 0

    if args.count:
        for r in eng.count(args.query).collect():
            print(json.dumps({"term": r["term"], "n_docs": r["n_docs"],
                              "n_occurrences": r["n_occurrences"]}))
        spark.stop()
        return 0

    if args.query:
        queries = {"q0": args.query}
    else:
        with open(args.queries_file) as f:
            queries = {f"q{i}": line.strip() for i, line in enumerate(f) if line.strip()}

    if args.wand:
        rows = eng.search_many_wand(queries, k=args.k).collect()
    else:
        rows = eng.search_many(queries, k=args.k).collect()
    by_q: dict[str, list] = {qid: [] for qid in queries}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q[r["query_id"]].append([r["doc_id"], r["score"]])
    for qid, q in queries.items():
        print(json.dumps({"query": q, "hits": by_q[qid]}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
