#!/usr/bin/env python
"""Physical-plan audit: dump `.explain(formatted)` for the headline
operators and check the properties that matter at 100 TB:

  * index scans carry PushedFilters on bucket + term_hash (partition
    pruning + row-group skipping);
  * the per-query term-stats lookup pushes term_hash down;
  * search_many broadcasts the (tiny) query-term table, never shuffles
    the decoded postings for the join;
  * scan path (rlike) pushes the doc_id projection (ReadSchema pruned);
  * no Exchange appears between the index scan and the decode UDF.

Writes BENCH/PLANS.md (plans + PASS/FAIL per property) for review.
Usage: python scripts/explain_audit.py [index_dir sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _op_num(p: str, name: str) -> int:
    """Position of an operator in the numbered bottom-up plan listing —
    (1) is the scan; smaller = earlier in execution."""
    m = re.search(r"\((\d+)\) [^\n]*" + name, p)
    return int(m.group(1)) if m else 10**9


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from femto_spark.index import build_index
    from femto_spark.query import SearchEngine
    from femto_spark.session import get_spark

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    spark = get_spark("explain_audit", shuffle_partitions=8)
    corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ix_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, ".scratch", "audit_index")
    )
    if not os.path.exists(os.path.join(ix_dir, "stats.json")):
        build_index(spark, corpus, ix_dir, n_buckets=8)
    eng = SearchEngine(spark, ix_dir, corpus=corpus)

    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []

    def check(name, df, props):
        p = plan_of(df)
        results = [(desc, fn(p)) for desc, fn in props]
        sections.append((name, p, results))

    # 1. exact search: pruned index scan feeding the decode UDF
    check(
        "search('data table scan', k=10) — exact BM25 path",
        eng.search("data table scan", k=10),
        [
            (
                "bucket partition filter present",
                lambda p: "bucket" in p and ("PartitionFilters" in p or "bucket IN" in p),
            ),
            ("term_hash pushed to parquet", lambda p: "PushedFilters" in p and "term_hash" in p),
            ("decode runs in Python/Arrow (MapInPandas)", lambda p: "MapInPandas" in p),
            (
                "no Exchange between scan and decode (numbered op order)",
                lambda p: _op_num(p, "MapInPandas") < _op_num(p, "Exchange"),
            ),
        ],
    )

    # 2. batched exact search: WAND harness with theta=-inf — co-grouped
    # per-query tasks, no exploded (query, doc, score) shuffle, no Window
    check(
        "search_many(3 queries) — exact batch via WAND harness",
        eng.search_many({"a": "data table", "b": "the", "c": "merge sort"}, k=5),
        [
            ("query table broadcast (BroadcastHashJoin)", lambda p: "BroadcastHashJoin" in p),
            ("FlatMapGroupsInPandas (per-query task)", lambda p: "FlatMapGroupsInPandas" in p),
            (
                "no per-(query,doc) window shuffle",
                lambda p: "Window" not in p,
            ),
        ],
    )

    # 3. WAND batch: term rows co-grouped per query
    check(
        "search_many_wand(3 queries) — WAND path",
        eng.search_many_wand({"a": "data table", "b": "the"}, k=5),
        [
            ("FlatMapGroupsInPandas (per-query task)", lambda p: "FlatMapGroupsInPandas" in p),
            ("term_hash pushed to parquet", lambda p: "term_hash" in p and "PushedFilters" in p),
        ],
    )

    # 4. scan path: projection pruning
    check(
        "scan_docs(regex) — unindexed fallback",
        eng.scan_docs("merge (fast|slow)"),
        [
            (
                "ReadSchema pruned to needed columns",
                lambda p: "ReadSchema" in p and "n_chars" not in p.split("ReadSchema")[1][:200],
            ),
            ("rlike filter pushed into scan stage", lambda p: "RLIKE" in p or "rlike" in p),
        ],
    )

    # 5. exact dedup: single hash aggregate
    from femto_spark.ops.dedup import exact_duplicates

    check(
        "exact_duplicates — hash groupBy",
        exact_duplicates(corpus),
        [
            ("partial aggregation (map-side combine)", lambda p: "HashAggregate" in p),
            ("only md5/doc_id read (column pruning)", lambda p: "ReadSchema" in p),
        ],
    )

    # 5b. proximity hot-term prune: intersection stays a DataFrame —
    # semi-join + broadcast of matched doc arrays, no driver collect
    import femto_spark.query.engine as _em

    _saved = (_em._PROX_PRUNE_HI, _em._PROX_PRUNE_ASYM)
    _em._PROX_PRUNE_HI, _em._PROX_PRUNE_ASYM = 0, 0
    try:
        check(
            "proximity('the','data',3) — distributed hot-term prune",
            eng.proximity("the", "data", 3, ordered=True),
            [
                ("intersection semi-join in plan (LeftSemi)", lambda p: "LeftSemi" in p),
                (
                    "matched doc arrays broadcast back to shard rows",
                    lambda p: "BroadcastHashJoin" in p,
                ),
            ],
        )
    finally:
        _em._PROX_PRUNE_HI, _em._PROX_PRUNE_ASYM = _saved

    # 6. brute-force ANN: whole-stage codegen, broadcast queries
    from femto_spark.ops.similarity import brute_force_topk
    from pyspark.sql import functions as F

    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    check(
        "brute_force_topk — partition GEMM",
        brute_force_topk(embs, q, k=5),
        [
            # r6 design (guide §4.2): one float64 GEMM per partition in
            # MapInPandas (queries broadcast via closure), per-partition
            # top-k, tiny global window — the corpus is never fanned out
            # by a per-pair join
            ("no per-pair cross join", lambda p: "BroadcastNestedLoop" not in p
             and "CartesianProduct" not in p),
            ("Arrow GEMM stage present", lambda p: "MapInPandas" in p),
            ("per-partition top-k before the exchange",
             lambda p: "WindowGroupLimit" in p),
            ("window top-k, no global sort", lambda p: "Window" in p),
        ],
    )

    # 7. blocked embedding near-dup: exact, but NEVER a cartesian product
    from femto_spark.ops.similarity import embedding_neardup_pairs

    check(
        "embedding_neardup_pairs — blocked GEMM, no cartesian",
        embedding_neardup_pairs(embs, threshold=0.4),
        [
            (
                "no CartesianProduct / nested-loop join",
                lambda p: "CartesianProduct" not in p
                and "BroadcastNestedLoop" not in p,
            ),
            ("GEMM runs in Python/Arrow (MapInPandas)", lambda p: "MapInPandas" in p),
        ],
    )

    # 8. regex doc resolution: distributed semi-join, no driver isin
    check(
        "regex_docs('^mer|s(can|low)$') — vocab semi-join path",
        eng.regex_docs("^mer|s(can|low)$"),
        [
            ("term set joins the index (LeftSemi)", lambda p: "LeftSemi" in p),
            (
                "no driver-side In(term_hash, [..large list..]) filter",
                lambda p: "term_hash IN (" not in p,
            ),
        ],
    )

    # 9. infix search: answered from index tables only — corpus never read
    check(
        "infix_docs('erge.fas') — substring over the index",
        eng.infix_docs("erge.fas"),
        [
            (
                "no corpus scan (documents.parquet absent from plan)",
                lambda p: "documents.parquet" not in p,
            ),
            ("gram/vocab pruning joins present", lambda p: "LeftSemi" in p),
        ],
    )

    # 9b. doc-range-capped postings (phrase_limit): grp prune pushed to
    # the scan, block metadata read for the prefix decode
    check(
        "postings(doc_hi=100) — doc-range-capped decode (phrase_limit)",
        eng.postings(["data"], scored=False, doc_hi=100),
        [
            (
                "grp range filter pushed to parquet",
                lambda p: "PushedFilters" in p
                and "grp" in p.split("PushedFilters")[1][:200],
            ),
            (
                "block metadata read for the prefix decode",
                lambda p: "block_last_doc" in p,
            ),
            ("decode in Arrow (MapInPandas)", lambda p: "MapInPandas" in p),
        ],
    )

    # 9c. many-wildcard infix: the positional DP stays index-only
    check(
        "infix_docs('.t.bl...c.n.') — positional DP (7 wildcards)",
        eng.infix_docs(".t.bl...c.n."),
        [
            (
                "no corpus scan (documents.parquet absent from plan)",
                lambda p: "documents.parquet" not in p,
            ),
            ("boundary-transition joins present", lambda p: "Join" in p),
        ],
    )

    # 10. merge stage parallelism: steered hash repartition slicing each
    # bucket into k cluster-scaling slices — NOT the old 16-task
    # repartition(n_buckets), and NOT a range exchange (whose sampling
    # job executed the full partials scan just to learn boundaries)
    from femto_spark.index.build import MERGED_SCHEMA, _make_batch_merge
    from femto_spark.index.steering import steering_values
    from pyspark.sql import functions as FF

    partials = spark.read.parquet(os.path.join(ix_dir, "partials"))
    n_bk, k_slices = 8, 4
    n_merge = n_bk * k_slices
    magics = steering_values(n_merge)
    pid = FF.pmod(FF.col("term_hash"), FF.lit(n_bk)).cast(
        "int"
    ) * k_slices + FF.pmod(
        FF.xxhash64(FF.col("term_hash"), FF.col("grp")), FF.lit(k_slices)
    ).cast("int")
    steer = FF.element_at(
        FF.array(*[FF.lit(int(m)).cast("long") for m in magics]), pid + 1
    )
    merged_plan_df = (
        partials.withColumn("_steer", steer)
        .repartition(n_merge, "_steer")
        .sortWithinPartitions("term_hash", "grp")
        .drop("_steer")
        .mapInPandas(_make_batch_merge(1 << 18, n_bk), MERGED_SCHEMA)
    )
    check(
        "index merge stage — parallelism beyond n_buckets",
        merged_plan_df,
        [
            (
                "hash repartition on steering column (no sampling job)",
                lambda p: "hashpartitioning" in p.lower()
                and "rangepartitioning" not in p.lower(),
            ),
            (
                f"merge task count = {n_merge} (> n_buckets)",
                lambda p: merged_plan_df.rdd.getNumPartitions() == n_merge,
            ),
            (
                "one blob shuffle: a single Exchange, below the merge UDF",
                lambda p: len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
                and _op_num(p, "Exchange") < _op_num(p, "MapInPandas"),
            ),
        ],
    )

    # 11. catalog-mode read path: the DSv2 writeTo layout keeps partition
    # pruning — a term lookup's scan carries a partition filter on
    # `bucket` (the same pruning an Iceberg partition transform applies
    # to this layout; asserting it needs no Iceberg jar)
    cat_prefix = "femto_audit_cat"
    for sfx in ("index", "docs", "vocab", "termstats", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {cat_prefix}_{sfx}")
    import glob as _glob
    import shutil as _shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for d in _glob.glob(os.path.join(wh, f"{cat_prefix}_*")):
        _shutil.rmtree(d, ignore_errors=True)
    cat_ix = os.path.join(REPO, ".scratch", "audit_cat_ix")
    _shutil.rmtree(cat_ix, ignore_errors=True)
    build_index(
        spark, corpus.limit(200), cat_ix, n_buckets=8,
        catalog_table=cat_prefix,
    )
    cat_eng = SearchEngine(spark, cat_ix)
    check(
        "catalog-mode term lookup — partition-pruned catalog scan",
        cat_eng._term_rows(["data"]),
        [
            (
                "bucket partition filter on the catalog table scan",
                lambda p: "PartitionFilters" in p
                and "bucket" in p.split("PartitionFilters")[1][:300],
            ),
            (
                "term_hash pushed to the file source",
                lambda p: "PushedFilters" in p
                and "term_hash" in p.split("PushedFilters")[1][:300],
            ),
        ],
    )

    # 12. multi-token gap chain (phrase-gap-phrase): slot anchor joins
    # stay semi-joins over bucket-pruned positions reads — no
    # CartesianProduct, no corpus scan, one gram-pruned vocab rlike per
    # distinct slot regex
    check(
        "infix gap chain `erge fas.*tab` — anchor semi-joins, no corpus scan",
        eng.infix_docs("erge fas.*tab"),
        [
            ("no CartesianProduct", lambda p: "CartesianProduct" not in p),
            ("slot anchor joins are LeftSemi", lambda p: "LeftSemi" in p),
            (
                "dynamic bucket pruning on the index scans (DPP from the"
                " candidate semi-join)",
                lambda p: "dynamicpruning" in p.lower(),
            ),
            (
                "no corpus text column in any scan",
                lambda p: "text#" not in p.split("ReadSchema")[-1],
            ),
        ],
    )

    # 13. margin/guard-cell chain (flush min-m gap + big edge guard):
    # the cell unions stay anchor semi-joins; the long-adjacent-token
    # cell is a LeftAnti against the short terms' positions — still no
    # CartesianProduct and no corpus scan
    check(
        "infix cell chain `...data .{2,} table` — margin cells + lg anti-join",
        eng.infix_docs("...data .{2,} table"),
        [
            ("no CartesianProduct", lambda p: "CartesianProduct" not in p),
            (
                "long-token cell is a LeftAnti join",
                lambda p: "LeftAnti" in p,
            ),
            (
                "no corpus text column in any scan",
                lambda p: "text#" not in p.split("ReadSchema")[-1],
            ),
        ],
    )

    # 14. plan-compile probe for a MAXIMAL accepted gap pattern (ADVICE
    # r05 #3): 4 gaps, multi-token parts with in-part dots (variant
    # fan-out), edge guards — the worst _Evaluator.gap_docs plan (up to 16 merge
    # masks × variant combos with margin/guard sub-unions). The property
    # asserted is that driver-side planning (analysis+optimization+
    # physical planning, via the explain string) completes in bounded
    # time; if this ever fails, lower _MAX_GAP_COMBOS.
    import time as _time

    # maximal ACCEPTED shape (denser in-part dot combos exceed
    # _MAX_GAP_COMBOS and correctly reject to other routes)
    worst = "..da.a table.*erge f.st.+scan.*valu. key.*hash rec.."
    t0 = _time.time()
    df_worst = eng.infix_docs(worst)
    p_worst = plan_of(df_worst)
    compile_s = _time.time() - t0
    sections.append(
        (
            f"maximal gap chain — plan compile {compile_s:.1f}s",
            p_worst[:4000],
            [
                (
                    f"plan compiles in bounded time ({compile_s:.1f}s < 120s)",
                    compile_s < 120.0,
                ),
                ("no CartesianProduct", "CartesianProduct" not in p_worst),
            ],
        )
    )

    # write report
    out = os.path.join(REPO, "BENCH", "PLANS.md")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    ok_all = True
    with open(out, "w") as f:
        f.write("# Physical-plan audit (`.explain('formatted')`)\n\n")
        f.write(
            "Properties asserted per operator; full plans below each.\n\n"
        )
        for name, p, results in sections:
            f.write(f"## {name}\n\n")
            for desc, ok in results:
                ok_all &= ok
                f.write(f"- {'PASS' if ok else 'FAIL'}: {desc}\n")
            f.write("\n```\n" + p.strip()[:4000] + "\n```\n\n")
    print(f"wrote {out}; all_pass={ok_all}")
    for name, _, results in sections:
        for desc, ok in results:
            if not ok:
                print(f"FAIL [{name}] {desc}")
    spark.stop()
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
