"""Incremental ingest — append new documents to an existing index.

The reference *wanted* this and gave up: its BWT-interleaving
`INDEX_MERGE` is compiled out ("old rubbish that doesn't work",
`/root/reference/src/main/index.h:45-47`), and its production answer was a
staging-directory protocol (`src/scripts/README.txt:20-45`) that scans
unindexed data until a full rebuild. Posting lists make merge trivial
where BWTs made it hopeless — this is a core payoff of the Spark-first
redesign:

  merge_into(spark, index_dir, new_corpus):
    1. stage-1 encode ONLY the new docs' map-side partial runs and APPEND
       them to partials/ (old partials untouched — tokenizing the old
       corpus, the dominant build cost, is never repeated);
    2. append the new doc-length rows, recompute global stats;
    3. re-run the merge + termstats stages over the unioned partials.

The merge stage is insensitive to how many runs a (term_hash, grp)
group has or which segment they came from: it orders all of a group's
postings by doc id in one lexsort per Arrow batch (runs hold disjoint
docs, so that is the k-way merge) and re-encodes them. Result is
bit-identical to a one-shot build over the union corpus
(tests/test_incremental.py) — BM25's global df/N/avgdl are exact, not
approximated, because term stats are recomputed from the merged index.

Contract: new doc_ids must be disjoint from existing ones (doc_id = rank
of url in a global order per SURVEY §7.3; appends allocate above the old
max). Checked cheaply against stats.json.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tokenizer import spark_tokens_expr
from .build import (
    PARTIAL_SCHEMA,
    _commit,
    _make_encode_mapside,
    _marker,
    _sql_str,
    build_index,
    commit_snapshot,
    load_remap,
    resolve_collisions,
    thash_expr,
    token_hash_sql,
)


def merge_into(
    spark: SparkSession,
    index_dir: str,
    new_corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_size: int = 1 << 18,
    n_partitions: int | None = None,
    run_id: str | None = None,
) -> dict:
    """Append `new_corpus` to the index at `index_dir`. Returns the stage
    report of the re-run merge stages.

    `run_id` makes the append idempotent for retry loops (streaming
    foreachBatch): the new partials and doc rows are staged under
    deterministic `run_<run_id>_*` file names — a replay after a crash
    first deletes any files from the failed attempt, so the same batch
    can never double-append; a replay after the `_RUN_<id>_DONE` marker
    is a no-op."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    n_buckets = int(stats["n_buckets"])
    range_shift = int(stats["range_shift"])
    with_positions = bool(stats.get("with_positions", True))
    n_part = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    from .build import TableIO

    io = TableIO(index_dir, stats.get("catalog_table"))

    if run_id is not None and os.path.exists(
        os.path.join(index_dir, f"_RUN_{run_id}_DONE")
    ):
        return {"stages": {}, "skipped": True, "run_id": run_id}

    partials_path = os.path.join(index_dir, "partials")
    docs_path = os.path.join(index_dir, "docs")
    if run_id is not None:
        # replay of a crashed attempt: remove this run's files before the
        # disjointness check so a half-appended batch never double-counts
        for d in (partials_path, docs_path):
            if os.path.isdir(d):
                for fn in os.listdir(d):
                    if fn.startswith(f"run_{run_id}_"):
                        os.remove(os.path.join(d, fn))

    # disjointness check against the existing docs table (cheap agg)
    old_max = io.read(spark, "docs").agg(F.max("doc_id")).collect()[0][0]
    new_min = new_corpus.agg(F.min(F.col(id_col))).collect()[0][0]
    if old_max is not None and new_min is not None and new_min <= old_max:
        raise ValueError(
            f"new doc_ids must exceed existing max ({new_min} <= {old_max})"
        )

    t0 = time.time()
    toks = new_corpus.select(
        F.col(id_col).alias("doc_id"), F.expr(spark_tokens_expr(text_col)).alias("tokens")
    )

    def _append(df: DataFrame, target: str) -> None:
        """Plain append, or (with run_id) a staged write whose files carry
        deterministic run-keyed names — the unit the replay path deletes."""
        if run_id is None:
            df.write.mode("append").parquet(target)
            return
        tmp = target + f"_stage_{run_id}"
        if os.path.exists(tmp):
            import shutil as _sh2

            _sh2.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        i = 0
        for fn in sorted(os.listdir(tmp)):
            if fn.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, fn),
                    os.path.join(target, f"run_{run_id}_{i:05d}.parquet"),
                )
                i += 1
        import shutil as _sh3

        _sh3.rmtree(tmp)

    # 1. refresh the vocab side table FIRST: new terms may collide (64-bit
    # birthday, or a test hash_mask) and must be re-keyed before any new
    # partial run is encoded under the wrong hash. Old terms are anchored
    # (their postings already live under their current effective hash) —
    # only new terms ever re-key, so the existing index is never touched.
    hash_mask = stats.get("hash_mask")
    prior_remap = load_remap(index_dir)
    vocab_path = os.path.join(index_dir, "vocab")
    tmp_recover = vocab_path + "_tmp"
    if not io.catalog_table:
        if not os.path.exists(vocab_path) and os.path.exists(tmp_recover):
            # a previous attempt crashed between rmtree(vocab) and the
            # rename — the tmp table is complete (written before the
            # swap), recover it
            os.rename(tmp_recover, vocab_path)
    old_vocab = io.read(spark, "vocab")
    merged = (
        old_vocab.select("term")
        .union(toks.select(F.explode("tokens").alias("term")))
        .distinct()
        .select(
            "term",
            F.expr(
                token_hash_sql(hash_mask, prior_remap, col="term")
            ).alias("term_hash"),
        )
    )
    if io.catalog_table:
        # snapshotting table replace — no tmp-dir swap protocol needed
        # (localCheckpoint breaks the self-read cycle for providers
        # without snapshot isolation; Iceberg would pin the old snapshot)
        v = merged.localCheckpoint()
        remap = resolve_collisions(
            v, hash_mask, old_vocab.select("term"), prior_remap
        )
        if remap != prior_remap:
            new_arms = {t: h for t, h in remap.items() if prior_remap.get(t) != h}
            arms = " ".join(
                f"WHEN term = {_sql_str(t)} THEN {h}L"
                for t, h in sorted(new_arms.items())
            )
            v = v.withColumn(
                "term_hash", F.expr(f"CASE {arms} ELSE term_hash END")
            )
            with open(os.path.join(index_dir, "collisions.json"), "w") as f:
                json.dump(remap, f)
        io.replace(v, "vocab")
    else:
        tmp_vocab = vocab_path + "_tmp"
        merged.write.mode("overwrite").parquet(tmp_vocab)
        v = spark.read.schema("term string, term_hash long").parquet(tmp_vocab)
        remap = resolve_collisions(
            v, hash_mask, old_vocab.select("term"), prior_remap
        )
        if remap != prior_remap:
            new_arms = {t: h for t, h in remap.items() if prior_remap.get(t) != h}
            arms = " ".join(
                f"WHEN term = {_sql_str(t)} THEN {h}L"
                for t, h in sorted(new_arms.items())
            )
            v = v.withColumn("term_hash", F.expr(f"CASE {arms} ELSE term_hash END"))
            tmp2 = vocab_path + "_rekey"
            import shutil as _sh0

            if os.path.exists(tmp2):
                _sh0.rmtree(tmp2)
            v.write.mode("overwrite").parquet(tmp2)
            _sh0.rmtree(tmp_vocab)
            os.rename(tmp2, tmp_vocab)
            with open(os.path.join(index_dir, "collisions.json"), "w") as f:
                json.dump(remap, f)
        import shutil as _sh

        _sh.rmtree(vocab_path)
        os.rename(tmp_vocab, vocab_path)
    _commit(index_dir, "vocab", {"appended": True, "n_rekeyed": len(remap)})

    # 2. append new partial runs (identical map-side stage-1 plan as
    # build_index; new doc_ids land in fresh or trailing range groups).
    # The encode honours the index's own positions flag — appending to a
    # positions-free index must stay positions-free (ADVICE r01).
    src = toks.select(
        "doc_id",
        F.size("tokens").alias("dl"),
        F.expr(thash_expr(hash_mask, remap)).alias("thash"),
    )
    if src.rdd.getNumPartitions() < n_part:
        src = src.repartition(n_part)
    _append(
        src.mapInPandas(
            _make_encode_mapside(range_shift, with_positions), PARTIAL_SCHEMA
        ),
        partials_path,
    )

    # 2. append doc lens (+ the index's metadata field columns — the docs
    # table schema must stay uniform across appends), recompute stats
    doc_rows = toks.select("doc_id", F.size("tokens").alias("dl"))
    fields = stats.get("field_cols") or []
    if fields:
        doc_rows = doc_rows.join(
            new_corpus.select(
                F.col(id_col).alias("doc_id"), *[F.col(c) for c in fields]
            ),
            "doc_id",
        )
    if io.catalog_table:
        # the table format's transactional append IS the idempotence
        # story (an Iceberg append either commits a snapshot or doesn't);
        # the _RUN marker still short-circuits replays of finished runs
        io.append(doc_rows, "docs")
    else:
        _append(doc_rows, docs_path)
    srow = (
        io.read(spark, "docs")
        .agg(F.count("*").alias("n"), F.sum("dl").alias("tt"))
        .collect()[0]
    )
    stats.update(
        {
            "n_docs": int(srow["n"]),
            "total_tokens": int(srow["tt"] or 0),
            "avgdl": (int(srow["tt"] or 0) / int(srow["n"])) if srow["n"] else 0.0,
        }
    )
    with open(os.path.join(index_dir, "stats.json"), "w") as f:
        json.dump(stats, f)
    _commit(index_dir, "docs", {"secs": time.time() - t0, **stats})

    # 3. re-run merge + termstats over the unioned partials
    for stage in ("index", "termstats"):
        m = _marker(index_dir, stage)
        if os.path.exists(m):
            os.remove(m)
    # resume=True skips docs+partials (their markers are fresh) and
    # rebuilds exactly the index/termstats/manifest stages
    report = build_index(
        spark,
        new_corpus.limit(0),  # corpus unused by the remaining stages
        index_dir,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        range_shift=range_shift,
        shard_size=shard_size,
        n_partitions=n_part,
        resume=True,
        with_positions=with_positions,
        hash_mask=hash_mask,
        catalog_table=stats.get("catalog_table"),
    )
    commit_snapshot(index_dir, "append", {"n_docs": stats["n_docs"], "run_id": run_id})
    if run_id is not None:
        with open(os.path.join(index_dir, f"_RUN_{run_id}_DONE"), "w") as f:
            json.dump({"run_id": run_id, "n_docs": stats["n_docs"]}, f)
    return report
