"""Distributed inverted-index build — the Spark restatement of FEMTO's
parallel external-memory index builder (`femto_index`).

FEMTO's build plan (SURVEY.md §2.2, `/root/reference/src/dcx_cc/dcx.hh`) is
{read → sample splitters → form tuples → distribute → sort bins → merge →
encode blocks → write + header}. Ours is the same shape with the heavy
lifting MAP-SIDE and *no strings in the hot path*:

  corpus ──JVM: tokenize + hash──▶ (doc_id, dl, term_hash array<long>)
      │  NO raw-token shuffle; Python sees only int64 arrays
      ▼
  stage 1  mapInPandas per corpus partition: numpy-sort the batch's
           (hash, doc, pos) hits, emit one compressed partial RUN per
           (term_hash, doc-range grp) per batch            [PARTIALS ✓ ckpt]
      │  the only posting shuffle moves compressed runs, keyed by BUCKET
      ▼  (bucket = pmod(term_hash, n_buckets)), sorted (term_hash, grp)
  stage 2  mapInPandas stream, one vectorized pass per Arrow batch of
           whole (term_hash, grp) groups: decode every run at once,
           lexsort postings by (group, doc) — the k-way merge — and
           re-encode ≤ shard_size-posting rows with block-max metadata
           through the stage-1 encoder; written directly
           partitionBy(bucket) — the merge shuffle IS the final layout,
           blobs move exactly once                          [INDEX]
      ▼
  side tables: vocab/ (term_hash → term, collisions re-keyed), docs/,
  stats.json, termstats/, manifest/                         [HEADER]

Term strings never cross the JVM↔Python boundary during the build (an
earlier revision shipped 40M token strings through Arrow; converting them
to Python objects dominated the build and did not scale past 8 cores).
Queries hash their terms driver-side with the Spark-parity XXH64
(femto_spark.xxhash), so the index is keyed by term_hash end-to-end; the
vocab table exists for prefix operations (extend) and reporting. 64-bit
collisions (a 10^9+-vocabulary certainty, but O(1) MANY by the birthday
bound) are detected at build time and the colliding terms re-keyed —
see the term-hashing section below; collisions.json carries the remap
to query time.

Skew (the north rule's named concern): the merge task for a hot term is
bounded TWO ways — `grp = doc_id >> range_shift` splits every term's
postings into disjoint doc-range groups (a term with df=10^11 becomes
~df/2^range_shift independent merge groups), and `shard_size` caps any
single output row. Range groups keep global doc order, so shards stay
sorted and incremental appends land in fresh groups. Bucket partitions
hold ~|vocab|/n_buckets terms each — balanced by hash.

Checkpoint/resume (north rule): every stage commits atomically — data
files first, then a `_COMMITTED_<stage>.json` marker; a manifest table
records per-partition lineage metrics (FEMTO's `REPORT DISK_BYTES_*`
lines, `dcx.hh:6148-6157`). `build_index(..., resume=True)` skips
committed stages — kill/rerun equals one-shot (tests/test_resume.py).

Storage is Parquet partitioned by `bucket` (an Iceberg `bucket(term)`
partition transform in spirit); `catalog_table=` swaps every queryable
table's write to the DataSource-V2 `writeTo` API (TableIO below) — point
it at an Iceberg catalog for snapshot-isolated appends, compaction and
time travel; parquet dirs remain the default and the serving layout.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..arrowutil import whole_group_batches
from ..codec import decode_positions, encode_hit_segments, varint_decode
from ..tokenizer import spark_tokens_expr

# bump when the on-disk layout changes; readers refuse older layouts
FORMAT_VERSION = 4  # v4: docs/ carries indexed metadata field columns

# ---------------------------------------------------------------------------
# schemas
# ---------------------------------------------------------------------------

_POSTING_FIELDS = [
    T.StructField("term_hash", T.LongType(), False),
    T.StructField("n", T.LongType(), False),
    T.StructField("cf", T.LongType(), False),
    T.StructField("tf_off", T.IntegerType(), False),
    T.StructField("dl_off", T.IntegerType(), False),
    T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
    T.StructField("block_max_tf", T.ArrayType(T.LongType()), False),
    T.StructField("block_min_dl", T.ArrayType(T.LongType()), False),
    T.StructField("block_gap_off", T.ArrayType(T.IntegerType()), False),
    T.StructField("block_tf_off", T.ArrayType(T.IntegerType()), False),
    T.StructField("block_dl_off", T.ArrayType(T.IntegerType()), False),
    T.StructField("postings", T.BinaryType(), False),
    T.StructField("positions", T.BinaryType(), True),
]

PARTIAL_SCHEMA = T.StructType(
    [T.StructField("grp", T.LongType(), False)] + _POSTING_FIELDS
)

MERGED_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("grp", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
    ]
    + _POSTING_FIELDS
)


# ---------------------------------------------------------------------------
# stage 1: map-side partial runs — (term_hash, grp) per Arrow batch
# ---------------------------------------------------------------------------


def _make_encode_mapside(range_shift: int, with_positions: bool = True):
    def _encode(batches):
        """mapInPandas over corpus partitions carrying (doc_id, dl,
        thash array<long>). Per Arrow batch: flatten, lexsort hits by
        (hash, doc, pos), then encode every (hash, grp) segment in one
        vectorized pass (codec.encode_hit_segments — global varint
        streams + ufunc.reduceat block stats; no per-segment loops over
        numpy calls). Pure int64 — no Python objects, no per-row Python
        (input_hint mandate); no shuffle has happened — this is the
        map-side combine."""

        def _row_batches():
            for pdf in batches:
                lens = pdf["dl"].to_numpy(np.int64)
                total = int(lens.sum())
                if total == 0:
                    continue
                flat = np.concatenate(
                    [np.asarray(h, dtype=np.int64) for h in pdf["thash"]]
                )
                doc_rep = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
                dl_rep = np.repeat(lens, lens)
                starts = np.cumsum(lens) - lens
                pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
                # grp is monotone in doc_id → sorting (hash, doc) sorts grp
                order = np.lexsort((pos, doc_rep, flat))
                rows = encode_hit_segments(
                    flat[order],
                    doc_rep[order] >> range_shift,
                    doc_rep[order],
                    dl_rep[order],
                    pos[order],
                    with_positions,
                )
                if rows:
                    yield pd.DataFrame(rows)

        yield from _row_batches()

    return _encode


# ---------------------------------------------------------------------------
# stage 2: merge partial runs per (term_hash, grp) → sharded final rows
# ---------------------------------------------------------------------------


def _merge_batch(
    pdf: pd.DataFrame, starts: np.ndarray, shard_size: int, n_buckets: int
) -> pd.DataFrame:
    """Merge every (term_hash, grp) group of one batch of whole groups
    (group rows begin at `starts`) in one vectorized pass: decode all run
    blobs at once, order the postings by (group, doc) — the runs of a
    group hold disjoint doc sets, so this is the k-way merge — cut each
    group into ≤ shard_size postings per shard and re-encode every
    (term_hash, grp, shard) segment through codec.encode_hit_segments,
    the stage-1 encoder."""
    n = pdf["n"].to_numpy(np.int64)
    row = np.repeat(np.arange(n.size), n)
    row_start = np.cumsum(n) - n
    # a run blob holds n doc gaps, then n tfs, then n dls
    gap_at = 2 * row_start[row] + np.arange(row.size)
    vals = varint_decode(
        np.frombuffer(b"".join(pdf["postings"]), dtype=np.uint8)
    ).astype(np.int64)
    tf = vals[gap_at + n[row]]
    dl = vals[gap_at + 2 * n[row]]
    # gap cumsum restarting at each run; int64 wraps exactly as the
    # encoder's uint64 gaps do, so negative doc ids round-trip
    csum = np.cumsum(vals[gap_at])
    doc = csum - np.concatenate(([0], csum))[row_start][row]

    is_start = np.zeros(n.size, dtype=np.int64)
    is_start[starts[1:]] = 1
    gid = np.cumsum(is_start)[row]
    order = np.lexsort((doc, gid))
    size = np.bincount(gid)
    rank = np.arange(order.size) - (np.cumsum(size) - size)[gid[order]]
    tf_o = tf[order]
    hit = np.repeat(order, tf_o)  # each output hit's posting, input order

    pos_blob = b"".join(p or b"" for p in pdf["positions"])
    pos_s = None
    if pos_blob:
        flat, pos_start = decode_positions(pos_blob, tf)
        within = np.arange(hit.size) - np.repeat(np.cumsum(tf_o) - tf_o, tf_o)
        pos_s = flat[pos_start[hit] + within]
    rows = encode_hit_segments(
        pdf["term_hash"].to_numpy(np.int64)[row[hit]],
        pdf["grp"].to_numpy(np.int64)[row[hit]],
        doc[hit],
        dl[hit],
        pos_s,
        with_positions=pos_s is not None,
        shard_s=np.repeat(rank // shard_size, tf_o),
    )
    out = pd.DataFrame(rows)
    out["bucket"] = np.mod(out["term_hash"].to_numpy(np.int64), n_buckets)
    return out


def _make_batch_merge(shard_size: int, n_buckets: int):
    """mapInPandas over a bucket-partitioned, (term_hash, grp)-sorted
    stream of partial runs: merge each Arrow batch's whole groups in one
    `_merge_batch` pass (a group split across batches is carried to the
    next one) and emit sharded final rows. Task input is bounded by the
    grp doc-range — no whole-term task ever exists. Output is already
    bucket-aligned, so the writer needs no further shuffle."""

    def _stream(batches):
        for pdf, starts in whole_group_batches(batches, ["term_hash", "grp"]):
            yield _merge_batch(pdf, starts, shard_size, n_buckets)

    return _stream


# ---------------------------------------------------------------------------
# commit/resume plumbing
# ---------------------------------------------------------------------------


def _marker(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, f"_COMMITTED_{stage}.json")


def _committed(out_dir: str, stage: str) -> bool:
    return os.path.exists(_marker(out_dir, stage))


def _commit(out_dir: str, stage: str, info: dict) -> None:
    with open(_marker(out_dir, stage), "w") as f:
        json.dump({"stage": stage, **info}, f)


def _fresh(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)


# ---------------------------------------------------------------------------
# storage indirection — parquet dirs or a Spark catalog (Iceberg-ready)
# ---------------------------------------------------------------------------


class TableIO:
    """Where the index's queryable tables live.

    Parquet mode (default): `<out_dir>/<name>` directories — the native
    layout the serving plane (pyarrow) reads directly.

    Catalog mode (`catalog_table="db.myindex"` or any catalog-qualified
    prefix): every queryable table goes through the DataSource-V2
    `writeTo` API as `<catalog_table>_<name>` — point the prefix at an
    Iceberg catalog (spark.sql.catalog.* configs + iceberg-spark-runtime
    on the classpath) and the index tables get snapshot isolation on
    appends, compaction, and time travel with NO code change here; the
    session catalog (tested) exercises the identical code path. Control
    files (stats.json, collisions.json, stage markers, snapshots.json)
    stay in `out_dir` in both modes; build scratch (partials/) is always
    parquet. The serving plane reads the parquet layout — catalog mode
    targets the Spark query plane."""

    def __init__(self, out_dir: str, catalog_table: str | None = None,
                 provider: str = "parquet"):
        self.out_dir = out_dir
        self.catalog_table = catalog_table
        self.provider = provider

    def table(self, name: str) -> str | None:
        return f"{self.catalog_table}_{name}" if self.catalog_table else None

    def replace(self, df: DataFrame, name: str, partition_by: str | None = None):
        if self.catalog_table:
            w = df.writeTo(self.table(name)).using(self.provider)
            if partition_by:
                w = w.partitionedBy(F.col(partition_by))
            try:
                w.createOrReplace()  # atomic on V2 catalogs (Iceberg RTAS)
            except Exception:
                # V1 session catalog: no REPLACE TABLE AS SELECT — degrade
                # to drop + create (non-atomic, test-path only)
                df.sparkSession.sql(
                    f"DROP TABLE IF EXISTS {self.table(name)}"
                )
                w.create()
            return
        path = os.path.join(self.out_dir, name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)

    def append(self, df: DataFrame, name: str):
        if self.catalog_table:
            try:
                df.writeTo(self.table(name)).append()  # V2 transactional
            except Exception:
                # V1 session catalog tables reject the V2 write path
                df.write.mode("append").saveAsTable(self.table(name))
        else:
            df.write.mode("append").parquet(os.path.join(self.out_dir, name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if self.catalog_table:
            return spark.table(self.table(name))
        return spark.read.parquet(os.path.join(self.out_dir, name))


# ---------------------------------------------------------------------------
# term hashing + collision remapping (the 10^9-vocabulary path)
#
# The index key is a single int64 (xxhash64 of the term) — shuffle rows,
# posting rows, and query lookups all stay one word wide. At web-scale
# vocabularies a 64-bit hash *will* collide eventually (expected number of
# collisions = |V|^2 / 2^65 — about 0.03 at 10^9 terms, ~3 at 10^10), but
# the collision COUNT stays O(1) far past any real vocabulary, so the
# right engineering is not to double every key to 128 bits (2× shuffle
# width on every build, colliding or not — the reference budgets key bits
# the same way, 39 bits for ~5×10^11 docs, src/dcx_cc/index_tool.cc:45-46)
# but to RE-KEY the handful of colliding terms: detection is one tiny
# distributed groupBy, resolution assigns salted hashes driver-side, the
# remap ships as a few CASE arms inside the JVM tokenize expression and as
# collisions.json for query-time parity. `hash_mask` narrows the hash
# space so tests can force collisions without 10^9 terms.
# ---------------------------------------------------------------------------

from ..xxhash import xxhash64 as _xxh64  # Spark-parity, bit-verified


def hash_term_py(term: str, mask: int | None = None) -> int:
    """Driver-side natural term hash == JVM `xxhash64(term)` (pmod-masked
    when a hash_mask is set)."""
    h = _xxh64(term.encode("utf-8"))
    return h % (mask + 1) if mask else h


def _salted_hash_py(term: str, salt: int, mask: int | None) -> int:
    """Deterministic re-key candidate chain for colliding terms. Only ever
    computed driver-side for the O(1) colliding set; the chosen value is
    shipped as a literal (CASE arm / collisions.json), so no JVM parity
    form is needed."""
    h = _xxh64(term.encode("utf-8") + b"\x00" + salt.to_bytes(4, "little"))
    return h % (mask + 1) if mask else h


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def token_hash_sql(
    mask: int | None = None,
    remap: dict[str, int] | None = None,
    col: str = "t",
) -> str:
    """SQL expression hashing one token variable/column `col` → effective
    term hash: the natural xxhash64 (masked if configured) with one CASE
    arm per remapped (colliding) term. Stays in whole-stage codegen — the
    remap is O(1) literal string compares."""
    base = f"pmod(xxhash64({col}), {mask + 1}L)" if mask else f"xxhash64({col})"
    if remap:
        whens = " ".join(
            f"WHEN {col} = {_sql_str(t)} THEN {h}L" for t, h in sorted(remap.items())
        )
        return f"CASE {whens} ELSE {base} END"
    return base


def thash_expr(mask: int | None = None, remap: dict[str, int] | None = None) -> str:
    """`transform(tokens, ...)` form of token_hash_sql for the encode."""
    return f"transform(tokens, t -> {token_hash_sql(mask, remap)})"


def load_remap(index_dir: str) -> dict[str, int]:
    """collisions.json → {term: effective_hash}; empty if collision-free."""
    try:
        with open(os.path.join(index_dir, "collisions.json")) as f:
            return {t: int(h) for t, h in json.load(f).items()}
    except FileNotFoundError:
        return {}


def resolve_collisions(
    vocab: DataFrame,
    mask: int | None,
    fixed_df: DataFrame | None = None,
    prior: dict[str, int] | None = None,
) -> dict[str, int]:
    """Given a vocab DataFrame (term, term_hash with any prior remap
    already applied), detect colliding hash groups and assign fresh
    effective hashes to all but one member of each group. Terms present
    in `fixed_df` (already indexed — their postings live under their
    current hash) are never re-keyed; among free members the
    lexicographically smallest keeps the hash. Uniqueness of the salted
    candidates is verified against the FULL vocab with an isin filter job,
    and fixedness with an isin probe on the colliding terms (never a
    driver-side set of all terms — vocab may be 10^9 rows); the colliding
    set itself is O(1) by the birthday bound, so the collects are tiny."""
    dup = (
        vocab.groupBy("term_hash")
        .count()
        .filter(F.col("count") > 1)
        .select("term_hash")
    )
    groups_rows = vocab.join(F.broadcast(dup), "term_hash").collect()
    if not groups_rows:
        return dict(prior or {})
    fixed_terms: set[str] = set()
    if fixed_df is not None:
        coll_terms = [r["term"] for r in groups_rows]
        fixed_terms = {
            r["term"]
            for r in fixed_df.filter(F.col("term").isin(coll_terms)).collect()
        }
    by_hash: dict[int, list[str]] = {}
    for r in groups_rows:
        by_hash.setdefault(int(r["term_hash"]), []).append(r["term"])
    remap = dict(prior or {})
    need: list[str] = []
    for h in sorted(by_hash):
        terms = sorted(by_hash[h])
        anchored = [t for t in terms if t in fixed_terms]
        if len(anchored) > 1:
            raise RuntimeError(
                f"irreconcilable collision among already-indexed terms {anchored}"
            )
        keep = anchored[0] if anchored else terms[0]
        need.extend(t for t in terms if t != keep)
    salt = {t: 1 for t in need}
    attempts = 0
    while need:
        attempts += 1
        if attempts > 10_000:
            raise RuntimeError(
                f"cannot re-key {len(need)} colliding terms — hash space "
                "too small for the vocabulary (raise hash_mask)"
            )
        cand = {t: _salted_hash_py(t, salt[t], mask) for t in need}
        # reject candidates colliding with vocab (one tiny filter job),
        # with each other, or with hashes already assigned in the remap
        hits = {
            int(r["term_hash"])
            for r in vocab.filter(
                F.col("term_hash").isin(list(cand.values()))
            ).collect()
        }
        taken = set(remap.values())
        seen: set[int] = set()
        retry: list[str] = []
        for t in sorted(need):
            h = cand[t]
            if h in hits or h in taken or h in seen:
                salt[t] += 1
                retry.append(t)
            else:
                remap[t] = h
                seen.add(h)
        need = retry
    return remap


def build_vocab(
    spark: SparkSession,
    toks: DataFrame,
    out_dir: str,
    *,
    hash_mask: int | None = None,
    fixed_df: DataFrame | None = None,
    prior_remap: dict[str, int] | None = None,
    io: TableIO | None = None,
) -> tuple[int, dict[str, int], dict[str, float]]:
    """Distinct (term, term_hash) side table with 64-bit collisions
    re-keyed (see resolve_collisions).

    One write, no read-back: the distinct is materialized ONCE as a
    DISK_ONLY local checkpoint; the collision probe reads those blocks
    (tiny jobs over an already-deduped table), the remap's CASE arms are
    applied on the SAME blocks, and the table is written exactly once with
    effective hashes — where the former flow wrote the natural-hash vocab,
    read it back for the probe, and REWROTE the whole table on collision
    (the re-key path every hash_mask test takes, and two extra scan jobs
    on every build — part of the non-scaling vocab wall Campaign D
    flagged). Returns (n_terms, remap, sub-timings) and persists the
    remap as collisions.json."""
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    io = io or TableIO(out_dir)
    timings: dict[str, float] = {}
    t0 = time.time()
    hash_col = F.expr(token_hash_sql(hash_mask, prior_remap)).alias("term_hash")
    vocab = (
        toks.select(F.explode("tokens").alias("t"))
        .distinct()
        .select(F.col("t").alias("term"), hash_col)
        # `t` must exist under that name for token_hash_sql; re-alias after
        .select("term", "term_hash")
    )
    vocab_ck = vocab.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    timings["distinct"] = time.time() - t0
    t0 = time.time()
    remap = resolve_collisions(vocab_ck, hash_mask, fixed_df, prior_remap)
    timings["probe"] = time.time() - t0
    t0 = time.time()
    out = vocab_ck
    if remap != dict(prior_remap or {}):
        arms = " ".join(
            f"WHEN term = {_sql_str(t)} THEN {h}L" for t, h in sorted(remap.items())
        )
        out = vocab_ck.withColumn(
            "term_hash", F.expr(f"CASE {arms} ELSE term_hash END")
        )
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("n_terms"))
    if not io.catalog_table:
        _fresh(os.path.join(out_dir, "vocab"))
    io.replace(out, "vocab")
    n_terms = int(obs.get["n_terms"])
    timings["write"] = time.time() - t0
    if remap:
        with open(os.path.join(out_dir, "collisions.json"), "w") as f:
            json.dump(remap, f)
    return n_terms, remap, timings


# ---------------------------------------------------------------------------
# the build
# ---------------------------------------------------------------------------


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    range_shift: int = 22,
    shard_size: int = 1 << 18,
    n_partitions: int | None = None,
    resume: bool = False,
    with_positions: bool = True,
    field_cols: list[str] | None = None,
    hash_mask: int | None = None,
    catalog_table: str | None = None,
) -> dict:
    """Build the full index layout under `out_dir`:

        docs/       doc_id, dl [, field_cols...]    (BM25 |d|; extract joins;
                    indexed metadata fields — FEMTO's doc header sections,
                    block_format.txt:1-15 — queryable via search(where=...))
        stats.json  n_docs, avgdl, range_shift, ... (FEMTO header C[] analogue)
        vocab/      term_hash, term                 (for extend/reporting)
        partials/   stage-1 map-side runs           (checkpoint for resume)
        index/      bucket=*/ final posting rows    (FEMTO data blocks)
        termstats/  term_hash, df, cf               (header block_occs analogue)
        manifest/   per-partition lineage metrics   (FEMTO REPORT lines)

    range_shift: log2 of the doc-range group width — the merge-task bound.
    hash_mask: narrows the term-hash space (pmod) — production leaves it
    None (full 64-bit + collision re-keying); tests set a small mask to
    force collisions through the re-key path with a few hundred terms.
    Returns a dict of stage timings/metrics.
    """
    os.makedirs(out_dir, exist_ok=True)
    report: dict = {"stages": {}}
    io = TableIO(out_dir, catalog_table)

    def _stage(name):
        return not (resume and _committed(out_dir, name))

    tokens_expr = spark_tokens_expr(text_col)
    n_part = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Map-side parallelism guard: a small/single-file corpus scans as ONE
    # input split and the tokenize projection evaluates BELOW the first
    # exchange — so the whole tokenize (the build's per-byte cost) ran in
    # a single task. Repartition the RAW rows up to the build parallelism
    # first so tokenize runs above the exchange (guide §2.5/§6); at scale
    # the corpus already has >= n_part splits and this is a no-op. (The
    # later partials repartition guard stays: it covers resumed builds
    # where only that stage runs.)
    if corpus.rdd.getNumPartitions() < n_part:
        corpus = corpus.repartition(n_part)
    toks = corpus.select(
        F.col(id_col).alias("doc_id"), F.expr(tokens_expr).alias("tokens")
    )

    # three stages consume the tokenized corpus (docs, vocab, partials) —
    # persist it once instead of re-scanning + re-tokenizing per stage
    # (MEMORY_AND_DISK: spills rather than recomputes at 100 TB scale)
    tok_stages = [s for s in ("docs", "vocab", "partials") if _stage(s)]
    if len(tok_stages) >= 2:
        from pyspark import StorageLevel

        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)

    # ---- stages: docs + vocab + partials over the shared toks cache ------
    docs_path = os.path.join(out_dir, "docs")
    partials_path = os.path.join(out_dir, "partials")

    def _run_docs() -> float:
        t0 = time.time()
        if not catalog_table:
            _fresh(docs_path)
        if field_cols:
            # indexed metadata fields ride along in the docs table — one
            # extra projection, zero extra shuffles; queries filter on
            # them with a semi-join (FEMTO's header-section analogue)
            fields = corpus.select(
                F.col(id_col).alias("doc_id"), *[F.col(c) for c in field_cols]
            )
            doc_lens = toks.select(
                "doc_id", F.size("tokens").alias("dl")
            ).join(fields, "doc_id")
        else:
            doc_lens = toks.select("doc_id", F.size("tokens").alias("dl"))
        # corpus stats piggyback on the write job via an Observation —
        # the former persist + separate agg action was a whole extra
        # pass (and a cache pin) per build just to learn two numbers
        from pyspark.sql import Observation

        obs = Observation("docs_stats")
        doc_lens = doc_lens.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
        )
        io.replace(doc_lens, "docs")
        stats_row = obs.get
        n_docs = int(stats_row["n_docs"])
        total_tokens = int(stats_row["total_tokens"] or 0)
        stats = {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            # float64 division once, here — every scorer reads this value
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
            "n_buckets": n_buckets,
            "range_shift": range_shift,
            "with_positions": with_positions,
            "field_cols": list(field_cols or []),
            "hash_mask": hash_mask,
            "catalog_table": catalog_table,
            "format_version": FORMAT_VERSION,
        }
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(stats, f)
        dt = time.time() - t0
        _commit(out_dir, "docs", {"secs": dt, **stats})
        return dt

    def _run_vocab() -> tuple[float, dict[str, int]]:
        t0 = time.time()
        n_terms, remap, sub = build_vocab(
            spark, toks, out_dir, hash_mask=hash_mask, io=io
        )
        dt = time.time() - t0
        _commit(out_dir, "vocab", {"secs": dt, "n_terms": n_terms,
                                   "n_rekeyed": len(remap), "sub": sub})
        return dt, remap

    def _run_partials(remap: dict[str, int]) -> float:
        t0 = time.time()
        _fresh(partials_path)
        src = toks.select(
            "doc_id",
            F.size("tokens").alias("dl"),
            F.expr(thash_expr(hash_mask, remap)).alias("thash"),
        )
        if src.rdd.getNumPartitions() < n_part:
            src = src.repartition(n_part)
        partials = src.mapInPandas(
            _make_encode_mapside(range_shift, with_positions), PARTIAL_SCHEMA
        )
        partials.write.mode("overwrite").parquet(partials_path)
        return time.time() - t0

    overlap_env = os.environ.get("FEMTO_BUILD_OVERLAP", "auto")
    if overlap_env == "auto":
        # Adaptive (guide §2.6): the three token-consuming stages overlap
        # when the shared toks cache fits memory — Campaign E measured
        # overlap −23%/−8% at 2M docs (~2 GB input, cache-resident) and
        # sequential +14-17% at 5M (cache spills, scans thrash; Campaign
        # E″) — so gate on input bytes, not on a hard-coded mode. At
        # deployment scale each executor's share is far into the spill
        # regime, so big inputs keep the sequential default; non-file
        # sources (generated test corpora) have unknown size → sequential.
        limit = int(
            os.environ.get("FEMTO_OVERLAP_MAX_INPUT_BYTES", str(3 << 30))
        )
        try:
            files = [
                f[len("file:"):] if f.startswith("file:") else f
                for f in corpus.inputFiles()
            ]
            sz = sum(os.path.getsize(f) for f in files)
        except Exception:
            sz = 0
        overlap = 0 < sz <= limit
    else:
        overlap = overlap_env == "1"
    if len(tok_stages) == 3 and overlap:
        # all three token-consuming stages run → launch them from driver
        # THREADS over the shared persisted toks (Spark runs concurrent
        # jobs; the cache fills once under partition-level locks). Their
        # driver-side shares — job scheduling, parquet listing/commit,
        # the vocab collision probe — overlap instead of summing: this is
        # the fixed serial cost Campaign C's Amdahl fit flagged (~80 s)
        # and Campaign D still showed in the flat ~26 s vocab stage.
        # Partials encodes OPTIMISTICALLY with the natural (pre-rekey)
        # hashes: a 64-bit collision is an O(1)-per-10^9-terms event, so
        # the redo path is ~never taken in production — and IS always
        # taken under a test hash_mask, which keeps it covered.
        # OPT-IN (FEMTO_BUILD_OVERLAP=1): concurrent scans win when the
        # toks cache fits memory (2M docs: -23%/-8% at 2/8 cores) but
        # THRASH when it spills — a same-host A/B at 5M measured
        # sequential 17%/14% faster at 2/8 cores (BASELINE.md Campaign
        # E″). At deployment scale each executor's input share is far
        # into the spill regime (100 TB / 1000 executors = 100 GB each),
        # so sequential is the default; the overlap serves small
        # interactive builds.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_partials = pool.submit(_run_partials, {})
            f_docs = pool.submit(_run_docs)
            f_vocab = pool.submit(_run_vocab)
            report["stages"]["partials"] = f_partials.result()
            report["stages"]["docs"] = f_docs.result()
            report["stages"]["vocab"], remap = f_vocab.result()
        if remap:
            # rare: colliding terms were re-keyed after the optimistic
            # encode — re-encode so postings live under effective hashes
            report["stages"]["partials_redo"] = _run_partials(remap)
        _commit(out_dir, "partials", {"secs": report["stages"]["partials"]})
    else:
        if _stage("docs"):
            report["stages"]["docs"] = _run_docs()
        if _stage("vocab"):
            report["stages"]["vocab"], remap = _run_vocab()
        else:
            remap = load_remap(out_dir)  # resumed: partials need the remap
        if _stage("partials"):
            report["stages"]["partials"] = _run_partials(remap)
            _commit(out_dir, "partials", {"secs": report["stages"]["partials"]})

    if len(tok_stages) >= 2:
        toks.unpersist()

    # ---- stage: final index (merge + shard, bucket-aligned) ---------------
    index_path = os.path.join(out_dir, "index")
    if _stage("index"):
        t0 = time.time()
        if not catalog_table:
            _fresh(index_path)
        try:
            partials = spark.read.parquet(partials_path)
        except Exception:  # empty corpus → schema-less parquet dir
            partials = spark.createDataFrame([], PARTIAL_SCHEMA)
        # merge parallelism scales with the cluster, NOT with n_buckets:
        # each bucket splits into k = ceil(n_part / n_buckets) slices by
        # a hash of the merge-group key (term_hash, grp) — every group
        # stays whole, every task is bucket-pure (so the
        # partitionBy(bucket) write stays one-file-per-task), and the
        # slice count scales with the cluster. Placement uses exact
        # steering values (steering.py) instead of repartitionByRange:
        # the old range exchange ran a SAMPLING JOB that executed the
        # full partials scan (blobs included) just to learn boundaries a
        # pure function of the key already determines — a fixed serial
        # cost at every scale. (Round-1's repartition(n_buckets,
        # "bucket") capped the merge at 16 tasks; round-2's range
        # repartition paid the sampling pass.)
        from .steering import steering_values

        k_slices = max(1, -(-n_part // n_buckets))
        n_merge = n_buckets * k_slices
        magics = steering_values(n_merge)
        pid = (
            F.pmod(F.col("term_hash"), F.lit(n_buckets)).cast("int")
            * k_slices
            + F.pmod(
                F.xxhash64(F.col("term_hash"), F.col("grp")), F.lit(k_slices)
            ).cast("int")
        )
        steer = F.element_at(
            F.array(*[F.lit(int(m)).cast("long") for m in magics]),
            pid + 1,
        )
        merged = (
            partials.withColumn("_steer", steer)
            .repartition(n_merge, "_steer")
            .sortWithinPartitions("term_hash", "grp")
            .drop("_steer")
            .mapInPandas(_make_batch_merge(shard_size, n_buckets), MERGED_SCHEMA)
        )
        # output partitions are bucket-aligned → direct partitioned write,
        # exactly one blob shuffle in the whole build
        io.replace(merged, "index", partition_by="bucket")
        dt = time.time() - t0
        _commit(out_dir, "index", {"secs": dt})
        report["stages"]["index"] = dt

    # ---- stage: termstats + manifest (lineage metrics) --------------------
    if _stage("termstats"):
        t0 = time.time()
        try:
            ix = io.read(spark, "index")
        except Exception:  # empty corpus
            ix = spark.createDataFrame([], MERGED_SCHEMA)
        if not catalog_table:
            _fresh(os.path.join(out_dir, "termstats"))
            _fresh(os.path.join(out_dir, "manifest"))
        # the two header aggregations are independent scans of the (small)
        # committed index — run them as concurrent jobs so their driver
        # shares (planning, parquet listing/commit) overlap (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        def _write_termstats():
            io.replace(
                ix.groupBy("term_hash").agg(
                    F.sum("n").alias("df"),
                    F.sum("cf").alias("cf"),
                    F.count("*").alias("n_shards"),
                ),
                "termstats",
            )

        def _write_manifest():
            # per-partition lineage manifest (FEMTO REPORT analogue)
            io.replace(
                ix.groupBy("bucket")
                .agg(
                    F.count("*").alias("n_rows"),
                    F.countDistinct("term_hash").alias("n_terms"),
                    F.sum("n").alias("n_postings"),
                    F.sum(F.length("postings")).alias("posting_bytes"),
                    F.sum(F.length("positions")).alias("position_bytes"),
                )
                .withColumn("stage", F.lit("index"))
                .withColumn("status", F.lit("committed")),
                "manifest",
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            fs = [pool.submit(_write_termstats), pool.submit(_write_manifest)]
            for f in fs:
                f.result()
        dt = time.time() - t0
        _commit(out_dir, "termstats", {"secs": dt})
        report["stages"]["termstats"] = dt

    report["out_dir"] = out_dir
    report["n_buckets"] = n_buckets
    report["range_shift"] = range_shift
    if report["stages"]:
        commit_snapshot(out_dir, "build", report["stages"])
    return report


def commit_snapshot(out_dir: str, kind: str, detail: dict) -> dict:
    """Append an entry to the index's snapshot log (snapshots.json) — the
    Iceberg-snapshot-shaped lineage chain: each build / incremental append
    records its parent, so the index's history is auditable and a reader
    can pin a version. (With a real Iceberg catalog this becomes the
    table's own snapshot list; the shape is kept identical.)"""
    path = os.path.join(out_dir, "snapshots.json")
    log = []
    if os.path.exists(path):
        with open(path) as f:
            log = json.load(f)
    entry = {
        "snapshot_id": len(log),
        "parent_id": len(log) - 1 if log else None,
        "kind": kind,
        "detail": detail,
    }
    log.append(entry)
    with open(path, "w") as f:
        json.dump(log, f, indent=1)
    return entry
