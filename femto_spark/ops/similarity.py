"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, fully JVM-side via higher-order
functions (zip_with + aggregate) — no Python in the hot path, Catalyst
codegens the dot product. Scale path: LSH bucketing by signed random
hyperplanes (deterministic seed) so candidate generation is a bucket join;
at 1000 executors the brute-force path is a broadcast of the (small) query
set against a partitioned corpus — embarrassingly parallel — while the
LSH path bounds per-query work by bucket size, the IVF-style trade.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_COS = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
    " / (sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v))"
    " * sqrt(aggregate(transform({b}, x -> cast(x as double) * cast(x as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)))"
)


def cosine_expr(a: str, b: str) -> str:
    """JVM-side cosine similarity between two array columns."""
    return _COS.format(a=a, b=b)


def _round_cos(cos: np.ndarray, ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """Round a BLAS cosine matrix (cos[i, j] of rows ma[i], mb[j]) to
    floor(cos·1e6+0.5)/1e6, bit-identical to the SQL form's strict
    left-fold (`_COS`). The GEMM sums in another order, so an entry may
    differ from the fold by the rounding error of its d-term sums: at most
    about 4·d·2^-53 in cosine, i.e. 4.4e-10·d rounding units (one unit =
    1e-6 of cosine). Entries within max(1e-6, d·1e-9) units of a rounding
    boundary are recomputed with the fold (np.cumsum) first — a margin of
    ≥2× over that bound at any dimension d. Non-finite entries (zero-norm
    vectors) pass through."""
    x = cos * 1e6 + 0.5
    with np.errstate(invalid="ignore"):
        near = np.abs(x - np.rint(x)) < max(1e-6, ma.shape[1] * 1e-9)
    for i, j in zip(*np.nonzero(near)):
        dot = float(np.cumsum(ma[i] * mb[j])[-1])
        nna = math.sqrt(float(np.cumsum(ma[i] * ma[i])[-1]))
        nnb = math.sqrt(float(np.cumsum(mb[j] * mb[j])[-1]))
        if nna * nnb != 0.0:
            cos[i, j] = dot / (nna * nnb)
    return np.floor(cos * 1e6 + 0.5) / 1e6


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: the (small, interactive) query set is
    collected driver-side — exactly what the former `broadcast(q)` did
    internally — and each corpus partition scores ALL its vectors against
    all queries with ONE float64 GEMM (mapInPandas), keeping its local
    top-k per query; a window over the (partitions × queries × k)
    candidates yields the global top-k. Replaces the per-pair
    aggregate(zip_with(...)) plan whose interpreted lambda evaluation was
    ~10× the BLAS cost (guide §4.2 — hand whole batches to native code).

    Output is bit-identical to the per-pair SQL fold: near-boundary
    entries are recomputed with the canonical strict left-fold before
    rounding (`_round_cos`, shared with embedding_neardup_pairs).
    Zero-norm vectors score NULL (IEEE NaN), ordered last like the SQL
    plan's NULLs.
    Returns (query_id, vec_id, cos_sim, rank) with deterministic
    tie-break (cos desc, vec_id asc); cos rounded half-up to 6 dp.
    Both id columns must be integral (the GEMM scorer carries ids as
    int64); any other type raises ValueError before a job runs."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import IntegralType

    for df, col in ((vectors, id_col), (queries, qid_col)):
        if not isinstance(df.schema[col].dataType, IntegralType):
            raise ValueError(
                f"brute_force_topk needs an integer id column; {col!r} is "
                f"{df.schema[col].dataType.simpleString()}"
            )
    qrows = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qvec")
    ).collect()
    from .dedup import _spread

    q_t = queries.schema[qid_col].dataType.simpleString()
    v_t = vectors.schema[id_col].dataType.simpleString()
    schema = f"query_id {q_t}, vec_id {v_t}, cos_sim double"
    # _spread: a single-split embeddings file would put the whole GEMM in
    # one task (same input-parallelism guard as the dedup ops; output is
    # partitioning-independent — the global window reduces candidates)
    src = _spread(
        vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    )
    if not qrows:
        cand = src.limit(0).select(
            F.col("vec_id").cast(q_t).alias("query_id"), "vec_id",
            F.lit(None).cast("double").alias("cos_sim"),
        )
    else:
        qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
        qm = np.array([list(r["qvec"]) for r in qrows], dtype=np.float64)
        qn = np.sqrt((qm * qm).sum(axis=1))

        def _score(batches):
            # accumulate per-partition candidates, emit one top-k frame
            ids_parts, cos_parts = [], []
            for pdf in batches:
                if not len(pdf):
                    continue
                ia = pdf["vec_id"].to_numpy(np.int64)
                ma = np.array(list(pdf["v"]), dtype=np.float64)
                na = np.sqrt((ma * ma).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _round_cos((ma @ qm.T) / np.outer(na, qn), ma, qm)
                cos[~np.isfinite(cos)] = np.nan
                if cos.shape[0] > k:
                    # per-batch prune to k per query ((cos desc, id asc);
                    # lexsort sends NaN last, matching SQL NULLS LAST)
                    keep = np.zeros(cos.shape[0], dtype=bool)
                    for j in range(qm.shape[0]):
                        order = np.lexsort((ia, -cos[:, j]))[:k]
                        keep[order] = True
                    ia, cos = ia[keep], cos[keep]
                ids_parts.append(ia)
                cos_parts.append(cos)
            if not ids_parts:
                return
            ia = np.concatenate(ids_parts)
            cos = np.concatenate(cos_parts, axis=0)
            out_q, out_i, out_c = [], [], []
            for j in range(qm.shape[0]):
                order = np.lexsort((ia, -cos[:, j]))[:k]
                out_q.append(np.full(order.size, qids[j], dtype=np.int64))
                out_i.append(ia[order])
                out_c.append(cos[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_i),
                    "cos_sim": np.concatenate(out_c),
                }
            )

        cand = src.mapInPandas(_score, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def lsh_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def lsh_bucket_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: sign-of-hyperplane LSH buckets both sides, exact
    cosine only within the query's bucket. Deterministic hyperplanes.

    Signature computation stays JVM-side: the (tiny) plane matrix is
    inlined as array literals and reduced with aggregate(zip_with(...)).
    Returns (query_id, vec_id, cos_sim, rank) — rank-safe only within the
    bucket (the documented ANN trade; brute_force_topk is the oracle).
    """
    planes = lsh_hyperplanes(dim, n_planes)

    def sig_expr(col: str) -> str:
        bits = []
        for p in range(n_planes):
            arr = "array(" + ",".join(f"{v!r}D" for v in planes[p]) + ")"
            dot = (
                f"aggregate(zip_with({col}, {arr}, (x, y) -> cast(x as double) * y),"
                " cast(0.0 as double), (acc, v) -> acc + v)"
            )
            bits.append(f"(case when {dot} >= 0 then {1 << p} else 0 end)")
        return " + ".join(bits)

    from pyspark.sql import Window

    vv = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        F.expr(sig_expr(vec_col)).alias("bucket"),
    )
    qq = queries.select(
        F.col(qid_col).alias("query_id"),
        F.col(qvec_col).alias("qvec"),
        F.expr(sig_expr(qvec_col)).alias("bucket"),
    )
    scored = vv.join(F.broadcast(qq), "bucket").select(
        "query_id",
        "vec_id",
        F.expr(
            f"floor(({cosine_expr('vec', 'qvec')}) * 1e6 + 0.5) / 1e6"
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def train_ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    sample: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> np.ndarray:
    """Deterministic k-means coarse quantizer trained on a driver-side
    sample (ORDER BY id LIMIT — reproducible, unlike RDD sampling). At
    100 TB the sample is still a LIMIT over a sorted scan; the train step
    is O(sample × C × iters) on the driver — the standard IVF trade."""
    rows = (
        vectors.orderBy(id_col).limit(sample).select(vec_col).collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def _assign_expr(col: str, cent: np.ndarray) -> str:
    """JVM argmax-dot centroid assignment (array_min over (-dot, id))."""
    entries = []
    for ci, c in enumerate(cent):
        arr = "array(" + ",".join(f"{v!r}D" for v in c) + ")"
        dot = (
            f"aggregate(zip_with({col}, {arr}, (x, y) -> cast(x as double) * y),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        )
        entries.append(f"struct(-({dot}) as nd, {ci} as cid)")
    return f"array_min(array({','.join(entries)})).cid"


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into centroid
    cells (JVM assignment — codegen'd dot products), probe each query's
    `nprobe` nearest cells, exact cosine inside. The scale path: cell
    assignment partitions the corpus, so a query touches ~nprobe/C of the
    data. Recall is tunable via nprobe (== C ⇒ exact; brute_force_topk is
    the oracle)."""
    from pyspark.sql import Window

    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_centroids, vec_col=vec_col, id_col=id_col
        )
    vv = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        F.expr(_assign_expr(vec_col, centroids)).alias("cell"),
    )
    # nprobe nearest cells per query, computed driver-side (tiny)
    qrows = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qvec")
    ).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["qvec"], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        order = np.argsort(-(centroids @ qv))[:nprobe]
        for c in order:
            probe_rows.append((r["query_id"], list(map(float, r["qvec"])), int(c)))
    spark = vectors.sparkSession
    qq = spark.createDataFrame(
        probe_rows, "query_id long, qvec array<float>, cell int"
    )
    scored = vv.join(F.broadcast(qq), "cell").select(
        "query_id",
        "vec_id",
        F.expr(
            f"floor(({cosine_expr('vec', 'qvec')}) * 1e6 + 0.5) / 1e6"
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ τ) — EXACT,
    via blocked matrix products instead of a cartesian self-join.

    Plan: ids hash into `n_blocks` blocks; the B(B+1)/2 block pairs fan
    out as one small broadcast table; each (block_a, block_b) task runs a
    single float64 GEMM over its two sub-matrices and emits only the
    surviving pairs. Same output as the nested-loop join, but: no
    CartesianProduct node, each task is a dense BLAS call (~100× a
    per-row codegen dot), shuffle volume is n·(B+1)/2 vectors, and B is
    the memory/parallelism dial (tasks hold 2·(n/B) vectors).

    Exact all-pairs is inherently O(n²) dot products — at true 100 TB
    scale use embedding_neardup_lsh (banded candidates + exact verify,
    recall < 1 documented there); this function is the exact path and the
    verification oracle.

    Determinism: fixed block assignment (xxhash64), float64 GEMM, same
    floor(·×1e6+0.5) rounding as the SQL forms. BLAS reduction order
    differs from the engine's canonical strict left-fold by a few ulps;
    any entry whose unrounded value lands near a floor boundary is
    recomputed with an exact sequential fold (`_round_cos` states the
    bound and margin) before rounding — the rounded output is therefore
    bit-identical to the sequential-fold SQL form at ANY scale and
    dimension, not just where rounding happens to absorb the drift.
    """
    import pandas as pd

    from ..arrowutil import stream_groups

    spark = vectors.sparkSession
    pair_rows = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    pairs = spark.createDataFrame(pair_rows, "ba int, bb int")
    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks))
        .cast("int")
        .alias("blk"),
    )
    a = v.join(F.broadcast(pairs), F.col("blk") == F.col("ba")).select(
        "ba", "bb", F.lit(0).alias("side"), "id", "v"
    )
    b = v.join(F.broadcast(pairs), F.col("blk") == F.col("bb")).select(
        "ba", "bb", F.lit(1).alias("side"), "id", "v"
    )
    both = a.union(b)
    tau = float(threshold)

    def _gemm(g: pd.DataFrame):
        same = int(g["ba"].iloc[0]) == int(g["bb"].iloc[0])
        ga = g[g["side"] == 0]
        gb = ga if same else g[g["side"] == 1]
        if ga.empty or gb.empty:
            return None
        ia = ga["id"].to_numpy(np.int64)
        ib = gb["id"].to_numpy(np.int64)
        ma = np.array(list(ga["v"]), dtype=np.float64)
        mb = ma if same else np.array(list(gb["v"]), dtype=np.float64)
        na = np.sqrt((ma * ma).sum(axis=1))
        nb = na if same else np.sqrt((mb * mb).sum(axis=1))
        cos = _round_cos((ma @ mb.T) / np.outer(na, nb), ma, mb)
        if same:
            # strict upper triangle by id (ids within a block are unique)
            keep = (ia[:, None] < ib[None, :]) & (cos >= tau)
        else:
            keep = cos >= tau
        r, c = np.nonzero(keep)
        if r.size == 0:
            return None
        id_a = np.minimum(ia[r], ib[c])
        id_b = np.maximum(ia[r], ib[c])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_sim": cos[r, c]})

    def _stream(batches):
        yield from stream_groups(batches, ["ba", "bb"], _gemm)

    return (
        both.repartition("ba", "bb")
        .sortWithinPartitions("ba", "bb", "side")
        .mapInPandas(_stream, "id_a long, id_b long, cos_sim double")
    )


def banded_embedding_signs(
    vectors: DataFrame,
    n_bands: int,
    rows_per_band: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(doc_id, band, band_val) — the hyperplane-sign band explode.

    The projection carries ONLY the id + band values: the vector column is
    dropped before the n_bands-fold posexplode, so neither the fan-out nor
    the downstream bucket join ever ships embeddings (the plan property
    test_embedding_neardup_lsh_hot_bucket_capped asserts on this stage —
    the final pair plan hides it behind the candidate barrier)."""
    planes = lsh_hyperplanes(dim, n_bands * rows_per_band, seed)
    exprs = []
    for bnd in range(n_bands):
        bits = []
        for rr in range(rows_per_band):
            p = bnd * rows_per_band + rr
            arr = "array(" + ",".join(f"{v!r}D" for v in planes[p]) + ")"
            dot = (
                f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> cast(x as double) * y),"
                " cast(0.0 as double), (acc, v) -> acc + v)"
            )
            bits.append(f"(case when {dot} >= 0 then {1 << rr} else 0 end)")
        exprs.append(" + ".join(bits))
    return vectors.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.array(*[F.expr(e) for e in exprs])).alias(
            "band", "band_val"
        ),
    )


def embedding_neardup_lsh(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH near-dup pairs: hyperplane sign bits grouped into bands
    generate candidates from equality-bucket joins; exact cosine verifies
    each candidate, so PRECISION is 1 and only recall is probabilistic
    (a cos=τ pair agrees on a bit w.p. 1−θ/π; miss prob =
    (1−p^r)^bands — at τ=0.9, r=4, 16 bands ≈ 2e-7). This is the 100 TB
    path; embedding_neardup_pairs is the exact oracle.

    Shape: the band explode and self-join carry ONLY (id, band, band_val)
    — vectors do not ride through the n_bands-fold explode; they join
    back onto the surviving candidate pairs for the exact verify.

    `max_bucket` (opt-in, default None = exact contract): a degenerate
    band bucket (near-zero or boilerplate embeddings) is star-linked to
    its min id instead of all-pairs-joined (dedup._capped_bucket_pairs),
    bounding a hot bucket at O(bucket) pairs. With a cap, intra-bucket
    pairs beyond the hub are NOT verified — duplicate-group connectivity
    is preserved, pairwise completeness is not; leave None unless a
    bucket can plausibly exceed memory."""
    from .dedup import _capped_bucket_pairs

    banded = banded_embedding_signs(
        vectors, n_bands, rows_per_band, dim, id_col, vec_col, seed
    )
    pairs = _capped_bucket_pairs(banded, ["band", "band_val"], max_bucket)
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cand = (
        pairs.join(
            v.select(F.col("id").alias("id_a"), F.col("v").alias("va")),
            F.col("doc_a") == F.col("id_a"),
        )
        .join(
            v.select(F.col("id").alias("id_b"), F.col("v").alias("vb")),
            F.col("doc_b") == F.col("id_b"),
        )
        .select("id_a", "id_b", "va", "vb")
    )
    return cand.select(
        "id_a",
        "id_b",
        F.expr(f"floor(({cosine_expr('va', 'vb')}) * 1e6 + 0.5) / 1e6").alias(
            "cos_sim"
        ),
    ).filter(F.col("cos_sim") >= threshold)
