"""Query engine — the Spark restatement of FEMTO's query plane.

FEMTO executes each query as an async DAG of leaf block-requests sorted by
storage key so one block decompression serves many queries
(`/root/reference/src/main/server.c:3093-3351`, SURVEY.md §4.2). Spark
gives us the same effect declaratively: a query (or a whole batch of
queries — `search_many`) becomes one DataFrame plan; partition pruning
reads only the buckets the query terms hash into, and executors decode
each posting row once per job.

Operator parity map (reference → here):
  STRING count            (`server.c:713`)  → count() / term stats lookup
  LOCATE / STRING_RESULTS (`server.c:4373`) → locate() (doc_id + positions)
  BOOLEAN AND/OR/NOT      (`server.c:5446-5761`, results.c:435/497/669)
                                            → boolean_docs()
  THEN d / WITHIN d       (`results.c:732-950`) → proximity()
  EXTRACT_DOCUMENT        (`server.c:6364`) → extract()
  GET_URL / doc info      (`server.c:1246`) → doc_info()
  string_rows / femto_common BFS            → extend()
  femto_scan (unindexed RE2 scan)           → scan_count() [oracle path]
  PARALLEL_QUERY / femto_multiquery         → search_many(), *_wand()
  (no FEMTO analogue — north-rule addition) → search(): BM25 top-k

Driver-side term resolution: query terms are hashed with the Spark-parity
XXH64 (femto_spark.xxhash), buckets computed locally (zero probe jobs),
and per-term document frequencies fetched once from the term-stats table
(a tiny bucket-pruned read, memoized per engine) — the analogue of
FEMTO's header C[]-array lookup before touching data blocks.

Scoring determinism: per-term scores are computed in numpy float64 inside
the decode UDF (same libm as the oracle); per-document summation happens
JVM-side as a fold over the term-string-sorted array — fixed order,
bit-equal to the oracle's ascending-term Python sum. Rounding =
floor(s*1e6+0.5)/1e6, IEEE-exact identical everywhere.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec import (
    decode_positions,
    decode_positions_select,
    decode_postings,
    decode_postings_blocks,
)
from ..scoring import B, K1
from ..tokenizer import spark_tokens_expr, tokenize
from ..xxhash import xxhash64

_DECODED_SCHEMA = "term string, doc_id long, tf long, dl long, score double"
_POS_SCHEMA = "term string, doc_id long, tf long, positions array<long>"

# proximity hot-term prune triggers: big side at least this df, at least
# this df asymmetry, small side under this cap (bounds the broadcast of
# matched per-shard-row doc arrays inside postings_with_positions)
_PROX_PRUNE_HI = 20_000
_PROX_PRUNE_ASYM = 4
_PROX_PRUNE_CAP = 1_000_000


def _bm25_arrays(tf, dl, df, n_docs, avgdl):
    """Vectorized BM25, op-order identical to scoring.bm25_term: A*(B/C)."""
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    num = tf * (K1 + 1.0)
    den = tf + K1 * (1.0 - B + B * dl / avgdl)
    return idf * (num / den)


def _thash(term: str) -> int:
    return xxhash64(term.encode("utf-8"))


def _one_term(s: str, what: str) -> str:
    """Tokenizer-normalize an operand that must be exactly one term."""
    toks = tokenize(s)
    if len(toks) != 1:
        raise ValueError(
            f"{what} operand must normalize to exactly one term, got "
            f"{toks!r} from {s!r}"
        )
    return toks[0]


class SearchEngine:
    """Reader over an index directory produced by femto_spark.index.build."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        corpus: DataFrame | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.corpus = corpus
        self.id_col = id_col
        self.text_col = text_col
        with open(os.path.join(index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        self.n_buckets = int(self.stats["n_buckets"])
        # catalog mode (stats.json records the build's catalog_table):
        # queryable tables read via spark.table — an Iceberg catalog
        # gives snapshot-pinned reads; parquet paths otherwise
        from ..index.build import TableIO

        self._io = TableIO(index_dir, self.stats.get("catalog_table"))
        self._index = self._read_or_empty(
            "index",
            "bucket int, grp long, shard int, term_hash long, n long, cf long,"
            " tf_off int, dl_off int, block_last_doc array<long>,"
            " block_max_tf array<long>, block_min_dl array<long>,"
            " block_gap_off array<int>, block_tf_off array<int>,"
            " block_dl_off array<int>, postings binary, positions binary",
        )
        self._termstats = self._read_or_empty(
            "termstats",
            "term_hash long, df long, cf long, n_shards long",
        )
        self._docs = self._read_or_empty("docs", "doc_id long, dl int")
        self._stats_cache: dict[int, tuple[int, int]] = {}  # hash → (df, cf)
        # 64-bit collision remap + optional masked hash space (build.py
        # token_hash_sql): effective query-term hashes must match the
        # build's re-keyed vocabulary bit-for-bit
        from ..index.build import load_remap

        self._remap = load_remap(index_dir)
        self._hash_mask = self.stats.get("hash_mask")

    def _hash(self, term: str) -> int:
        """Effective term hash — the build's re-keyed value for colliding
        terms, else the natural (masked) xxhash64."""
        h = self._remap.get(term)
        if h is not None:
            return h
        h = _thash(term)
        return h % (self._hash_mask + 1) if self._hash_mask else h

    def _read_or_empty(self, name: str, schema: str) -> DataFrame:
        """Read an index table (parquet dir or catalog table); an empty
        build writes no schema-bearing files, so fall back to an empty
        DataFrame of the known schema."""
        try:
            return self._io.read(self.spark, name)
        except Exception:
            return self.spark.createDataFrame([], schema)

    def _vocab(self) -> DataFrame:
        return self._io.read(self.spark, "vocab")

    # ------------------------------------------------------------------ #
    # driver-side term resolution (FEMTO header-lookup analogue)          #
    # ------------------------------------------------------------------ #

    def _term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term → (df, cf); absent terms → (0, 0). One tiny bucket-pruned
        job for uncached hashes, memoized per engine."""
        hashes = {t: self._hash(t) for t in terms}
        missing = [h for h in hashes.values() if h not in self._stats_cache]
        if missing:
            rows = (
                self._termstats.filter(F.col("term_hash").isin(missing))
                .select("term_hash", "df", "cf")
                .collect()
            )
            got = {r["term_hash"]: (int(r["df"]), int(r["cf"])) for r in rows}
            for h in missing:
                self._stats_cache[h] = got.get(h, (0, 0))
        return {t: self._stats_cache[h] for t, h in hashes.items()}

    def _term_rows(self, terms: list[str]) -> DataFrame:
        """Posting rows for `terms`, bucket-pruned driver-side."""
        if not terms:
            return self._index.limit(0)
        hashes = [self._hash(t) for t in terms]
        buckets = sorted({h % self.n_buckets for h in hashes})
        return self._index.filter(
            F.col("bucket").isin(buckets) & F.col("term_hash").isin(hashes)
        )

    # ------------------------------------------------------------------ #
    # decode planes                                                        #
    # ------------------------------------------------------------------ #

    def postings(
        self, terms: list[str], scored: bool = True, doc_hi: int | None = None
    ) -> DataFrame:
        """Decoded postings DataFrame (term, doc_id, tf, dl, score).

        `doc_hi` caps the decode at doc_id ≤ doc_hi: doc-range groups past
        the cap are pruned at the parquet scan (grp predicate) and within
        a row only the block prefix up to the cap is varint-decoded
        (block_last_doc is sorted — the same skip-read primitive as WAND).
        phrase_limit uses this so a "first k" ask never decodes or
        shuffles the posting tail."""
        n_docs, avgdl = self.n_docs, self.avgdl
        stats = self._term_stats(terms)
        # keyed by hash: under a masked hash space (hash_mask test indexes)
        # an out-of-vocab query term can share an effective hash with an
        # indexed term — prefer the term with df>0 so a phantom (df=0)
        # term cannot shadow the indexed one and corrupt its BM25 idf
        names: dict[int, str] = {}
        dfs: dict[int, int] = {}
        for t in terms:
            h = self._hash(t)
            if h not in names or (dfs[h] == 0 and stats[t][0] > 0):
                names[h], dfs[h] = t, stats[t][0]

        def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for r in pdf.itertuples(index=False):
                    if doc_hi is not None:
                        bld = np.asarray(r.block_last_doc, dtype=np.int64)
                        # blocks after the first whose last doc reaches the
                        # cap cannot contribute; decode only the prefix
                        j = int(np.searchsorted(bld, doc_hi)) + 1
                        d, t, l = decode_postings_blocks(
                            bytes(r.postings),
                            r.n,
                            r.tf_off,
                            r.dl_off,
                            bld,
                            np.asarray(r.block_gap_off, dtype=np.int64),
                            np.asarray(r.block_tf_off, dtype=np.int64),
                            np.asarray(r.block_dl_off, dtype=np.int64),
                            np.arange(min(j, bld.size)),
                        )
                        keep = d <= doc_hi
                        d, t, l = d[keep], t[keep], l[keep]
                        if d.size == 0:
                            continue
                    else:
                        d, t, l = decode_postings(
                            bytes(r.postings), r.n, r.tf_off, r.dl_off
                        )
                    s = (
                        _bm25_arrays(
                            t.astype(np.float64),
                            l.astype(np.float64),
                            dfs[r.term_hash],
                            n_docs,
                            avgdl,
                        )
                        if scored
                        else np.zeros(d.size)
                    )
                    outs.append(
                        pd.DataFrame(
                            {
                                "term": names[r.term_hash],
                                "doc_id": d,
                                "tf": t,
                                "dl": l,
                                "score": s,
                            }
                        )
                    )
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        cols = ["term_hash", "n", "tf_off", "dl_off", "postings"]
        rows = self._term_rows(terms)
        if doc_hi is not None:
            rows = rows.filter(
                F.col("grp") <= (doc_hi >> int(self.stats["range_shift"]))
            )
            cols += [
                "block_last_doc", "block_gap_off", "block_tf_off",
                "block_dl_off",
            ]
        return rows.select(*cols).mapInPandas(_decode, _DECODED_SCHEMA)

    def postings_with_positions(
        self,
        terms: list[str],
        doc_filter: DataFrame | None = None,
        doc_hi: int | None = None,
    ) -> DataFrame:
        """(term, doc_id, tf, positions) — reads the positions column only
        here, so plain queries never touch it (column pruning).

        `doc_filter` (a DataFrame of doc_id) restricts the expensive part
        — building and shipping per-doc position lists — to a known doc
        set (proximity passes the boolean intersection). Fully
        distributed: a cheap postings-only decode maps each shard row
        (term_hash, grp, shard) to its doc ids, a semi-join against the
        filter keeps the matching ones, and the per-row matched arrays
        broadcast-join back onto the shard rows — a row none of whose
        docs qualify drops before its positions blob is ever read, and
        no doc set ever visits the driver (the former plan collect()ed
        up to 10^6 ids into a frozenset shipped inside every task
        closure)."""
        names = {self._hash(t): t for t in terms}
        base_rows = self._term_rows(terms)
        if doc_hi is not None:
            # doc-range cap (phrase_limit): groups past the cap never scan,
            # and the _ids pre-decode below reads only the block prefix —
            # a hot term's posting tail costs nothing on the "first k" path
            base_rows = base_rows.filter(
                F.col("grp") <= (doc_hi >> int(self.stats["range_shift"]))
            )
        rows = base_rows.select(
            "term_hash", "grp", "shard",
            "n", "tf_off", "dl_off", "postings", "positions",
        )
        if doc_filter is not None:
            def _ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    outs = []
                    for r in pdf.itertuples(index=False):
                        if doc_hi is not None:
                            bld = np.asarray(r.block_last_doc, dtype=np.int64)
                            j = int(np.searchsorted(bld, doc_hi)) + 1
                            d, _, _ = decode_postings_blocks(
                                bytes(r.postings), r.n, r.tf_off, r.dl_off,
                                bld,
                                np.asarray(r.block_gap_off, dtype=np.int64),
                                np.asarray(r.block_tf_off, dtype=np.int64),
                                np.asarray(r.block_dl_off, dtype=np.int64),
                                np.arange(min(j, bld.size)),
                            )
                            d = d[d <= doc_hi]
                            if d.size == 0:
                                continue
                        else:
                            d, _, _ = decode_postings(
                                bytes(r.postings), r.n, r.tf_off, r.dl_off
                            )
                        outs.append(
                            pd.DataFrame(
                                {
                                    "term_hash": r.term_hash,
                                    "grp": r.grp,
                                    "shard": r.shard,
                                    "doc_id": d,
                                }
                            )
                        )
                    if outs:
                        yield pd.concat(outs, ignore_index=True)

            id_cols = [
                "term_hash", "grp", "shard", "n", "tf_off", "dl_off",
                "postings",
            ]
            if doc_hi is not None:
                id_cols += [
                    "block_last_doc", "block_gap_off", "block_tf_off",
                    "block_dl_off",
                ]
            matched = (
                base_rows.select(*id_cols)
                .mapInPandas(
                    _ids, "term_hash long, grp long, shard int, doc_id long"
                )
                .join(doc_filter.select("doc_id"), "doc_id", "semi")
                .groupBy("term_hash", "grp", "shard")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("fdocs"))
            )
            rows = rows.join(
                F.broadcast(matched), ["term_hash", "grp", "shard"], "inner"
            )

        filtered = doc_filter is not None

        def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for r in pdf.itertuples(index=False):
                    d, t, _ = decode_postings(
                        bytes(r.postings), r.n, r.tf_off, r.dl_off
                    )
                    if filtered:
                        filt = np.asarray(r.fdocs, dtype=np.int64)
                        mask = np.isin(d, filt)
                        if not mask.any():
                            continue
                        # decode ONLY the kept postings' position segments
                        # (select-decode: a hot shard row's position tail
                        # is never varint-expanded for a small filter)
                        keep = np.flatnonzero(mask)
                        flat, starts = decode_positions_select(
                            bytes(r.positions), t, keep
                        )
                        k_lens = t[keep]
                        bounds = np.concatenate(([0], np.cumsum(k_lens)))
                        plists = [
                            flat[bounds[i] : bounds[i + 1]].tolist()
                            for i in range(keep.size)
                        ]
                        d, t = d[mask], t[mask]
                    else:
                        flat, _ = decode_positions(bytes(r.positions), t)
                        plists = [
                            p.tolist() for p in np.split(flat, np.cumsum(t)[:-1])
                        ]
                    outs.append(
                        pd.DataFrame(
                            {
                                "term": names[r.term_hash],
                                "doc_id": d,
                                "tf": t,
                                "positions": plists,
                            }
                        )
                    )
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return rows.mapInPandas(_decode, _POS_SCHEMA)

    # -- hash-set planes: term sets stay DISTRIBUTED (no driver collect) --

    def _rows_for_hashes(self, cand: DataFrame) -> DataFrame:
        """Index rows whose term_hash appears in `cand` — a semi-join, the
        distributed replacement for collect()+isin() (a broad pattern at a
        10^9-term vocabulary would otherwise ship millions of terms to the
        driver; FEMTO's REGEXP is likewise index-side, server.c:1656).
        The candidate side carries its derived `bucket` (= pmod(term_hash,
        n_buckets), the write-side partition key) so dynamic partition
        pruning skips every non-candidate bucket at the scan — a narrow
        gram-pruned pattern reads a handful of partitions instead of the
        whole index."""
        keys = (
            cand.select("term_hash")
            .distinct()
            .withColumn(
                "bucket",
                F.pmod(F.col("term_hash"), F.lit(self.n_buckets)).cast(
                    "int"
                ),
            )
        )
        return self._index.join(keys, ["bucket", "term_hash"], "semi")

    def _capped_rows(self, cand: DataFrame, doc_hi: int | None) -> DataFrame:
        """_rows_for_hashes plus the doc-range cap: grp partitions past
        doc_hi never scan (rows are per-grp, so a kept row's docs are
        already range-bounded up to the boundary grp)."""
        rows = self._rows_for_hashes(cand)
        if doc_hi is not None:
            rows = rows.filter(
                F.col("grp") <= (doc_hi >> int(self.stats["range_shift"]))
            )
        return rows

    def _docs_for_hashes(
        self, cand: DataFrame, doc_hi: int | None = None
    ) -> DataFrame:
        """Distinct doc_ids of every posting row matching `cand` hashes
        (doc_hi: see _capped_rows — infix_limit's range-capped rounds)."""

        def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for r in pdf.itertuples(index=False):
                    d, _, _ = decode_postings(
                        bytes(r.postings), r.n, r.tf_off, r.dl_off
                    )
                    if doc_hi is not None:
                        d = d[d <= doc_hi]
                    if d.size:
                        outs.append(d)
                if outs:
                    yield pd.DataFrame({"doc_id": np.concatenate(outs)})

        cols = ["n", "tf_off", "dl_off", "postings"]
        return (
            self._capped_rows(cand, doc_hi)
            .select(*cols)
            .mapInPandas(_decode, "doc_id long")
            .distinct()
        )

    def _positions_for_hashes(
        self, cand: DataFrame, doc_hi: int | None = None
    ) -> DataFrame:
        """Flat (doc_id, pos) occurrences of every term in `cand`
        (doc_hi: grp-pruned rows + select-decode of only the kept
        postings' position segments — infix_limit's capped rounds)."""

        def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                docs, poss = [], []
                for r in pdf.itertuples(index=False):
                    d, t, _ = decode_postings(
                        bytes(r.postings), r.n, r.tf_off, r.dl_off
                    )
                    if doc_hi is not None:
                        keep = np.flatnonzero(d <= doc_hi)
                        if keep.size == 0:
                            continue
                        flat, _ = decode_positions_select(
                            bytes(r.positions), t, keep
                        )
                        d, t = d[keep], t[keep]
                    else:
                        flat, _ = decode_positions(bytes(r.positions), t)
                    docs.append(np.repeat(d, t))
                    poss.append(flat)
                if docs:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(docs),
                            "pos": np.concatenate(poss),
                        }
                    )

        cols = ["n", "tf_off", "dl_off", "postings", "positions"]
        return (
            self._capped_rows(cand, doc_hi)
            .select(*cols)
            .mapInPandas(_decode, "doc_id long, pos long")
        )

    # ------------------------------------------------------------------ #
    # counts (FEMTO STRING query)                                         #
    # ------------------------------------------------------------------ #

    def count(self, term: str) -> DataFrame:
        """(term, n_docs, n_occurrences) — answered from the term-stats
        table alone (header-block lookup, no postings touched)."""
        terms = sorted(set(tokenize(term)))
        stats = self._term_stats(terms)
        rows = [
            (t, stats[t][0], stats[t][1]) for t in terms if stats[t][0] > 0
        ]
        return self.spark.createDataFrame(
            rows, "term string, n_docs long, n_occurrences long"
        )

    def termstats_df(self) -> DataFrame:
        """(term, df, cf) — the whole-index stats view (vocab join)."""
        vocab = self._vocab()
        return self._termstats.join(vocab, "term_hash").select("term", "df", "cf")

    # ------------------------------------------------------------------ #
    # BM25 top-k search (north-rule core)                                 #
    # ------------------------------------------------------------------ #

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        where: dict | None = None,
    ) -> DataFrame:
        """Top-k (doc_id, score), deterministic: score computed per term in
        numpy, summed JVM-side in ascending-term order, rounded half-up to
        6 decimals, tie-broken by doc_id asc.

        `where` filters on the index's metadata field columns (docs/ —
        FEMTO's indexed header sections, block_format.txt:1-15; the index
        must have been built with field_cols): {"lang": "en"} or
        {"lang": ["en", "de"]}. The filter restricts the RESULT set
        (semi-join before top-k); BM25 stats stay corpus-global, like the
        reference's."""
        terms = sorted(set(tokenize(query)))
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        scored = self.postings(terms)
        agg = scored.groupBy("doc_id").agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(term, score))),"
                " cast(0.0 as double), (acc, x) -> acc + x.score)"
            ).alias("raw_score"),
            F.countDistinct("term").alias("n_terms"),
        )
        if mode == "and":
            agg = agg.filter(F.col("n_terms") == len(terms))
        if where:
            keep = self._docs
            for c, v in where.items():
                keep = keep.filter(
                    F.col(c).isin(list(v))
                    if isinstance(v, (list, tuple, set))
                    else F.col(c) == v
                )
            agg = agg.join(keep.select("doc_id"), "doc_id", "semi")
        out = agg.select(
            "doc_id",
            F.expr("floor(raw_score * 1e6 + 0.5) / 1e6").alias("score"),
        ).orderBy(F.desc("score"), F.asc("doc_id"))
        # guard: TakeOrderedAndProject allocates a k-sized heap PER TASK —
        # k=10^9 (a "give me everything" caller) would OOM the executor;
        # past n_docs a plain global sort returns the same rows
        return out.limit(k) if k < self.n_docs else out

    # -- block-max WAND path (skip-decode; rank-identical to search()) ----

    _WAND_COLS = [
        "term_hash", "n", "tf_off", "dl_off", "block_last_doc",
        "block_max_tf", "block_min_dl", "block_gap_off", "block_tf_off",
        "block_dl_off", "postings",
    ]

    def search_wand(self, query: str, k: int = 10) -> DataFrame:
        """BM25 top-k via block-max WAND (OR mode): per-block upper bounds
        skip decoding blocks that cannot reach the k-th score; exact
        verification keeps results identical to search(). One compact task
        per query — the latency path; FEMTO analogue: chunk-doc-map
        skipping (server.c:4549, paper §3.3)."""
        return self.search_many_wand({"q": query}, k).select("doc_id", "score")

    def search_many_wand(
        self, queries: dict[str, str], k: int = 10, exact: bool = False
    ) -> DataFrame:
        """Batched WAND: each query's term rows are co-grouped into one
        task (applyInPandas over query_id), so a 100k-query batch spreads
        across all executors — the request-sorting analogue — while each
        task does block-skipping locally. Memory per task is bounded by
        the query's terms' blob bytes (shard rows cap each blob).
        exact=True disables block pruning (θ = −inf): the same harness
        becomes the exhaustive exact scorer (see wand.wand_topk)."""
        pairs = []
        all_terms: set[str] = set()
        for qid, q in queries.items():
            for t in sorted(set(tokenize(q))):
                pairs.append((qid, t))
                all_terms.add(t)
        if not pairs:
            return self.spark.createDataFrame(
                [], "query_id string, doc_id long, score double, rank int"
            )
        stats = self._term_stats(sorted(all_terms))
        qrows = [
            (qid, t, self._hash(t), stats[t][0]) for qid, t in pairs
        ]
        qdf = self.spark.createDataFrame(
            qrows, "query_id string, term string, term_hash long, df long"
        )
        rows = self._term_rows(sorted(all_terms)).select(*self._WAND_COLS)
        joined = rows.join(F.broadcast(qdf), "term_hash")
        n_docs, avgdl, kk, ex = self.n_docs, self.avgdl, k, exact

        def _wand(keys, pdf: pd.DataFrame) -> pd.DataFrame:
            from .wand import wand_topk

            trs = pdf.to_dict("records")
            d, s = wand_topk(trs, kk, n_docs, avgdl, exact=ex)
            return pd.DataFrame(
                {
                    "query_id": keys[0],
                    "doc_id": d,
                    "score": s,
                    "rank": np.arange(1, d.size + 1, dtype=np.int32),
                }
            )

        return joined.groupBy("query_id").applyInPandas(
            _wand, "query_id string, doc_id long, score double, rank int"
        )

    def search_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Whole-batch exact execution of many queries in ONE Spark job —
        the analogue of FEMTO's request sorting (§4.2: batching 100k
        counts gave ~5000× I/O reduction). Returns
        (query_id, doc_id, score, rank).

        Runs the WAND co-grouped harness with θ = −inf (every block
        decoded, exhaustive exact verify — bit-identical arithmetic to
        the DataFrame plan it replaced: same float64 idf·(num/den), same
        ascending-term fold, same 1e-6 rounding). The former plan joined
        decoded postings to the query table and windowed per query, so
        every (query, doc) pair of a hot term crossed the shuffle —
        measured N→4N efficiency 0.64-0.77 vs this harness's 0.80+."""
        return self.search_many_wand(queries, k, exact=True)

    def query(self, q: str) -> DataFrame:
        """Evaluate a FEMTO-grammar query string (QUERY_FORMAT.txt:
        AND/OR/NOT, THEN d / WITHIN d, "phrases", parens, bare terms =
        conjunction) to a sorted doc-id set — the femto_search entry
        shape."""
        from .parser import eval_with_engine, parse_query

        return eval_with_engine(self, parse_query(q))

    def similar(self, doc_id: int, n_terms: int = 5, k: int = 10) -> DataFrame:
        """More-like-this — the femto_similar analogue (reference
        src/main/similar_tool.c, a shipped CLI that scores indexed
        documents against a provided document's content;
        src/main/Makefile.am:35-36). The posting-list form: DETERMINISTIC
        term selection from the source document — each of its terms
        scored tf × idf (idf from the index termstats, the exact ln form
        scoring.py pins; product rounded like scores so cross-engine ULP
        noise can't flip the cut), ties broken by term ascending — then
        an OR-mode BM25 top-k over the selected terms. The source
        document ranks like any other (typically first). The driver-side
        work is O(|doc| + n_terms): one extract, one memoized stats
        lookup; the search itself is the distributed BM25 plan."""
        from collections import Counter

        from ..scoring import idf, round_score

        if self.corpus is None:
            raise ValueError("similar() needs the corpus DataFrame")
        rows = self.extract(doc_id).collect()
        if not rows:
            return self.spark.createDataFrame([], "doc_id long, score double")
        tf = Counter(tokenize(rows[0]["text"]))
        st = self._term_stats(sorted(tf))
        ranked = sorted(
            (-round_score(idf(st[t][0], self.n_docs) * tf[t]), t)
            for t in tf
            if st[t][0] > 0
        )[:n_terms]
        if not ranked:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.search(" ".join(t for _, t in ranked), k=k)

    # ------------------------------------------------------------------ #
    # boolean set algebra (results.c merge semantics as joins)            #
    # ------------------------------------------------------------------ #

    def docs_for(self, query: str) -> DataFrame:
        """AND-conjunction doc set (doc_id) over the query's terms."""
        terms = sorted(set(tokenize(query)))
        if not terms:
            return self.spark.createDataFrame([], "doc_id long")
        p = self.postings(terms, scored=False)
        return (
            p.groupBy("doc_id")
            .agg(F.countDistinct("term").alias("nt"))
            .filter(F.col("nt") == len(terms))
            .select("doc_id")
        )

    def boolean_docs(self, op: str, left: str, right: str) -> DataFrame:
        """AND → inner join, OR → union-distinct, NOT → left-anti: the
        DataFrame forms of intersectResults/unionResults/subtractResults."""
        l, r = self.docs_for(left), self.docs_for(right)
        if op == "and":
            return l.join(r, "doc_id", "inner").select("doc_id")
        if op == "or":
            return l.union(r).distinct()
        if op == "not":
            return l.join(r, "doc_id", "left_anti").select("doc_id")
        raise ValueError(op)

    def _offsets_for(self, query: str) -> DataFrame:
        """(doc_id, offset) occurrences of the query's terms in docs
        satisfying the query (AND-conjunction) — a results_t WITH
        locations."""
        terms = sorted(set(tokenize(query)))
        occ = self.postings_with_positions(terms).select(
            "doc_id", F.explode("positions").alias("offset")
        )
        if len(terms) > 1:
            occ = occ.join(self.docs_for(query), "doc_id", "semi")
        return occ

    def boolean_offsets(self, op: str, left: str, right: str) -> DataFrame:
        """Boolean algebra carrying (doc_id, offset) through — the
        reference keeps both sides' offsets (results.c:435-496:
        intersectResults emits left's and right's locations for docs in
        the intersection; union all; subtract keeps left's)."""
        l, r = self._offsets_for(left), self._offsets_for(right)
        if op == "and":
            ld = l.select("doc_id").distinct()
            rd = r.select("doc_id").distinct()
            out = l.join(rd, "doc_id", "semi").union(r.join(ld, "doc_id", "semi"))
        elif op == "or":
            out = l.union(r)
        elif op == "not":
            out = l.join(r.select("doc_id").distinct(), "doc_id", "left_anti")
        else:
            raise ValueError(op)
        return out.distinct().orderBy("doc_id", "offset")

    # ------------------------------------------------------------------ #
    # locate + proximity (positions plane)                                #
    # ------------------------------------------------------------------ #

    def locate(self, term: str, max_occs: int | None = None) -> DataFrame:
        """(doc_id, pos) occurrences of a term — FEMTO LOCATE. Sorted
        (doc_id, pos) like results_t's invariant; LIMIT = max_occs."""
        t = sorted(set(tokenize(term)))
        p = self.postings_with_positions(t)
        out = (
            p.select("doc_id", F.explode("positions").alias("pos"))
            .orderBy("doc_id", "pos")
        )
        return out.limit(max_occs) if max_occs else out

    def proximity(
        self, left: str, right: str, d: int, ordered: bool
    ) -> DataFrame:
        """THEN d (ordered) / WITHIN d (unordered) — reference semantics
        (`results.c:732-950`): THEN matches 0 < r−l ≤ d, WITHIN matches
        0 < |r−l| ≤ d; reported offset = min(l, r); sorted, deduplicated.
        Vectorized per doc via searchsorted windows.

        Operands are tokenizer-normalized (an uppercase or punctuated
        operand matches its normalized form rather than silently hashing
        to an absent term); multi-token operands are rejected — the same
        rule the oracle applies.

        Hot-term pruning: when the sides' document frequencies are very
        asymmetric (a stopword THEN a rare term), the boolean doc
        intersection is computed FIRST from the postings blobs alone and
        only the intersecting docs' positions are decoded/shipped. The
        intersection stays a DataFrame end to end (semi-join + broadcast
        inside postings_with_positions) — no doc id ever visits the
        driver. Both plans return identical results; the prune triggers
        automatically (dfs are already memoized driver-side) and is
        skipped when the intersection could be huge."""
        left = _one_term(left, "THEN/WITHIN left")
        right = _one_term(right, "THEN/WITHIN right")
        doc_filter = None
        stats = self._term_stats([left, right])
        df_l, df_r = stats[left][0], stats[right][0]
        lo, hi = min(df_l, df_r), max(df_l, df_r)
        if (
            hi >= _PROX_PRUNE_HI
            and lo * _PROX_PRUNE_ASYM <= hi
            and lo <= _PROX_PRUNE_CAP
        ):
            doc_filter = (
                self.postings([left], scored=False)
                .select("doc_id")
                .join(
                    self.postings([right], scored=False).select("doc_id"),
                    "doc_id",
                    "semi",
                )
            )
        lp = self.postings_with_positions([left], doc_filter).select(
            "doc_id", F.col("positions").alias("lpos")
        )
        rp = self.postings_with_positions([right], doc_filter).select(
            "doc_id", F.col("positions").alias("rpos")
        )
        joined = lp.join(rp, "doc_id")

        def _match(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # The reported offset is min(l, r), so the match set decomposes
            # into two one-sided window tests — no pair enumeration needed:
            #   pairs with r > l contribute offset l  ⇔ ∃ r ∈ (l, l+d]
            #   pairs with r < l (WITHIN only) contribute offset r
            #                                        ⇔ ∃ l ∈ (r, r+d]
            # (r == l is excluded by both half-open windows.)
            def _with_right_after(a: np.ndarray, b: np.ndarray) -> np.ndarray:
                lo = np.searchsorted(b, a + 1)
                hi = np.searchsorted(b, a + d, side="right")
                return a[hi > lo]

            for pdf in batches:
                docs, offs = [], []
                for r in pdf.itertuples(index=False):
                    l = np.asarray(r.lpos, dtype=np.int64)
                    rr = np.asarray(r.rpos, dtype=np.int64)
                    hits = _with_right_after(l, rr)
                    if not ordered:
                        hits = np.union1d(hits, _with_right_after(rr, l))
                    if hits.size:
                        docs.append(np.full(hits.size, r.doc_id, dtype=np.int64))
                        offs.append(hits)
                if docs:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(docs),
                            "offset": np.concatenate(offs),
                        }
                    )

        return joined.mapInPandas(_match, "doc_id long, offset long").orderBy(
            "doc_id", "offset"
        )

    def phrase(self, query: str) -> DataFrame:
        """Exact phrase search — (doc_id, n_matches, first_pos). The
        positions-payload composition FEMTO gets from its suffix structure
        for free; here it is the generalized-phrase ANCHOR plan (shared
        with infix search): every occurrence of slot-j's term at position
        p contributes anchor = p − j, and a phrase match at anchor a is
        exactly 'all k+1 slots present at a' — one explode, one broadcast
        slot join, one groupBy. No per-doc Python at all (the earlier
        per-doc searchsorted loop was the last Python loop on the query
        plane).

        Rare-term pruning (the proximity prune's trigger, reference
        results.c chunk skipping in spirit): a phrase match's doc must
        contain EVERY term, so when term dfs are very asymmetric —
        "the <rare-word>" against a hot stopword — the rarest term's doc
        set semi-joins the positions decode first and the hot term's
        positions explode only for those docs. Measured at 2M docs: a
        hot+rare phrase decodes ~df_rare docs instead of ~df_hot."""
        terms = tokenize(query)
        if not terms:
            return self.spark.createDataFrame(
                [], "doc_id long, n_matches long, first_pos long"
            )
        uniq = sorted(set(terms))
        doc_filter = None
        if len(uniq) > 1:
            stats = self._term_stats(uniq)
            dfs = {t: stats[t][0] for t in uniq}
            if any(v == 0 for v in dfs.values()):
                return self.spark.createDataFrame(
                    [], "doc_id long, n_matches long, first_pos long"
                )
            lo_t = min(uniq, key=lambda t: dfs[t])
            lo, hi = dfs[lo_t], max(dfs.values())
            if hi >= _PROX_PRUNE_HI and lo * _PROX_PRUNE_ASYM <= hi and lo <= _PROX_PRUNE_CAP:
                doc_filter = self.postings([lo_t], scored=False).select("doc_id")
        return self._phrase_hits(terms, uniq, doc_filter).orderBy("doc_id")

    def _phrase_hits(
        self,
        terms: list[str],
        uniq: list[str],
        doc_filter: DataFrame | None,
        doc_hi: int | None = None,
    ) -> DataFrame:
        """The anchor plan body: (doc_id, n_matches, first_pos), unordered.
        Shared by phrase() (full result) and phrase_limit() (first-k
        rounds over a doc-range-capped candidate set)."""
        slots = self.spark.createDataFrame(
            [(t, j) for j, t in enumerate(terms)], "term string, slot int"
        )
        occ = self.postings_with_positions(uniq, doc_filter, doc_hi).select(
            "term", "doc_id", F.explode("positions").alias("pos")
        )
        anchored = occ.join(F.broadcast(slots), "term").select(
            "doc_id", (F.col("pos") - F.col("slot")).alias("anchor"), "slot"
        )
        hits = (
            anchored.filter(F.col("anchor") >= 0)
            .groupBy("doc_id", "anchor")
            .agg(F.countDistinct("slot").alias("ns"))
            .filter(F.col("ns") == len(terms))
        )
        return hits.groupBy("doc_id").agg(
            F.count("*").alias("n_matches"),
            F.min("anchor").alias("first_pos"),
        )

    def phrase_limit(
        self, query: str, k: int = 10, prefix0: int | None = None
    ) -> DataFrame:
        """First k phrase-matching docs in doc order — the LIMIT-pushdown
        phrase. The full plan materializes EVERY match before a limit
        could apply (hot+hot at 2M docs: 85 s for 1.41M rows nobody asked
        for); this variant serves the common "first k hits" ask without
        paying for the tail:

          1. the RAREST term's capped doc list is the candidate filter —
             every phrase match must contain it, and one doc-plane scan
             replaces the k-way semi-join intersection (whose extra
             scans cost more per round than the decode they saved:
             _phrase_hits re-reads every term's positions anyway, and
             the anchor groupBy's ns == len(terms) already enforces
             co-occurrence);
          2. a doc-order candidate PREFIX (growing from max(4k, 64))
             feeds the anchor verification as its doc_filter, so the
             expensive positions decode + anchor groupBy only ever sees
             the prefix;
          3. a round is ONE Spark job: `first (k − done) hits by doc
             order` (TakeOrderedAndProject). Getting all of them means
             the answer is complete; getting fewer means those rows are
             the ENTIRE hit set below D — they carry to the next round
             as driver-held rows (< k of them), so docs never re-verify
             and no checkpoint/count jobs are paid;
          4. rounds stop as soon as k docs accumulate (or candidates
             run out — then the result simply has fewer rows).

        Every term co-occurring is necessary for a phrase match, so round
        1 usually verifies >> k docs; a pathological corpus where terms
        co-occur but never adjoin degrades to the full plan plus one
        round of job latency (hits below prev_hi are never recomputed).
        Identical rows to `phrase(query) ORDER BY doc_id LIMIT k` (the
        driver oracle). Analogue of the reference's RANGE_TO_RESULTS
        chunked resolve — resolve only as many chunks as the request
        needs (src/main/server.c femto_range_to_results_request)."""
        terms = tokenize(query)
        schema = "doc_id long, n_matches long, first_pos long"
        if not terms or k <= 0:
            return self.spark.createDataFrame([], schema)
        uniq = sorted(set(terms))
        stats = self._term_stats(uniq)
        if any(stats[t][0] == 0 for t in uniq):
            return self.spark.createDataFrame([], schema)
        max_doc = self._max_doc()
        min_df = min(stats[t][0] for t in uniq)
        # initial doc-space cap: the rarest term is expected to have
        # `target` docs inside [0, D] (uniform estimate — a skewed layout
        # just costs extra rounds, never wrong rows). prefix0 shrinks the
        # target so tests can force the multi-round path.
        target = prefix0 if prefix0 else max(4 * k, 64)
        D = min(max_doc, -(-target * (max_doc + 1) // max(min_df, 1)))
        rare = min(uniq, key=lambda t: stats[t][0])
        prev_hi = -1  # docs ≤ prev_hi are already verified (in acc)
        acc: list = []  # complete verified hits ≤ prev_hi (< k rows)
        while True:
            # rarest term's capped doc list: grp partitions past D are
            # pruned at the scan, block prefixes past D never
            # varint-decode — the tail of a posting list costs nothing
            cand = self.postings(
                [rare], scored=False, doc_hi=D
            ).select("doc_id")
            if prev_hi >= 0:
                cand = cand.filter(F.col("doc_id") > prev_hi)
            hits = self._phrase_hits(terms, uniq, cand, doc_hi=D)
            need = k - len(acc)
            got = hits.orderBy("doc_id").limit(need).collect()
            if len(got) >= need or D >= max_doc:
                return self.spark.createDataFrame(acc + got, schema)
            acc += got  # got < need ⇒ got is ALL hits in (prev_hi, D]
            prev_hi = D
            # adaptive growth: every round costs ~fixed job latency, so
            # extrapolate from the observed hit density instead of a blind
            # ×4 — and a hitless round means matches are rare enough that
            # the full range costs no more than any cap (2-round worst
            # case for never-matching phrases)
            if not acc:
                D = max_doc
            else:
                D = min(max_doc, D * max(4, -(-2 * k // len(acc))))

    def _max_doc(self) -> int:
        """Largest doc_id in the index (memoized; parquet-stats scan)."""
        if not hasattr(self, "_max_doc_v"):
            r = self._docs.agg(F.max("doc_id")).collect()[0][0]
            self._max_doc_v = int(r) if r is not None else 0
        return self._max_doc_v

    def _vocab_pruned(self, fragment: str, max_missing: int = 0) -> DataFrame:
        """Vocab rows gram-pruned by a literal fragment (lossless; see
        index/ngram.py). Falls back to the whole vocab when the fragment
        is too short to prune — still a distributed scan, never a
        driver-side term list."""
        vocab = self._vocab()
        from ..index.ngram import ensure_vocab_ngrams, prune_terms_by_grams

        if len(fragment) >= 3:
            ngrams = ensure_vocab_ngrams(self.spark, self.index_dir)
            pruned = prune_terms_by_grams(
                vocab, ngrams, fragment, max_missing=max_missing
            )
            if pruned is not None:
                return pruned
        return vocab

    def approx_terms(
        self,
        probe: str,
        max_edits: int = 1,
        subst_cost: int = 1,
        delete_cost: int = 1,
        insert_cost: int = 1,
        _keep_hash: bool = False,
    ) -> DataFrame:
        """FEMTO APPROX (QUERY_FORMAT.txt:129-161): vocabulary terms with
        weighted edit distance ≤ max_edits — (term, dist, df), ordered
        (dist, df desc, term). Unit costs run the JVM levenshtein; custom
        subst/delete/insert costs (the reference's
        APPROX max:subst:del:ins form, index_types.h:148-162) run a
        numpy DP. Either way the vocab scan is first pruned through the
        char-3-gram table: a term within k edits of the probe shares at
        least |grams(probe)| − 3k of its grams, so at 10^9 vocabularies
        the distance only evaluates on a sliver of terms."""
        min_cost = min(subst_cost, delete_cost, insert_cost)
        k_eff = max_edits // max(min_cost, 1)
        cand = self._vocab_pruned(probe, max_missing=3 * k_eff)
        unit = subst_cost == delete_cost == insert_cost == 1
        if unit:
            scored = cand.withColumn(
                "dist", F.levenshtein(F.col("term"), F.lit(probe))
            )
        else:
            costs = (subst_cost, delete_cost, insert_cost)

            def _wdist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                sc, dc, ic = costs
                p = probe

                def one(t: str) -> int:
                    # DP over probe→term: delete = probe char missing in
                    # the data, insert = extra char in the data (reference
                    # cost semantics)
                    prev = [j * ic for j in range(len(t) + 1)]
                    for i, ca in enumerate(p, 1):
                        cur = [i * dc]
                        for j, cb in enumerate(t, 1):
                            cur.append(
                                min(
                                    prev[j] + dc,
                                    cur[j - 1] + ic,
                                    prev[j - 1] + (0 if ca == cb else sc),
                                )
                            )
                        prev = cur
                    return prev[-1]

                for pdf in batches:
                    pdf = pdf.copy()
                    pdf["dist"] = [one(t) for t in pdf["term"]]
                    yield pdf

            scored = cand.select("term_hash", "term").mapInPandas(
                _wdist, "term_hash long, term string, dist int"
            )
        out = scored.filter(F.col("dist") <= max_edits).join(
            self._termstats, "term_hash"
        )
        cols = ["term_hash", "term", "dist", "df"] if _keep_hash else ["term", "dist", "df"]
        return out.select(*cols).orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term")
        )

    def approx_docs(self, probe: str, max_edits: int = 1, **costs) -> DataFrame:
        """Docs containing any term within edit distance of the probe —
        the doc-set form of APPROX. Fully distributed: the matching-term
        set semi-joins the index on term_hash (no driver collect)."""
        min_cost = min(
            costs.get("subst_cost", 1),
            costs.get("delete_cost", 1),
            costs.get("insert_cost", 1),
        )
        cand = self._vocab_pruned(probe, max_missing=3 * (max_edits // max(min_cost, 1)))
        if costs.get("subst_cost", 1) == costs.get("delete_cost", 1) == costs.get("insert_cost", 1) == 1:
            matched = cand.filter(
                F.levenshtein(F.col("term"), F.lit(probe)) <= max_edits
            )
        else:
            # vocab's EFFECTIVE hash rides through (never re-hash the
            # term string here — re-keyed colliding terms would miss)
            matched = self.approx_terms(probe, max_edits, _keep_hash=True, **costs)
        return self._docs_for_hashes(matched).orderBy("doc_id")

    def regex_docs(self, pattern: str) -> DataFrame:
        """Word-level REGEXP query (FEMTO server.c:1656 runs its NFA over
        the FM-index; the posting-list form runs the regex over the VOCAB
        — typically 10^4-10^9 terms, tiny next to the corpus — then unions
        the matching terms' doc sets). Unanchored like the reference.
        The vocab scan is gram-pruned by the pattern's longest literal
        run, matched terms semi-join the index — everything distributed
        (no driver-side term list, no isin)."""
        from ..index.ngram import required_literal_run

        matched = self._vocab_pruned(required_literal_run(pattern)).filter(
            F.col("term").rlike(pattern)
        )
        return self._docs_for_hashes(matched).orderBy("doc_id")

    def infix_docs(self, pattern: str) -> DataFrame:
        """Substring/infix search over the indexed token stream — the
        reference's defining capability (backward search, server.c:713),
        answered from vocab + grams + postings without touching the
        corpus. See query/infix.py for the supported pattern subset."""
        from .infix import SparkPlane, infix_docs as _infix

        return _infix(SparkPlane(self), pattern).distinct().orderBy("doc_id")

    def infix_limit(
        self, pattern: str, k: int = 10, prefix0: int | None = None
    ) -> DataFrame:
        """First k infix-matching docs in doc order — phrase_limit's
        LIMIT-pushdown generalized to the whole regex/infix plane. A
        hot gap chain's full plan decodes EVERY posting of the hottest
        terms (2M-doc hottest-pair measurement: 198 s for 1.97M rows
        nobody asked for); here each adaptive round evaluates the FULL
        infix machinery through a doc-range-capped engine view
        (_CappedView): grp partitions past the cap never scan, dropped
        docs' position segments never varint-decode
        (decode_positions_select), and rounds stop at k docs. Rows ≡
        `infix_docs(pattern) ORDER BY doc_id LIMIT k` (the driver
        oracle). Same chunked-resolve idea as the reference's
        RANGE_TO_RESULTS over a REGEXP range (src/main/server.c).
        Raises ValueError exactly when infix_docs would (scan
        fallback); prefix0 forces a small first cap so tests exercise
        the multi-round path."""
        from .infix import SparkPlane, infix_docs as _infix

        schema = "doc_id long"
        if k <= 0:
            return self.spark.createDataFrame([], schema)
        max_doc = self._max_doc()
        D = prefix0 if prefix0 else max(max_doc // 64, 4 * k, 64)
        D = min(D, max_doc)
        prev_hi = -1  # docs ≤ prev_hi are fully verified (in acc)
        acc: list = []
        while True:
            docs = _infix(SparkPlane(_CappedView(self, D)), pattern).distinct()
            if prev_hi >= 0:
                docs = docs.filter(F.col("doc_id") > prev_hi)
            need = k - len(acc)
            got = docs.orderBy("doc_id").limit(need).collect()
            if len(got) >= need or D >= max_doc:
                return self.spark.createDataFrame(acc + got, schema)
            acc += got  # got < need ⇒ ALL hits in (prev_hi, D]
            prev_hi = D
            # density-extrapolated growth; a hitless first window means
            # matches are rare — jump to the full range (2-round worst
            # case), same policy as phrase_limit
            if not acc:
                D = max_doc
            else:
                D = min(max_doc, D * max(4, -(-2 * k // len(acc))))

    # ------------------------------------------------------------------ #
    # document plane                                                      #
    # ------------------------------------------------------------------ #

    def extract(self, doc_id: int) -> DataFrame:
        """EXTRACT_DOCUMENT — trivial when the corpus is kept (SURVEY §2.4):
        FEMTO forward-steps the FM-index to rebuild bytes; we filter the
        corpus table (predicate pushdown to the scan)."""
        if self.corpus is None:
            raise ValueError("engine was built without a corpus DataFrame")
        return self.corpus.filter(F.col(self.id_col) == doc_id).select(
            F.col(self.id_col).alias("doc_id"), F.col(self.text_col).alias("text")
        )

    def docs_for_range(self, lo: int, hi: int, term: str | None = None) -> DataFrame:
        """FEMTO's `docs_for_range` request (femto.h:110-139): the doc ids
        present in [lo, hi); optionally restricted to docs containing a
        term (range pruning uses the postings' block_last_doc ordering)."""
        if term is None:
            return (
                self._docs.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                )
                .select("doc_id")
                .orderBy("doc_id")
            )
        p = self.postings([term] if isinstance(term, str) else term, scored=False)
        return (
            p.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .select("doc_id")
            .distinct()
            .orderBy("doc_id")
        )

    def snippets(self, query: str, k: int = 10, width: int = 5) -> DataFrame:
        """Top-k search with a context snippet around each doc's first
        query-term occurrence — FEMTO's CONTEXT query (server.c:2627)
        extracts surrounding characters while locating; with the corpus
        kept, a snippet is a token-window substring at report time.
        Returns (doc_id, score, first_pos, snippet).

        Plan choice is stats-driven (same trigger style as the proximity
        prune): with a HOT query term the top-k comes from the WAND path
        (rank- and score-identical — exact verification inside the
        harness, the 21-case equivalence suite) and the winner doc set
        rides into the positions decode as its doc_filter, so picking 10
        snippets never pays a full posting scan + positions decode
        (measured at 2M docs: 16.7 → 4.5 s). Small-df queries keep the
        plain exact plan — the WAND task's fixed Arrow round-trip costs
        more than it saves there."""
        terms = sorted(set(tokenize(query)))
        stats = self._term_stats(terms)
        hot = any(stats[t][0] >= _PROX_PRUNE_HI for t in terms)
        top = self.search_wand(query, k) if hot else self.search(query, k)
        # `top` feeds TWO consumers (the positions doc_filter and the final
        # snippet join); without a barrier the whole top-k Spark job —
        # including the _ids decode + broadcast pipeline it triggers —
        # re-executes per consumer. k rows: checkpoint is ~free.
        top = top.localCheckpoint(eager=True)
        # decode positions ONLY for the k winners: the top-k doc set is
        # the decode's doc_filter (broadcast semi-join inside
        # postings_with_positions)
        pos = self.postings_with_positions(terms, top.select("doc_id")).select(
            "doc_id", F.expr("positions[0]").alias("p0")
        )
        first = pos.groupBy("doc_id").agg(F.min("p0").alias("first_pos"))
        toks = spark_tokens_expr(self.text_col)
        snip = (
            f"array_join(slice({toks}, greatest(first_pos - {width} + 1, 1),"
            f" {2 * width + 1}), ' ')"
        )
        return (
            top.join(first, "doc_id")
            .join(self.corpus.select(F.col(self.id_col).alias("doc_id"),
                                     F.col(self.text_col)), "doc_id")
            .select("doc_id", "score", "first_pos", F.expr(snip).alias("snippet"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def doc_info(self, doc_ids: list[int]) -> DataFrame:
        """GET_URL batch: doc metadata for result reporting."""
        if self.corpus is None:
            raise ValueError("engine was built without a corpus DataFrame")
        return self.corpus.filter(F.col(self.id_col).isin(doc_ids))

    def extend(
        self, fragment: str, limit: int = 10, direction: str = "right"
    ) -> DataFrame:
        """string_rows_right/left analogue (`src/main/server.c`
        string_rows requests; femto_common walks both directions): terms
        extending a fragment ranked by document frequency.

        direction='right' → fragment is a prefix (terms extending to the
        right), 'left' → a suffix (left-extension), 'both' → an infix.
        Left/both are gram-pruned through the char-3-gram table before
        the string comparison — no full vocab scan."""
        vocab = self._vocab()
        if direction == "right":
            cand = vocab.filter(F.col("term").startswith(fragment))
        else:
            from ..index.ngram import ensure_vocab_ngrams, prune_terms_by_grams

            ngrams = ensure_vocab_ngrams(self.spark, self.index_dir)
            pruned = prune_terms_by_grams(
                vocab, ngrams, fragment, suffix_anchor=(direction == "left")
            )
            base = pruned if pruned is not None else vocab
            if direction == "left":
                cand = base.filter(F.col("term").endswith(fragment))
            elif direction == "both":
                cand = base.filter(F.col("term").contains(fragment))
            else:
                raise ValueError(direction)
        return (
            cand.join(self._termstats, "term_hash")
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(limit)
        )

    def suggest(self, probe: str, limit: int = 10) -> DataFrame:
        """'Did you mean' — the reference retains the last NON-EMPTY range
        while backward search narrows (`src/main/server.h:309-313`,
        search_tool.cc:758-791) and reports its extensions. Posting-list
        form: the longest prefix of `probe` that any vocabulary term
        starts with, and that prefix's top-df extensions. One vocab scan:
        match length is computed per term in a single JVM CASE chain,
        the max match length (tiny agg) selects the retained prefix."""
        probe = probe.lower()
        if not probe:
            return self.spark.createDataFrame([], "term string, df long, matched_prefix string")
        vocab = self._vocab()
        cands = vocab.filter(F.col("term").startswith(F.lit(probe[0])))
        # parameterized prefix-length CASE: startswith(lit) keeps any
        # probe byte (quotes, %/_, regex chars) a literal — no SQL text
        # is built from user input (the f-string LIKE form broke on a
        # quote and silently wildcarded on %/_)
        mlen = F.lit(0)
        for i in range(1, len(probe) + 1):  # outermost when = longest
            mlen = F.when(
                F.col("term").startswith(F.lit(probe[:i])), F.lit(i)
            ).otherwise(mlen)
        scored = cands.withColumn("mlen", mlen)
        best = scored.agg(F.max("mlen")).collect()[0][0]
        if not best:
            return self.spark.createDataFrame([], "term string, df long, matched_prefix string")
        return (
            scored.filter(F.col("mlen") == best)
            .join(self._termstats, "term_hash")
            .select("term", "df", F.lit(probe[:best]).alias("matched_prefix"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(limit)
        )

    # ------------------------------------------------------------------ #
    # unindexed scan path (femto_scan / RE2 oracle)                       #
    # ------------------------------------------------------------------ #

    # (infix_limit's capped engine view is module-level: _CappedView)

    def scan_docs(self, pattern: str) -> DataFrame:
        """Brute-force regex scan of the corpus — the femto_scan fallback
        and our in-Spark correctness oracle for regex queries."""
        if self.corpus is None:
            raise ValueError("engine was built without a corpus DataFrame")
        return (
            self.corpus.filter(F.col(self.text_col).rlike(pattern))
            .select(F.col(self.id_col).alias("doc_id"))
            .orderBy("doc_id")
        )


class _CappedView:
    """Doc-range-restricted facade over a SearchEngine — exactly the
    attribute surface query/infix.SparkPlane touches (spark,
    index_dir, _vocab, _docs, _positions_for_hashes, _docs_for_hashes),
    with every postings read capped at doc_id ≤ doc_hi: grp partitions
    past the cap never scan and dropped docs' position segments never
    varint-decode. Evaluating infix_docs THROUGH the view yields
    exactly its hits with doc_id ≤ doc_hi — infix_limit's round body.
    The interior-repetition data probe flows through too: a capped
    probe can only drop branches no doc ≤ doc_hi realizes, which is
    correct for the capped round."""

    def __init__(self, eng: SearchEngine, doc_hi: int):
        self._eng, self._hi = eng, doc_hi
        self.spark = eng.spark
        self.index_dir = eng.index_dir
        self._docs = eng._docs.filter(F.col("doc_id") <= doc_hi)

    def _vocab(self) -> DataFrame:
        return self._eng._vocab()

    def _positions_for_hashes(self, cand: DataFrame) -> DataFrame:
        return self._eng._positions_for_hashes(cand, doc_hi=self._hi)

    def _docs_for_hashes(self, cand: DataFrame) -> DataFrame:
        return self._eng._docs_for_hashes(cand, doc_hi=self._hi)
