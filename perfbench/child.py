"""The measured process of one benchmark run (started by run.py).

    python3 perfbench/child.py <input dir> <run dir> <seconds> <trace>

It drives the program through public calls only. The Spark plane comes
first: an untimed warm-up build + append, timed build + append rounds,
and in traced runs batch and interactive queries. Then, once Spark and
its JVM have exited, the serving plane runs over the last index. It
records wall times, keeps every output for run.py to check against the
reference, and writes `out.json` in the run dir. Set-up is everything up
to the end of the warm-up (`warmup_done`, a wall-clock time; run.py
started this process) plus the serving warm-up (`serve_setup_s`).
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import time

import numpy as np

from tracing import CountingDataset, Tracer, spark_metrics

NPROC = os.cpu_count() or 1


def start_spark():
    from femto_spark.session import get_spark

    return get_spark("perfbench", shuffle_partitions=NPROC)


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM (and so every Python worker it
    forked) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def job_group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(f"perfbench:{name}", name)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
    )


def read_index_stats(index_dir: str) -> dict:
    """The build's on-disk header, read with pyarrow (not the program):
    term -> [df, cf] through the vocab table, and the docs table's Σdl."""
    import pyarrow.dataset as pads

    def read(name, cols):
        return pads.dataset(os.path.join(index_dir, name)).to_table(columns=cols)

    ts = read("termstats", ["term_hash", "df", "cf"])
    vo = read("vocab", ["term_hash", "term"])
    dl = read("docs", ["dl"])
    names = dict(zip(vo["term_hash"].to_pylist(), vo["term"].to_pylist()))
    return {
        "stats": {
            names.get(h, f"#{h}"): [d, c]
            for h, d, c in zip(ts["term_hash"].to_pylist(), ts["df"].to_pylist(),
                               ts["cf"].to_pylist())
        },
        "sum_cf": int(np.sum(ts["cf"].to_numpy())),
        "sum_dl": int(np.sum(dl["dl"].to_numpy())),
        "n_docs": dl.num_rows,
    }


def timed_rounds(seconds: float, body, min_rounds: int = 1) -> int:
    """Run body(i) for whole rounds until `seconds` have passed and at
    least `min_rounds` have run. Returns the number of rounds."""
    t0 = time.perf_counter()
    i = 0
    while i < min_rounds or time.perf_counter() - t0 < seconds:
        body(i)
        i += 1
    return i


# -- the Spark plane -------------------------------------------------------------

# shares of --seconds: timed build + append rounds, then the serving cold
# phase; traced runs add the Spark query phases and the serving hot and
# regex phases, which feed per-layer metrics only
BUILD_SHARE = 0.3
COLD_SHARE = 0.6
HOT_SHARE = 0.2
REGEX_SHARE = 0.3


def build_round(spark, inp, ix, tracer, group, tables=("corpus", "delta")):
    """build_index over tables[0], then merge_into of tables[1] (if any),
    into ix. Returns the wall times, the reports and the on-disk header
    of the index after each step, labelled with the tables it holds."""
    from femto_spark.index.build import build_index
    from femto_spark.index.incremental import merge_into

    read = lambda n: spark.read.parquet(os.path.join(inp, n))  # noqa: E731
    job_group(spark, f"{group}:build")
    t0 = time.perf_counter()
    with tracer.span("index.build.build_index"):
        rep = build_index(spark, read(tables[0]), ix, field_cols=["lang"])
    t1 = time.perf_counter()
    layout = {n: dir_bytes(os.path.join(ix, n))
              for n in ("index", "partials", "vocab", "docs", "termstats")}
    r = {"build_s": t1 - t0, "build_report": rep["stages"], "layout": layout,
         "total_bytes": dir_bytes(ix), "index": [[tables[:1], read_index_stats(ix)]]}
    if len(tables) == 1:
        return r
    job_group(spark, f"{group}:append")
    t2 = time.perf_counter()
    with tracer.span("index.incremental.merge_into"):
        arep = merge_into(spark, ix, read(tables[1]))
    t3 = time.perf_counter()
    r.update(append_s=t3 - t2, append_report=arep["stages"])
    r["index"].append([tables, read_index_stats(ix)])
    return r


def spark_plane(inp, run_dir, seconds, tracer, q, out) -> str:
    """An untimed warm-up build (set-up), timed build + append rounds,
    then (traced runs) batch and interactive queries on the last index.
    Returns the last index dir."""
    spark = start_spark()
    out["spark_up"] = time.time()
    # the first build in a fresh JVM pays Python worker start and JIT:
    # set-up, not throughput. The warm-up builds the small delta; a
    # warm-up append too cost 5-7 s a run, which the run budget lacks
    warm = build_round(spark, inp, os.path.join(run_dir, "warmup"), tracer, "warmup",
                       ("delta",))
    shutil.rmtree(os.path.join(run_dir, "warmup"))
    out["warmup_done"] = time.time()
    rounds = [warm]

    def body(i):
        if i:
            shutil.rmtree(os.path.join(run_dir, f"index{i - 1}"))
        rounds.append(build_round(spark, inp, os.path.join(run_dir, f"index{i}"),
                                  tracer, "timed"))

    n = timed_rounds(seconds * BUILD_SHARE, body)
    out["timed_done"] = time.time()
    ix = os.path.join(run_dir, f"index{n - 1}")
    out.update(build_rounds=rounds[1:], attempted=2 * n)
    # every round's output is checked, the warm-up's too
    out["outputs"] = {"index": [x for r in rounds for x in r.pop("index")]}
    # the batch and interactive queries feed per-layer metrics only, so
    # untraced runs skip them and stay short
    if tracer.enabled:
        spark_queries(spark, ix, seconds, tracer, q, out)
    stop_spark(spark)
    out["spark_down"] = time.time()
    return ix


def spark_queries(spark, ix, seconds, tracer, q, out) -> None:
    """search_many + search_many_wand on one batch, then interactive
    rounds, on the appended index."""
    from femto_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, ix)
    job_group(spark, "batch")
    t4 = time.perf_counter()
    with tracer.span("query.engine.search_many"):
        exact = eng.search_many(q["batch"]).collect()
    t5 = time.perf_counter()
    with tracer.span("query.wand.search_many_wand"):
        wand = eng.search_many_wand(q["batch"]).collect()
    t6 = time.perf_counter()

    def interactive(r):
        return [
            ("search", lambda: [[x.doc_id, x.score] for x in eng.search(r["search"]).collect()]),
            ("phrase", lambda: [list(x) for x in eng.phrase(r["phrase"]).collect()]),
            ("proximity", lambda: [list(x) for x in eng.proximity(*r["proximity"]).collect()]),
            ("boolean", lambda: sorted(x.doc_id for x in eng.boolean_docs(*r["boolean"]).collect())),
            ("approx", lambda: [x.doc_id for x in eng.approx_docs(r["approx"]).collect()]),
            ("locate", lambda: [list(x) for x in eng.locate(r["locate"]).collect()]),
            ("infix", lambda: sorted(x.doc_id for x in eng.infix_docs(r["infix"]).collect())),
        ]

    lat, got = [], []

    def round_(i):
        k = i % len(q["interactive"])
        for name, fn in interactive(q["interactive"][k]):
            job_group(spark, f"interactive:{name}")
            t = time.perf_counter()
            with tracer.span(f"query.engine.{name}"):
                res = fn()
            lat.append([name, (time.perf_counter() - t) * 1e3])
            got.append([k, name, res])

    n_rounds = timed_rounds(seconds / 2, round_)

    def topk(rows):
        d: dict = {}
        for x in sorted(rows, key=lambda x: (x.query_id, x.rank)):
            d.setdefault(x.query_id, []).append([x.doc_id, x.score])
        return d

    out.update(exact_s=t5 - t4, wand_s=t6 - t5, spark_latencies=lat)
    out["attempted"] += 2 + 7 * n_rounds
    out["outputs"].update(batch={"exact": topk(exact), "wand": topk(wand)},
                          interactive=got)


# -- the serving plane -----------------------------------------------------------


def serve_request(s, req):
    op, *a = req
    if op == "search":
        r = s.search(a[0], mode="or")
    elif op == "search_and":
        r = s.search(a[0], mode="and")
    elif op == "wand":
        r = s.search_wand(a[0])
    elif op == "phrase":
        r = s.phrase(a[0])
    elif op == "proximity":
        r = s.proximity(*a)
    elif op == "count":
        r = s.count(a[0])
    else:
        raise ValueError(op)
    return [list(x) for x in r]


def wrap_cache_accounting(cls, tracer) -> None:
    """Count term lookups that missed the searcher's row / positions
    caches: each miss is a parquet read of that term's rows."""
    rows, positions = cls._rows, cls._positions

    def _rows(self, hashes):
        tracer.counts[f"{tracer.request}|term_reads"] += sum(
            h not in self._row_cache for h in hashes)
        return rows(self, hashes)

    def _positions(self, h):
        tracer.counts[f"{tracer.request}|term_reads"] += h not in self._pos_cache
        return positions(self, h)

    cls._rows, cls._positions = _rows, _positions


def serving_plane(ix, seconds, tracer, q, out) -> None:
    """LocalSearcher over the last index, in this process once its JVM
    has exited, one client: a cold phase of rounds that each open a fresh
    searcher, then (traced runs) a hot phase and a regex phase on one
    warmed searcher."""
    t_setup = time.time()
    import femto_spark.codec as codec
    import femto_spark.query.wand as wand
    import femto_spark.serving as serving
    import pyarrow.dataset as pads

    if tracer.enabled:
        real = pads.dataset
        pads.dataset = lambda *a, **k: CountingDataset(real(*a, **k), tracer)
        tracer.wrap(serving, "decode_postings", "codec.decode")
        tracer.wrap(codec, "decode_positions", "codec.decode")
        tracer.wrap(wand, "wand_topk", "query.wand.wand_topk")
        wrap_cache_accounting(serving.LocalSearcher, tracer)
    s = serving.LocalSearcher(ix)
    for req in q["serve_warm"]:
        serve_request(s, req)
    if tracer.enabled:  # for the hot and regex phases
        for p in q["warm_regex"]:
            s.infix_docs(p)
        for t in q["hot_terms"]:  # the hot working set: rows, scores, positions
            s.search(t)
            s.search_wand(t)
            s.phrase(t)
    out["serve_setup_s"] = time.time() - t_setup

    lat, outputs, cpu = {}, {}, {}

    def timed(name, i, searcher, fn, req):
        tracer.request = f"{name}:{i}"
        rows0 = searcher.vocab_rows_read
        t0 = time.perf_counter()
        with tracer.span(f"serving.{name}"):
            r = fn(req)
        lat[name].append([req[0] if name != "regex" else "infix",
                          (time.perf_counter() - t0) * 1e3,
                          searcher.vocab_rows_read - rows0, i])
        # requests repeat: keep each distinct answer once, so the heap the
        # collector walks does not grow with the run
        seen = outputs[name].setdefault(i, [])
        if r not in seen:
            seen.append(r)

    def phase(name, share, body, min_rounds=1):
        lat[name], outputs[name] = [], {}
        gc.collect()
        c0 = time.process_time()
        n = timed_rounds(seconds * share, body, min_rounds)
        cpu[name] = time.process_time() - c0
        tracer.request = None
        return n

    def hot(i):
        j = i % len(q["serve_hot"])
        timed("hot", j, s, lambda r: serve_request(s, r), q["serve_hot"][j])

    def cold(_round):
        # a fresh searcher: every round asks the same requests of empty caches
        c = serving.LocalSearcher(ix)
        for j, req in enumerate(q["serve_cold"]):
            timed("cold", j, c, lambda r: serve_request(c, r), req)

    def regex(i):
        j = i % len(q["serve_regex"])
        timed("regex", j, s, s.infix_docs, q["serve_regex"][j])

    # at least 1,000 requests a phase, so 10 lie beyond the p99 (run.py)
    n = len(q["serve_cold"]) * phase("cold", COLD_SHARE, cold,
                                     -(-1000 // len(q["serve_cold"])))
    if tracer.enabled:
        n += phase("hot", HOT_SHARE, hot, 1000)
        n += phase("regex", REGEX_SHARE, regex)
    out.update(attempted=n, serve_latencies=lat, cpu_s=cpu, outputs={
        name: [[i, r] for i, rs in got.items() for r in rs] for name, got in outputs.items()
    })


def main() -> None:
    inp, run_dir, seconds, trace = sys.argv[1:5]
    tracer = Tracer(trace == "1")
    with open(os.path.join(inp, "queries.json")) as f:
        q = json.load(f)
    out: dict = {"failed": 0}
    ix = spark_plane(inp, run_dir, float(seconds), tracer, q, out)
    # the Spark plane's outputs wait on disk, so the serving plane runs on
    # a small heap
    with open(os.path.join(run_dir, "spark.json"), "w") as f:
        json.dump(out, f)
    del out
    gc.collect()
    served: dict = {}
    serving_plane(ix, float(seconds), tracer, q, served)
    with open(os.path.join(run_dir, "spark.json")) as f:
        out = json.load(f)
    out["attempted"] += served.pop("attempted")
    out["outputs"].update(served.pop("outputs"))
    out.update(served)
    if tracer.enabled:
        tracer.dump(os.path.join(run_dir, "trace.json"))
        out["spark"] = spark_metrics(os.environ["FEMTO_EVENTLOG_DIR"])
        out["spans"] = tracer.summary()
    out["serving_done"] = time.time()
    with open(os.path.join(run_dir, "out.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
