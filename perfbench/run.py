"""femto_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload web --seed 1 --seconds 6 --trace 0

Workloads: web, short (README.md says what each stresses and why).
Every run drives the whole pipeline: build, append, Spark batch and
interactive queries, then the serving plane over the same index. The
last line of standard output is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones.

Run from the repository root. Inputs and reference results are generated
from the workload and seed and cached under .perfbench_work/; the
measured work runs in a child process (child.py), so set-up is timed from
a cold start and every process the run starts can be stopped as a group.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = os.cpu_count() or 1
CHILD_TIMEOUT_S = 165


def _child_env(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    eventlog = os.path.join(run_dir, "eventlog")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, eventlog, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_LOCAL_DIRS=local,
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_DRIVER_MEM="2g",
        FEMTO_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        FEMTO_EVENTLOG="true" if trace else "false",
        FEMTO_EVENTLOG_DIR=eventlog,
        TMPDIR=tmp,
        # one BLAS thread per Python worker: nproc workers, nproc threads
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.eventLog.compress=false "
            "--conf 'spark.driver.extraJavaOptions="
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    return env


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of the child's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(inp: str, run_dir: str, seconds: int, trace: bool):
    """Start child.py; returns (its out.json, wall time it was started)."""
    env = _child_env(run_dir, trace)
    cmd = [sys.executable, os.path.join(HERE, "child.py"), inp, run_dir,
           str(seconds), "1" if trace else "0"]
    t_spawn = time.time()
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                            stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"workload process failed (exit {rc})")
    with open(os.path.join(run_dir, "out.json")) as f:
        return json.load(f), t_spawn


def tail_ms(ms: list, p: int) -> float:
    """The p-th percentile; refused unless at least 10 samples lie beyond it."""
    import numpy as np

    if len(ms) * (100 - p) < 1000:
        raise RuntimeError(f"{len(ms)} samples: too few for p{p}")
    return float(np.percentile(ms, p))


# -- correctness -----------------------------------------------------------------


def check(ref, out: dict) -> None:
    """Raise reference.CheckError on the first wrong output."""
    o = out["outputs"]
    q = ref.queries
    for tables, got in o["index"]:  # the warm-up, then each timed round
        which = "union" if tables == ["corpus", "delta"] else tables[0]
        key = "+".join(tables)
        v = ref.view(which)
        # conserved totals: Σcf in termstats = Σdl in docs = tokens
        ref.check_equal(f"index of {key}: Σcf", got["sum_cf"], v.total_tokens)
        ref.check_equal(f"index of {key}: Σdl", got["sum_dl"], v.total_tokens)
        ref.check_equal(f"index of {key}: n_docs", got["n_docs"], v.n)
        ref.check_equal(f"index of {key}: df/cf", got["stats"], ref.all_term_stats(which))
    # the Spark query phases run in traced runs only
    b = o.get("batch")
    for qid, query in q["batch"].items() if b else ():
        ref.check_topk("search_many", b["exact"].get(qid, []), query)
        ref.check_equal(f"search_many_wand {qid}", b["wand"].get(qid, []),
                        b["exact"].get(qid, []))
    for k, name, got in o.get("interactive", ()):
        r = q["interactive"][k]
        if name == "search":
            ref.check_topk("search", got, r["search"])
            continue
        exp = {
            "phrase": lambda: ref.phrase(r["phrase"]),
            "proximity": lambda: ref.proximity(*r["proximity"]),
            "boolean": lambda: ref.boolean(*r["boolean"]),
            "approx": lambda: ref.approx(r["approx"]),
            "locate": lambda: ref.locate(r["locate"]),
            "infix": lambda: ref.infix(r["infix"]),
        }[name]()
        ref.check_equal(f"{name} {r[name]!r}", got, exp)
    for phase in ("hot", "cold"):  # each distinct answer to each request
        pool = q[f"serve_{phase}"]
        for i, got in o.get(phase, ()):
            op, *args = pool[i]
            if op in ("search", "search_and", "wand"):
                ref.check_topk(f"serve {phase} {op}", got, args[0],
                               "and" if op == "search_and" else "or")
            else:
                ref.check_equal(f"serve {phase} {op} {args}", got,
                                ref.expected_serve(op, args))
    for i, got in o.get("regex", ()):
        p = q["serve_regex"][i]
        ref.check_equal(f"serve infix {p!r}", got, ref.infix(p))


# -- metrics ---------------------------------------------------------------------


def end_to_end(ref, out: dict, setup_s: float) -> dict:
    rounds = out["build_rounds"]
    text_bytes = sum(
        len(t.encode("utf-8")) for t in ref.table("corpus").column("text").to_pylist()
    )
    build_s = median(r["build_s"] for r in rounds)
    append_s = median(r["append_s"] for r in rounds)
    m = {
        "setup_s": (setup_s, "s"),
        "build_docs_per_s": (ref.view("corpus").n / build_s, "docs/s"),
        "append_docs_per_s": (ref.table("delta").num_rows / append_s, "docs/s"),
        "index_bytes_per_text_byte": (rounds[-1]["total_bytes"] / text_bytes, "ratio"),
    }
    m["serve_cold_p50_ms"] = (median(x[1] for x in out["serve_latencies"]["cold"]), "ms")
    return m


def per_layer(ref, out: dict) -> dict:
    import gen

    rounds = out["build_rounds"]
    n_rounds = len(rounds)
    m: dict = {
        "engine.batch_queries_per_s": (
            2 * gen.BATCH_QUERIES / (out["exact_s"] + out["wand_s"]), "queries/s"),
        # the mean over whole rounds of the 7 ops: one round is too few
        # samples for a steady median
        "engine.query_mean_ms": (
            sum(ms for _, ms in out["spark_latencies"]) / len(out["spark_latencies"]), "ms"),
    }
    sp = out["spark"]
    spans = out["spans"]["spans"]
    counts = out["spans"]["counts"]

    def spark(group: str, name: str, keys, per: int = 1) -> None:
        """The job group's totals, per timed round when per > 1."""
        g = sp.get(f"perfbench:{group}", {})
        for k in keys:
            unit = "s" if k.endswith("_s") else "count" if k in ("jobs", "tasks") else "bytes"
            m[f"spark.{name}.{k}"] = (g.get(k, 0.0) / per, unit)

    def stage(report: str, st: str) -> float:
        return median(r[report].get(st, 0.0) for r in rounds)

    for st in ("docs", "vocab", "partials", "index", "termstats"):
        m[f"build.stage.{st}_s"] = (stage("build_report", st), "s")
    spark("timed:build", "build", ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                             "python_bytes_sent", "shuffle_write_bytes", "spill_bytes"),
          n_rounds)
    for k, v in rounds[-1]["layout"].items():
        m[f"index.bytes.{k}"] = (v, "bytes")
    for st in ("index", "termstats"):
        m[f"append.stage.{st}_s"] = (stage("append_report", st), "s")
    # the new docs' encode + append, before the re-merge the report times
    m["append.stage.encode_s"] = (
        median(r["append_s"] - sum(r["append_report"].values()) for r in rounds), "s")
    spark("timed:append", "append", ("tasks", "executor_run_s", "shuffle_write_bytes"),
          n_rounds)
    by_op: dict = {}
    for name, ms in out["spark_latencies"]:
        by_op.setdefault(name, []).append(ms)
    for name in ("search", "phrase", "proximity", "boolean", "approx", "locate", "infix"):
        m[f"engine.{name}_ms"] = (median(by_op[name]), "ms")
    inter = [v for g, v in sp.items() if g.startswith("perfbench:interactive:")]
    n = len(out["spark_latencies"])
    m["engine.jobs_per_query"] = (sum(v.get("jobs", 0) for v in inter) / n, "count")
    m["engine.tasks_per_query"] = (sum(v.get("tasks", 0) for v in inter) / n, "count")
    m["engine.batch_exact_s"] = (out["exact_s"], "s")
    m["engine.batch_wand_s"] = (out["wand_s"], "s")
    spark("batch", "batch", ("tasks", "input_bytes", "shuffle_read_bytes"))
    lat = out["serve_latencies"]
    # the tails and the hot latencies spread too far between runs for a
    # bound (README.md), so they are reported here
    hot, cold = ([x[1] for x in lat[p]] for p in ("hot", "cold"))
    m["serving.hot.p50_ms"] = (median(hot), "ms")
    m["serving.hot.p99_ms"] = (tail_ms(hot, 99), "ms")
    m["serving.cold.p95_ms"] = (tail_ms(cold, 95), "ms")
    m["serving.cold.p99_ms"] = (tail_ms(cold, 99), "ms")
    t = sum(spans.get(f"query.wand.wand_topk|{p}", (0.0, 0))[0] for p in ("hot", "cold"))
    c = sum(spans.get(f"query.wand.wand_topk|{p}", (0.0, 0))[1] for p in ("hot", "cold"))
    m["wand.topk_ms"] = (1e3 * t / max(c, 1), "ms")
    reg = lat["regex"]
    m["serving.regex.infix_ms"] = (median([x[1] for x in reg]), "ms")
    m["serving.regex.vocab_rows_read"] = (sum(x[2] for x in reg) / len(reg), "rows")
    for phase in ("hot", "cold"):
        rows = lat[phase]
        nq = len(rows)
        for op in gen.SERVE_OPS:
            ms = [x[1] for x in rows if x[0] == op]
            m[f"serving.{phase}.{op}_ms"] = (median(ms), "ms")
        m[f"serving.{phase}.cpu_ms_per_query"] = (1e3 * out["cpu_s"][phase] / nq, "ms")
        t, c = spans.get(f"storage.read|{phase}", (0.0, 0))
        m[f"serving.{phase}.reads_per_query"] = (c / nq, "count")
        m[f"serving.{phase}.read_ms_per_query"] = (1e3 * t / nq, "ms")
        t, _ = spans.get(f"codec.decode|{phase}", (0.0, 0))
        m[f"codec.{phase}.decode_ms_per_query"] = (1e3 * t / nq, "ms")
        # base: the distinct query terms present in the index, over the
        # requests that touch posting data (count reads term stats only)
        pool = ref.queries[f"serve_{phase}"]
        per_request: dict = {}
        for *_, i in rows:
            if i not in per_request:
                op, *args = pool[i]
                text = " ".join(args[:2]) if op == "proximity" else args[0]
                terms = sorted(set(gen.tokens(text)))
                per_request[i] = 0 if op == "count" else sum(
                    1 for x in ref.term_stats(terms).values() if x[0] > 0)
        lookups = sum(per_request[i] for *_, i in rows)
        reads = counts.get(f"{phase}|term_reads", 0)
        m[f"serving.{phase}.cache_hit_ratio"] = (1 - reads / max(lookups, 1), "ratio")
    return m


def main() -> int:
    import gen

    # a terminated run still stops its workload process group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    ap = argparse.ArgumentParser(description="femto_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "femto_spark")):
        print(f"femto_spark not found under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    from reference import CheckError, Reference

    ref = Reference(WORK, a.workload, a.seed)  # generates the inputs once
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out, t_spawn = run_child(ref.dir, run_dir, a.seconds, bool(a.trace))
        setup_s = (out["warmup_done"] - t_spawn) + out["serve_setup_s"]
        marks = ("spark_up", "warmup_done", "timed_done", "spark_down", "serving_done")
        print(f"{len(out['build_rounds'])} timed build rounds; seconds since start: "
              + ", ".join(f"{k} {out[k] - t_spawn:.1f}" for k in marks), file=sys.stderr)
        correct = True
        try:
            check(ref, out)
        except CheckError as e:
            print(f"WRONG OUTPUT: {e}", file=sys.stderr)
            correct = False
        e2e = end_to_end(ref, out, setup_s)
        if a.trace:
            metrics = per_layer(ref, out)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(WORK, "traces", f"{a.workload}-s{a.seed}.json"))
            # the traced run's own end-to-end figures, for the overhead
            print("traced end-to-end: " + json.dumps({k: v for k, (v, _u) in e2e.items()}),
                  file=sys.stderr)
        else:
            metrics = e2e
        ref.save()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
