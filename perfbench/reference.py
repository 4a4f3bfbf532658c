"""Independent reference: expected results computed from the generated
inputs alone.

Nothing here imports `femto_spark`. The tokenizer is the benchmark's own
restatement of `[a-z0-9]+` over lower-cased text (gen.tokens), BM25 is
restated from its published formula, and the checks compare program
outputs against these results or against properties of them.

    python3 perfbench/reference.py --workload web --seed 7   # compute, cache
    python3 perfbench/reference.py --workload web --seed 7 --self-test
                                        # each check rejects a corrupted output

Expected results are cached per seed and per query under the work dir;
a run computes only the entries it needs and adds them to the cache.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

K1, B = 1.2, 0.75  # BM25 constants of the published formula
# views over more than one table: the index after an append
UNIONS = {"union": ["corpus", "delta"]}
TOP_K = 10


def round6(x):
    """Half-up rounding to 1e-6 with IEEE ops: floor(x * 1e6 + 0.5) / 1e6."""
    return np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5) / 1e6


class CheckError(AssertionError):
    """A program output disagrees with the reference."""


def _fail(what: str, detail) -> None:
    raise CheckError(f"{what}: {detail}")


class View:
    """Token streams and posting lists of a set of documents, as flat
    numpy arrays: G holds every token's term id, doc by doc."""

    def __init__(self, tables, vocab: dict[str, int]):
        texts = [t for tb in tables for t in tb.column("text").to_pylist()]
        toks = [gen.tokens(t) for t in texts]
        self.doc_ids = np.concatenate([tb.column("doc_id").to_numpy() for tb in tables])
        self.n = len(texts)
        self.dl = np.array([len(t) for t in toks], dtype=np.int64)
        self.avgdl = self.dl.sum() / self.n
        self.total_tokens = int(self.dl.sum())
        self.start = np.concatenate(([0], np.cumsum(self.dl))).astype(np.int64)
        for ts in toks:
            for t in ts:
                if t not in vocab:
                    vocab[t] = len(vocab)
        self.G = np.array([vocab[t] for ts in toks for t in ts], dtype=np.int64)
        self.doc_of = np.repeat(np.arange(self.n, dtype=np.int64), self.dl)
        self.streams = [" ".join(ts) for ts in toks]
        # posting lists: (term, doc) pairs with tf, term-major
        key, self.tf = np.unique(self.G * self.n + self.doc_of, return_counts=True)
        self.term, self.doc = key // self.n, key % self.n
        self.V = len(vocab)
        self.off = np.searchsorted(self.term, np.arange(self.V + 1))
        self.df = np.diff(self.off)
        self.cf = np.bincount(self.G, minlength=self.V)

    def docs_of(self, i: int) -> np.ndarray:
        """Row numbers of the docs holding term id i (-1 = absent)."""
        if i < 0 or i >= self.V:
            return np.empty(0, np.int64)
        return self.doc[self.off[i] : self.off[i + 1]]


class Reference:
    """Expected results over the main corpus ("corpus") and over the
    corpus with the append delta ("union"), which every query workload
    searches."""

    def __init__(self, work: str, workload: str, seed: int):
        self.dir = gen.generate(work, workload, seed)
        self.cache_path = os.path.join(self.dir, "expected.json")
        self.cache: dict = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        self._dirty = False
        with open(os.path.join(self.dir, "queries.json")) as f:
            self.queries = json.load(f)
        self.vocab: dict[str, int] = {}
        self._views: dict[str, View] = {}

    def table(self, name: str):
        return pq.read_table(os.path.join(self.dir, name))

    def view(self, which: str = "union") -> View:
        """The documents of one table, or of one of the UNIONS."""
        if which not in self._views:
            # the corpus view first, then the union, so term ids are
            # stable across views
            if which != "corpus":
                self.view("corpus")
            if which not in ("corpus", "union"):
                self.view("union")
            names = UNIONS.get(which, [which])
            self._views[which] = View([self.table(n) for n in names], self.vocab)
        return self._views[which]

    def tid(self, t: str) -> int:
        self.view()
        return self.vocab.get(t, -1)

    def _cached(self, key: str, fn):
        if key not in self.cache:
            self.cache[key] = fn()
            self._dirty = True
        return self.cache[key]

    def save(self) -> None:
        if self._dirty:
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)
            self._dirty = False

    # -- expected results --------------------------------------------------

    def term_stats(self, terms: list[str], which: str = "union") -> dict:
        """term -> [df, cf]; absent terms -> [0, 0]."""
        v = self.view(which)
        out = {}
        for t in terms:
            i = self.tid(t)
            out[t] = [int(v.df[i]), int(v.cf[i])] if 0 <= i < v.V else [0, 0]
        return out

    def all_term_stats(self, which: str) -> dict:
        v = self.view(which)
        return {t: [int(v.df[i]), int(v.cf[i])] for t, i in self.vocab.items()
                if i < v.V and v.df[i] > 0}

    def bm25(self, query: str, mode: str = "or", k: int = TOP_K):
        """[(doc_id, score)] top-k: per-term idf * (num / den) in float64,
        per-doc sum in ascending term order, half-up 1e-6 rounding,
        (score desc, doc_id asc)."""

        def compute():
            v = self.view()
            terms = sorted(set(gen.tokens(query)))
            acc = np.zeros(v.n, dtype=np.float64)
            hit = np.zeros(v.n, dtype=np.int64)
            for t in terms:
                i = self.tid(t)
                d = v.docs_of(i)
                if d.size == 0:
                    continue
                tf = v.tf[v.off[i] : v.off[i + 1]].astype(np.float64)
                idf = math.log(1.0 + (v.n - d.size + 0.5) / (d.size + 0.5))
                dl = v.dl[d].astype(np.float64)
                acc[d] += idf * ((tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / v.avgdl)))
                hit[d] += 1
            docs = np.flatnonzero(hit == len(terms) if mode == "and" else hit > 0)
            sc = round6(acc[docs])
            ids = v.doc_ids[docs]
            order = np.lexsort((ids, -sc))[:k]
            return [[int(ids[o]), float(sc[o])] for o in order]

        return self._cached(f"bm25|{mode}|{k}|{query}", compute)

    def _positions(self, t: str) -> np.ndarray:
        """Positions of term t in the flat token array (sorted)."""
        i = self.tid(t)
        return np.flatnonzero(self.view().G == i) if i >= 0 else np.empty(0, np.int64)

    def phrase(self, query: str):
        """[(doc_id, n_matches, first_pos)] sorted by doc_id."""

        def compute():
            v = self.view()
            terms = gen.tokens(query)
            p = self._positions(terms[0])
            for j, t in enumerate(terms[1:], 1):
                q = p + j
                ok = q < v.G.size
                ok[ok] &= v.G[q[ok]] == self.tid(t)
                ok[ok] &= v.doc_of[q[ok]] == v.doc_of[p[ok]]
                p = p[ok]
            d = v.doc_of[p]
            docs, first, n = np.unique(d, return_index=True, return_counts=True)
            return [[int(v.doc_ids[x]), int(c), int(p[f] - v.start[x])]
                    for x, f, c in zip(docs, first, n)]

        return self._cached(f"phrase|{query}", compute)

    def proximity(self, left: str, right: str, d: int, ordered: bool):
        """[(doc_id, offset)]: THEN 0 < r-l <= d, WITHIN 0 < |r-l| <= d,
        offset = min(l, r), sorted and de-duplicated."""

        def compute():
            v = self.view()
            L = self._positions(gen.tokens(left)[0])
            R = self._positions(gen.tokens(right)[0])

            def right_after(a, b):
                last = v.start[v.doc_of[a] + 1] - 1  # a's doc ends here
                lo = np.searchsorted(b, a + 1)
                hi = np.searchsorted(b, np.minimum(a + d, last), side="right")
                return a[hi > lo]

            hits = right_after(L, R)
            if not ordered:
                hits = np.union1d(hits, right_after(R, L))
            return [[int(v.doc_ids[v.doc_of[g]]), int(g - v.start[v.doc_of[g]])]
                    for g in np.unique(hits)]

        return self._cached(f"prox|{left}|{right}|{d}|{ordered}", compute)

    def _docs_all(self, query: str) -> set[int]:
        """doc_ids holding every term of the query."""
        v = self.view()
        out = None
        for t in sorted(set(gen.tokens(query))):
            s = set(v.doc_ids[v.docs_of(self.tid(t))].tolist())
            out = s if out is None else out & s
        return out or set()

    def boolean(self, op: str, left: str, right: str):
        def compute():
            a, b = self._docs_all(left), self._docs_all(right)
            return sorted({"and": a & b, "or": a | b, "not": a - b}[op])

        return self._cached(f"bool|{op}|{left}|{right}", compute)

    def locate(self, term: str):
        """[(doc_id, pos)] of every occurrence, sorted."""

        def compute():
            v = self.view()
            p = self._positions(gen.tokens(term)[0])
            return [[int(v.doc_ids[v.doc_of[g]]), int(g - v.start[v.doc_of[g]])] for g in p]

        return self._cached(f"locate|{term}", compute)

    def approx(self, probe: str, max_edits: int = 1):
        """Docs holding any term within Levenshtein distance max_edits."""

        def compute():
            import duckdb

            v = self.view()
            terms = [t for t in self.vocab if abs(len(t) - len(probe)) <= max_edits]
            con = duckdb.connect()
            con.execute(f"SET threads TO {os.cpu_count() or 1}")
            hits = con.execute(
                "SELECT t FROM (SELECT unnest(?) AS t) WHERE levenshtein(t, ?) <= ?",
                [terms, probe, max_edits],
            ).fetchall()
            con.close()
            docs: set[int] = set()
            for (t,) in hits:
                docs.update(v.doc_ids[v.docs_of(self.vocab[t])].tolist())
            return sorted(docs)

        return self._cached(f"approx|{probe}|{max_edits}", compute)

    def infix(self, pattern: str):
        """Docs whose space-joined token stream matches re.search(pattern).
        One finditer over the newline-joined streams: no pattern used here
        matches a newline, so each doc with a match yields one."""

        def compute():
            v = self.view()
            if not hasattr(v, "joined"):
                v.joined = "\n".join(v.streams)
                v.line_start = np.cumsum([0] + [len(s) + 1 for s in v.streams[:-1]])
            starts = [m.start() for m in re.finditer(pattern, v.joined)]
            rows = np.unique(np.searchsorted(v.line_start, starts, side="right") - 1)
            return v.doc_ids[rows].tolist()

        return self._cached(f"infix|{pattern}", compute)

    def count(self, query: str):
        """[(term, df, cf)] for the query's distinct terms present."""
        terms = sorted(set(gen.tokens(query)))
        st = self.term_stats(terms)
        return [[t, st[t][0], st[t][1]] for t in terms if st[t][0] > 0]

    # -- checks --------------------------------------------------------------

    def check_topk(self, what: str, got: list, query: str, mode: str = "or", k: int = TOP_K):
        """BM25 top-k as a property: every returned doc's score equals the
        reference score, and no omitted doc outscores the k-th (ties by
        doc_id). With exact scores that pins the list to the reference's."""
        exp = self.bm25(query, mode, k)
        got = [[int(d), float(s)] for d, s in got]
        if len(got) != len(exp):
            _fail(what, f"{query!r}: {len(got)} results, reference has {len(exp)}")
        if got != exp:
            _fail(what, f"{query!r}: got {got} expected {exp}")

    def check_equal(self, what: str, got, exp) -> None:
        if got != exp:
            _fail(what, _first_diff(got, exp))

    def expected_serve(self, op: str, args: list):
        """Expected output of one serving-plane request."""
        if op in ("search", "wand"):
            return self.bm25(args[0], "or")
        if op == "search_and":
            return self.bm25(args[0], "and")
        if op == "phrase":
            return self.phrase(args[0])
        if op == "proximity":
            return self.proximity(*args)
        if op == "count":
            return self.count(args[0])
        raise ValueError(op)


def _first_diff(a, b) -> str:
    if isinstance(a, list) and isinstance(b, list):
        for i, (x, y) in enumerate(zip(a, b)):
            if x != y:
                return f"[{i}] got {x} expected {y}"
        return f"got {len(a)} rows expected {len(b)}"
    if isinstance(a, dict) and isinstance(b, dict):
        for k in sorted(set(a) | set(b)):
            if a.get(k) != b.get(k):
                return f"[{k!r}] got {a.get(k)} expected {b.get(k)}"
    return f"got {a} expected {b}"


def self_test(ref: Reference) -> list[str]:
    """Corrupt each kind of output and show that its check rejects it."""
    q = ref.queries
    report = []

    def expect(accepted: bool, name: str, fn) -> None:
        try:
            fn()
            ok = accepted
        except CheckError:
            ok = not accepted
        if not ok:
            raise RuntimeError(f"self-test: the {name} check {'rejected a true' if accepted else 'accepted a corrupted'} output")
        report.append(f"{'accepted true' if accepted else 'rejected corrupted'} {name}")

    query = next(v for v in q["batch"].values() if len(ref.bm25(v)) == TOP_K)
    good = ref.bm25(query)
    expect(True, "bm25 top-k", lambda: ref.check_topk("bm25", good, query))
    bad = [list(r) for r in good]
    bad[3][1] += 1e-6
    expect(False, "bm25 score", lambda: ref.check_topk("bm25", bad, query))
    longer = ref.bm25(query, k=TOP_K + 1)
    expect(False, "bm25 omitted doc", lambda: ref.check_topk("bm25", good[:-1] + longer[-1:], query))
    swapped = [good[1], good[0]] + good[2:]
    expect(False, "bm25 order", lambda: ref.check_topk("bm25", swapped, query))

    r = q["interactive"][0]
    for name, exp in (
        ("phrase", ref.phrase(r["phrase"])),
        ("proximity", ref.proximity(*r["proximity"])),
        ("locate", ref.locate(r["locate"])),
        ("boolean", ref.boolean(*r["boolean"])),
        ("approx", ref.approx(r["approx"])),
        ("infix", ref.infix(r["infix"])),
    ):
        expect(True, name, lambda: ref.check_equal(name, list(exp), exp))
        corrupted = exp[1:] if exp else [[-1]]
        expect(False, f"{name} (one row off)", lambda: ref.check_equal(name, corrupted, exp))
    stats = ref.all_term_stats("corpus")
    t = next(iter(stats))
    expect(True, "df/cf", lambda: ref.check_equal("df/cf", dict(stats), stats))
    bad_stats = {**stats, t: [stats[t][0], stats[t][1] + 1]}
    expect(False, "df/cf", lambda: ref.check_equal("df/cf", bad_stats, stats))
    total = ref.view("corpus").total_tokens
    expect(False, "token total", lambda: ref.check_equal("sum cf", total - 1, total))
    return report


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(gen.WORKLOADS), default="web")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--work", default=os.path.join(os.getcwd(), ".perfbench_work"))
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    ref = Reference(a.work, a.workload, a.seed)
    if a.self_test:
        for line in self_test(ref):
            print(line)
        return
    q = ref.queries
    for v in q["batch"].values():
        ref.bm25(v)
    for r in q["interactive"]:
        ref.bm25(r["search"])
        ref.phrase(r["phrase"])
        ref.proximity(*r["proximity"])
        ref.boolean(*r["boolean"])
        ref.approx(r["approx"])
        ref.locate(r["locate"])
        ref.infix(r["infix"])
    for phase in ("serve_hot", "serve_cold"):
        for op, *args in q[phase]:
            ref.expected_serve(op, args)
    for p in q["serve_regex"]:
        ref.infix(p)
    ref.save()
    print(f"cached {len(ref.cache)} expected results in {ref.cache_path}")


if __name__ == "__main__":
    main()
