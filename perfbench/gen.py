"""Seeded input generation for the benchmark.

Everything a workload feeds the program comes from here and from the
workload name and seed alone: the corpus, the held-out append delta and
every query list. Nothing is read from `femto_spark`, so a change to the
program cannot change its inputs.

Corpus make-up (README.md gives the measured numbers):
  * pseudo-word web text: words are built from consonant-vowel syllables,
    a few carry digits, and term frequencies follow a Zipf law;
  * document lengths are log-uniform over an order of magnitude;
  * a minority of documents is non-`en`: some of their words carry an
    accented vowel, which the `[a-z0-9]+` tokenizer treats as a separator;
  * sentence starts are capitalized, a few words are upper-cased and
    punctuation is sprinkled in, so the text is not its own token stream.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The workloads differ in document length at about the same token count:
# (main corpus docs, shortest and longest doc in words, log-uniform).
# "short" has five times the documents, so posting lists are longer and
# each posting carries fewer positions.
WORKLOADS = {"web": (1_200, 24, 480), "short": (6_000, 6, 60)}
N_WORDS = 3_500  # candidate vocabulary
ZIPF_S = 1.1
NON_EN_SHARE = 0.15

BATCH_QUERIES = 100  # search_many / search_many_wand batch
INTERACTIVE_ROUNDS = 20  # pool of Spark interactive rounds (7 ops each)
SERVE_POOL = 4000  # requests in the hot pool
COLD_POOL = 250  # requests in one cold round; each round opens a fresh searcher
HOT_SET = 160  # hot working set (ranks 20-179): below the 256-term positions LRU
QUERY_SEED = 20260101
WARM_SET = 200  # terms the serving warm-up touches (kept out of cold)

_TOKEN = re.compile(r"[a-z0-9]+")
_CONS = "bcdfghjklmnprstvz"
_VOW = "aeiou"
_ACCENT = {"a": "à", "e": "é", "o": "ö", "u": "ü", "i": "ï"}
SERVE_OPS = ("search", "search_and", "wand", "phrase", "proximity", "count")
# requests cycle through this fixed mix, so every run times the same share
# of each op; `search` twice, so the phase median falls inside one op's
# latency distribution instead of in the gap between two ops
SERVE_MIX = ("search", "wand", "search_and", "phrase", "search", "proximity", "count")


def tokens(text: str) -> list[str]:
    """The benchmark's own restatement of the `[a-z0-9]+` tokenizer."""
    return _TOKEN.findall(text.lower())


def _candidates(rng: np.random.Generator, n_words: int) -> list[str]:
    syl = np.array([c + v for c in _CONS for v in _VOW], dtype=object)
    cons = np.array(list(_CONS), dtype=object)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n_words:
        m = n_words
        n = rng.integers(1, 5, m)
        parts = syl[rng.integers(0, len(syl), (m, 4))]
        r = rng.random(m)
        tail = np.where(
            r < 0.3,
            cons[rng.integers(0, len(cons), m)],
            np.where(r < 0.33, rng.integers(0, 100, m).astype(str).astype(object), ""),
        )
        for k in range(m):
            w = "".join(parts[k, : n[k]]) + tail[k]
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n_words:
                    break
    return out


def _words(rng: np.random.Generator) -> list[str]:
    """N_WORDS distinct words in rank order (rank 0 = most frequent). The
    seed picks the letters; the length of the word at each rank comes from
    one fixed generator, so every seed's text has about the same bytes."""
    shape = [len(w) for w in _candidates(np.random.default_rng(QUERY_SEED), N_WORDS)]
    by_len: dict[int, list[str]] = {}
    for w in _candidates(rng, 2 * N_WORDS):
        by_len.setdefault(len(w), []).append(w)
    out = []
    for n in shape:
        # the nearest length with a word left (the pool is twice the need)
        n = min((k for k in by_len if by_len[k]), key=lambda k: (abs(k - n), k))
        out.append(by_len[n].pop())
    return out


def _render(rng, words: np.ndarray, ids: np.ndarray, lang: str) -> str:
    """Word ids -> display text: capitalized sentence starts, punctuation,
    and (non-en) accented vowels that split a word into two tokens."""
    toks = words[ids].tolist()
    if lang != "en":
        for j in np.flatnonzero(rng.random(len(toks)) < 0.2):
            w = toks[j]
            for k, ch in enumerate(w):
                if ch in _ACCENT and 0 < k < len(w) - 1:
                    toks[j] = w[:k] + _ACCENT[ch] + w[k + 1 :]
                    break
    e = rng.random(len(toks))
    period = np.flatnonzero(e < 0.06)
    for j in np.flatnonzero((e >= 0.10) & (e < 0.105)):
        toks[j] = toks[j].upper()
    for j in [0, *(period[period + 1 < len(toks)] + 1).tolist()]:
        toks[j] = toks[j][:1].upper() + toks[j][1:]
    for j in period:
        toks[j] += "."
    for j in np.flatnonzero((e >= 0.06) & (e < 0.10)):
        toks[j] += ","
    return " ".join(toks)


def _corpus(rng, words: np.ndarray, cdf: np.ndarray, n: int, first_id: int, lo: int, hi: int):
    lens = np.exp(rng.uniform(np.log(lo), np.log(hi), n))
    # the same token count for every seed: n times the law's mean length
    lens = np.maximum(1, np.round(lens * (n * (hi - lo) / np.log(hi / lo)) / lens.sum()))
    lens = lens.astype(np.int64)
    langs = np.where(
        rng.random(n) < NON_EN_SHARE, rng.choice(np.array(["de", "fr", "es"]), n), "en"
    )
    texts = [
        _render(rng, words, np.searchsorted(cdf, rng.random(int(L))), str(g))
        for L, g in zip(lens, langs)
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([str(g) for g in langs], pa.string()),
        }
    )


def _queries(rng, docs_toks: list[list[str]]) -> dict:
    """Every query list, drawn from the corpus' own token statistics."""
    cf = Counter(itertools.chain.from_iterable(docs_toks))
    vocab = sorted(cf, key=lambda t: (-cf[t], t))  # rank 0 = most frequent
    rank = {t: i for i, t in enumerate(vocab)}
    V = len(vocab)
    MID = (V // 20, V // 3)  # mid-frequency ranks

    def pick(lo, hi, n=1):
        return [vocab[int(i)] for i in rng.integers(lo, min(hi, V), n)]

    def mixed_query():
        # 1-4 terms, hot, mid and tail ranks mixed
        tiers = [(0, 50), (50, V // 20), (V // 20, V // 2), (V // 2, V)]
        out = []
        for _ in range(int(rng.integers(1, 5))):
            lo, hi = tiers[int(rng.choice(4, p=[0.15, 0.4, 0.3, 0.15]))]
            out += pick(lo, hi)
        return " ".join(out)

    def adjacent(lo, hi, n_words=2, allowed=None):
        """n consecutive tokens of some doc, each of rank in [lo, hi)."""
        for _ in range(100_000):
            ts = docs_toks[int(rng.integers(0, len(docs_toks)))]
            if len(ts) <= n_words:
                continue
            i = int(rng.integers(0, len(ts) - n_words))
            span = ts[i : i + n_words]
            if all(lo <= rank[t] < hi for t in span) and (
                allowed is None or all(t in allowed for t in span)
            ):
                return span
        raise RuntimeError("no adjacent span found")

    def mid_infix():
        """A literal pattern (in-token or across a token boundary, maybe
        with one '.') that only mid-frequency terms match: patterns on
        the hottest terms take seconds to minutes each."""
        for _ in range(100_000):
            if rng.random() < 0.5:
                w = pick(*MID)[0]
                if len(w) < 6:
                    continue
                i = int(rng.integers(0, len(w) - 4))
                pat = w[i : i + int(rng.integers(4, 7))]
            else:
                a, b = adjacent(*MID)
                if len(a) < 3 or len(b) < 3:
                    continue
                pat = a[-int(rng.integers(2, len(a))) :] + " " + b[: int(rng.integers(2, len(b)))]
            if rng.random() < 0.3:
                j = int(rng.integers(0, len(pat)))
                if pat[j] != " ":
                    pat = pat[:j] + "." + pat[j + 1 :]
            frags = [f for f in re.split(r"[ .]", pat) if f]
            if max(map(len, frags)) >= 3 and not any(
                f in t for f in frags for t in vocab[: MID[0]]
            ):
                return pat
        raise RuntimeError("no infix pattern found")

    def interactive_round():
        l, r = adjacent(50, V // 3)
        return {
            "search": mixed_query(),
            "phrase": " ".join(adjacent(20, V // 3, int(rng.integers(2, 4)))),
            "proximity": [l, r, int(rng.integers(1, 6)), bool(rng.random() < 0.5)],
            "boolean": [
                str(rng.choice(["and", "or", "not"])),
                " ".join(pick(20, V // 5)),
                " ".join(pick(20, V // 5)),
            ],
            "approx": pick(*MID)[0],
            "locate": pick(200, V // 5)[0],
            "infix": mid_infix(),
        }

    # serving term sets: hot (a working set within every default cache),
    # warm-up, and cold: a rank^-0.5-weighted draw WITHOUT replacement
    # from the rest, consumed in order, so a cold round keeps asking for
    # terms its searcher has not read yet, common ones first
    hot = vocab[20 : 20 + HOT_SET]
    hot_set = set(hot)
    free = np.array([t not in hot_set for t in vocab])
    w = 1.0 / np.sqrt(np.arange(1, V + 1, dtype=np.float64))
    order = rng.choice(np.flatnonzero(free), int(free.sum()), replace=False,
                       p=w[free] / w[free].sum())
    warm_terms = [vocab[i] for i in order[:WARM_SET]]
    cold_terms = [vocab[i] for i in order[WARM_SET:]]

    def serve_pool(terms: list[str], n: int, fresh: bool) -> list:
        """n requests over `terms`: drawn at random, or (fresh) taken in
        order so that no term repeats until the list is used up."""
        seq = itertools.cycle(terms)

        def take(k):
            if fresh:
                return [next(seq) for _ in range(k)]
            return [terms[int(i)] for i in rng.integers(0, len(terms), k)]

        reqs = []
        for j in range(n):
            op = SERVE_MIX[j % len(SERVE_MIX)]
            if op == "phrase":
                reqs.append([op, " ".join(adjacent(0, V, 2, set(terms)))])
            elif op == "proximity":
                a, b = take(2)
                reqs.append([op, a, b, int(rng.integers(1, 9)), bool(rng.random() < 0.5)])
            else:
                reqs.append([op, " ".join(take(int(rng.integers(1, 4))))])
        return reqs

    return {
        "batch": {f"q{i:04d}": mixed_query() for i in range(BATCH_QUERIES)},
        "interactive": [interactive_round() for _ in range(INTERACTIVE_ROUNDS)],
        "hot_terms": hot,
        "serve_hot": serve_pool(hot, SERVE_POOL, fresh=False),
        "serve_warm": serve_pool(warm_terms, 60, fresh=False),
        "serve_cold": serve_pool(cold_terms, COLD_POOL, fresh=True),
        "serve_regex": [mid_infix() for _ in range(600)],
        "warm_regex": [mid_infix() for _ in range(4)],
    }


def _code_version() -> str:
    """A digest of the files that make inputs and expected results, so a
    changed generator or reference never reads a stale cache."""
    h = hashlib.sha1()
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("gen.py", "reference.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def generate(work: str, workload: str, seed: int) -> str:
    """Write every input of (workload, seed) under the work dir; a second
    call finds them there."""
    out = os.path.join(work, "inputs", f"{workload}-seed-{seed}-{_code_version()}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    words = np.array(_words(rng), dtype=object)
    cdf = np.cumsum(1.0 / np.arange(1, N_WORDS + 1, dtype=np.float64) ** ZIPF_S)
    cdf /= cdf[-1]
    n, lo, hi = WORKLOADS[workload]
    corpus = _corpus(rng, words, cdf, n, 0, lo, hi)
    delta = _corpus(rng, words, cdf, n // 10, n, lo, hi)  # the held-out append
    tables = {"corpus": corpus, "delta": delta}
    for name, t in tables.items():
        # four files, so Spark reads each table in parallel
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // 4)
        for i in range(4):
            pq.write_table(t.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))
    docs_toks = [tokens(t) for t in corpus.column("text").to_pylist()]
    with open(os.path.join(out, "queries.json"), "w") as f:
        # queries pick ranks with one generator shared by every seed: each
        # seed asks for the same rank profile, so runs differ in the words
        # and text only, not in how much work a query list is
        json.dump(_queries(np.random.default_rng(QUERY_SEED), docs_toks), f)
    open(os.path.join(out, "DONE"), "w").close()
    return out
