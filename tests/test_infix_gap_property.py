"""Property test for the gap-chain evaluator: for EVERY pattern the
grammar accepts (gap chains with guards, multi-token parts, boundary-
exact edges, in-part dots), infix_docs must equal Python `re.search`
over the space-joined token streams — on both planes of the one
query/infix evaluator (the serving plane at full strength, the Spark
plane on a smaller deterministic sample: each Spark pattern runs
jobs). Patterns the engine rejects (ValueError → scan fallback) are
skipped, mirroring tests/test_infix_expand_property.py; anything
accepted is checked exactly. The corpus is adversarial by construction:
very short tokens and docs so position-0 / last-token / single-token-doc
edge cases fire constantly."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

# deterministic tiny-token corpus: 1-3 char tokens over a 4-letter
# alphabet, 1-5 tokens per doc — saturates boundary/guard edge cases
_ALPHA = "abxy"


def _mk_docs():
    import itertools
    import random

    rng = random.Random(42)
    toks = [
        "".join(t)
        for n in (1, 2, 3)
        for t in itertools.product(_ALPHA, repeat=n)
    ]
    docs = []
    for i in range(80):
        docs.append((i, " ".join(rng.choice(toks) for _ in range(rng.randint(1, 5)))))
    # pinned shapes: single-token docs, repeats, exact pairs
    docs += [
        (80, "a"), (81, "ab"), (82, "a b"), (83, "ab ab"),
        (84, "xy ab xy"), (85, "ba ab ba ab"), (86, "x"), (87, "y a b"),
    ]
    return docs


@pytest.fixture(scope="module")
def planes_streams(spark, tmp_path_factory):
    from femto_spark.index import build_index
    from femto_spark.query import SearchEngine
    from femto_spark.serving import LocalSearcher
    from femto_spark.tokenizer import tokenize

    docs = _mk_docs()
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("gapprop") / "ix")
    build_index(spark, corpus, out, n_buckets=2)
    streams = {d: " ".join(tokenize(t)) for d, t in docs}
    eng = SearchEngine(spark, out)
    planes = {
        "serving": LocalSearcher(out).infix_docs,
        "spark": lambda p: [r["doc_id"] for r in eng.infix_docs(p).collect()],
    }
    return planes, streams


def _parts(draw):
    lit = st.text(alphabet=_ALPHA, min_size=1, max_size=3)
    atom = st.one_of(lit, st.just("."), st.just(" "))
    return st.lists(atom, min_size=1, max_size=3).map("".join)


_PATTERNS = st.builds(
    lambda head, parts, gaps, tail: head
    + parts[0]
    + "".join(g + p for g, p in zip(gaps, parts[1:]))
    + tail,
    head=st.sampled_from(["", "", ".*", ".+", ".", "..", "...", "...."]),
    parts=st.lists(_parts(None), min_size=2, max_size=4),
    gaps=st.lists(
        st.sampled_from([".*", ".+", ".{2,}", ".{3,}"]),
        min_size=1,
        max_size=3,
    ),
    tail=st.sampled_from(["", "", ".*", ".+", ".", "..", "...", "...."]),
)


_SETTINGS = {
    "serving": settings(max_examples=250, deadline=None),
    "spark": settings(max_examples=20, deadline=None, derandomize=True),
}


@pytest.mark.parametrize("plane", ["serving", "spark"])
def test_gap_chain_matches_re(planes_streams, plane):
    planes, streams = planes_streams
    infix_docs = planes[plane]

    @_SETTINGS[plane]
    @given(pat=_PATTERNS)
    def check(pat):
        try:
            got = infix_docs(pat)
        except ValueError:
            return  # documented scan fallback — out of scope here
        want = sorted(d for d, s in streams.items() if re.search(pat, s))
        assert got == want, (plane, pat, got[:20], want[:20])

    check()
