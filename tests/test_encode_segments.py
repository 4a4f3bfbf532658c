"""encode_hit_segments — and the build's stage-2 merge, which re-encodes
through it — must byte-match the single-list encoders per segment
(property-based over random sorted hit streams and random partial runs)."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from femto_spark.codec import (
    encode_hit_segments,
    encode_positions_flat,
    encode_postings,
)


def _reference_rows(h_s, grp_s, doc_s, dl_s, pos_s, with_positions=True, shard_s=None):
    """Naive per-segment encode via the single-list functions; segments
    are (h, grp) runs, or (h, grp, shard) runs when shard_s is given."""
    rows = []
    total = doc_s.size
    seg_change = np.empty(total, dtype=bool)
    seg_change[0] = True
    seg_change[1:] = (h_s[1:] != h_s[:-1]) | (grp_s[1:] != grp_s[:-1])
    if shard_s is not None:
        seg_change[1:] |= shard_s[1:] != shard_s[:-1]
    seg_starts = np.flatnonzero(seg_change)
    seg_ends = np.append(seg_starts[1:], total)
    for lo, hi in zip(seg_starts, seg_ends):
        d = doc_s[lo:hi]
        uniq, u_starts, tfs = np.unique(d, return_index=True, return_counts=True)
        blob, meta = encode_postings(uniq, tfs, dl_s[lo:hi][u_starts])
        pb = encode_positions_flat(pos_s[lo:hi], tfs) if with_positions else b""
        rows.append(
            {
                "term_hash": int(h_s[lo]),
                "grp": int(grp_s[lo]),
                "n": meta["n"],
                "cf": int(tfs.sum()),
                "tf_off": meta["tf_off"],
                "dl_off": meta["dl_off"],
                "block_last_doc": meta["block_last_doc"].tolist(),
                "block_max_tf": meta["block_max_tf"].tolist(),
                "block_min_dl": meta["block_min_dl"].tolist(),
                "block_gap_off": meta["block_gap_off"].tolist(),
                "block_tf_off": meta["block_tf_off"].tolist(),
                "block_dl_off": meta["block_dl_off"].tolist(),
                "postings": blob,
                "positions": pb,
            }
        )
        if shard_s is not None:
            rows[-1]["shard"] = int(shard_s[lo])
    return rows


def _norm(row):
    return {
        k: (
            list(map(int, v))
            if isinstance(v, (list, np.ndarray))
            else v if isinstance(v, bytes) else int(v)
        )
        for k, v in row.items()
    }


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # term id
            st.integers(min_value=0, max_value=600),  # doc id
            st.integers(min_value=1, max_value=4),  # tf
        ),
        min_size=1,
        max_size=200,
    ),
    st.sampled_from([3, 6, 20]),
)
@settings(max_examples=40, deadline=None)
def test_segments_match_reference(hits, shift):
    # expand (term, doc, tf) into sorted hit rows with positions
    expanded = []
    seen = set()
    for t, d, tf in hits:
        if (t, d) in seen:
            continue
        seen.add((t, d))
        for i in range(tf):
            expanded.append((t, d, i * 2))
    expanded.sort()
    h_s = np.array([e[0] for e in expanded], dtype=np.int64)
    doc_s = np.array([e[1] for e in expanded], dtype=np.int64)
    pos_s = np.array([e[2] for e in expanded], dtype=np.int64)
    grp_s = doc_s >> shift
    # dl must be constant per doc
    dl_map = {int(d): int(d % 37 + 1) for d in doc_s}
    dl_s = np.array([dl_map[int(d)] for d in doc_s], dtype=np.int64)

    got = [_norm(r) for r in encode_hit_segments(h_s, grp_s, doc_s, dl_s, pos_s)]
    want = [_norm(r) for r in _reference_rows(h_s, grp_s, doc_s, dl_s, pos_s)]
    assert got == want


def test_segments_no_positions():
    h_s = np.array([1, 1, 2], dtype=np.int64)
    doc_s = np.array([5, 9, 5], dtype=np.int64)
    grp_s = doc_s >> 2
    dl_s = np.array([3, 4, 3], dtype=np.int64)
    pos_s = np.array([0, 1, 2], dtype=np.int64)
    rows = encode_hit_segments(h_s, grp_s, doc_s, dl_s, pos_s, with_positions=False)
    assert all(r["positions"] == b"" for r in rows)


def test_segments_empty():
    e = np.empty(0, dtype=np.int64)
    assert encode_hit_segments(e, e, e, e, e) == []


# term hashes span the int64 range, doc ids go negative
_HASHES = [-(1 << 63), -977, 0, 5, 1 << 40, (1 << 63) - 1]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=len(_HASHES) - 1),  # term
            st.integers(min_value=-60, max_value=60),  # doc id
            st.integers(min_value=1, max_value=4),  # tf
        ),
        min_size=20,
        max_size=150,
    ),
    st.sampled_from([3, 6, 20]),  # range_shift
    st.integers(min_value=1, max_value=4),  # source runs
    st.sampled_from([1, 2, 3, 1 << 18]),  # shard_size
    st.booleans(),  # with_positions
    st.integers(min_value=1, max_value=4),  # partial rows per Arrow batch
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_batch_merge_matches_reference(
    hits, shift, n_runs, shard_size, with_positions, batch_rows, rnd
):
    """Stage 2 (`_make_batch_merge`) over partial runs as stage 1 writes
    them — several runs per (term, grp), groups split across Arrow
    batches, runs of a group in any order — equals a per-(term, grp,
    shard) encode_postings + encode_positions_flat of the whole stream."""
    from femto_spark.index.build import _make_batch_merge

    expanded, seen = [], set()
    for t, d, tf in hits:
        if (t, d) not in seen:
            seen.add((t, d))
            expanded += [(_HASHES[t], d, 3 * i + d % 2) for i in range(tf)]
    expanded.sort()
    h_s, doc_s, pos_s = (np.array(c, dtype=np.int64) for c in zip(*expanded))
    grp_s = doc_s >> shift
    dl_s = doc_s % 37 + 12
    # stage 1: one run per (term, grp) per source batch of docs
    runs = []
    for k in range(n_runs):
        m = doc_s % n_runs == k
        if m.any():
            runs += encode_hit_segments(
                h_s[m], grp_s[m], doc_s[m], dl_s[m], pos_s[m], with_positions
            )
    rnd.shuffle(runs)
    runs.sort(key=lambda r: (r["term_hash"], r["grp"]))
    partials = pd.DataFrame(runs)
    batches = [
        partials.iloc[i : i + batch_rows] for i in range(0, len(partials), batch_rows)
    ]
    got = pd.concat(list(_make_batch_merge(shard_size, 7)(iter(batches))))

    # reference: shard = rank of the doc within its (term, grp) // shard_size
    docs_of, shard_s = {}, []
    for h, g, d in zip(h_s.tolist(), grp_s.tolist(), doc_s.tolist()):
        docs = docs_of.setdefault((h, g), [])
        if not docs or docs[-1] != d:
            docs.append(d)
        shard_s.append((len(docs) - 1) // shard_size)
    shard_s = np.array(shard_s)
    want = _reference_rows(h_s, grp_s, doc_s, dl_s, pos_s, with_positions, shard_s)
    for r in want:
        r["bucket"] = r["term_hash"] % 7
    assert [_norm(r) for r in got.to_dict("records")] == [_norm(r) for r in want]
