"""Delta + varint posting-list codec with frame-of-reference blocks.

Spark-native replacement for the reference's succinct-structure compression
(wavelet-tree buckets + gamma-delta doc chunks,
`/root/reference/src/main/wtree.c:85-360`, `src/main/bwt_writer.c:217-319`,
format `src/main/block_format.txt:119-188`). Same function — compressed,
skippable, sorted doc-id runs — re-expressed as LEB128 varints over doc-id
gaps, grouped into fixed-size blocks carrying block-max metadata so the
query side can skip whole blocks (block-max WAND) exactly the way FEMTO's
chunk doc-maps let it skip row ranges (`src/main/server.c:4549`).

Everything here is vectorized numpy — no per-row Python — because it runs
inside Arrow-batched pandas UDFs on the executors (input_hint mandate).

Layout of one encoded postings blob (a `bytes` value per index row):
    [varint doc-gap stream | varint tf stream | varint dl stream]
with entry counts and byte offsets carried OUTSIDE the blob in plain
columns (n_postings, tf_off, dl_off, block_* arrays) so Parquet stats and
column pruning still work on them.

Positions (for THEN/WITHIN proximity) are encoded separately by
``encode_positions`` as [varint within-doc position gaps] with per-posting
counts equal to tf; kept in their own column so non-proximity queries never
read them (column pruning).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # postings per skippable block (FEMTO chunk analogue)

# --------------------------------------------------------------------------
# vectorized LEB128 varint
# --------------------------------------------------------------------------

_THRESHOLDS = np.array([1 << (7 * i) for i in range(1, 10)], dtype=np.uint64)


def varint_encode(values: np.ndarray) -> np.ndarray:
    """Encode a uint64 array as a concatenated LEB128 byte stream.

    Vectorized: the common first byte is written with full-array ops (no
    index gathers — most values are 1-2 bytes for delta gaps), continuation
    bytes use shrinking fancy-indexed passes; byte counts come from ONE
    searchsorted pass instead of nine comparisons.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8)
    nbytes = np.searchsorted(_THRESHOLDS, v, side="right").astype(np.int64) + 1
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    # first byte: full-array fast path
    more = nbytes > 1
    out[starts] = (v & np.uint64(0x7F)).astype(np.uint8) | (
        more.astype(np.uint8) << np.uint8(7)
    )
    alive = np.flatnonzero(more)
    vals = v[alive] >> np.uint64(7)
    nb = nbytes[alive]
    st = starts[alive]
    j = 1
    while alive.size:
        m = nb > (j + 1)
        out[st + j] = (vals & np.uint64(0x7F)).astype(np.uint8) | (
            m.astype(np.uint8) << np.uint8(7)
        )
        keep = np.flatnonzero(m)
        vals = vals[keep] >> np.uint64(7)
        nb = nb[keep]
        st = st[keep]
        alive = keep
        j += 1
    return out


def varint_sizes(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (one searchsorted pass)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    return np.searchsorted(_THRESHOLDS, v, side="right").astype(np.int64) + 1


def varint_decode(buf: np.ndarray, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 byte stream (uint8 array) to uint64 values."""
    b = np.ascontiguousarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    if count is not None:
        ends = ends[:count]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    out = np.zeros(ends.size, dtype=np.uint64)
    maxlen = int(lengths.max())
    data7 = (b & 0x7F).astype(np.uint64)
    for j in range(maxlen):
        mask = lengths > j
        out[mask] |= data7[starts[mask] + j] << np.uint64(7 * j)
    return out


# --------------------------------------------------------------------------
# posting blob: sorted doc_ids (delta) + tfs + dls
# --------------------------------------------------------------------------


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> tuple[bytes, dict]:
    """Encode one term's postings (sorted ascending by doc_id, unique).

    Returns (blob, meta) where meta carries everything the reader and the
    WAND skipper need without touching the blob:
      n, tf_off, dl_off            — counts and section byte offsets
      block_last_doc[]             — last doc_id per block (skip pointer)
      block_off[]                  — byte offset of each block's gap stream
      block_max_tfn[]              — max of tf/(tf + K1*(1-B+B*dl/avgdl))
                                     is computed by the caller (needs avgdl);
                                     here we return per-block max tf and min dl
                                     as the raw ingredients (block_max_tf,
                                     block_min_dl).
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    n = doc_ids.size
    gaps = np.empty(n, dtype=np.uint64)
    if n:
        gaps[0] = np.uint64(doc_ids[0])
        np.subtract(
            doc_ids[1:].astype(np.uint64), doc_ids[:-1].astype(np.uint64), out=gaps[1:]
        )
    gap_bytes = varint_encode(gaps)
    tf_bytes = varint_encode(tfs.astype(np.uint64))
    dl_bytes = varint_encode(dls.astype(np.uint64))
    blob = b"".join(
        (gap_bytes.tobytes(), tf_bytes.tobytes(), dl_bytes.tobytes())
    )

    # per-block metadata: skip pointers + block-max ingredients + byte
    # offsets into each varint section so a block can be decoded without
    # touching the others (the first gap of block i is relative to
    # block_last_doc[i-1], which lives in metadata).
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    block_last_doc = np.empty(nblocks, dtype=np.int64)
    block_max_tf = np.empty(nblocks, dtype=np.int64)
    block_min_dl = np.empty(nblocks, dtype=np.int64)
    for i in range(nblocks):
        lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n)
        block_last_doc[i] = doc_ids[hi - 1]
        block_max_tf[i] = int(tfs[lo:hi].max())
        block_min_dl[i] = int(dls[lo:hi].min())
    bnd = np.arange(nblocks) * BLOCK_SIZE

    def _sect_offs(vals: np.ndarray) -> np.ndarray:
        cs = np.concatenate(([0], np.cumsum(varint_sizes(vals))))
        return cs[bnd]

    meta = {
        "n": int(n),
        "tf_off": int(gap_bytes.size),
        "dl_off": int(gap_bytes.size + tf_bytes.size),
        "block_last_doc": block_last_doc,
        "block_max_tf": block_max_tf,
        "block_min_dl": block_min_dl,
        "block_gap_off": _sect_offs(gaps),
        "block_tf_off": _sect_offs(tfs.astype(np.uint64)),
        "block_dl_off": _sect_offs(dls.astype(np.uint64)),
    }
    return blob, meta


def decode_postings(
    blob: bytes, n: int, tf_off: int, dl_off: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode (doc_ids, tfs, dls) from one blob."""
    buf = np.frombuffer(blob, dtype=np.uint8)
    gaps = varint_decode(buf[:tf_off], n)
    doc_ids = np.cumsum(gaps.astype(np.int64))
    tfs = varint_decode(buf[tf_off:dl_off], n).astype(np.int64)
    dls = varint_decode(buf[dl_off:], n).astype(np.int64)
    return doc_ids, tfs, dls


def decode_postings_blocks(
    blob: bytes,
    n: int,
    tf_off: int,
    dl_off: int,
    block_last_doc: np.ndarray,
    block_gap_off: np.ndarray,
    block_tf_off: np.ndarray,
    block_dl_off: np.ndarray,
    selected: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode ONLY the selected blocks (sorted block indices) — the
    skip-read primitive behind block-max WAND. Consecutive runs of selected
    blocks are decoded in one vectorized varint pass. Returns concatenated
    (doc_ids, tfs, dls) for the selected blocks, in doc_id order."""
    buf = np.frombuffer(blob, dtype=np.uint8)
    nblocks = len(block_last_doc)
    sect = {
        "gap": (np.asarray(block_gap_off), 0, tf_off),
        "tf": (np.asarray(block_tf_off), tf_off, dl_off),
        "dl": (np.asarray(block_dl_off), dl_off, len(blob)),
    }
    sel = np.asarray(selected, dtype=np.int64)
    if sel.size == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    # split into runs of consecutive block indices
    run_breaks = np.flatnonzero(np.diff(sel) != 1) + 1
    runs = np.split(sel, run_breaks)
    docs_out, tfs_out, dls_out = [], [], []
    for run in runs:
        i, j = int(run[0]), int(run[-1]) + 1
        count = min(j * BLOCK_SIZE, n) - i * BLOCK_SIZE

        def _sect_decode(name: str) -> np.ndarray:
            offs, base, end = sect[name]
            lo = base + int(offs[i])
            hi = base + int(offs[j]) if j < nblocks else end
            return varint_decode(buf[lo:hi], count)

        gaps = _sect_decode("gap")
        base_doc = int(block_last_doc[i - 1]) if i > 0 else 0
        docs_out.append(np.cumsum(gaps.astype(np.int64)) + base_doc)
        tfs_out.append(_sect_decode("tf").astype(np.int64))
        dls_out.append(_sect_decode("dl").astype(np.int64))
    return (
        np.concatenate(docs_out),
        np.concatenate(tfs_out),
        np.concatenate(dls_out),
    )


# --------------------------------------------------------------------------
# many-segment encoder (the build's hot path)
# --------------------------------------------------------------------------


def encode_hit_segments(
    h_s: np.ndarray,
    grp_s: np.ndarray,
    doc_s: np.ndarray,
    dl_s: np.ndarray,
    pos_s: np.ndarray,
    with_positions: bool = True,
    shard_s: np.ndarray | None = None,
) -> list[dict]:
    """Encode ALL (term_hash, grp) segments of a sorted hit stream in one
    vectorized pass — the per-segment loop version cost ~1.7 ms/segment
    (×10k segments/batch); here every varint stream, gap computation and
    block statistic is computed globally (ufunc.reduceat over contiguous
    block ranges), and the residual per-segment Python is a handful of
    byte-slices. Output rows carry the same fields/format as
    encode_postings (decoders are shared).

    Inputs are the hit-level arrays sorted by (h, doc, pos); grp must be
    constant within a (h, doc) run (it is doc-derived). With `shard_s`
    (constant within a (h, doc) run, non-decreasing within a (h, grp)
    run) segments are (h, grp, shard) runs instead and each row also
    carries its "shard".
    """
    total = doc_s.size
    if total == 0:
        return []
    seg_change = np.empty(total, dtype=bool)
    seg_change[0] = True
    seg_change[1:] = (h_s[1:] != h_s[:-1]) | (grp_s[1:] != grp_s[:-1])
    if shard_s is not None:
        seg_change[1:] |= shard_s[1:] != shard_s[:-1]
    post_change = seg_change.copy()
    post_change[1:] |= doc_s[1:] != doc_s[:-1]

    post_starts = np.flatnonzero(post_change)  # P postings
    P = post_starts.size
    tf = np.diff(np.append(post_starts, total)).astype(np.int64)
    p_doc = doc_s[post_starts]
    p_dl = dl_s[post_starts]

    seg_hit_start = np.flatnonzero(seg_change)  # S segments
    S = seg_hit_start.size
    seg_hit_end = np.append(seg_hit_start[1:], total)
    seg_post_start = np.searchsorted(post_starts, seg_hit_start)
    seg_post_end = np.append(seg_post_start[1:], P)
    seg_n = seg_post_end - seg_post_start

    # doc-id gaps (first posting of a segment keeps its absolute doc id)
    gaps = p_doc.astype(np.uint64).copy()
    notfirst = np.ones(P, dtype=bool)
    notfirst[seg_post_start] = False
    idx_nf = np.flatnonzero(notfirst)
    gaps[idx_nf] = p_doc[idx_nf].astype(np.uint64) - p_doc[idx_nf - 1].astype(np.uint64)

    gap_bytes = varint_encode(gaps)
    tf_bytes = varint_encode(tf.astype(np.uint64))
    dl_bytes = varint_encode(p_dl.astype(np.uint64))
    gap_cs = np.concatenate(([0], np.cumsum(varint_sizes(gaps))))
    tf_cs = np.concatenate(([0], np.cumsum(varint_sizes(tf.astype(np.uint64)))))
    dl_cs = np.concatenate(([0], np.cumsum(varint_sizes(p_dl.astype(np.uint64)))))

    if with_positions:
        pdeltas = pos_s.astype(np.uint64).copy()
        pnf = np.ones(total, dtype=bool)
        pnf[post_starts] = False
        pidx = np.flatnonzero(pnf)
        pdeltas[pidx] = pos_s[pidx].astype(np.uint64) - pos_s[pidx - 1].astype(np.uint64)
        pos_bytes = varint_encode(pdeltas)
        pos_cs = np.concatenate(([0], np.cumsum(varint_sizes(pdeltas))))

    # blocks: contiguous posting ranges of ≤ BLOCK_SIZE within segments;
    # b_start is globally contiguous, so ufunc.reduceat ranges are exact
    nblocks = (seg_n + BLOCK_SIZE - 1) // BLOCK_SIZE
    tot_blocks = int(nblocks.sum())
    blk_seg = np.repeat(np.arange(S), nblocks)
    blk_cs = np.concatenate(([0], np.cumsum(nblocks)))
    within = np.arange(tot_blocks) - np.repeat(blk_cs[:-1], nblocks)
    b_start = seg_post_start[blk_seg] + within * BLOCK_SIZE
    b_end = np.minimum(b_start + BLOCK_SIZE, seg_post_end[blk_seg])
    blk_last_doc = p_doc[b_end - 1]
    blk_max_tf = np.maximum.reduceat(tf, b_start)
    blk_min_dl = np.minimum.reduceat(p_dl, b_start)
    seg_gap_base = gap_cs[seg_post_start]
    seg_tf_base = tf_cs[seg_post_start]
    seg_dl_base = dl_cs[seg_post_start]
    blk_gap_off = (gap_cs[b_start] - seg_gap_base[blk_seg]).astype(np.int64)
    blk_tf_off = (tf_cs[b_start] - seg_tf_base[blk_seg]).astype(np.int64)
    blk_dl_off = (dl_cs[b_start] - seg_dl_base[blk_seg]).astype(np.int64)

    cf = np.add.reduceat(tf, seg_post_start)

    gb = gap_bytes.tobytes()
    tb = tf_bytes.tobytes()
    db = dl_bytes.tobytes()
    pb = pos_bytes.tobytes() if with_positions else b""

    rows: list[dict] = []
    for s in range(S):
        ps, pe = int(seg_post_start[s]), int(seg_post_end[s])
        g0, g1 = int(gap_cs[ps]), int(gap_cs[pe])
        t0, t1 = int(tf_cs[ps]), int(tf_cs[pe])
        d0, d1 = int(dl_cs[ps]), int(dl_cs[pe])
        bs, be = int(blk_cs[s]), int(blk_cs[s + 1])
        rows.append(
            {
                "term_hash": int(h_s[seg_hit_start[s]]),
                "grp": int(grp_s[seg_hit_start[s]]),
                "n": pe - ps,
                "cf": int(cf[s]),
                "tf_off": g1 - g0,
                "dl_off": (g1 - g0) + (t1 - t0),
                "block_last_doc": blk_last_doc[bs:be].tolist(),
                "block_max_tf": blk_max_tf[bs:be].tolist(),
                "block_min_dl": blk_min_dl[bs:be].tolist(),
                "block_gap_off": blk_gap_off[bs:be].tolist(),
                "block_tf_off": blk_tf_off[bs:be].tolist(),
                "block_dl_off": blk_dl_off[bs:be].tolist(),
                "postings": gb[g0:g1] + tb[t0:t1] + db[d0:d1],
                "positions": (
                    pb[int(pos_cs[seg_hit_start[s]]) : int(pos_cs[seg_hit_end[s]])]
                    if with_positions
                    else b""
                ),
            }
        )
        if shard_s is not None:
            rows[-1]["shard"] = int(shard_s[seg_hit_start[s]])
    return rows


# --------------------------------------------------------------------------
# positions blob (proximity / phrase support)
# --------------------------------------------------------------------------


def encode_positions_flat(flat: np.ndarray, lens: np.ndarray) -> bytes:
    """Encode per-posting sorted position lists as within-doc delta varints.

    `flat` is the concatenation of all postings' position lists; `lens[i]`
    (= tf of posting i) delimits them. Counts are NOT stored — they equal
    each posting's tf, which the reader already has from the postings blob
    (FEMTO similarly derives structure from counts it already stores,
    block_format.txt:119-124). Fully vectorized.
    """
    flat = np.ascontiguousarray(flat, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    if flat.size == 0:
        return b""
    starts = np.cumsum(lens) - lens
    deltas = flat.astype(np.uint64).copy()
    inner = np.ones(flat.size, dtype=bool)
    inner[starts[lens > 0]] = False
    deltas[inner] = flat[inner].astype(np.uint64) - flat[np.flatnonzero(inner) - 1].astype(
        np.uint64
    )
    return varint_encode(deltas).tobytes()


def encode_positions(positions_per_doc: list[np.ndarray]) -> bytes:
    """List-of-arrays convenience wrapper over ``encode_positions_flat``."""
    if not positions_per_doc:
        return b""
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in positions_per_doc])
    lens = np.array([len(p) for p in positions_per_doc], dtype=np.int64)
    return encode_positions_flat(flat, lens)


def decode_positions_select(
    blob: bytes, tfs: np.ndarray, keep: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode positions for SELECTED postings only.

    The blob is a per-posting delta-varint stream with no offset table,
    but varint boundaries are just the bytes with the high bit clear —
    one vectorized compare + flatnonzero over the blob (≈20 ms at 6 MB)
    maps varint index → byte offset. Each posting's first delta is
    absolute (encode_positions_flat), so segments decode independently:
    gather the kept postings' byte ranges and run the normal decoder on
    that (tiny) stream. A doc-filtered consumer (proximity / snippets /
    phrase_limit) therefore pays O(blob bytes scanned once) + O(kept
    positions) instead of fully decoding a hot shard row's millions of
    positions to keep a handful (measured 0.75-3 s → ms at a 5.9 MB row).

    `keep`: sorted posting indices. Returns (flat, starts) aligned with
    `keep` — kept posting j's positions are flat[starts[j] : starts[j] +
    tfs[keep[j]]]."""
    lens_all = np.ascontiguousarray(tfs, dtype=np.int64)
    keep = np.asarray(keep, dtype=np.int64)
    k_lens = lens_all[keep]
    if int(k_lens.sum()) == 0 or len(blob) == 0:
        return np.empty(0, dtype=np.int64), np.cumsum(k_lens) - k_lens
    buf = np.frombuffer(blob, dtype=np.uint8)
    ends = np.flatnonzero(buf < 0x80)  # end byte index of every varint
    first_v = np.cumsum(lens_all) - lens_all  # first varint idx per posting
    s = first_v[keep]
    nzm = k_lens > 0
    s_nz = s[nzm]
    e_nz = s_nz + k_lens[nzm]
    lo = np.where(s_nz == 0, 0, ends[s_nz - 1] + 1)
    hi = ends[e_nz - 1] + 1
    seg = hi - lo
    csum_seg = np.cumsum(seg) - seg
    gather = np.repeat(lo - csum_seg, seg) + np.arange(int(seg.sum()))
    # decode over the non-empty segments only (decode_positions assumes
    # tf ≥ 1); starts are reported for ALL kept postings, zero-length
    # ones pointing at their (empty) offset
    flat, _ = decode_positions(buf[gather].tobytes(), k_lens[nzm])
    return flat, np.cumsum(k_lens) - k_lens


def decode_positions(blob: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode to (flat_positions, starts) where posting i's positions are
    flat_positions[starts[i] : starts[i] + tfs[i]]."""
    total = int(np.sum(tfs))
    if total == 0:
        return np.empty(0, dtype=np.int64), np.zeros(len(tfs), dtype=np.int64)
    buf = np.frombuffer(blob, dtype=np.uint8)
    deltas = varint_decode(buf, total).astype(np.int64)
    lens = np.asarray(tfs, dtype=np.int64)
    starts = np.cumsum(lens) - lens
    # segmented cumsum: global cumsum, then subtract each segment's carry-in
    csum = np.cumsum(deltas)
    carry = np.zeros(total, dtype=np.int64)
    seg_carry = csum[starts] - deltas[starts]  # cumsum before each segment start
    carry[starts] = seg_carry
    np.maximum.accumulate(carry, out=carry)
    flat = csum - carry
    return flat, starts
