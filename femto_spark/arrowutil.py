"""Arrow-stream helpers shared by build stages and vectorized operators.

A repartitioned, sortWithinPartitions stream processed with mapInPandas
costs one Python/Arrow round-trip per PARTITION instead of
applyInPandas' per-GROUP exchange (which dominates when groups are small
and numerous). `whole_group_batches` is the one place that cuts such a
stream into whole groups, carrying a group split across Arrow batches
into the next batch: the index merge consumes its batches whole (one
vectorized pass per batch), `stream_groups` calls a function per group
(the block-pair GEMM in embedding_neardup_pairs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def whole_group_batches(batches, key_cols: list[str]):
    """Yield (pdf, starts) from a batch stream sorted by `key_cols`: pdf
    holds only whole groups (a trailing group is carried into the next
    batch) and `starts` are the row offsets where its groups begin."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        n = len(pdf)
        if n == 0:
            continue
        change = np.zeros(n, dtype=bool)
        for c in key_cols:
            v = pdf[c].to_numpy()
            change[1:] |= v[1:] != v[:-1]
        change[0] = True
        starts = np.flatnonzero(change)
        last = int(starts[-1])
        carry = pdf.iloc[last:]
        if last:
            yield pdf.iloc[:last], starts[:-1]
    if carry is not None:
        yield carry, np.zeros(1, dtype=np.int64)


def stream_groups(batches, key_cols: list[str], process):
    """Yield process(group_pdf) for each contiguous group of `key_cols` in
    a sorted batch stream, carrying partial groups across Arrow batches."""
    for pdf, starts in whole_group_batches(batches, key_cols):
        bounds = np.append(starts, len(pdf))
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            out = process(pdf.iloc[lo:hi])
            if out is not None:
                yield out
