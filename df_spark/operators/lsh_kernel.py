"""The numpy verify kernels of the dedup family, pure functions over a
side table of per-doc shingle bitmaps: :func:`band_pairs`, the one LSH
band verify of the MinHash operators, and :func:`gather_popcounts`, the
containment join's. Callers run them on the driver, which holds the
side table, when the stage would be one task, and otherwise in
``mapInArrow`` tasks; :func:`batches` emits the same int64 columns
either way. Numpy temporaries stay near :data:`SLICE_BYTES` per slice
of pairs whatever the bitmap width."""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

# per-byte popcounts as uint8: a lookup is then no larger than the AND
# it reads
POP8 = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1).astype(np.uint8)

# numpy temporaries per slice of pairs
SLICE_BYTES = 1 << 27

# LSH bands over the K minima: lsh_candidate_pairs' default
BANDS = 4


def _slice_pairs(n_words: int, per_pair_bytes: int) -> int:
    """Pairs per slice: two gathered bitmap rows, their AND and its byte
    popcounts (32 B per word) plus ``per_pair_bytes`` of other arrays."""
    return max(1, SLICE_BYTES // (32 * n_words + per_pair_bytes))


def _and_popcount(bitmaps: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """popcount(bitmaps[a] & bitmaps[b]) per pair, as int64."""
    return (
        POP8[(bitmaps[a] & bitmaps[b]).view(np.uint8)]
        .reshape(len(a), -1)
        .sum(axis=1, dtype=np.int64)
    )


def band_pairs(
    ids: np.ndarray, sizes: np.ndarray, bitmaps: np.ndarray, mins: np.ndarray,
    side: np.ndarray | None = None, *, min_jaccard: float, min_est_matches: int,
    part: int = 0, n_parts: int = 1,
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]]:
    """Yield ``(id_a, id_b, inter, tot)`` int64 arrays (``inter`` =
    |a ∩ b|, ``tot`` = |a| + |b|) for every doc pair that shares an LSH
    band bucket, agrees on ≥ ``min_est_matches`` minima and keeps
    ``inter ≥ (min_jaccard − 1e-6)·(tot − inter)`` — a margin past the
    5e-7 a 6-place rounding moves, so the caller's round-then-threshold
    stays authoritative.

    Rows of one side table, ids ascending: set ``sizes``, uint64
    ``bitmaps`` [docs, words] with one bit per distinct shingle hash,
    int64 MinHash ``mins`` [docs, K]. Band ``j`` is minima columns
    ``j·K/BANDS .. (j+1)·K/BANDS``, and a pair comes only from the first
    band it shares. Without ``side`` id_a < id_b; with it (an int64
    label per row) only pairs whose labels differ are kept, id_a the
    higher label. ``part`` of ``n_parts`` picks the buckets one task
    owns, by a hash of their minima. Pairs are numbered bucket-major
    over each bucket's upper triangle and decoded a slice at a time, so
    a bucket larger than a slice is split like many small ones."""
    if len(mins) < 2:
        return
    rpb = mins.shape[1] // BANDS
    raw_floor = float(min_jaccard) - 1e-6
    step = _slice_pairs(bitmaps.shape[1], 8 * (2 * mins.shape[1] + 8))
    for band in range(BANDS):
        sub = mins[:, band * rpb:(band + 1) * rpb]
        order = np.lexsort(sub.T[::-1])
        srt = sub[order]
        brk = np.flatnonzero(np.any(srt[1:] != srt[:-1], axis=1)) + 1
        starts = np.concatenate(([0], brk))
        counts = np.diff(np.concatenate((starts, [len(srt)])))
        # bucket -> part: an FNV-style mix of the band minima; only
        # balance depends on it, never the result
        key = srt[starts].astype(np.uint64)
        hsh = np.full(len(starts), 0xcbf29ce484222325, np.uint64)
        for j in range(rpb):
            hsh = (hsh ^ key[:, j]) * np.uint64(0x100000001b3)
        sel = ((hsh % np.uint64(n_parts)).astype(np.int64) == part) & (counts >= 2)
        sel_starts, sel_counts = starts[sel], counts[sel]
        for sz in np.unique(sel_counts):
            gs = sel_starts[sel_counts == sz]
            per_row = np.arange(sz - 1, 0, -1)
            row_end = np.cumsum(per_row)
            row_start = row_end - per_row
            n_pair = int(row_end[-1])
            total = len(gs) * n_pair
            for c0 in range(0, total, step):
                g, r = np.divmod(np.arange(c0, min(c0 + step, total)), n_pair)
                i = np.searchsorted(row_end, r, side="right")
                A = order[gs[g] + i]
                B = order[gs[g] + i + 1 + r - row_start[i]]
                if side is None:
                    # row order is id order
                    A, B = np.minimum(A, B), np.maximum(A, B)
                else:
                    cross = side[A] != side[B]
                    A, B = A[cross], B[cross]
                    swap = side[A] < side[B]
                    A, B = np.where(swap, B, A), np.where(swap, A, B)
                if band and len(A):
                    # an earlier shared band already emitted this pair
                    dup = np.zeros(len(A), bool)
                    for j in range(band):
                        dup |= (
                            mins[A, j * rpb:(j + 1) * rpb]
                            == mins[B, j * rpb:(j + 1) * rpb]
                        ).all(axis=1)
                    A, B = A[~dup], B[~dup]
                ok = (mins[A] == mins[B]).sum(axis=1) >= min_est_matches
                A, B = A[ok], B[ok]
                if not len(A):
                    continue
                inter = _and_popcount(bitmaps, A, B)
                tot = sizes[A] + sizes[B]
                keep = inter >= raw_floor * (tot - inter)
                if keep.any():
                    yield ids[A[keep]], ids[B[keep]], inter[keep], tot[keep]


def gather_popcounts(ids: np.ndarray, sizes: np.ndarray, bitmaps: np.ndarray,
                     id_a: np.ndarray, id_b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(sizes of a, |a ∩ b|)`` as int64 arrays aligned with the int64
    candidate pairs ``(id_a, id_b)``, from a side table whose ``ids``
    ascend. Raises ValueError when a candidate id is not in the
    table."""
    n_ids = len(ids)
    a = np.searchsorted(ids, id_a)
    b = np.searchsorted(ids, id_b)
    if (
        (a >= n_ids).any() or (b >= n_ids).any()
        or (ids[a.clip(0, n_ids - 1)] != id_a).any()
        or (ids[b.clip(0, n_ids - 1)] != id_b).any()
    ):
        raise ValueError(
            "candidate id missing from the side table — candidates "
            "must come from the same corpus build")
    inter = np.empty(len(id_a), np.int64)
    step = _slice_pairs(bitmaps.shape[1], 64)
    for s0 in range(0, len(id_a), step):
        inter[s0:s0 + step] = _and_popcount(bitmaps, a[s0:s0 + step], b[s0:s0 + step])
    return sizes[a], inter


def batches(names: list[str],
            chunks: Iterable[tuple[np.ndarray, ...]]) -> Iterator[pa.RecordBatch]:
    """One Arrow record batch of int64 columns ``names`` per chunk."""
    for cols in chunks:
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.asarray(c, np.int64), type=pa.int64()) for c in cols],
            names=names)


def table(names: list[str], chunks: Iterable[tuple[np.ndarray, ...]]) -> pa.Table:
    """:func:`batches` as one Arrow table; no chunks give zero rows."""
    return pa.Table.from_batches(
        list(batches(names, chunks)),
        schema=pa.schema([(n, pa.int64()) for n in names]))
