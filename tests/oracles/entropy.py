"""Entropy oracle: the numpy window folds the JVM Ent kernel (the
entropy leg of sb_scan_all and sb_scan_all_bytes) is pinned
bit-exact against. Both read the program's contribution table
(entropy._ent_table), so only the summation tree is under test.

Reference parity: src/entropy.rs:19-91.
"""

from __future__ import annotations

import numpy as np

from swiftbeaver_spark.entropy import _LEVEL_SPAN, _ent_table


def shannon_entropy(window: np.ndarray) -> float:
    """Shannon entropy of one byte window (reference src/entropy.rs:76-91).
    Table-lookup form so it stays bit-identical to `entropy_all_windows`
    (pytest pins the equality) and to the JVM kernel."""
    counts = np.bincount(window, minlength=256)
    return float(_ent_table(window.size)[counts].sum())


def entropy_all_windows(mat: np.ndarray, window_size: int) -> np.ndarray:
    """Entropy of every row of `mat` (n_windows x window_size uint8):
    one numpy bincount per window, summed over the same fixed 256-entry
    contribution vector as shannon_entropy and the JVM kernel (absent
    symbols add exact +0.0)."""
    t = _ent_table(window_size)
    n_windows = mat.shape[0]
    out = np.empty(n_windows, dtype=np.float64)
    for i in range(n_windows):
        out[i] = t[np.bincount(mat[i], minlength=256)].sum()
    return out


def qualifying_rows(
    start: int, ents: np.ndarray, window_size: int, threshold: float, merged: bool
) -> list[tuple[int, int, float]]:
    """(win_start, win_end, entropy) rows for one chunk's window
    entropies — per-window, or (merged) contiguous qualifying windows
    pre-merged into islands with max entropy (the reference's own
    per-chunk merge, src/entropy.rs:26-73). Pre-merging is associative
    with the downstream distributed gaps-and-islands merge, so regions
    are identical either way; it cuts the merge's input from ~windows
    to ~islands (~100x at stress density — the merge, not the fold,
    dominated the stage wall once the JVM kernel landed).

    Islands additionally split when crossing a level-1 merge-bucket
    boundary (_LEVEL_SPAN windows), so every emitted row pokes at most
    one window past a bucket edge — the escalation invariant
    _merge_level's slack was sized for (single windows had the same
    bound). Without the split, a long island bucketed by its START
    could end deep inside a later bucket whose interior rows never
    escalate, silently splitting a true region at a chunk boundary."""
    w = np.nonzero(ents >= threshold)[0]
    if w.size == 0:
        return []
    if not merged:
        return [
            (
                start + int(i) * window_size,
                start + int(i) * window_size + window_size - 1,
                float(ents[i]),
            )
            for i in w
        ]
    span_bytes = window_size * _LEVEL_SPAN
    abs_start = start + w * window_size
    cuts = (
        np.nonzero((np.diff(w) > 1) | (np.diff(abs_start // span_bytes) != 0))[0] + 1
    )
    rows = []
    for grp in np.split(w, cuts):
        rows.append(
            (
                start + int(grp[0]) * window_size,
                start + int(grp[-1]) * window_size + window_size - 1,
                float(ents[grp].max()),
            )
        )
    return rows



def chunk_windows(
    chunks, window_size: int, threshold: float, merged: bool = False
) -> list[tuple[int, int, float]]:
    """Sorted (win_start, win_end, entropy) rows over collected chunk
    rows (start, valid_length, data): full windows of each chunk's
    owned bytes, as the entropy leg of sb_scan_all_bytes emits them."""
    rows = []
    for start, vlen, data in chunks:
        blob = np.frombuffer(bytes(data)[: int(vlen)], dtype=np.uint8)
        n_windows = blob.size // window_size
        if n_windows == 0:
            continue
        mat = blob[: n_windows * window_size].reshape(n_windows, window_size)
        ents = entropy_all_windows(mat, window_size)
        rows.extend(qualifying_rows(int(start), ents, window_size, threshold, merged))
    return sorted(rows)
