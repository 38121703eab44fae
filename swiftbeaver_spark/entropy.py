"""Entropy detection: windowed Shannon entropy + region merge.

Reference parity: src/entropy.rs:19-91 — non-overlapping windows of
`window_size` bytes, qualifying windows (entropy >= threshold) merged
when contiguous, region keeps max entropy.

Spark design: window entropy dispatches to the JVM kernel
(java/src/sbspark/Ent.java — byte histogram + a per-count entropy
contribution table, round 11) when the kernel jar registers, with the
numpy bincount fold below as the pinned fallback
(SPARK_GRAFT_NO_VEC_KERNEL=1 forces it). Bit-exact parity is by
construction: the contribution table t[c] = -(c/N * log2(c/N)) is
computed HERE with numpy and exported to the JVM in the spec string
(the same export strategy as the strings kernel's printability table),
and the JVM's per-window sum replicates numpy's pairwise summation
tree. The scan feeding the region merge pre-merges contiguous
qualifying windows into per-chunk islands (the reference's own
per-chunk merge, src/entropy.rs:26-73, split at merge-bucket
boundaries to preserve the escalation invariant), so the distributed
merge's input is ~islands, not ~windows. The merge itself is the
classic gaps-and-islands pattern in pure DataFrame ops (lag ->
boundary flag -> running sum as region id -> groupBy). The merge
therefore works ACROSS chunk boundaries, which the reference's
per-chunk merge cannot do — same results on all reference fixtures,
strictly better on regions straddling a chunk edge.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from swiftbeaver_spark.config import EngineConfig
from swiftbeaver_spark.parallel import spread

WINDOW_SCHEMA = StructType(
    [
        StructField("win_start", LongType(), False),
        StructField("win_end", LongType(), False),
        StructField("entropy", DoubleType(), False),
    ]
)


@functools.lru_cache(maxsize=8)
def _ent_table(window_size: int) -> np.ndarray:
    """Per-count entropy contribution table: t[c] = -(c/N * log2(c/N))
    for c in 0..N (t[0] = 0 — absent symbols contribute nothing). The
    single source of truth for BOTH kernels: the Python folds below
    look it up directly, the JVM kernel receives its raw IEEE-754 bits
    in the spec string (`_entropy_spec`), so the per-element values are
    bit-identical by construction and only the summation tree needs
    replicating (numpy pairwise — Ent.pairwiseSum)."""
    c = np.arange(window_size + 1, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        p = c / float(window_size)
        t = -(p * np.log2(p))
    t[0] = 0.0
    return t


def shannon_entropy(window: np.ndarray) -> float:
    """Shannon entropy of one byte window (reference src/entropy.rs:76-91).
    Table-lookup form so it stays bit-identical to `_entropy_all_windows`
    (pytest pins the equality) and to the JVM kernel."""
    counts = np.bincount(window, minlength=256)
    return float(_ent_table(window.size)[counts].sum())


def _entropy_all_windows(mat: np.ndarray, window_size: int) -> np.ndarray:
    """Entropy of every row of `mat` (n_windows x window_size uint8) —
    the per-window numpy bincount fold of the chunk-table scan (the
    pinned fallback below the JVM kernel).

    Deliberately a Python loop over windows: the per-window bincount IS
    the C-speed kernel, and the "vectorize all windows at once" form
    (bincount over (window_idx << 8 | byte) keys) was MEASURED SLOWER
    at every window size — 64 B: 9.6 s vs 7.7 s, 4 KiB: 0.6 s vs 0.2 s
    per 64 MiB — because key-building doubles memory traffic. The
    batched form also allocated up to 16x the chunk bytes in integer
    temporaries (an executor OOM at the production 512 MiB chunk), so
    the simple loop wins on both axes. O(window_size) working set per
    iteration. The round-11 table-lookup form (vs the earlier
    mask+divide+log2 per window) drops the per-window transcendental
    work and keeps the fold bit-identical to shannon_entropy and the
    JVM kernel (the sum runs over the same fixed 256-entry contribution
    vector — absent symbols add exact +0.0)."""
    t = _ent_table(window_size)
    n_windows = mat.shape[0]
    out = np.empty(n_windows, dtype=np.float64)
    for i in range(n_windows):
        out[i] = t[np.bincount(mat[i], minlength=256)].sum()
    return out


def _entropy_spec(cfg: EngineConfig, merged: bool) -> str:
    """JVM kernel spec (see java/src/sbspark/Ent.java):
    'windowSize;threshold;merged;span;tableBits' — tableBits is the
    contribution table as (N+1) x 16 hex chars of raw Double bits,
    exported FROM numpy so per-element parity cannot drift with JVM
    libm versions; merged=1 pre-merges contiguous qualifying windows
    into islands inside the kernel; span exports _LEVEL_SPAN so the
    island split grid cannot desync from the distributed merge."""
    t = _ent_table(cfg.entropy_window_size)
    bits = "".join(f"{b:016x}" for b in t.view(np.uint64))
    return (
        f"{cfg.entropy_window_size};{float(cfg.entropy_threshold)!r};"
        f"{1 if merged else 0};{_LEVEL_SPAN};{bits}"
    )


def _qualifying_rows(
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


def entropy_windows(
    chunks: DataFrame, cfg: EngineConfig, merged: bool = False
) -> DataFrame:
    """Per-chunk full windows with entropy >= threshold (merged=True:
    per-chunk islands of contiguous qualifying windows — what
    entropy_regions feeds the distributed merge).

    Dispatches to the JVM entropy kernel when it registers into this
    session (chunk bytes never cross into Python; see Ent.java); the
    numpy mapInPandas fold below is the pinned fallback
    (SPARK_GRAFT_NO_VEC_KERNEL=1 forces it)."""
    from swiftbeaver_spark.jvm import vec_kernel_active

    window_size = cfg.entropy_window_size
    threshold = cfg.entropy_threshold
    if vec_kernel_active(chunks.sparkSession):
        rows = F.call_udf(
            "sb_entropy_bytes",
            F.col("data"),
            F.col("start").cast("long"),
            F.col("valid_length").cast("long"),
            F.lit(_entropy_spec(cfg, merged)),
        )
        return spread(chunks).select(F.inline(rows))
    # spread across cores when the chunk source arrives in fewer input
    # splits than the cluster has slots; a no-op at scale where splits
    # >> cores
    chunks = spread(chunks)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for start, vlen, data in zip(pdf["start"], pdf["valid_length"], pdf["data"]):
                blob = np.frombuffer(bytes(data)[: int(vlen)], dtype=np.uint8)
                n_windows = blob.size // window_size
                if n_windows == 0:
                    continue
                mat = blob[: n_windows * window_size].reshape(n_windows, window_size)
                ents = _entropy_all_windows(mat, window_size)
                rows.extend(
                    _qualifying_rows(int(start), ents, window_size, threshold, merged)
                )
            yield pd.DataFrame(rows, columns=["win_start", "win_end", "entropy"])

    return chunks.mapInPandas(scan, WINDOW_SCHEMA)


def _merge_level(df: DataFrame, span: int, slack: int) -> tuple[DataFrame, DataFrame]:
    """One bucketed gaps-and-islands pass: merge contiguous rows WITHIN
    span-aligned buckets (distributed — the window partitions by bucket),
    split the result into interior islands (final regions) and
    bucket-edge islands (may continue into a neighbor bucket; escalate
    to the next level). Input/output rows: (start, end, entropy).

    `slack` (>= one entropy window) widens the edge test: window grids
    are chunk-relative, so an island can stop within a window of the
    bucket edge — or poke past it — and still continue in the neighbor
    bucket. Exact-edge equality silently split such regions."""
    bucketed = df.withColumn("bucket", F.floor(F.col("start") / span))
    w = Window.partitionBy("bucket").orderBy("start")
    flagged = bucketed.withColumn("prev_end", F.lag("end").over(w)).withColumn(
        "new_region",
        F.when(
            F.col("prev_end").isNull() | (F.col("start") > F.col("prev_end") + 1), 1
        ).otherwise(0),
    )
    islands = (
        flagged.withColumn(
            "region_id",
            F.sum("new_region").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("bucket", "region_id")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.max("entropy").alias("entropy"),
        )
    )
    boundary = (F.col("start") < F.col("bucket") * span + slack) | (
        F.col("end") >= (F.col("bucket") + 1) * span - slack
    )
    done = islands.where(~boundary).select("start", "end", "entropy")
    escalated = islands.where(boundary).select("start", "end", "entropy")
    return done, escalated


# windows per level-1 bucket; level 2 buckets are LEVEL_SPAN^2 windows.
# At 4 KiB windows: level 1 = 16 MiB buckets, level 2 = 64 GiB buckets,
# so even a fully-qualifying 100 TB image leaves only ~2 rows per 64 GiB
# for the final stitch (~3k rows) instead of 2.4e10 through one task.
_LEVEL_SPAN = 4096


def merge_regions(windows: DataFrame, window_size: int) -> DataFrame:
    """Two-level distributed gaps-and-islands merge + tiny final stitch
    (SURVEY §2.2; replaces the round-1 global single-partition window).

    Level 1 merges within window_size*4096 buckets, level 2 within
    4096x larger buckets; only islands touching a bucket edge escalate
    (<= 2 per bucket), so each level shrinks the row count by ~span.
    The final global window sees O(total / span^2) rows."""
    cur = windows.select(
        F.col("win_start").alias("start"), F.col("win_end").alias("end"), "entropy"
    )
    finals = []
    span = window_size * _LEVEL_SPAN
    for _ in range(2):
        done, cur = _merge_level(cur, span, slack=window_size)
        finals.append(done)
        span *= _LEVEL_SPAN

    # final stitch: O(total/span^2) boundary islands through one window
    w = Window.orderBy("start")
    flagged = cur.withColumn("prev_end", F.lag("end").over(w)).withColumn(
        "new_region",
        F.when(
            F.col("prev_end").isNull() | (F.col("start") > F.col("prev_end") + 1), 1
        ).otherwise(0),
    )
    stitched = (
        flagged.withColumn(
            "region_id",
            F.sum("new_region").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("region_id")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.max("entropy").alias("entropy"),
        )
        .select("start", "end", "entropy")
    )
    merged = finals[0].unionByName(finals[1]).unionByName(stitched)
    return merged.select(
        F.col("start").alias("global_start"),
        F.col("end").alias("global_end"),
        "entropy",
        F.lit(window_size).cast("long").alias("window_size"),
    )


def entropy_regions(chunks: DataFrame, cfg: EngineConfig) -> DataFrame:
    # merged=True: the scan emits per-chunk islands, so the distributed
    # merge sees ~islands instead of ~windows (identical regions)
    return merge_regions(
        entropy_windows(chunks, cfg, merged=True), cfg.entropy_window_size
    )
