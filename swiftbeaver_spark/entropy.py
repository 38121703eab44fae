"""Entropy detection: windowed Shannon entropy + region merge.

Reference parity: src/entropy.rs:19-91 — non-overlapping windows of
`window_size` bytes, qualifying windows (entropy >= threshold) merged
when contiguous, region keeps max entropy.

Spark design: window entropy is the JVM kernel (java/src/sbspark/
Ent.java — byte histogram + a per-count entropy contribution table),
the entropy leg of the fused scan (fused_scan.py).
Bit-exact parity with numpy is by construction: the contribution table
t[c] = -(c/N * log2(c/N)) is computed HERE with numpy and exported to
the JVM in the spec string (the same export strategy as the strings
kernel's printability table), and the JVM's per-window sum replicates
numpy's pairwise summation tree (the numpy folds it is pinned against
live in tests/oracles/entropy.py). The scan feeding the region merge pre-merges contiguous
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

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from swiftbeaver_spark.config import EngineConfig


@functools.lru_cache(maxsize=8)
def _ent_table(window_size: int) -> np.ndarray:
    """Per-count entropy contribution table: t[c] = -(c/N * log2(c/N))
    for c in 0..N (t[0] = 0 — absent symbols contribute nothing). The
    single source of truth for the JVM kernel, which receives its raw
    IEEE-754 bits in the spec string (`_entropy_spec`), and for the
    numpy oracle folds, which look it up directly — so the per-element
    values are bit-identical by construction and only the summation
    tree needs replicating (numpy pairwise — Ent.pairwiseSum)."""
    c = np.arange(window_size + 1, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        p = c / float(window_size)
        t = -(p * np.log2(p))
    t[0] = 0.0
    return t


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
