"""Data-layout operators: Z-order (Morton) clustering keys.

At 100 TB the scan cost of a query is decided by LAYOUT: parquet
row-group min/max statistics only prune when rows with nearby values
in the filter columns sit in the same files. Z-ordering interleaves
the bits of several columns into one sort key so that range-sorting
by it co-locates rows that are close in EVERY dimension — the
standard multi-dimensional clustering trick (used by Delta/Iceberg
OPTIMIZE ZORDER; public space-filling-curve literature).

Everything here is closed-form integer bit arithmetic in Catalyst
expressions — whole-stage codegen, no UDF, reproducible in any SQL
engine (the oracle replays it with div/mod arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low `bits` bits of each
    column, column 0 in the least-significant position of each group.
    Inputs must be non-negative integers (pre-bucket real values with
    `F.floor`/`width_bucket`-style binning); values >= 2^bits wrap via
    masking, so callers should bucket into [0, 2^bits).

    len(cols) * bits must be <= 63 (the key is a signed BIGINT).
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed BIGINT")
    key = F.lit(0).cast("long")
    for i in range(bits):
        for c_idx, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit, i * n + c_idx).cast("long")
            )
    return key


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    partition_col: str = "partition",
    path_col: str = "path",
    size_col: str = "size_bytes",
) -> DataFrame:
    """Small-file compaction planner: assign each file of a table
    partition to a rewrite group of ~`target_bytes`, the maintenance
    pass every 100 TB table needs (streaming sinks and incremental
    ingests leave thousands of KB-scale files; scan cost is then
    task-scheduling-bound, not IO-bound).

    Deterministic rolling-sum binning: files order by path inside
    their table partition, and a file joins group
    floor(cumulative_size_before / target) — every group except a
    partition's last lands >= target once it closes, and the plan is
    a pure function of the manifest (replayable in any SQL engine,
    no greedy loop). Output adds (compaction_group, group_seq).

    Scale: ONE window partitioned by the table-partition column —
    manifests are rows-per-FILE (a 100 TB table at 512 MiB files is
    ~200k rows), and no partition's file list funnels through a
    global sort. Skewed partitions (10^6 tiny files in one partition)
    stay a single task's worth of 16-byte rows, not data bytes.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(partition_col)
        .orderBy(path_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(size_col).over(w), F.lit(0).cast("long"))
    seq = Window.partitionBy(partition_col).orderBy(path_col)
    return (
        files.withColumn(
            "compaction_group",
            F.floor(before / F.lit(target_bytes)).cast("long"),
        )
        .withColumn("group_seq", F.row_number().over(seq).cast("long"))
    )


def compaction_summary(plan: DataFrame, partition_col: str = "partition") -> DataFrame:
    """Rewrite-group manifest: one row per (partition, group) with the
    file count and total bytes the rewrite task will read."""
    return plan.groupBy(partition_col, "compaction_group").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("size_bytes").cast("long").alias("group_bytes"),
        F.min("path").alias("first_path"),
        F.max("path").alias("last_path"),
    )


def with_hilbert_key(
    df: DataFrame,
    xc: Column,
    yc: Column,
    bits: int = 8,
    out_col: str = "h",
) -> DataFrame:
    """Hilbert-curve index of a 2-D cell — the space-filling curve with
    strictly better locality than the Morton key above (every unit step
    along the curve is a unit step in the grid; Z-order jumps across
    the plane at quadrant boundaries), which is why Delta's liquid
    clustering moved from Z-order to Hilbert. Public xy2d bit
    algorithm (quadrant fold + rotate), unrolled `bits` times into
    pure Catalyst conditionals — whole-stage codegen, no UDF, and any
    SQL engine replays it with div/mod/CASE arithmetic.

    DataFrame-level (adds `out_col`), not a bare Column: each round's
    (x, y, d) must be MATERIALIZED as named projection columns — a
    single nested Column expression references the previous round's
    x and y several times per round, and the eagerly-built tree grows
    exponentially (bits=8 OOMs the driver). Per-round projections keep
    the plan linear; CollapseProject leaves multiply-referenced
    non-cheap expressions alone, so it stays linear through the
    optimizer too.

    Inputs must lie in [0, 2^bits); bucket first, as with zorder_key.
    """
    n = 1 << bits
    tx, ty, td = "_hk_x", "_hk_y", "_hk_d"
    out = df.withColumns(
        {tx: xc.cast("long"), ty: yc.cast("long"), td: F.lit(0).cast("long")}
    )
    s = n >> 1
    while s > 0:
        x, y, d = F.col(tx), F.col(ty), F.col(td)
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        # (3*rx) XOR ry over {0,1}^2 -> 0,1,3,2 (Gray-coded quadrant)
        quad = (
            F.when((rx == 0) & (ry == 0), F.lit(0))
            .when(rx == 0, F.lit(1))
            .when(ry == 0, F.lit(3))
            .otherwise(F.lit(2))
        )
        # rotate/reflect the quadrant so recursion sees canonical frame
        nx = F.when(ry == 0, F.when(rx == 1, F.lit(n - 1) - y).otherwise(y)).otherwise(x)
        ny = F.when(ry == 0, F.when(rx == 1, F.lit(n - 1) - x).otherwise(x)).otherwise(y)
        out = out.withColumns(
            {tx: nx, ty: ny, td: d + F.lit(s * s) * quad}
        )
        s >>= 1
    return out.withColumn(out_col, F.col(td)).drop(tx, ty, td)
