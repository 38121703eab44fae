"""Evidence ingest: linear byte space -> chunks DataFrame.

Semantics parity with reference build_chunks (src/chunk.rs:9-35):
- chunk i covers [i*chunk_size, min((i+1)*chunk_size, total))
- each chunk's `data` additionally carries up to `overlap` bytes past its
  valid region (capped at evidence end) so signatures and carve headers
  that straddle a boundary are seen by exactly one owner chunk
- valid_length = min(chunk_size, total - start); hits at
  local_offset >= valid_length are dropped downstream (overlap dedup)

Scale design: chunk *planning* is `spark.range` arithmetic (no driver
loop, no data movement); chunk *bytes* are fetched executor-side in
mapInPandas via positioned reads, so a 100 TB image on shared storage
fans out to as many parallel readers as there are range rows. For
repeated scans, `materialize_chunks` persists the chunk table to
parquet once and every later pass is a plain columnar scan with
partition pruning on `start`.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swiftbeaver_spark import schemas
from swiftbeaver_spark.config import DEFAULT_CHUNK_SIZE, DEFAULT_OVERLAP, EngineConfig

# minimum chunk bytes fetched per task when chunk_size is small; one
# chunk per task whenever chunk_size >= this (see chunks_from_file)
_MIN_TASK_BYTES = 4 * 1024 * 1024


def plan_chunks(
    spark: SparkSession,
    evidence_len: int,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    num_partitions: int | None = None,
) -> DataFrame:
    """Chunk geometry as a DataFrame — pure `range` arithmetic.

    Columns: chunk_id, start, valid_length, read_length (no bytes yet).
    `spark.range` splits the id space into CONTIGUOUS slices per
    partition, so downstream parquet files written from this plan hold
    contiguous evidence runs (a hash repartition here would scatter
    evidence order across files; the chunk-table carve in carve_op.py
    buckets by chunk_id and does not depend on it).
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    n = max(0, math.ceil(evidence_len / chunk_size))
    return (
        spark.range(0, n, 1, num_partitions)
        .select(
            F.col("id").alias("chunk_id"),
            (F.col("id") * chunk_size).alias("start"),
        )
        .withColumn(
            "valid_length",
            F.least(F.lit(chunk_size), F.lit(evidence_len) - F.col("start")),
        )
        .withColumn(
            "read_length",
            F.least(F.lit(chunk_size + overlap), F.lit(evidence_len) - F.col("start")),
        )
    )


def keep_parents(
    plan: DataFrame, cfg: EngineConfig, resume_from: int | None = None
) -> DataFrame:
    """Rows of a chunk or sub-chunk plan whose PARENT chunk (the
    cfg.chunk_size chunk holding `start`) is scanned: parent start <
    cfg.max_bytes, parent id < cfg.max_chunks (the reference's bounded
    reads, src/pipeline/mod.rs:328-416) and parent start >= resume_from
    (the checkpoint watermark: skip chunks already scanned, mod.rs:343-345)."""
    parent = F.floor(F.col("start") / cfg.chunk_size)
    if cfg.max_bytes is not None:
        plan = plan.where(parent * cfg.chunk_size < int(cfg.max_bytes))
    if cfg.max_chunks is not None:
        plan = plan.where(parent < int(cfg.max_chunks))
    if resume_from is not None:
        plan = plan.where(parent * cfg.chunk_size >= int(resume_from))
    return plan


def kept_extent(
    evidence_len: int, cfg: EngineConfig, resume_from: int | None = None
) -> range:
    """Byte range [start, stop) of the parent chunks keep_parents keeps
    over `evidence_len` bytes, as driver-side arithmetic: its len() is
    their summed valid_length (a run's bytes_scanned) and it spans
    ceil(len / chunk_size) chunks (chunks_processed), with no Spark
    job. `stop` is not raised to `start`, so an empty extent still ends
    where the limits cut (scanned_end)."""
    cs = cfg.chunk_size
    if cs <= 0:
        raise ValueError("chunk_size must be positive")
    stop = -(-evidence_len // cs)
    if cfg.max_bytes is not None:
        stop = min(stop, -(-int(cfg.max_bytes) // cs))
    if cfg.max_chunks is not None:
        stop = min(stop, int(cfg.max_chunks))
    start = -(-int(resume_from) // cs) if resume_from else 0
    return range(max(start, 0) * cs, min(max(stop, 0) * cs, evidence_len))


def scanned_end(
    evidence_len: int, cfg: EngineConfig, resume_from: int | None = None
) -> int:
    """End of the last parent chunk keep_parents keeps, clamped to
    `evidence_len` and never below `resume_from`: the checkpoint
    watermark of a run under cfg.max_bytes / cfg.max_chunks, so a
    limit-cut run does not claim evidence it never scanned."""
    return max(kept_extent(evidence_len, cfg, resume_from).stop, resume_from or 0)


def chunks_from_file(
    spark: SparkSession,
    path: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """Evidence file -> chunks DataFrame with bytes fetched executor-side.

    The plan DataFrame is tiny (one row per chunk); bytes never touch the
    driver. Scan limits are chunking.keep_parents over this table.
    """
    from swiftbeaver_spark.source import evidence_length, open_evidence

    total = evidence_length(path)
    hi = math.ceil(total / chunk_size)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        reader = open_evidence(path)
        try:
            for pdf in batches:
                rows = []
                for cid, start, vlen, rlen in zip(
                    pdf["chunk_id"], pdf["start"], pdf["valid_length"], pdf["read_length"]
                ):
                    rows.append(
                        (int(cid), int(start), int(vlen), reader.read_at(int(start), int(rlen)))
                    )
                yield pd.DataFrame(rows, columns=["chunk_id", "start", "valid_length", "data"])
        finally:
            reader.close()

    # Task sizing: at the production 512 MiB chunk size one chunk per
    # task is right (each output row is chunk_size+overlap bytes), but
    # small chunk sizes must NOT fan out to one-task-per-chunk — a
    # 200 MB image at 4 KiB chunks would schedule 50k near-empty tasks
    # and pay pure overhead. Target at least _MIN_TASK_BYTES of chunk
    # bytes per task (the spark.sql.files.maxPartitionBytes idea applied
    # to the arithmetic plan); big chunks keep exactly one per task.
    # Partition count comes from arithmetic, not a count() job — and
    # partitions are CONTIGUOUS id slices straight from spark.range (no
    # hash repartition), so a materialized chunk table's files hold
    # contiguous evidence runs in row order.
    if hi <= 0:
        return spark.createDataFrame([], schemas.CHUNKS)
    n = min(hi, math.ceil(hi * chunk_size / _MIN_TASK_BYTES))
    plan = plan_chunks(spark, total, chunk_size, overlap, n)
    return plan.mapInPandas(fetch, schemas.CHUNKS)


def chunks_from_bytes(
    spark: SparkSession,
    data: bytes,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """In-memory evidence -> chunks DataFrame (test/fixture path)."""
    total = len(data)
    rows = []
    n = max(0, math.ceil(total / chunk_size))
    for cid in range(n):
        start = cid * chunk_size
        rows.append(
            (
                cid,
                start,
                min(chunk_size, total - start),
                data[start : min(start + chunk_size + overlap, total)],
            )
        )
    return spark.createDataFrame(rows, schemas.CHUNKS)


def materialize_chunks(chunks: DataFrame, path: str) -> None:
    """Persist the chunk table for repeated scans (partition pruning on
    `start` ranges replaces re-reading evidence)."""
    chunks.write.mode("overwrite").parquet(path)


def read_chunks(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(schemas.CHUNKS).parquet(path)
