"""Chunk-plan arithmetic: which parent chunks a run scans.

Chunk geometry is the reference's build_chunks (src/chunk.rs:9-35):
chunk i covers [i*chunk_size, min((i+1)*chunk_size, total)), and
valid_length = min(chunk_size, total - start). A run scans the parent
chunks its limits keep (cfg.max_bytes, cfg.max_chunks) from its resume
watermark on (src/pipeline/mod.rs:328-416):

- `keep_parents` filters a chunk or sub-chunk plan DataFrame to them
  (the one-pass scan's sub-chunk plan, fused_scan.py);
- `kept_extent` is their byte range as driver-side arithmetic, the
  run summary's bytes_scanned / chunks_processed (engine.py);
- `scanned_end` is the checkpoint watermark a limit-cut run writes
  (the CLI's resume file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark.config import EngineConfig


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
