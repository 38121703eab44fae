"""Chunk-table run oracle: the tables Engine.run must equal, built from
a cached chunk table instead of the one-pass evidence scan.

chunks_from_file -> keep_parents (scan limits) -> cache ->
scan_all_from_chunks (one sb_scan_all_bytes call per chunk row) ->
carve_hits_with_chunks over the same cached rows. The chunk-table
builders (plan_chunks, chunks_from_file, chunks_from_bytes) live here,
because only tests build chunk tables from evidence; every later step
is a program function, so the differentials in tests/ pin the one-pass
evidence run against an independent scan form (chunk rows, not
sub-chunk positioned reads) and an independent carve form (bucketed
cogroup, not positioned reads). Its run summary comes from the same
cached chunk table (summed valid_length, row count) and one count() per
table, not from the engine's driver-side arithmetic or write_tables.

Chunk geometry is the reference's build_chunks (src/chunk.rs:9-35):
chunk i covers [i*chunk_size, min((i+1)*chunk_size, total)); its `data`
carries up to `overlap` bytes past the valid region (capped at the
evidence end), and valid_length = min(chunk_size, total - start).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from swiftbeaver_spark import chunking
from swiftbeaver_spark.carve_op import carve_hits_with_chunks
from swiftbeaver_spark.config import DEFAULT_CHUNK_SIZE, DEFAULT_OVERLAP, EngineConfig
from swiftbeaver_spark.engine import RunResult
from swiftbeaver_spark.fused_scan import scan_all_from_chunks
from swiftbeaver_spark.source import evidence_length, open_evidence
from swiftbeaver_spark.strings_scan import scan_string_artefacts

# pre-chunked evidence (reference ScanChunk, src/chunk.rs:1-7)
CHUNKS = StructType(
    [
        StructField("chunk_id", LongType(), False),
        StructField("start", LongType(), False),
        StructField("valid_length", LongType(), False),
        StructField("data", BinaryType(), False),
    ]
)

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

    # Task sizing: small chunk sizes must NOT fan out to
    # one-task-per-chunk. Target at least _MIN_TASK_BYTES of chunk bytes
    # per task; big chunks keep exactly one per task. Partitions are
    # CONTIGUOUS id slices straight from spark.range (no hash
    # repartition), so a chunk table written to parquet holds contiguous
    # evidence runs in row order.
    if hi <= 0:
        return spark.createDataFrame([], CHUNKS)
    n = min(hi, math.ceil(hi * chunk_size / _MIN_TASK_BYTES))
    plan = plan_chunks(spark, total, chunk_size, overlap, n)
    return plan.mapInPandas(fetch, CHUNKS)


def chunks_from_bytes(
    spark: SparkSession,
    data: bytes,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """In-memory evidence -> chunks DataFrame, built driver-side."""
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
    return spark.createDataFrame(rows, CHUNKS)


def chunk_run(
    spark: SparkSession, path: str, cfg: EngineConfig, data: bytes | None = None
) -> RunResult:
    """Engine.run's table dict over a cached chunk table. Call
    unpersist() on the result when done (it holds the chunk cache and
    the scan's raw frame). `data` (the bytes of `path`) builds the chunk
    table driver-side with chunks_from_bytes instead of fetching it."""
    chunks = (
        chunks_from_file(spark, path, cfg.chunk_size, cfg.overlap)
        if data is None
        else chunks_from_bytes(spark, data, cfg.chunk_size, cfg.overlap)
    )
    chunks = chunking.keep_parents(chunks, cfg).cache()
    scans = scan_all_from_chunks(chunks, cfg)
    raw = scans["raw"].cache()
    # the last kept parent's end: a limit-cut carve reports over_cap
    # only for bytes the run scanned
    horizon = chunking.scanned_end(evidence_length(path), cfg)
    carved = carve_hits_with_chunks(scans["hits"], chunks, cfg, evidence_len=horizon)
    if cfg.max_files is not None:
        carved = carved.orderBy("global_start").limit(cfg.max_files)
    tables = {"hits": scans["hits"], "carved_files": carved}
    if cfg.enable_string_scan:
        tables["string_spans"] = scans["string_spans"]
        tables["string_artefacts"] = scan_string_artefacts(scans["string_spans"], cfg)
    if cfg.enable_entropy_detection:
        tables["entropy_regions"] = scans["entropy_regions"]
    if any(ft.type_id == "sqlite" for ft in cfg.file_types):
        from swiftbeaver_spark.parsers.browser import browser_tables, parse_carved_dbs

        recovery = cfg.enable_sqlite_page_recovery
        sqlite = carved.where(F.col("file_type") == "sqlite")
        tables.update(browser_tables(parse_carved_dbs(sqlite, path, recovery), recovery))
    scanned, n_chunks = chunks.agg(
        F.coalesce(F.sum("valid_length"), F.lit(0)), F.count("*")
    ).first()
    return RunResult(tables, [raw, chunks], scanned, n_chunks)


def summary_row(result: RunResult) -> dict:
    """The run_summary row `result` must report: its scan counters and
    one count() per table (0 for a string table the run lacks)."""

    def n(name: str) -> int:
        return result[name].count() if name in result.tables else 0

    return {
        "bytes_scanned": result.bytes_scanned,
        "chunks_processed": result.chunks_processed,
        "hits_found": n("hits"),
        "files_carved": n("carved_files"),
        "string_spans": n("string_spans"),
        "artefacts_extracted": n("string_artefacts"),
    }
