"""Chunk-table run oracle: the tables Engine.run must equal, built from
a cached chunk table instead of the one-pass evidence scan.

chunks_from_file -> keep_parents (scan limits) -> cache ->
scan_all_from_chunks (one sb_scan_all_bytes call per chunk row) ->
carve_hits_with_chunks over the same cached rows. Every step is a
public program function; only the composition lives here, so the
differentials in tests/ pin the one-pass evidence run against an
independent scan form (chunk rows, not sub-chunk positioned reads) and
an independent carve form (bucketed cogroup, not positioned reads).
Its run summary comes from the same cached chunk table (summed
valid_length, row count) and one count() per table, not from the
engine's driver-side arithmetic or write_tables.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from swiftbeaver_spark import chunking
from swiftbeaver_spark.carve_op import carve_hits_with_chunks
from swiftbeaver_spark.config import EngineConfig
from swiftbeaver_spark.engine import RunResult
from swiftbeaver_spark.fused_scan import scan_all_from_chunks
from swiftbeaver_spark.source import evidence_length
from swiftbeaver_spark.strings_scan import scan_string_artefacts


def chunk_run(
    spark: SparkSession, path: str, cfg: EngineConfig, data: bytes | None = None
) -> RunResult:
    """Engine.run's table dict over a cached chunk table. Call
    unpersist() on the result when done (it holds the chunk cache and
    the scan's raw frame). `data` (the bytes of `path`) builds the chunk
    table driver-side with chunks_from_bytes instead of fetching it."""
    chunks = (
        chunking.chunks_from_file(spark, path, cfg.chunk_size, cfg.overlap)
        if data is None
        else chunking.chunks_from_bytes(spark, data, cfg.chunk_size, cfg.overlap)
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
