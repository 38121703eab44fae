"""Fused multi-scan: one kernel call feeds the signature scan, the
string-span scan AND the entropy window scan — the reference's
ScanChunk loop, where one buffer feeds every scanner. Two entries share
one table projection:

- `scan_all_from_evidence` (sb_scan_all, ScanAllEvidenceUdf.java): one
  positioned read per evidence sub-chunk — the scan of every
  `Engine.run(evidence_path=...)`. No evidence byte is read twice (one
  pass per scan would be 3x corpus egress against object storage, and
  3x re-decompression on E01), and no chunk BYTES are materialized.
- `scan_all_from_chunks` (sb_scan_all_bytes, ScanAllBytesUdf.java): one
  call per chunk-table row — the chunk-table catalog queries.

Both return the three stages' METADATA rows (packed hits, span rows,
entropy islands) as the struct column `r` of a `raw` frame; callers
persist that small frame instead of the bytes. The evidence rows equal
the chunk-table rows over cfg.chunk_size chunks (pinned by
tests/test_fused_scan.py differentials on raw + E01 evidence):

- hits: fresh-state Aho-Corasick over [start, start+vlen+overlap) per
  sub-chunk with ownership dedup (local_offset < valid_length) — the
  chunk scan's own cross-boundary rule, so the union over sub-chunks
  equals the chunk-table hits (before the scan-time gates, which only
  drop hits the carver rejects). Reference parity: src/scanner/cpu.rs:40-69.
- spans: Strs.scanEvidence, continuation-aware (backward barrier walk,
  forward UTF-8 run extension), so rows stay pinned to cfg.chunk_size
  geometry whatever the sub-chunk tiling.
- ents: Ent.scanEvidence per sub-chunk. Sub-chunks tile each parent at
  an entropy-window multiple (`subchunk_plan`'s `align`), so the window
  grid is the chunk table's by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark.chunking import keep_parents
from swiftbeaver_spark.config import (
    EVIDENCE_PARTITION_BYTES,
    SUBCHUNK_GRANULE,
    EngineConfig,
)
from swiftbeaver_spark.entropy import _entropy_spec, merge_regions
from swiftbeaver_spark.jvm import ensure_kernel, spec_for
from swiftbeaver_spark.parallel import spread
from swiftbeaver_spark.scanner import (
    MAX_HITS_PER_CHUNK,
    compile_patterns,
    decode_hits,
    scan_gate_indexes,
)
from swiftbeaver_spark.strings_scan import _strings_spec

# Evidence bytes per one-pass scan partition (r14): bounds the persisted
# raw frame's per-partition cache block — and the unroll/serialization
# working set of the task building it — independently of corpus size.
# 128 MiB of evidence is ~8 sub-chunk rows per task and at worst (a
# fully-text corpus, span content ~ evidence bytes) a ~150 MiB block:
# small enough that a block under construction is a footnote against
# the storage pool, large enough that a 10 GiB image still packs its
# scan into ~3 task waves at 32 threads.
ONE_PASS_PARTITION_BYTES = EVIDENCE_PARTITION_BYTES


def subchunk_plan(
    spark, total: int, chunk_size: int, granule: int, align: int = 1
) -> DataFrame:
    """Sub-chunks tiling each parent chunk exactly (pure range
    arithmetic): ~granule-sized, their size rounded up to a multiple of
    `align`, with a ragged last sub-chunk, so ownership ranges never
    straddle a parent boundary and every sub-chunk starts at an
    `align` multiple from its parent's start."""
    n_sub = max(1, math.ceil(chunk_size / granule))
    g2 = math.ceil(math.ceil(chunk_size / n_sub) / align) * align
    n_parents = max(0, math.ceil(total / chunk_size))
    ids = spark.range(0, n_parents * n_sub)
    j = F.col("id") % n_sub
    start = F.floor(F.col("id") / n_sub).cast("long") * chunk_size + j * g2
    return (
        ids.select(
            start.alias("start"),
            F.least(
                F.lit(g2), F.lit(chunk_size) - j * g2, F.lit(total) - start
            ).alias("valid_length"),
        )
        .where(F.col("valid_length") > 0)
    )


def _scan_spec(cfg: EngineConfig, ac_spec: str) -> str:
    """The fused kernels' spec: overlap, Aho-Corasick spec, strings spec
    and entropy spec, one per line. An empty line (string scan / entropy
    detection off) skips that scan, so its array comes back empty."""
    return "\n".join(
        [
            str(cfg.overlap),
            ac_spec,
            _strings_spec(cfg) if cfg.enable_string_scan else "",
            _entropy_spec(cfg, merged=True) if cfg.enable_entropy_detection else "",
        ]
    )


def _scan_tables(raw: DataFrame, patterns, cfg: EngineConfig) -> dict[str, DataFrame]:
    """The stage tables both entries derive from their raw frame
    (start, valid_length, r): decoded + overlap-deduped hits, and the
    span / entropy rows of the enabled scans."""
    out = {"raw": raw, "hits": decode_hits(raw, patterns)}
    if cfg.enable_string_scan:
        out["string_spans"] = raw.select(F.inline("r.spans"))
    if cfg.enable_entropy_detection:
        ents = raw.select(F.inline("r.ents"))
        out["entropy_windows"] = ents
        out["entropy_regions"] = merge_regions(ents, cfg.entropy_window_size)
    return out


def scan_all_from_evidence(
    spark,
    path: str,
    cfg: EngineConfig,
    granule: int | None = None,
    resume_from: int | None = None,
) -> dict[str, DataFrame]:
    """Build the one-pass multi-scan frame and its derived stage tables.
    Returns {"raw", "hits", "string_spans", "entropy_windows",
    "entropy_regions"}; `raw` holds one row per sub-chunk with the
    three metadata arrays — PERSIST IT (the caller owns the lifetime)
    before driving more than one derived table, or each table's action
    re-runs the scan:

        tables = scan_all_from_evidence(spark, path, cfg)
        tables["raw"].persist()
        try:
            ... drive tables["hits"] / ["string_spans"] / ...
        finally:
            tables["raw"].unpersist()

    `cfg.max_bytes` / `cfg.max_chunks` and `resume_from` (a checkpoint
    watermark) select PARENT chunks exactly as the chunk table does (a
    parent whose start clears the byte limit is included whole; see
    chunking.keep_parents), so the derived tables match the
    limit-filtered chunk-table scans row for row.

    With `cfg.enable_string_scan` / `cfg.enable_entropy_detection`
    False the UDF skips that kernel (empty spec line) and the returned
    dict has no span / entropy tables.
    """
    from swiftbeaver_spark.source import evidence_length

    ensure_kernel(spark)
    total = evidence_length(path)
    g = min(cfg.chunk_size, granule if granule is not None else SUBCHUNK_GRANULE)
    # entropy windows restart at each parent start (the chunk table's
    # grid); sub-chunks starting at window multiples keep that grid
    align = cfg.entropy_window_size if cfg.enable_entropy_detection else 1
    patterns = compile_patterns(cfg)
    spec = _scan_spec(
        cfg, spec_for(patterns, MAX_HITS_PER_CHUNK, scan_gate_indexes(cfg))
    )
    plan = keep_parents(
        subchunk_plan(spark, total, cfg.chunk_size, g, align), cfg, resume_from
    )
    # Partition count scales with CORPUS SIZE, floored at the thread
    # count (r14): a fixed defaultParallelism split makes each
    # partition's evidence share — and therefore the persisted raw
    # frame's per-partition cache block and its unroll/serialization
    # working set — grow LINEARLY with the corpus (20 GiB at a fixed
    # 32 split = 640 MiB of evidence per block, which OOMed the 8 GiB
    # heap that 10 GiB's 320 MiB blocks survived; BENCH_SCALE_r14).
    # Bounding partitions at ONE_PASS_PARTITION_BYTES of evidence
    # keeps the block size flat no matter the corpus, which is what
    # makes the per-executor memory law size-independent — the same
    # rule a 1000-executor/100 TB run needs, since corpus bytes per
    # executor grow there too.
    scan_span = min(total, cfg.max_bytes) if cfg.max_bytes is not None else total
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        1,
        math.ceil(scan_span / ONE_PASS_PARTITION_BYTES),
    )
    raw = plan.repartition(n_parts).select(
        "start",
        "valid_length",
        F.call_udf(
            "sb_scan_all",
            F.lit(path),
            F.col("start").cast("long"),
            F.col("valid_length").cast("long"),
            F.lit(spec),
        ).alias("r"),
    )
    return _scan_tables(raw, patterns, cfg)


def scan_all_from_chunks(chunks: DataFrame, cfg: EngineConfig) -> dict[str, DataFrame]:
    """Chunk-table rows (start, valid_length, data) -> the same dict as
    scan_all_from_evidence, one sb_scan_all_bytes call per row. PERSIST
    `raw` before driving more than one derived table.

    Each row is its own parent chunk whatever cfg.chunk_size is (runs
    anchor at the row start and truncate at its end; windows tile from
    the row start). The hit spec carries no scan-time gates (they need
    evidence reads past the row): the carver stays the authority.
    Hits-only callers leave the string scan and entropy detection off
    in `cfg`, so the kernel runs the hit scan alone."""
    ensure_kernel(chunks.sparkSession)
    patterns = compile_patterns(cfg)
    spec = _scan_spec(cfg, spec_for(patterns, MAX_HITS_PER_CHUNK))
    if cfg.enable_string_scan or cfg.enable_entropy_detection:
        # the span and entropy scans cost per byte: spread a chunk table
        # that arrived in fewer partitions than the cluster has slots
        # (a no-op at scale)
        chunks = spread(chunks)
    raw = chunks.select(
        "start",
        "valid_length",
        F.call_udf(
            "sb_scan_all_bytes",
            F.col("data"),
            F.col("start").cast("long"),
            F.col("valid_length").cast("long"),
            F.lit(spec),
        ).alias("r"),
    )
    return _scan_tables(raw, patterns, cfg)
