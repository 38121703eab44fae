"""One-pass multi-scan over evidence: a single positioned read per
sub-chunk feeds the signature scan, the string-span scan AND the
entropy window scan (java/src/sbspark/ScanAllEvidenceUdf.java) — the
reference's ScanChunk loop, where one buffer feeds every scanner.

This is the evidence-path scan of every `Engine.run(evidence_path=...)`
without `chunk_join`. It avoids both costs of the alternatives: no
evidence byte is read twice (one pass per scan would
be 3x corpus egress against object storage, and 3x re-decompression
on E01), and no chunk BYTES are materialized (the chunk-table strategy,
`Engine.run(chunk_join=True)`, caches them — see the Engine docstring's
heap-economics note). The UDF returns the three stages' METADATA rows
(packed hits, span rows, entropy islands) in one struct, and callers
persist that small frame instead of the bytes.

Rows equal the chunk-table scans over cfg.chunk_size chunks (pinned by
tests/test_fused_scan.py differentials on raw + E01 evidence):

- hits: fresh-state Aho-Corasick over [start, start+vlen+overlap) per
  sub-chunk with ownership dedup (local_offset < valid_length) — the
  parent-geometry chunk scan's own cross-boundary rule, so the union
  over sub-chunks equals scanner.scan_chunks (before the scan-time
  gates, which only drop hits the carver rejects). Reference parity:
  the same scan loop as src/scanner/cpu.rs:40-69.
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

from swiftbeaver_spark.config import (
    EVIDENCE_PARTITION_BYTES,
    SUBCHUNK_GRANULE,
    EngineConfig,
)

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


def scan_all_from_evidence(
    spark,
    path: str,
    cfg: EngineConfig,
    granule: int | None = None,
    max_bytes: int | None = None,
    max_chunks: int | None = None,
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

    `max_bytes`/`max_chunks` truncate the PARENT chunk plan exactly as
    the chunk table does (a parent whose start clears the byte limit is
    included whole), so the derived tables match the limit-filtered
    chunk-table scans row for row.

    With `cfg.enable_string_scan` / `cfg.enable_entropy_detection`
    False the UDF skips that kernel (empty spec line) and the returned
    dict has no span / entropy tables.
    """
    from swiftbeaver_spark.entropy import _entropy_spec, merge_regions
    from swiftbeaver_spark.jvm import ensure_kernel, spec_for
    from swiftbeaver_spark.scanner import (
        MAX_HITS_PER_CHUNK,
        _decode_packed_hits,
        compile_patterns,
        normalize_hits,
        scan_gate_indexes,
    )
    from swiftbeaver_spark.source import evidence_length
    from swiftbeaver_spark.strings_scan import _strings_spec

    ensure_kernel(spark)
    total = evidence_length(path)
    g = min(cfg.chunk_size, granule if granule is not None else SUBCHUNK_GRANULE)
    # entropy windows restart at each parent start (the chunk table's
    # grid); sub-chunks starting at window multiples keep that grid
    align = cfg.entropy_window_size if cfg.enable_entropy_detection else 1
    patterns = compile_patterns(cfg)
    spec = "\n".join(
        [
            str(cfg.overlap),
            spec_for(patterns, MAX_HITS_PER_CHUNK, scan_gate_indexes(cfg)),
            _strings_spec(cfg) if cfg.enable_string_scan else "",
            _entropy_spec(cfg, merged=True) if cfg.enable_entropy_detection else "",
        ]
    )
    plan = subchunk_plan(spark, total, cfg.chunk_size, g, align)
    # parent-chunk limit rules, identical to the chunk table's: it keeps
    # chunks with start < max_bytes / chunk_id < max_chunks, so
    # sub-chunks filter on their PARENT's start/id
    if max_bytes is not None:
        plan = plan.where(
            F.floor(F.col("start") / cfg.chunk_size) * cfg.chunk_size
            < int(max_bytes)
        )
    if max_chunks is not None:
        plan = plan.where(
            F.floor(F.col("start") / cfg.chunk_size) < int(max_chunks)
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
    scan_span = min(total, max_bytes) if max_bytes is not None else total
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

    # hits: sub-chunk rows satisfy the same normalize contract as the
    # chunk-planned scan (local offsets relative to `start`, ownership
    # = valid_length), so decode+normalize are shared verbatim
    hit_cols = raw.select(
        F.floor(F.col("start") / cfg.chunk_size).alias("chunk_id"),
        "start",
        "valid_length",
        F.col("r.hits").alias("hits"),
    )
    hits = normalize_hits(_decode_packed_hits(hit_cols, F.col("hits"), patterns))
    out = {"raw": raw, "hits": hits}
    if cfg.enable_string_scan:
        out["string_spans"] = raw.select(F.inline("r.spans"))
    if cfg.enable_entropy_detection:
        ents = raw.select(F.inline("r.ents"))
        out["entropy_windows"] = ents
        out["entropy_regions"] = merge_regions(ents, cfg.entropy_window_size)
    return out
