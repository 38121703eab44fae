"""Signature scan: chunks -> hits (the engine's core filter operator).

Reference parity: CPU multi-pattern scan (src/scanner/cpu.rs:40-69,
memchr-skip per pattern) + hit normalization & overlap dedup
(src/pipeline/workers.rs:136-155).

Spark design: one JVM Aho-Corasick pass per chunk (java/src/sbspark/
Ac.java, sb_scan_bytes) finds ALL occurrences of every configured
header pattern — overlapping matches and multiple patterns at one
offset included, the same output as the reference's per-pattern memchr
scan — and returns packed hit longs, so chunk bytes never cross into
Python. Decoding, normalization + overlap dedup stay DataFrame-native
(explode + projection + filter) so Catalyst sees them.

Scale: scanning is embarrassingly parallel per chunk; no shuffle is
introduced — the only data movement is the (tiny) hits output. The
per-chunk hit cap mirrors the reference's gpu_max_hits_per_chunk
backstop against pathological inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark.config import EngineConfig

MAX_HITS_PER_CHUNK = 1_000_000  # reference gpu_max_hits_per_chunk default


def compile_patterns(cfg: EngineConfig) -> list[tuple[bytes, str, str]]:
    """(pattern_bytes, pattern_id, file_type_id) triples. Distinct byte
    strings may map to several types (e.g. RIFF -> webp/wav/avi), exactly
    like the reference's per-type pattern lists."""
    out = []
    for ft in cfg.file_types:
        for pat in ft.header_patterns:
            out.append((pat.bytes, pat.pattern_id, ft.type_id))
    return out


def mp3_gate_indexes(cfg: EngineConfig) -> list[int]:
    """compile_patterns indices of mp3 bare-sync patterns (FF Ex frame
    sync — 11 effective bits, so ~10k false hits/GiB on random or
    text-dense evidence for a handful of real files). ID3v2-headed
    patterns are never gated (the tag itself validates)."""
    idx, out = 0, []
    for ft in cfg.file_types:
        for pat in ft.header_patterns:
            if ft.validator == "mp3" and pat.bytes[:1] == b"\xff":
                out.append(idx)
            idx += 1
    return out


def scan_gate_indexes(cfg: EngineConfig) -> dict[str, list[int]]:
    """Scan-time hit-validation assignments for the one-pass evidence
    scan: {spec tag: [compile_patterns indices]}. Loose signatures
    (mp3's 11-bit sync, bmp's 2-byte "BM", ico's low-entropy type
    words) emit thousands of false hits per GiB that exist only to be
    rejected by the handler's first header reads — each gate hoists a
    PREFIX of its carver's own rejection cascade to hit time
    (ScanGates.java), so those rows are never shipped, shuffled or
    Python-crossed. A gate drops a hit only when the evidence bytes
    prove the carver would return None, so carved output is identical
    with gates on or off (pytest-pinned). Chunk-table scans
    (scan_chunks) have no evidence reader for the lookahead and stay
    unfiltered — the carver remains the authority there."""
    gates: dict[str, list[int]] = {"m3": mp3_gate_indexes(cfg)}
    ic = []
    idx = 0
    for ft in cfg.file_types:
        for _pat in ft.header_patterns:
            if ft.validator == "bmp":
                # r14: the tag carries the type's min_size (`bm@200`) so
                # the gate can also hoist finalize()'s min-size rejection
                # — carved size = min(declared, max_size, EOF-clamp) can
                # only SHRINK the declared file_size, so declared <
                # min_size proves finalize would return None
                # (carvers/base.py:219). Distinct min_sizes get distinct
                # sections; Ac.java stores the param per pattern.
                tag = f"bm@{ft.min_size}" if ft.min_size > 0 else "bm"
                gates.setdefault(tag, []).append(idx)
            elif ft.validator == "ico":
                ic.append(idx)
            idx += 1
    gates["ic"] = ic
    return {tag: idxs for tag, idxs in gates.items() if idxs}


def _decode_packed_hits(plan_cols: DataFrame, hits_col, patterns) -> DataFrame:
    """Packed (off<<16|idx) longs -> raw hit rows (chunk_id, start,
    valid_length, local_offset, pattern_id, file_type_id), entirely in
    Catalyst (explode + shift/mask + literal-array lookups)."""
    pids = F.array(*[F.lit(pid) for _, pid, _ in patterns])
    ftids = F.array(*[F.lit(ftid) for _, _, ftid in patterns])
    packed = F.explode(hits_col).alias("packed")
    exploded = plan_cols.select("chunk_id", "start", "valid_length", packed)
    idx = F.col("packed").bitwiseAND(F.lit(0xFFFF)).cast("int")
    return exploded.select(
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start"),
        F.col("valid_length").cast("long").alias("valid_length"),
        F.shiftright("packed", 16).cast("long").alias("local_offset"),
        F.element_at(pids, idx + F.lit(1)).alias("pattern_id"),
        F.element_at(ftids, idx + F.lit(1)).alias("file_type_id"),
    )


def scan_chunks(chunks: DataFrame, cfg: EngineConfig) -> DataFrame:
    """chunks(chunk_id, start, valid_length, data) -> raw hits: one
    Aho-Corasick pass per chunk inside the executor JVM — no Python
    workers, no Arrow transfer of chunk bytes."""
    from swiftbeaver_spark.jvm import ensure_kernel, spec_for

    ensure_kernel(chunks.sparkSession)
    patterns = compile_patterns(cfg)
    spec = spec_for(patterns, MAX_HITS_PER_CHUNK)
    hits = F.call_udf("sb_scan_bytes", F.col("data"), F.lit(spec))
    return _decode_packed_hits(chunks, hits, patterns)


def normalize_hits(raw_hits: DataFrame) -> DataFrame:
    """Overlap dedup + globalization: drop hits whose local offset falls in
    the overlap tail (owned by the next chunk), project to global offsets.
    Pure projection+filter — fully Catalyst-visible."""
    return (
        raw_hits.where(F.col("local_offset") < F.col("valid_length"))
        .select(
            (F.col("start") + F.col("local_offset")).alias("global_offset"),
            F.col("file_type_id"),
            F.col("pattern_id"),
        )
    )


def scan_and_normalize(chunks: DataFrame, cfg: EngineConfig) -> DataFrame:
    return normalize_hits(scan_chunks(chunks, cfg))
