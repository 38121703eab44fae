"""Signature scan: packed kernel hits -> hit rows (the engine's core
filter operator).

Reference parity: CPU multi-pattern scan (src/scanner/cpu.rs:40-69,
memchr-skip per pattern) + hit normalization & overlap dedup
(src/pipeline/workers.rs:136-155).

Spark design: the hit leg of the fused kernels (fused_scan.py —
java/src/sbspark/Ac.java inside sb_scan_all / sb_scan_all_bytes) runs
ONE Aho-Corasick pass per scanned row and finds ALL occurrences of
every configured header pattern — overlapping matches and multiple
patterns at one offset included, the same output as the reference's
per-pattern memchr scan — returning packed hit longs, so evidence bytes
never cross into Python. Decoding, normalization + overlap dedup stay
DataFrame-native (explode + projection + filter) so Catalyst sees them.

Scale: scanning is embarrassingly parallel per row; no shuffle is
introduced — the only data movement is the (tiny) hits output. The
per-row hit cap mirrors the reference's gpu_max_hits_per_chunk
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
    (fused_scan.scan_all_from_chunks) have no evidence reader for the
    lookahead and stay unfiltered — the carver remains the authority
    there."""
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


def decode_hits(raw: DataFrame, patterns) -> DataFrame:
    """Packed (off<<16|idx) longs of a fused scan frame (start,
    valid_length, r.hits) -> hit rows (global_offset, file_type_id,
    pattern_id), entirely in Catalyst: explode + shift/mask +
    literal-array lookups, then the overlap dedup as a plain Filter —
    a hit whose local offset falls in the overlap tail is owned by the
    next row and dropped — and globalization."""
    pids = F.array(*[F.lit(pid) for _, pid, _ in patterns])
    ftids = F.array(*[F.lit(ftid) for _, _, ftid in patterns])
    exploded = raw.select(
        F.col("start").cast("long").alias("start"),
        "valid_length",
        F.explode("r.hits").alias("packed"),
    )
    local = F.shiftright("packed", 16)
    idx = F.col("packed").bitwiseAND(F.lit(0xFFFF)).cast("int") + F.lit(1)
    return exploded.where(local < F.col("valid_length")).select(
        (F.col("start") + local).alias("global_offset"),
        F.element_at(ftids, idx).alias("file_type_id"),
        F.element_at(pids, idx).alias("pattern_id"),
    )
