"""Signature scan: chunks -> hits (the engine's core filter operator).

Reference parity: CPU multi-pattern scan (src/scanner/cpu.rs:40-69,
memchr-skip per pattern) + hit normalization & overlap dedup
(src/pipeline/workers.rs:136-155).

Spark design: one Arrow `mapInPandas` pass per chunk finds ALL
occurrences of every configured header pattern with C-speed
`bytes.find` loops (equivalent output to the reference's per-pattern
memchr scan, including overlapping matches and multiple patterns at
one offset). Normalization + overlap dedup stay DataFrame-native
(projection + filter) so Catalyst sees them.

Scale: scanning is embarrassingly parallel per chunk; no shuffle is
introduced — the only data movement is the (tiny) hits output. The
per-chunk hit cap mirrors the reference's gpu_max_hits_per_chunk
backstop against pathological inputs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from swiftbeaver_spark.config import EngineConfig

RAW_HITS_SCHEMA = StructType(
    [
        StructField("chunk_id", LongType(), False),
        StructField("start", LongType(), False),
        StructField("valid_length", LongType(), False),
        StructField("local_offset", LongType(), False),
        StructField("pattern_id", StringType(), False),
        StructField("file_type_id", StringType(), False),
    ]
)

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


def find_all(data: bytes, pattern: bytes, cap: int = MAX_HITS_PER_CHUNK) -> list[int]:
    """All (overlapping) occurrence offsets of `pattern` in `data`."""
    hits: list[int] = []
    pos = data.find(pattern)
    while pos != -1 and len(hits) < cap:
        hits.append(pos)
        pos = data.find(pattern, pos + 1)
    return hits


# bytes.find runs ~1 GiB/s per pattern regardless of content, so 44
# patterns x one pass each caps the naive kernel at ~25 MiB/s/core.
# Above this size the single-pass LUT kernel wins; below it, numpy
# setup overhead dominates and the find loop is faster.
_VEC_MIN = 64 * 1024

# byte "commonness" in typical evidence: prefer anchoring each pattern
# on its rarest byte so the candidate pool stays sparse on zero-fill,
# 0xFF-fill, and ASCII text alike (tie-break inside _scan_blob_vec)
def _rarity(b: int) -> int:
    if b == 0x00:
        return 3
    if b in (0xFF, 0x20):
        return 2
    if 0x20 < b < 0x7F:
        return 1
    return 0


def _scan_blob_find(
    blob: bytes, patterns: list[tuple[bytes, str, str]], budget: int
) -> list[tuple[int, str, str]]:
    out: list[tuple[int, str, str]] = []
    for pat, pid, ftid in patterns:
        if budget <= 0:
            break
        offs = find_all(blob, pat, budget)
        budget -= len(offs)
        out.extend((o, pid, ftid) for o in offs)
    return out


def scan_blob(
    blob: bytes, patterns: list[tuple[bytes, str, str]], budget: int = MAX_HITS_PER_CHUNK
) -> list[tuple[int, str, str]]:
    """All pattern occurrences in one chunk: (local_offset, pattern_id,
    file_type_id), overlapping matches included.

    Large blobs take a single-pass vectorized path (the reference scans
    per-pattern with memchr skipping, src/scanner/cpu.rs:40-69; one C
    pass per pattern is exactly what we must NOT do 44 times over):

    1. ONE 256-entry LUT gather marks every position holding any
       pattern's anchor byte (each pattern anchored on its rarest byte,
       so zero-filled / 0xFF-filled regions produce no candidates);
    2. candidates bucket by byte value, each pattern screens its bucket
       with vectorized 4-byte compares;
    3. the few survivors verify the full pattern in Python.

    Small blobs use the per-pattern C `bytes.find` loop. Blobs beyond
    _SLAB process in slabs (with a max-pattern-length-1 overlap) so the
    numpy temporaries — the candidate mask is blob-sized — stay bounded
    on 512 MiB default chunks regardless of content.
    """
    n = len(blob)
    if n < _VEC_MIN or not patterns:
        return _scan_blob_find(blob, patterns, budget)
    if n <= _SLAB:
        return _scan_blob_vec(blob, patterns, budget)
    max_len = max(len(p) for p, _, _ in patterns)
    out: list[tuple[int, str, str]] = []
    base = 0
    while base < n and budget > 0:
        seg = blob[base : base + _SLAB + max_len - 1]
        for off, pid, ftid in _scan_blob_vec(seg, patterns, budget):
            if off < _SLAB:  # overlap-tail starts belong to the next slab
                out.append((base + off, pid, ftid))
                budget -= 1
                if budget <= 0:
                    break
        base += _SLAB
    return out


_SLAB = 32 * 1024 * 1024  # bounds per-call numpy temp memory


def _scan_blob_vec(
    blob: bytes, patterns: list[tuple[bytes, str, str]], budget: int
) -> list[tuple[int, str, str]]:
    n = len(blob)
    import numpy as np

    arr = np.frombuffer(blob, dtype=np.uint8)
    # adaptive anchoring: sample THIS blob's byte frequencies (prime
    # stride; bincount over the full array would cast it to int64),
    # each pattern anchors on its least-frequent byte (static rarity
    # breaks ties) — zero-fill, 0xFF-fill, and text regions all get
    # near-empty candidate pools automatically
    freq = np.bincount(arr[::61], minlength=256)
    anchors = [
        min(range(len(pat)), key=lambda i: (freq[pat[i]], _rarity(pat[i]), i))
        for pat, _, _ in patterns
    ]
    lut = np.zeros(256, dtype=bool)
    for (pat, _, _), a in zip(patterns, anchors):
        lut[pat[a]] = True
    cand = np.flatnonzero(lut[arr])
    if cand.size == 0:
        return []
    cand_byte = arr[cand]
    by_byte: dict[int, np.ndarray] = {}
    out: list[tuple[int, str, str]] = []
    for (pat, pid, ftid), a in zip(patterns, anchors):
        if budget <= 0:
            break
        b = pat[a]
        sel = by_byte.get(b)
        if sel is None:
            sel = by_byte[b] = cand[cand_byte == b]
        starts = sel - a
        starts = starts[(starts >= 0) & (starts <= n - len(pat))]
        # vectorized screen on up to 4 pattern bytes, then exact verify
        k = min(len(pat), 4)
        ok = np.ones(starts.shape, dtype=bool)
        for j in range(k):
            ok &= arr[starts + j] == pat[j]
        survivors = starts[ok]
        if len(pat) > 4:
            matches = [int(s) for s in survivors if blob.startswith(pat, s)]
        else:
            matches = [int(s) for s in survivors]
        for s in matches[: max(budget, 0)]:
            out.append((s, pid, ftid))
            budget -= 1
    return out


def _pad_byte(patterns: list[tuple[bytes, str, str]]) -> int | None:
    """A byte value absent from every pattern — joining chunk blobs with
    a run of it (max pattern length - 1) makes cross-blob matches
    impossible, so one C-speed scan covers a whole Arrow batch."""
    used = set()
    for pat, _, _ in patterns:
        used.update(pat)
    for b in range(256):
        if b not in used:
            return b
    return None


def _decode_packed_hits(plan_cols: DataFrame, hits_col, patterns) -> DataFrame:
    """Packed (off<<16|idx) longs -> RAW_HITS_SCHEMA rows, entirely in
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


def scan_chunks_jvm(chunks: DataFrame, cfg: EngineConfig) -> DataFrame:
    """JVM kernel path for a materialised chunk table: one Aho-Corasick
    pass per chunk inside the executor JVM — no Python workers, no
    Arrow transfer of chunk bytes. Caller must have ensured the kernel
    is registered (jvm.ensure_kernel)."""
    from swiftbeaver_spark.jvm import spec_for

    patterns = compile_patterns(cfg)
    spec = spec_for(patterns, MAX_HITS_PER_CHUNK)
    hits = F.call_udf("sb_scan_bytes", F.col("data"), F.lit(spec))
    return _decode_packed_hits(chunks, hits, patterns)


def scan_chunks(chunks: DataFrame, cfg: EngineConfig) -> DataFrame:
    """chunks(chunk_id, start, valid_length, data) -> raw hits.

    Dispatches to the JVM Aho-Corasick kernel when it registers into
    this session (jvm.ensure_kernel — one automaton pass, bytes stay
    JVM-side); otherwise the Python/numpy batch-fused pass below.

    Batch-fused: each Arrow batch's blobs are joined with a pad run and
    scanned in ONE pass per pattern (C memmem / numpy), then hit offsets
    map back to their chunk by searchsorted. Amortizes per-chunk Python
    overhead — identical hits to per-chunk scan_blob (the pad byte
    occurs in no pattern, so no match can cross a boundary)."""
    import numpy as np

    from swiftbeaver_spark.jvm import ensure_kernel

    if ensure_kernel(chunks.sparkSession):
        return scan_chunks_jvm(chunks, cfg)

    patterns = compile_patterns(cfg)
    max_len = max((len(p) for p, _, _ in patterns), default=1)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pad = _pad_byte(patterns)
        for pdf in batches:
            rows = []
            blobs = [bytes(d) for d in pdf["data"]]
            if blobs and pad is not None:
                sep = bytes([pad]) * (max_len - 1)
                buf = sep.join(blobs)
                starts = np.cumsum([0] + [len(b) + len(sep) for b in blobs[:-1]])
                cids = pdf["chunk_id"].to_numpy()
                gstarts = pdf["start"].to_numpy()
                vlens = pdf["valid_length"].to_numpy()
                counts: dict[int, int] = {}
                for off, pat_id, ft_id in scan_blob(buf, patterns, budget=1 << 62):
                    i = int(np.searchsorted(starts, off, side="right")) - 1
                    if counts.get(i, 0) >= MAX_HITS_PER_CHUNK:
                        continue
                    counts[i] = counts.get(i, 0) + 1
                    rows.append(
                        (
                            int(cids[i]),
                            int(gstarts[i]),
                            int(vlens[i]),
                            off - int(starts[i]),
                            pat_id,
                            ft_id,
                        )
                    )
            else:
                for cid, start, vlen, data in zip(
                    pdf["chunk_id"], pdf["start"], pdf["valid_length"], pdf["data"]
                ):
                    for off, pat_id, ft_id in scan_blob(bytes(data), patterns):
                        rows.append((int(cid), int(start), int(vlen), off, pat_id, ft_id))
            yield pd.DataFrame(
                rows,
                columns=[
                    "chunk_id",
                    "start",
                    "valid_length",
                    "local_offset",
                    "pattern_id",
                    "file_type_id",
                ],
            )

    return chunks.mapInPandas(scan, RAW_HITS_SCHEMA)


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
